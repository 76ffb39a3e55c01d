package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.functions.Portable._

/** Deduplication operators for large text corpora — the core
  * training-data-pipeline extension beyond the reference (whose only
  * dedup is pandas drop_duplicates on tiny frames,
  * steps/step5_create_views.py:324).
  *
  * Scale design: every operator is shuffle-minimal and driver-free.
  * - exact dedup: one shuffle on the content hash (not the content —
  *   at 100 TB you group on a 128-bit digest, never on megabyte texts).
  * - MinHash: signatures are one groupBy over exploded shingles
  *   (map-side partial min per permutation), then LSH banding turns
  *   the quadratic all-pairs problem into a self-join on band keys —
  *   each bucket is tiny, so the join is a skew-safe shuffle on
  *   band-key, never a cross join.
  * - SimHash: one pass per doc for the signature, candidate pairs by
  *   exact-match on rotated band keys (hamming ≤ k within bands).
  * - n-gram Jaccard: exact pairwise scores, but only over candidate
  *   pairs (from LSH) or an explicit blocking key — never all pairs.
  */
object Dedup {

  /** Exact dedup by content digest. Returns one row per distinct
    * content: (keeper id = min id, n_copies, content hash). Grouping
    * on md5 keeps shuffle rows small regardless of doc size.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_md5"))
      .groupBy("content_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep one row per distinct text (the min-id row). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Distinct k-word shingles per doc: (id, shingle) long table.
    * `dedup = false` skips the distinct — correct for MinHash
    * signatures (min over a multiset == min over its set) and saves a
    * full shuffle of the shingle strings; Jaccard counting needs the
    * distinct.
    */
  def docShingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                  dedup: Boolean = true): DataFrame = {
    // two-step projection: tokens materialize once per row before the
    // shingle lambda reads them (see Portable.shingles PERF note)
    val exploded = df
      .select(col(idCol), Portable.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(shingles(col("__toks"), k)).as("shingle"))
    if (dedup) exploded.distinct() else exploded
  }

  /** MinHash signatures: one column per permutation, built by a single
    * groupBy over the (id, shingle-hash) table with NumPerms partial
    * mins (map-side combine ⇒ shuffle carries one row per doc per
    * partition, not per shingle). The md5 is materialized ONCE as a
    * projected column before the agg — inlining hash32 into each of
    * the 16 min() expressions recomputes the digest 16× per shingle
    * (no CSE across aggregate expressions; measured ~2× on the sig
    * build at sf0.1).
    */
  def minhashSignatures(shingled: DataFrame, idCol: String): DataFrame = {
    val h = col("__h")
    shingled
      .withColumn("__h", hash32(col("shingle")))
      .groupBy(col(idCol))
      .agg(min(perm(h, 0)).as("mh0"),
        (1 until NumPerms).map(j => min(perm(h, j)).as(s"mh$j")): _*)
  }

  /** LSH candidate pairs from signatures: docs sharing any band of
    * RowsPerBand consecutive signature components. Band keys explode
    * from ONE array projection (a per-band union would re-evaluate the
    * signature subtree once per band per join side — the pitfall
    * [[simhashBandedPairs]] documents); self-join on band key,
    * distinct. Emits (id_a < id_b).
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String): DataFrame = {
    val keyed = bandKeyed(sigs, idCol).withColumnRenamed(idCol, "id_a")
    keyed.join(keyed.withColumnRenamed("id_a", "id_b"), Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** [[lshCandidatePairs]] restricted WITHIN groups: candidates must
    * share a band AND the value of `groupCol`. Exact — not an
    * approximation — whenever the caller's grouping is CLOSED under
    * banded threshold pairs: banding is deterministic in the
    * signatures alone, so any cross-group pair sharing a band either
    * scores below the threshold (and would be filtered anyway) or
    * would already have merged the groups when both members arrived.
    * That is precisely the standing invariant of a maintained
    * component labeling ([[graft.operators.MaintainedComponents]]),
    * whose `forget` repair is the consumer: restricting the self-join
    * to (band, component) keys turns one corpus-wide band join over
    * all touched survivors into per-component micro-joins — the join
    * fan-out is bounded by the LARGEST touched component, not the sum
    * of them, and the band-key skew of common boilerplate shingles
    * across components disappears.
    */
  def lshCandidatePairsWithin(sigs: DataFrame, idCol: String,
                              groupCol: String): DataFrame = {
    val keyed = bandKeyed(sigs, idCol, Seq(groupCol))
      .withColumnRenamed(idCol, "id_a")
    keyed.join(keyed.withColumnRenamed("id_a", "id_b"),
        Seq("band_key", groupCol))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** (id, band_key) long table for a signature frame — one exploded
    * array projection per row. `carry` columns ride along (e.g. a
    * component label for within-group banding).
    */
  private def bandKeyed(sigs: DataFrame, idCol: String,
                        carry: Seq[String] = Nil): DataFrame = {
    val bandKeys = array((0 until NumBands).map { b =>
      concat_ws("_",
        lit(b) +: (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}")): _*)
    }: _*)
    sigs.select(col(idCol) +: carry.map(col) :+
      explode(bandKeys).as("band_key"): _*)
  }

  // ---- weighted (multiset) Jaccard ----
  //
  // Set Jaccard treats "the same boilerplate shingle repeated 40×"
  // and "that shingle once" as identical — repetition-heavy near-dups
  // score the same as a single shared template line. The weighted
  // variant scores Σ min(tf_a,tf_b) / Σ max(tf_a,tf_b) over shingle
  // frequencies (capped, so one pathological doc can't blow up the
  // expansion).

  /** Frequency cap for the weighted family: bounds the virtual-
    * element expansion at cap× the distinct-shingle table and makes
    * the score robust to single-shingle spam.
    */
  val WtfCap = 8

  /** Capped shingle frequencies `(id, sh, ctf)` keyed by the 60-bit
    * md5-prefix shingle digest: ctf = min(tf, cap). The tf groupBy
    * shuffles (id, 8-byte hash) rows — never shingle TEXT — so the
    * exchange is fixed-width at any shingle length (the exact-dedup
    * digest discipline; ShuffleAuditSpec pins the byte ceiling).
    */
  def cappedShingleFreqs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, cap: Int = WtfCap): DataFrame =
    docShingles(docs, idCol, textCol, k, dedup = false)
      .select(col(idCol), Portable.hash60(col("shingle")).as("sh"))
      .groupBy(col(idCol), col("sh"))
      .agg(least(count(lit(1)), lit(cap.toLong)).as("ctf"))

  /** Weighted MinHash signatures via tf-capped unary expansion: each
    * (sh, ctf) row contributes virtual elements "sh@1".."sh@ctf"
    * (decimal digest rendering — engine-portable), then the plain
    * [[minhashSignatures]] machinery over that multiset→set encoding
    * estimates the capped weighted Jaccard (min over the expansion ≡
    * min over the union of both docs' virtual sets, so the standard
    * LSH S-curve applies unchanged). Expansion cost is
    * Σ ctf ≤ cap × distinct shingles — row-local (generated inside
    * the projection, never shuffled).
    */
  def weightedMinhashSignatures(ctf: DataFrame, idCol: String): DataFrame = {
    val rep = ctf.select(col(idCol),
      explode(transform(sequence(lit(1L), col("ctf")),
        i => concat(col("sh").cast("string"), lit("@"),
          i.cast("string")))).as("shingle"))
    minhashSignatures(rep, idCol)
  }

  /** Frequency-aware near-dup pairs: banded LSH over the weighted
    * signatures proposes candidates (shuffle on band keys, never
    * doc×doc), then the EXACT capped weighted Jaccard verifies each —
    * returned as an integer fraction (jw_num = Σ min(ctf),
    * jw_den = Σ max(ctf)) so every engine agrees bit-for-bit. The
    * verify join is candidate-bounded and keyed on (doc, shingle
    * digest); Σ max comes from per-doc totals (ta + tb − Σ min), so
    * only the shingle INTERSECTION is ever joined.
    */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, cap: Int = WtfCap): DataFrame = {
    // ctf feeds the signature build, the verify join (both sides), and
    // the totals — materialize once, off the CacheManager
    val ctf = cappedShingleFreqs(docs, idCol, textCol, k, cap)
      .localCheckpoint()
    val cands = lshCandidatePairs(weightedMinhashSignatures(ctf, idCol), idCol)
    val tot = ctf.groupBy(col(idCol)).agg(sum(col("ctf")).as("tot"))
    val a = ctf.select(col(idCol).as("id_a"), col("sh"),
      col("ctf").as("ca"))
    val b = ctf.select(col(idCol).as("id_b"), col("sh"),
      col("ctf").as("cb"))
    val num = cands.join(a, Seq("id_a")).join(b, Seq("id_b", "sh"))
      .groupBy("id_a", "id_b")
      .agg(sum(least(col("ca"), col("cb"))).as("jw_num"))
    cands
      .join(num, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("jw_num"))
      .join(tot.select(col(idCol).as("id_a"), col("tot").as("__ta")), Seq("id_a"))
      .join(tot.select(col(idCol).as("id_b"), col("tot").as("__tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jw_num"),
        (col("__ta") + col("__tb") - col("jw_num")).as("jw_den"))
  }

  /** LSH banding S-curve advisor: for each candidate (bands, rows)
    * split of the signature's permutations and each Jaccard level s,
    * the probability the banding proposes the pair —
    * P = 1 − (1 − s^rows)^bands — plus the threshold band each
    * configuration centers on. This is the table a dedup deployment
    * reads BEFORE running at corpus scale: banding is the knob that
    * trades missed near-dups (recall) against candidate volume
    * (cost), and the current in-code config is one row of it.
    * Powers are explicit multiplication chains (no libm pow), so the
    * doubles are bit-identical on any engine; the frame is
    * constant-sized (configs × s-grid) — a driver-free literal plan.
    */
  def lshCurve(spark: org.apache.spark.sql.SparkSession,
               numPerms: Int = NumPerms): DataFrame = {
    import spark.implicits._
    val configs = (1 to numPerms).filter(numPerms % _ == 0)
      .map(b => (b, numPerms / b))
    val rows = for {
      (b, r) <- configs
      si <- 1 to 19
    } yield {
      val s = si / 20.0
      val sr = (1 to r).foldLeft(1.0)((acc, _) => acc * s)
      val miss = (1 to b).foldLeft(1.0)((acc, _) => acc * (1.0 - sr))
      (b, r, s, 1.0 - miss)
    }
    rows.toDF("bands", "rows_per_band", "jaccard", "p_candidate")
      .withColumn("p_candidate", round(col("p_candidate"), 6))
      .withColumn("is_current",
        (col("bands") === NumBands && col("rows_per_band") === RowsPerBand)
          .cast("int"))
  }

  /** Blocked FUZZY match — entity resolution's two-phase shape:
    * LSH band blocking proposes candidate pairs (shuffle carries band
    * keys, never doc×doc), then Levenshtein edit distance on the raw
    * text verifies each candidate (`edit_dist <= maxDist`). Exact
    * edit distance over all pairs is O(n²·len²) — unrunnable at any
    * scale; banding cuts the verified set to near-dup candidates
    * while levenshtein stays per-pair O(len²) on only those.
    *
    * Returns (id_a, id_b, edit_dist), id_a < id_b. Tune recall with
    * the shingle size k (smaller k → looser blocking → more
    * candidates verified).
    *
    * The verify pass uses the THRESHOLDED levenshtein (banded
    * O(len·maxDist) with early bail, returns -1 past the bound)
    * rather than the unbounded O(len_a·len_b) form: candidates that
    * fail the bound are the common case at corpus scale, and the sf1
    * bench leg measured the unbounded form ~15× slower on
    * document-sized strings. Same output: pairs within maxDist carry
    * their exact distance.
    */
  def fuzzyMatchPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, maxDist: Int = 100): DataFrame = {
    val sigs = minhashSignatures(
      docShingles(df, idCol, textCol, k, dedup = false), idCol)
      .localCheckpoint()
    val texts = df.select(col(idCol), col(textCol))
    val cand = lshCandidatePairs(sigs, idCol)
      .select(col("id_a"), col("id_b"))
    cand
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** The distinct band-key set of a signature table — the static side
    * of the STREAMING near-dup gate
    * ([[graft.streaming.Streams.streamingNearDupGate]]): membership of
    * any band key in this set marks a new doc as a near-dup candidate.
    * Distinct keys only (~NumBands rows/doc, one column), so the gate's
    * joins never multiply rows.
    */
  def bandKeySet(sigs: DataFrame, idCol: String): DataFrame =
    bandKeyed(sigs, idCol).select("band_key").distinct()

  /** Row-local MinHash signature columns (`mh0..mhN`), bit-identical to
    * [[minhashSignatures]] (a min over the shingle MULTISET equals the
    * min over its set, and the arithmetic is the same Portable
    * constants). Computed with array HOFs inside the row — interpreted
    * (lambdas don't codegen) and O(shingles × perms) per row, so this
    * is the STREAMING-edge form where a per-doc gate cannot shuffle;
    * batch scans should stay on the explode+groupBy form. Pass a
    * MATERIALIZED shingle-hash array column (see [[Portable.shingles]]
    * PERF note); docs with fewer than k tokens yield null components
    * (array_min of empty), which never match a real band key.
    */
  def minhashSigColumnsFromHashes(shingleHashes: Column): Seq[Column] =
    (0 until NumPerms).map(j =>
      array_min(transform(shingleHashes, h => perm(h, j))).as(s"mh$j"))

  /** Band-key columns (`band_0..band_B`) from per-row `mh*` signature
    * columns — the row-local twin of the banding inside
    * [[lshCandidatePairs]], same key format.
    */
  def bandKeyColumns(prefix: String = "mh"): Seq[Column] =
    (0 until NumBands).map { b =>
      concat_ws("_", lit(b) +:
        (0 until RowsPerBand).map(r => col(s"$prefix${b * RowsPerBand + r}")): _*)
        .as(s"band_$b")
    }

  /** Cross-corpus LSH candidates: (new id_a, existing id_b) pairs
    * sharing a band — an equi-join between two band-key tables, never
    * new × existing. This is the incremental-ingest primitive: the
    * existing corpus contributes only its (maintained) signature
    * table, not its text.
    */
  def lshCrossPairs(sigsNew: DataFrame, sigsExisting: DataFrame,
                    idCol: String): DataFrame =
    bandKeyed(sigsNew, idCol).withColumnRenamed(idCol, "id_a")
      .join(bandKeyed(sigsExisting, idCol).withColumnRenamed(idCol, "id_b"),
        Seq("band_key"))
      .select("id_a", "id_b")
      .distinct()

  /** Estimated Jaccard for candidate pairs = fraction of matching
    * signature components. Joins the (small) signature table twice —
    * broadcast-friendly, AQE picks the strategy.
    */
  def estimatedJaccard(pairs: DataFrame, sigs: DataFrame, idCol: String)
      : DataFrame = estimatedJaccardAcross(pairs, sigs, sigs, idCol)

  /** [[estimatedJaccard]] generalized to two signature tables — the
    * `id_a` side resolves in `sigsA`, the `id_b` side in `sigsB`
    * (cross-corpus scoring for incremental dedup).
    */
  def estimatedJaccardAcross(pairs: DataFrame, sigsA: DataFrame,
                             sigsB: DataFrame, idCol: String): DataFrame = {
    val a = sigsA.toDF(sigsA.columns.toIndexedSeq.map(c => if (c == idCol) "id_a" else s"a_$c"): _*)
    val b = sigsB.toDF(sigsB.columns.toIndexedSeq.map(c => if (c == idCol) "id_b" else s"b_$c"): _*)
    val matches = (0 until NumPerms)
      .map(j => when(col(s"a_mh$j") === col(s"b_mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round(matches.cast("double") / NumPerms, 6).as("est_jaccard"))
  }

  /** b-bit MinHash signature compression (b = 1, Li & König 2010):
    * keep only the LOWEST bit of each of the [[NumPerms]] permutation
    * minima, packed into one integer — 16 longs become 16 BITS, a 64×
    * smaller signature. At 100 TB the signature table is the thing
    * you store, shuffle, and re-join every incremental batch, so its
    * width is a first-order cost; the price is estimator variance
    * (each permutation contributes one Bernoulli bit instead of a
    * 32-bit value), bought back by running more permutations —
    * storage per permutation falls 64×, so 4× the permutations for
    * half the variance still nets 16× smaller.
    */
  def bbitSignatures(sigs: DataFrame, idCol: String): DataFrame =
    sigs.select(col(idCol),
      (0 until NumPerms)
        .map(j => col(s"mh$j").bitwiseAND(lit(1L)) * (1L << j))
        .reduce(_ + _).cast("int").as("bsig"))

  /** Jaccard estimate from 1-bit signatures for candidate pairs. For
    * b = 1 a matching bit happens with probability J + (1−J)/2, so
    * Ĵ = 2·m − 1 (m = matching-bit fraction) = 1 − diff/8 for 16
    * bits, clamped at 0 — integer popcount over XOR, dyadic-exact
    * division, deterministic on any engine.
    */
  def bbitJaccard(pairs: DataFrame, sigs: DataFrame,
                  idCol: String): DataFrame = {
    val b = bbitSignatures(sigs, idCol)
    pairs
      .join(b.select(col(idCol).as("id_a"), col("bsig").as("__ba")), "id_a")
      .join(b.select(col(idCol).as("id_b"), col("bsig").as("__bb")), "id_b")
      .withColumn("bbit_est",
        round(greatest(
          lit(1.0) - expr("bit_count(__ba ^ __bb)") / lit(8.0),
          lit(0.0)), 4))
      .select(pairs.columns.map(col).toIndexedSeq :+ col("bbit_est"): _*)
  }

  /** End-to-end MinHash near-dup pairs above a similarity threshold.
    * The signature table feeds the band join AND both sides of the
    * estimation join; without materialization Spark computes the
    * explode+digest subtree three times (measured ~2× end-to-end at
    * sf0.1). `localCheckpoint` (eager) instead of `persist`: same
    * single evaluation, but nothing is left registered in the
    * CacheManager for the caller to unpersist — the checkpointed
    * blocks are dropped when the plan is garbage-collected. The
    * tradeoff (shared with [[connectedComponents]]) is that local
    * checkpoints are not fault-tolerant: on a real cluster an executor
    * loss forces a job re-run instead of a partition recompute.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, threshold: Double = 0.5): DataFrame =
    // memoized + materialized per (session, input plan, params): the
    // signature build + LSH banding + Jaccard scoring is the shared
    // prelude of the whole near-dup family (transitive dedup,
    // canonical docs, dup-rate, evidence) — one pair graph per corpus
    // per session, not one per consumer ([[graft.Memo]])
    graft.Memo.shared(
      graft.Memo.dfKey(df, "minhashNearDups", idCol, textCol, k,
        threshold)) {
      val sigs = minhashSignatures(
        docShingles(df, idCol, textCol, k, dedup = false), idCol)
        .localCheckpoint()
      graft.Checkpoints.stabilize(
        estimatedJaccard(lshCandidatePairs(sigs, idCol), sigs, idCol)
          .filter(col("est_jaccard") >= threshold))
    }

  /** Blocked exact n-gram Jaccard: all same-block pairs with at least
    * one shared shingle, scored |A ∩ B| / |A ∪ B|. The plan is
    * shingle-first: self-join the (block, shingle, id) table on
    * (block, shingle) → count per pair → join per-doc sizes. Pairs
    * sharing nothing never materialize (they'd score 0 anyway), so
    * the intermediate is Σ_shingle-group C(docs,2), not
    * |pairs| × |shingles| — at sf0.1 this is the difference between
    * ~8M and ~190M intermediate rows (24 s → ~4 s measured).
    *
    * BLOCK CONTRACT (at-scale): within-block candidate pairs are
    * O(n²/blocks) — the block key must bound per-block cardinality to
    * thousands of docs, not "everything from one crawl". A coarse
    * attribute like `source` is demo/audit-grade only; corpus-scale
    * discovery should block on an LSH band bucket, which the engine
    * already computes — that composition is [[ngramJaccardLsh]].
    *
    * The shingle table feeds three consumers (sizes, both join sides);
    * it is eagerly `localCheckpoint`ed so the tokenize+explode+distinct
    * subtree evaluates once, not three times (measured 9.1 s → ~3 s at
    * sf0.1), with no CacheManager entry left behind.
    */
  def ngramJaccardBlocked(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, k: Int = 3,
                          minJaccard: Double = 0.0): DataFrame = {
    // the (block, shingle) key is DIGESTED to 8 bytes before anything
    // shuffles — the substringDedup discipline: the self-join hashes
    // and exchanges longs, never ~20-byte shingle strings (the join
    // dominated this operator's profile, 2.6 s of 4.2 s at the sf1
    // leg). A 64-bit collision would merge two shingles (~n²/2⁶⁵ —
    // negligible at any realistic block size, and the string-exact
    // oracle would catch it).
    // per-doc shingle dedup is ROW-LOCAL (a doc carries one block
    // value, so the old global distinct over (id, block, shingle) ≡
    // array_distinct per row) — that plus the size() projection
    // removes two corpus-sized shuffles: the distinct exchange and the
    // per-doc count aggregation
    val sh = df
      .select(col(idCol), col(blockCol).as("__blk"),
        Portable.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__blk"),
        explode(shingles(col("__toks"), k)).as("shingle"))
      .select(col(idCol),
        xxhash64(col("__blk"), col("shingle")).as("__key"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("id_a"), col("__key"))
    val b = sh.select(col(idCol).as("id_b"), col("__key"))
    val inter = a.join(b, Seq("__key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
      .filter(col("jaccard") > minJaccard)
  }

  /** Exact n-gram Jaccard for an explicit candidate-pair set:
    * |A ∩ B| / |A ∪ B| over distinct k-shingles. Intersection via
    * shingle-key join (shuffle on shingle), sizes via per-doc counts.
    * For discovery over a blocking key use [[ngramJaccardBlocked]] —
    * this form is for scoring an already-known pair list.
    */
  def ngramJaccard(pairs: DataFrame, shingled: DataFrame, idCol: String)
      : DataFrame = {
    val sizes = shingled.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(shingled.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(shingled.select(col(idCol).as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
  }

  /** Asymmetric CONTAINMENT over LSH-bounded candidates: for each
    * candidate pair, |A∩B|/|A| and |A∩B|/|B| — the measure Jaccard
    * blurs. A short doc quoted inside a long one has tiny Jaccard
    * (union is dominated by the long doc) but containment ≈ 1 in the
    * short→long direction; that's the wrapper/quotation/boilerplate-
    * page signature a symmetric threshold silently misses. Plan shape
    * is identical to [[ngramJaccardLsh]] (shingle-keyed intersection
    * over band candidates, never doc × doc); one caveat stands:
    * MinHash bands under-recall containment when the size skew is
    * extreme (min-hashing favors symmetric similarity), so at corpus
    * scale pair this with a shingle-sample block for the
    * short-into-long hunt — documented, not silently papered over.
    *
    * Output: (id_a, id_b, n_inter, contain_a, contain_b).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, minContain: Double = 0.0,
                       knownPairs: Option[DataFrame] = None): DataFrame = {
    val sh = docShingles(df, idCol, textCol, k, dedup = true)
      .localCheckpoint()
    // discovery defaults to LSH banding; for the extreme-skew hunt
    // (tiny doc inside huge doc) pass knownPairs from a shingle-sample
    // block instead — see the caveat above
    val pairs = knownPairs.getOrElse(
      lshCandidatePairs(minhashSignatures(sh, idCol), idCol))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    // sizes attach via LEFT joins: a knownPairs side with < k tokens
    // has no shingles and no sizes row — an inner join would silently
    // delete the very pair the caller asked about. Such a side gets a
    // NULL ratio (containment over an empty set is undefined, not 0),
    // and a pair where NO ratio is judgeable is kept with both nulls
    // rather than vanishing.
    val scored = pairs
      .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")),
        Seq("id_a"), "left")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")),
        Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n_a"), 6)
          .as("contain_a"),
        round(col("n_inter").cast("double") / col("n_b"), 6)
          .as("contain_b"))
    scored.filter(
      coalesce(col("contain_a") >= minContain, lit(false)) ||
        coalesce(col("contain_b") >= minContain, lit(false)) ||
        (col("contain_a").isNull && col("contain_b").isNull))
  }

  /** Exact n-gram Jaccard over LSH-bounded candidates — the
    * corpus-scale form of [[ngramJaccardBlocked]]: the "block" is the
    * MinHash band bucket, so candidate fanout is bounded by band
    * collisions (tiny buckets by construction) instead of an external
    * attribute's cardinality. One shingle materialization serves both
    * the signature build and the exact scoring: a min over a shingle
    * SET equals the min over the multiset, so the deduped table is
    * valid MinHash input too.
    */
  def ngramJaccardLsh(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, minJaccard: Double = 0.0): DataFrame = {
    val sh = docShingles(df, idCol, textCol, k, dedup = true)
      .localCheckpoint()
    val pairs = lshCandidatePairs(minhashSignatures(sh, idCol), idCol)
    ngramJaccard(pairs, sh, idCol).filter(col("jaccard") > minJaccard)
  }

  /** LSH recall diagnostic — "measure, don't guess" for the banding
    * config: ground-truth near-dup pairs (exact Jaccard ≥ tNum/tDen,
    * decided by an INTEGER inequality, computed via the shingle
    * self-join so only pairs sharing ≥1 shingle ever materialize) vs
    * the LSH candidate set, reported as one row
    * (n_exact, n_candidates, n_hit, recall). Run this on a SAMPLE
    * before a 100 TB dedup to size NumPerms/bands for the threshold
    * you actually care about — the ground truth is quadratic-ish in
    * co-occurring shingles and is a tuning tool, not a production
    * operator (that's what the banded operators are for).
    */
  def lshRecallReport(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, tNum: Long = 1,
                      tDen: Long = 2): DataFrame = {
    val sh = docShingles(df, idCol, textCol, k, dedup = true)
      .localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = sh.select(col(idCol).as("id_a"), col("shingle"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ni"))
    val exact = inter
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
      .filter(lit(tDen) * col("ni") >=
        lit(tNum) * (col("na") + col("nb") - col("ni")))
      .select("id_a", "id_b")
      .localCheckpoint()
    val cand = lshCandidatePairs(minhashSignatures(sh, idCol), idCol)
      .localCheckpoint()
    val hits = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_candidates"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6)
          .as("recall"))
  }

  /** End-to-end corpus dedup: drop exact duplicates (keep min id),
    * then drop the greater id of every near-dup pair at/above the
    * similarity threshold (greedy pairwise policy — deterministic and
    * order-free; a transitive-closure policy would need an iterative
    * connected-components pass, overkill for typical thresholds).
    * Returns the surviving rows of `df`.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val exact = exactDedup(df, idCol, textCol)
    val nearDupLosers = minhashNearDups(df, idCol, textCol, k, threshold)
      .select(col("id_b").as(idCol)).distinct()
    exact.join(nearDupLosers, Seq(idCol), "left_anti")
  }

  /** `bits`-bit SimHash over frequency-weighted tokens: bit b of the
    * signature is the sign of Σ_tokens (2·bit_b(hash60(token)) − 1).
    *
    * ONE groupBy with `bits` conditional sums: the shuffle carries one
    * bits-column partial row per doc per partition (map-side combined)
    * instead of the naive plan's token×bits exploded bit rows — a
    * bits× reduction in shuffled rows, same arithmetic bit-for-bit
    * (the DuckDB oracle keeps the explicit bit-row formulation and
    * must still hash-match).
    *
    * Default 60 bits (15-bit bands downstream): the signature width
    * sets the BAND VALUE SPACE of [[simhashBandedPairs]], and 8-bit
    * bands (the old 32-bit default) saturate once the corpus dwarfs
    * 256 values per band — candidate volume goes quadratic. Measured
    * on the sf1 bench leg before widening.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 60): DataFrame = {
    require(bits > 0 && bits <= 60, s"simhash bits must be in 1..60, got $bits")
    val tok = df.select(col(idCol),
      explode(Portable.tokens(col(textCol))).as("tok"))
    val bitSums = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b")
    }
    val packed = (0 until bits)
      .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.select(col(idCol), Portable.hash60(col("tok")).as("h"))
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-dup pairs within an EXPLICIT blocking key (same
    * source, same LSH bucket, …): hamming ≤ maxDist over same-block
    * pairs. All-pairs within a block — use only when the block bounds
    * pair fanout; for corpus-wide discovery use
    * [[simhashBandedPairs]], which needs no external key.
    */
  def simhashNearDups(sims: DataFrame, idCol: String, maxDist: Int,
                      blockCol: Column): DataFrame = {
    val a = sims.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      blockCol.as("blk"))
    val b = sims.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      blockCol.as("blk"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Banded SimHash near-dup pairs, no external blocking key: the
    * `sigBits`-bit signature splits into `numBands` contiguous bands;
    * candidates are pairs agreeing exactly on at least one band
    * (self-join on band value, one shuffle on (band#, band bits) —
    * never all pairs). Pigeonhole: maxDist differing bits touch at
    * most maxDist bands, so with `maxDist < numBands` every qualifying
    * pair shares an intact band — the banded plan is EXACT, not
    * approximate, for that regime (hence the `require`).
    */
  def simhashBandedPairs(sims: DataFrame, idCol: String, maxDist: Int,
                         numBands: Int = 4, sigBits: Int = 60): DataFrame = {
    require(maxDist < numBands,
      s"banded recall is only exact for maxDist < numBands " +
        s"(got maxDist=$maxDist, numBands=$numBands); " +
        "raise numBands or use simhashNearDups with an explicit block")
    require(sigBits % numBands == 0, "sigBits must divide evenly into bands")
    val bandBits = sigBits / numBands
    val mask = (1L << bandBits) - 1
    // ONE pass over sims: explode an array of band keys instead of
    // unioning numBands projections — a union would re-evaluate the
    // (possibly expensive, e.g. simhash-aggregation) input subtree
    // once per band per join side
    val bandKeys = array((0 until numBands).map { bnd =>
      concat_ws("_", lit(bnd),
        shiftright(col("simhash"), bnd * bandBits).bitwiseAND(lit(mask)))
    }: _*)
    val banded = sims.select(col(idCol), col("simhash"),
      explode(bandKeys).as("band_key"))
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("band_key"))
    a.join(b, "band_key")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a pair may agree on several bands
  }

  /** Incremental corpus dedup — the daily-ingest pattern: a new batch
    * is deduped against the corpus WITHOUT recomputing or even reading
    * the corpus text. The existing corpus contributes its maintained
    * signature table (built once by [[minhashSignatures]] and appended
    * per ingest); a new doc is dropped if it is a near-dup of any
    * existing doc (cross band-join) or of an earlier new doc in the
    * same batch (greedy min-id policy, as [[dedupCorpus]]). Returns
    * the surviving rows of `newDocs`; append their signatures to the
    * corpus table afterwards to complete the cycle
    * ([[appendSignatures]] — see [[writeSignatures]] for the full
    * lifecycle).
    *
    * At 100 TB the signature table is ~120 bytes/doc — the cross join
    * shuffles band keys of the NEW batch against it, never documents.
    *
    * CALLER CONTRACT for `existingSigs`: it is consumed TWICE (band
    * keying and the `sigsB` scoring side). Pass a materialized frame —
    * a parquet-backed [[readSignatures]] table (the intended shape) or
    * at least a localCheckpoint — or its subtree evaluates twice.
    * `newSigs` is handled here (localCheckpoint: single evaluation,
    * nothing left in the CacheManager).
    */
  def incrementalDedup(newDocs: DataFrame, idCol: String, textCol: String,
                       existingSigs: DataFrame, k: Int = 3,
                       threshold: Double = 0.5): DataFrame =
    incrementalDedupWithSigs(newDocs, idCol, textCol, existingSigs, k,
      threshold)._1

  /** [[incrementalDedup]] variant that ALSO returns the survivors'
    * signature table — exactly what [[appendSignatures]] needs to
    * close the ingest cycle, WITHOUT re-tokenizing the surviving docs:
    * the batch signatures were already computed for the dedup itself,
    * so the append input is a tiny anti-join over them.
    */
  def incrementalDedupWithSigs(newDocs: DataFrame, idCol: String,
                               textCol: String, existingSigs: DataFrame,
                               k: Int = 3, threshold: Double = 0.5)
      : (DataFrame, DataFrame) = {
    val newSigs = minhashSignatures(
      docShingles(newDocs, idCol, textCol, k, dedup = false), idCol)
      .localCheckpoint()
    val vsExisting = estimatedJaccardAcross(
      lshCrossPairs(newSigs, existingSigs, idCol), newSigs, existingSigs,
      idCol)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a").as(idCol)).distinct()
    val intraLosers = estimatedJaccard(
      lshCandidatePairs(newSigs, idCol), newSigs, idCol)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    // checkpointed: the loser id list feeds BOTH anti-joins (docs and
    // signatures) — unmaterialized it would run the band joins twice
    val losers = vsExisting.union(intraLosers).distinct().localCheckpoint()
    (newDocs.join(losers, Seq(idCol), "left_anti"),
      newSigs.join(losers, Seq(idCol), "left_anti"))
  }

  // ---- maintained signature-table lifecycle ----
  //
  // The storage half of [[incrementalDedup]]'s contract: the corpus is
  // represented between ingests by its MinHash signature table
  // (~120 bytes/doc — 16 longs + id), persisted as hash-partitioned
  // parquet. Each daily batch (1) reads the table, (2) dedups against
  // it, (3) appends the survivors' signatures. The corpus TEXT is
  // never re-read after its first ingest.

  /** Number of `sig_part` hash partitions in a signature table. Fixed
    * rather than parameterized: append and overwrite must agree on the
    * layout or a table would mix granularities. At 100 TB corpus scale
    * (~10 B docs ⇒ ~1.2 TB of signatures) raise this constant before
    * first write — it only bounds file parallelism, not correctness
    * (readers never prune on sig_part).
    */
  val SigParts = 16

  private def withSigPart(sigs: DataFrame, idCol: String): DataFrame =
    sigs.withColumn("sig_part",
      (hash32(col(idCol).cast("string")) % SigParts).cast("int"))

  /** Create (or replace) a maintained signature table at `path`. */
  def writeSignatures(sigs: DataFrame, idCol: String, path: String): Unit = {
    val spark = sigs.sparkSession
    def flat(dir: String): Unit =
      withSigPart(sigs, idCol)
        .write.mode("overwrite").partitionBy("sig_part").parquet(dir)
    // zero-gap generation root on non-atomic-rename backends, like
    // every maintained view ([[graft.io.GenTable]]): a re-bootstrap
    // or compaction then flips a pointer instead of exposing a
    // partial table to external readers
    if (graft.io.GenTable.shouldGen(spark, path))
      graft.io.GenTable.swapGen(spark, path)(flat)
    else flat(path)
  }

  /** Append a batch's signatures to a maintained table — the step that
    * closes [[incrementalDedup]]'s cycle. Parquet append is atomic per
    * file and add-only, so a concurrent reader sees either the old or
    * the new batch, never a torn row. Every append adds one file per
    * touched partition; run [[compactSignatures]] periodically (e.g.
    * weekly) so file counts stay bounded.
    *
    * Tombstone-clash self-heal: a batch that re-adds an id pending
    * DEFERRED deletion ([[deleteSignaturesDeferred]]) would have its
    * new row silently masked by the merge-on-read tombstone — the
    * lost-subtraction shape the maintained views' pending-delta
    * guards close. Rather than fail-fasting (which would crash-loop a
    * maintaining ingest stream the first time a forgotten doc is
    * legitimately resubmitted), the clash triggers an inline
    * [[compactSignatures]]: the fold physically drops the old rows
    * and clears the tombstones, after which the append lands clean.
    * The compaction is table-sized — a cost spike, logged loudly, but
    * one the table owes periodically anyway; it only fires on the
    * rare re-ingest-after-forget event. The clash probe costs one
    * semi-join against the (delete-batch-bounded) tombstone set, and
    * only when tombstones are actually pending. Single-writer per
    * table, as all maintenance here: the probe is check-then-act, so
    * a CONCURRENT forget racing this append could still tombstone the
    * id after the probe — serialized writers are the contract, not a
    * courtesy.
    */
  def appendSignatures(sigs: DataFrame, idCol: String, path: String): Unit = {
    val spark = sigs.sparkSession
    pendingTombstoneIds(spark, graft.io.GenTable.live(spark, path))
      .foreach { ts =>
        val key = ts.columns.head
        val clash = sigs.select(col(idCol).as(key))
          .join(ts, Seq(key), "left_semi").limit(1).count()
        if (clash != 0L) {
          System.err.println(
            s"[graft] appendSignatures: batch re-adds tombstoned ids at " +
              s"$path — folding tombstones (compactSignatures) before " +
              "the append so the new rows are not masked")
          compactSignatures(spark, path)
        }
      }
    // re-resolve: the clash fold may have advanced the generation
    withSigPart(sigs, idCol)
      .write.mode("append").partitionBy("sig_part")
      .parquet(graft.io.GenTable.live(spark, path))
  }

  /** Read a maintained signature table (the `existingSigs` input of
    * [[incrementalDedup]] — parquet-backed, so its two consumers there
    * each cost a columnar scan, never a signature recompute). Pending
    * deferred-deletion tombstones are applied merge-on-read (an
    * anti-join against the delete-batch-bounded tombstone set — a
    * no-op when none are pending).
    */
  def readSignatures(spark: SparkSession, path: String): DataFrame = {
    val live = graft.io.GenTable.live(spark, path)
    minusTombstones(spark, live,
      spark.read.parquet(live).drop("sig_part"))
  }

  // ---- deferred (merge-on-read) signature deletion ----
  //
  // [[deleteSignatures]] rewrites every hash partition the deleted ids
  // can live in — but ids hash UNIFORMLY over sig_part, so any
  // realistically-mixed forget batch touches ALL partitions and the
  // "touched-partition rewrite" degenerates to a full-table rewrite
  // (~1.2 TB of signatures at the 100 TB corpus): O(corpus) per
  // forget. The deferred path is O(batch): the delete lands as a
  // TOMBSTONE id list under `_tombstones/batch_id=<id>` (underscore
  // dir — invisible to base-table scans), committed by one `_done`
  // marker ([[graft.io.AtomicIo.publishFile]] — all-or-nothing on
  // both backend worlds); readers apply committed tombstones with an
  // anti-join, and [[compactSignatures]] folds them into the base.
  //
  // Contract: tombstone bulk is bounded by deletes-since-compaction
  // (compact before it rivals the table); single-writer per table,
  // the package-wide rule; EXTERNAL raw-parquet readers (the stored
  // SQL namespace) see the base only — compact before raw serving,
  // the same pending-state contract the maintained views' `_deltas`
  // carry. Batch dirs are keyed by (batchId, CONTENT fingerprint),
  // not batchId alone: exactly-once must survive a batch-id "era
  // reset" (a replaced stream checkpoint, a re-bootstrapped label
  // store) — with id-only keying a new era's batch N would find the
  // old era's `_done` and silently skip a real delete, while
  // content-keying sends it to a fresh dir and both eras' deletes
  // stand (tombstones are idempotent SETS — union is always correct
  // for ids that were each genuinely deleted). This is also why the
  // audited [[graft.io.Deltas]] skeleton is NOT reused here: delta
  // batches are additive FOLD VALUES whose exactly-once hangs on a
  // monotone `_folded` high-water mark (an era assumption), whereas
  // an id-set's natural key is its content.

  private val TombstoneDir = "_tombstones"

  private def committedTombstonePaths(spark: SparkSession,
                                      live: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$live/$TombstoneDir")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_done")))
      .map(_.toString).toSeq
  }

  /** The union of committed tombstone batches' ids (one column, named
    * as written), or None when no tombstones are pending.
    */
  private def pendingTombstoneIds(spark: SparkSession,
                                  live: String): Option[DataFrame] = {
    val paths = committedTombstonePaths(spark, live)
    if (paths.isEmpty) None
    else {
      val ts = spark.read.parquet(paths: _*)
      Some(ts.select(ts.columns.head).distinct())
    }
  }

  private def minusTombstones(spark: SparkSession, live: String,
                              base: DataFrame): DataFrame =
    pendingTombstoneIds(spark, live) match {
      case Some(ts) => base.join(ts, Seq(ts.columns.head), "left_anti")
      case None     => base
    }

  /** Remove ids from a maintained signature table in O(batch), not
    * O(touched partitions): publish the id list as a tombstone batch
    * that every API read applies merge-on-read, leaving the base
    * files untouched. The commit point is the batch's `_done` marker
    * (atomic on both backend worlds); a crash before it leaves no
    * effect (uncommitted files are invisible to readers and are
    * overwritten by the replay), a replay of a committed batch
    * no-ops — so unlike a half-applied eager rewrite there is no
    * partial-delete state. The batch dir is keyed by (batchId,
    * content fingerprint), so a replay with the SAME ids no-ops while
    * a different delete reusing the id (a batch-id era reset) lands
    * in its own dir instead of being silently skipped — and a
    * committed dir is never overwritten, so there is no
    * deletes-vanish-mid-rewrite window either. Fold tombstones into
    * the base with [[compactSignatures]].
    */
  def deleteSignaturesDeferred(spark: SparkSession, rootPath: String,
                               ids: DataFrame, idCol: String,
                               batchId: Long): Unit = {
    val live = graft.io.GenTable.live(spark, rootPath)
    val del = ids.select(col(idCol)).distinct().localCheckpoint()
    // order-independent content fingerprint: one scalar, no collect.
    // bit_xor, not sum — overflow-free (ANSI-safe) and commutative;
    // the preceding distinct keeps xor's duplicate-cancellation moot
    val fp = del
      .agg(expr(s"bit_xor(xxhash64(CAST(`$idCol` AS STRING)))"))
      .head.get(0) match { case null => 0L; case v => v.asInstanceOf[Long] }
    val dir = s"$live/$TombstoneDir/batch_id=$batchId-${java.lang.Long.toHexString(fp)}"
    val done = new org.apache.hadoop.fs.Path(dir, "_done")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return // committed replay: exactly-once no-op
    // one table, one id column: a second name would silently null out
    // under the multi-dir read's first-file schema — fail loudly
    pendingTombstoneIds(spark, live).foreach { ts =>
      require(ts.columns.head == idCol,
        s"deleteSignaturesDeferred: tombstones at $live/$TombstoneDir " +
          s"were written with id column '${ts.columns.head}', got '$idCol'")
    }
    // batch-bounded by contract → one small file, not SigParts shards
    del.coalesce(1).write.mode("overwrite").parquet(dir)
    graft.io.AtomicIo.publishFile(fs, done,
      batchId.toString.getBytes("UTF-8"))
    // self-triggering compaction — the cadence is code, not a caller
    // contract (same seam, same bound as the relabel overlays in
    // [[MaintainedComponents]]): past the threshold the per-read
    // anti-join tax keeps growing and the "delete-batch-bounded"
    // assumption behind the merge-on-read shape erodes. The fold runs
    // AFTER this batch's `_done` (the commit point), so a crash
    // mid-fold leaves a fully-committed tombstone that the next
    // maintenance op (or explicit [[compactSignatures]]) folds; the
    // count check is one directory listing, no Spark job.
    if (committedTombstonePaths(spark, live).size >=
        MaintainedComponents.autoCompactPendingBatches(spark))
      compactSignatures(spark, rootPath)
  }

  /** Point/subset read of a maintained signature table: the
    * signatures of exactly the ids in `ids`, scanning ONLY the hash
    * partitions those ids can live in. The table's layout key is
    * `hash32(id) % SigParts`, so each requested id's `sig_part` is
    * recomputable reader-side: the distinct touched parts (≤
    * [[SigParts]] values — bounded driver work, broadcast-sized by
    * construction) become a static partition filter, and a broadcast
    * semi-join on (sig_part, id) finishes the exact cut. At 100 TB
    * (~1.2 TB signature table) a reconciliation fetch of one batch's
    * signatures reads touched/SigParts of the table instead of all of
    * it — spec-measured via ScanAudit, mirroring the Z-order
    * evidence.
    */
  def readSignaturesFor(spark: SparkSession, rootPath: String,
                        ids: DataFrame, idCol: String): DataFrame = {
    val path = graft.io.GenTable.live(spark, rootPath)
    val keyed = withSigPart(ids.select(col(idCol)).distinct(), idCol)
      .localCheckpoint() // ids subtree evaluates once (parts + semi)
    val parts = keyed.select("sig_part").distinct()
      .collect().map(_.getInt(0)).toSeq
    minusTombstones(spark, path,
      spark.read.parquet(path)
        .filter(col("sig_part").isin(parts: _*))
        .join(broadcast(keyed), Seq("sig_part", idCol), "left_semi")
        .drop("sig_part"))
  }

  /** Remove ids from a maintained signature table — the deletion
    * counterpart of [[appendSignatures]]. Rewrites ONLY the hash
    * partitions the deleted ids can live in (their `sig_part` is
    * recomputable reader-side, the [[readSignaturesFor]] trick):
    * touched partitions' survivors are materialized FIRST
    * (localCheckpoint — dynamic partition overwrite would otherwise
    * read the very files it replaces), written back under dynamic
    * partition-overwrite, and a partition whose every row was deleted
    * is removed explicitly (an empty partition produces no output
    * files, so the dynamic overwrite alone would leave it stale).
    * Idempotent: re-deleting absent ids is a no-op rewrite.
    *
    * SCALE CAVEAT — prefer [[deleteSignaturesDeferred]] for forget
    * batches: ids hash uniformly over sig_part, so a mixed batch
    * touches ALL partitions and this eager path rewrites the whole
    * table (O(corpus) per delete at 100 TB). The eager form remains
    * for the skewed case (ids known to land in few partitions) and
    * for callers that need their ids physically gone without a
    * compaction. Composes with pending tombstones: rows they mask
    * stay masked (reads apply tombstones regardless of which files a
    * rewrite produced) until [[compactSignatures]] folds them.
    */
  def deleteSignatures(spark: SparkSession, rootPath: String,
                       ids: DataFrame, idCol: String): Unit = {
    val path = graft.io.GenTable.live(spark, rootPath)
    val keyed = withSigPart(ids.select(col(idCol)).distinct(), idCol)
      .localCheckpoint()
    val parts = keyed.select("sig_part").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (parts.nonEmpty) {
      val survivors = spark.read.parquet(path)
        .filter(col("sig_part").isin(parts: _*))
        .join(broadcast(keyed.select(idCol)), Seq(idCol), "left_anti")
        .localCheckpoint()
      val survivedParts = survivors.select("sig_part").distinct()
        .collect().map(_.getInt(0)).toSet
      if (survivedParts.nonEmpty)
        survivors.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("sig_part").parquet(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      parts.filterNot(survivedParts).foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/sig_part=$p"), true)
      }
    }
  }

  /** Rewrite a signature table to one file per partition, collapsing
    * the per-append small files and FOLDING pending deferred-deletion
    * tombstones into the base (the staged/generation dir starts
    * tombstone-free, so the fold and the tombstone clear commit in
    * the same atomic swap — no window where a fold landed but its
    * tombstones still subtract). Swap semantics (reader visibility,
    * crash recovery, single-writer): [[graft.io.StagedSwap]].
    */
  def compactSignatures(spark: SparkSession, path: String): Unit = {
    val live = graft.io.GenTable.live(spark, path)
    def fold(stage: String): Unit =
      minusTombstones(spark, live, spark.read.parquet(live))
        .repartition(SigParts, col("sig_part"))
        .write.mode("overwrite").partitionBy("sig_part").parquet(stage)
    // gen-rooted tables compact by pointer flip (zero-gap, zero-copy
    // on object stores); flat tables keep the rename swap
    if (graft.io.GenTable.isGenRoot(spark, path))
      graft.io.GenTable.swapGen(spark, path)(fold)
    else graft.io.StagedSwap.swap(spark, path)(fold)
  }

  /** Connected components over an undirected candidate-pair graph by
    * iterative min-label propagation: every vertex starts labeled with
    * its own id; each round, a vertex's label becomes the min of its
    * own and its neighbors' labels; fixpoint = every vertex carries the
    * min id of its component. This is THE transitive-closure policy
    * for corpus dedup ("a≈b, b≈c ⇒ one cluster" even when a and c
    * share no band) — the greedy pairwise policy of [[dedupCorpus]]
    * can drop both endpoints of a chain.
    *
    * Scale: each round is one neighbor-min join + groupBy plus one
    * POINTER-JUMPING join (adopt your label's label — Shiloach-Vishkin
    * style shortcutting, the same doubling trick large-star/small-star
    * schemes [Kiveris et al., "Connected Components in MapReduce"]
    * exploit), all shuffling on vertex id or label — no driver-side
    * data, no collect. The jump makes the min label reach roughly
    * DOUBLE its previous distance every round, so rounds needed are
    * O(log diameter) rather than O(diameter): an adversarial
    * 300-vertex chain converges in ~8 rounds (spec-pinned), while
    * near-dup clusters (near-cliques) still finish in 2–3.
    * `localCheckpoint` after each round truncates the lineage so the
    * plan doesn't grow with iterations (the classic iterative-Spark
    * trap). The driver loop carries only a scalar convergence count.
    *
    * Returns (idCol, `component`) for EVERY vertex of `vertices` —
    * singletons label themselves.
    */
  def connectedComponents(pairs: DataFrame, vertices: DataFrame,
                          idCol: String, maxIter: Int = 25): DataFrame = {
    // symmetric edge list: propagation must flow both directions.
    // Explode-of-structs, NOT a union of two projections — a union
    // evaluates the (expensive: band self-join) pairs subtree twice
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist()
    try {
      edges.count() // materialize once; reused every round
      // the loop runs over PAIR-GRAPH vertices only — in a near-dup
      // corpus that graph is orders of magnitude smaller than the
      // corpus, and singletons' labels are known (themselves), so they
      // ride a union around the iteration instead of through it.
      // Checkpointed: `active` is also read by the singleton anti-join
      // AFTER edges is unpersisted — without materialization that read
      // would re-evaluate the whole pairs subtree (band self-join) at
      // caller time. The id list is tiny.
      val active = edges.select(col("src").as("id")).distinct()
        .transform(graft.Checkpoints.stabilize)
      var labels = active.select(col("id"), col("id").as("component"))
        .transform(graft.Checkpoints.stabilize)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val neighborMin = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id"))
          .agg(min("component").as("nbr_min"))
        // every active vertex has ≥1 neighbor, so the join is inner
        // checkpointed: prop feeds BOTH sides of the jump self-join —
        // unmaterialized, the neighbor-min subtree would run twice
        val prop = labels.join(neighborMin, Seq("id"))
          .select(col("id"),
            least(col("component"), col("nbr_min")).as("component"),
            (col("nbr_min") < col("component")).as("__chg"))
          .transform(graft.Checkpoints.stabilize)
        // pointer jump: adopt the label OF your label. Labels start as
        // own ids of active vertices and only ever take mins of other
        // labels, so every label value IS an active vertex id — the
        // self-join below is total (inner is safe) and label(label) ≤
        // label, which is what doubles the propagation distance.
        val jump = prop.select(col("id").as("__jid"),
          col("component").as("__jcomp"))
        val next = prop.join(jump, col("component") === col("__jid"))
          .select(col("id"),
            least(col("component"), col("__jcomp")).as("component"),
            (col("__chg") || col("__jcomp") < col("component")).as("__chg"))
          .transform(graft.Checkpoints.stabilize)
        changed = next.filter(col("__chg")).count()
        labels = next.drop("__chg")
        iter += 1
      }
      // fail LOUDLY on a non-converged exit: returning partial labels
      // would silently keep several representatives per cluster. Rounds
      // needed ≈ graph diameter, so hitting the default 25 means a
      // pathological long-chain graph — raise maxIter (or switch to a
      // large-star/small-star O(log² n) scheme) rather than trust the
      // output.
      if (changed > 0) throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds " +
          s"($changed labels still changing); raise maxIter")
      val singletons = vertices.select(col(idCol).as("id"))
        .join(active, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      labels.union(singletons).withColumnRenamed("id", idCol)
    } finally edges.unpersist(blocking = false)
  }

  /** Incrementally MERGE a batch's near-dup edges into a maintained
    * component labeling — the lifecycle sibling of
    * [[connectedComponents]]: between ingests the corpus's clustering
    * lives as its (id, component) label table, and a new batch
    * updates it WITHOUT re-running the closure over the corpus.
    *
    * Correctness is the star-contraction argument: a stored labeling
    * is connectivity-equivalent to the pair graph it summarizes (each
    * component is a star rooted at its min-member label), so
    * CC(star edges ∪ new edges) ≡ CC(old pairs ∪ new pairs), with the
    * same min-id canonical labels. The oracle replays the FULL
    * closure over all pairs — refresh ≡ full recompute, the
    * [[graft.io.MergeTable]] contract.
    *
    * Cost ∝ the batch: the iterative closure runs only over TOUCHED
    * components' stars plus the new edges (stars have diameter ≤ 2,
    * so pre-merged structure converges in one hop); an untouched
    * component never enters a job — its rows carry over through one
    * anti-join on the label column. At 100 TB the label table is
    * ~16 bytes/doc and the per-ingest closure is batch-sized.
    *
    * `newEdges`: (id_a, id_b) batch–batch and batch–corpus pairs,
    * either orientation. `newVertices`: the batch's ids (edgeless
    * docs become singletons; ids already labeled are ignored, so
    * re-ingest is idempotent).
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
                      newVertices: DataFrame, idCol: String): DataFrame = {
    // the edge list feeds the touched-set probe AND the closure —
    // materialized so the (expensive: band-join) pairs subtree runs
    // once
    val edges = newEdges.select(col("id_a"), col("id_b")).localCheckpoint()
    val ends = edges
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    // touched/touchedLabels are NOT checkpointed: their upstreams
    // (labels, edges) are already materialized, so a re-evaluation is
    // one cheap join — an extra localCheckpoint would only add a
    // scheduling barrier (composed lifecycles are job-count-bound)
    val touched = labels.join(ends, Seq(idCol), "left_semi")
      .select("component").distinct()
    // members of touched components: leave the carry-over, enter the
    // closure as their component's star
    val touchedLabels = labels
      .join(touched, Seq("component"), "left_semi")
    val starEdges = touchedLabels.filter(col(idCol) =!= col("component"))
      .select(col(idCol).as("id_a"), col("component").as("id_b"))
    val freshVerts = newVertices.select(col(idCol)).distinct()
      .join(labels, Seq(idCol), "left_anti")
    val subVerts = touchedLabels.select(idCol).union(freshVerts).distinct()
    val sub = connectedComponents(starEdges.union(edges), subVerts, idCol)
    // the anti-join keys on component, which reorders columns — put
    // the output back in (id, component) shape
    labels.join(touched, Seq("component"), "left_anti").unionByName(sub)
      .select(col(idCol), col("component"))
  }

  /** Deletion propagation through the maintained component labeling —
    * the right-to-be-forgotten counterpart of [[mergeComponents]]:
    * removing documents must remove them from the clustering AND
    * repair the components they leave behind.
    *
    * Deletion is strictly harder than insertion: a star labeling is
    * connectivity-equivalent to its pair graph only while edges are
    * ADDED. Removing a doc can SPLIT its component (delete the bridge
    * B of A≈B≈C and {A},{C} must separate — but the stored stars say
    * A—label, C—label, which stays connected), so the stars are NOT
    * sufficient evidence. The repair therefore re-derives the edges of
    * the touched components from the maintained SIGNATURE table (the
    * same banded-LSH + estimated-Jaccard rule that built them — edges
    * are a pure function of signatures, so the re-derived subgraph is
    * exactly the original minus the deleted endpoints) and re-runs the
    * closure over the touched components' SURVIVORS only.
    *
    * Exactness: a surviving member of a touched component can never
    * join an untouched component — such an edge would be
    * signature-implied and would have merged the two components before
    * the deletion. So untouched components carry over through one
    * anti-join, and the output equals the full closure over the
    * surviving corpus (the oracle recomputes exactly that).
    *
    * Cost ∝ deletion impact: the band self-join and closure run over
    * touched components' members only; at 100 TB a forget batch
    * touches thousands of components, not the corpus. `signatures` is
    * the maintained [[minhashSignatures]]-shaped table (the same one
    * [[incrementalDedup]]/the ingest lifecycles keep); remember to
    * also drop the deleted ids from it and from the doc store — this
    * operator returns the repaired (id, component) labeling.
    */
  def forgetDocs(labels: DataFrame, signatures: DataFrame,
                 deleteIds: DataFrame, idCol: String,
                 threshold: Double = 0.5): DataFrame = {
    val del = deleteIds.select(col(idCol)).distinct().localCheckpoint()
    val touched = labels.join(del, Seq(idCol), "left_semi")
      .select("component").distinct()
    val touchedLabels = labels.join(touched, Seq("component"), "left_semi")
    val survivors = touchedLabels.select(idCol)
      .join(del, Seq(idCol), "left_anti")
    // touched-survivor signatures feed the band join AND the scoring
    // join — materialize once (the incrementalDedup caller contract)
    val survSigs = signatures.join(survivors, Seq(idCol), "left_semi")
      .localCheckpoint()
    val pairs = estimatedJaccard(lshCandidatePairs(survSigs, idCol),
        survSigs, idCol)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b")
    val repaired = connectedComponents(pairs, survivors, idCol)
    labels.join(touched, Seq("component"), "left_anti")
      .unionByName(repaired.select(col(idCol), col("component")))
      .select(col(idCol), col("component"))
  }

  /** Transitive-closure corpus dedup: cluster near-dup pairs into
    * connected components and keep exactly the min-id document of each
    * cluster. Unlike [[dedupCorpus]]'s greedy policy, every cluster
    * keeps exactly one representative — a chain a≈b≈c keeps only a.
    * Exact duplicates need no separate pass: identical texts have
    * identical signatures, so they are always LSH candidates with
    * estimated Jaccard 1.0 and land in one cluster.
    *
    * Snapshot semantics: the clustering prelude is memoized per
    * (session, input plan, params) via [[graft.Memo]] — a same-session
    * re-call over the same logical input returns the materialized
    * (possibly pre-file-overwrite) clustering; [[graft.Memo.clear]]
    * forces a re-read of mutated inputs.
    */
  def dedupCorpusTransitive(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // df feeds three consumers (signature build, vertex list, final
    // semi-join) — localCheckpoint so an expensive upstream (e.g. a
    // quality gate's aggregations) computes once, not three times,
    // without leaving a CacheManager entry the caller would have to
    // unpersist (the r2-audited leak). Eager is fine: the component
    // loop materializes everything anyway.
    val (input, comps) = clusteredInput(df, idCol, textCol, k, threshold)
    input.join(comps.filter(col(idCol) === col("component")).select(idCol),
      Seq(idCol), "left_semi")
  }

  /** Transitive dedup with a QUALITY-AWARE keeper: cluster near-dups
    * like [[dedupCorpusTransitive]], but keep the cluster row with the
    * highest `scoreCol` (ties by min id) instead of the min id. This
    * is what a production pipeline actually wants — when a scraped
    * page and its AMP/print twin collide, keep the longer/cleaner one,
    * not whichever crawled first. Keeper selection is one
    * row_number-over-component window (GroupedTopK-shaped: bounded
    * heap, no per-component sort); determinism needs scoreCol ties to
    * be broken by id, which the window does.
    */
  def dedupCorpusKeepBest(df: DataFrame, idCol: String, textCol: String,
                          scoreCol: String, k: Int = 3,
                          threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (input, comps) = clusteredInput(df, idCol, textCol, k, threshold)
    val w = Window.partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol))
    input.join(comps, idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "component")
  }

  /** Shared clustering prelude of the two transitive-dedup policies:
    * checkpoint the input (it feeds three consumers), build the
    * near-dup pair graph, label components. One recipe, so the
    * min-id and keep-best policies can never silently diverge.
    */
  private def clusteredInput(df: DataFrame, idCol: String, textCol: String,
                             k: Int, threshold: Double)
      : (DataFrame, DataFrame) =
    // memoized per (session, input plan, params): the signature build
    // + LSH pair graph + component loop is the dominant cost of every
    // transitive-dedup consumer, and a session running a pipeline AND
    // its audit twin (or both keeper policies) over the same corpus
    // must not pay it twice — the decisions are deterministic and
    // contractually identical ([[graft.Memo]])
    graft.Memo.shared(
      graft.Memo.dfKey(df, "clusteredInput", idCol, textCol, k, threshold)) {
      // pair graph built from the RAW plan so it shares the
      // minhashNearDups memo entry with the direct consumers
      // (canonical docs, dup-rate, evidence) of the same corpus
      val pairs = minhashNearDups(df, idCol, textCol, k, threshold)
        .select("id_a", "id_b")
      val input = df.localCheckpoint()
      val comps = graft.Checkpoints.stabilize(
        connectedComponents(pairs, input.select(idCol), idCol))
      (input, comps)
    }

  /** Public view of the clustering prelude — (checkpointed input,
    * (id, component) labels for EVERY input doc; component = cluster
    * min id, singletons label themselves). The same recipe the two
    * transitive-dedup policies run, exposed for consumers that need
    * the LABELS rather than the survivors — e.g. the curation audit
    * trail, which must blame each dropped doc on its cluster keeper
    * with decisions guaranteed identical to [[dedupCorpusTransitive]].
    */
  def corpusComponents(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.5)
      : (DataFrame, DataFrame) =
    clusteredInput(df, idCol, textCol, k, threshold)

  /** EXACT SUBSTRING dedup — span-level, not document-level: every
    * k-token span whose text occurs more than once in the corpus is cut
    * from every occurrence EXCEPT the first (first = smallest
    * (id, start), a total order, so the keeper is the same on any
    * engine at any parallelism). Overlapping duplicated spans merge: a
    * token survives only if no cut span covers it. Returns
    * (idCol, text_clean) for every input doc — a doc that is one big
    * repeat of an earlier doc comes back as "".
    *
    * This is the distributed re-expression of suffix-array substring
    * dedup (the "repeated ≥ N-token span" cleanup from the
    * deduplication literature): a suffix array is a single-machine
    * structure, but fixing the minimum span length k makes the problem
    * shingle-local, and then every shuffle keys on the k-shingle or the
    * doc id — never doc × doc, never global order:
    *   1. one groupBy shingle with map-side partial (count,
    *      min(struct(id, start))) picks duplicated shingles and their
    *      keeper occurrence — min over a struct is a combinable
    *      aggregate, so no window sort materializes the occurrence
    *      list;
    *   2. occurrences rejoin duplicated shingles on the shingle key
    *      (bucketable, skew-safe: a shingle's bucket is its own
    *      occurrence count);
    *   3. covered positions anti-join the position-indexed token table
    *      (doc-id keyed);
    *   4. one groupBy per doc rebuilds the surviving text in order.
    * At 100 TB, set `hashShingles = true`: steps 1–2 then key on the
    * 64-bit xxhash of the shingle instead of the raw token string —
    * shuffle rows shrink from k words to 8 bytes, at a collision risk
    * of ~n²/2⁶⁴ spans (a false cut of one span, not a wrong keeper;
    * acceptable at any realistic corpus). The default keys on the raw
    * shingle, which keeps the DuckDB oracle bit-exact; a spec pins the
    * two modes equal on collision-free data. Pick k at the span length
    * you mean to dedup (50 tokens in the literature).
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, hashShingles: Boolean = false): DataFrame = {
    val base = df.select(col(idCol), Portable.tokens(col(textCol)).as("__toks"))
    val gramsRaw = base.select(col(idCol),
      posexplode(shingles(col("__toks"), k)).as(Seq("start", "shingle")))
    val grams =
      if (hashShingles)
        gramsRaw.select(col(idCol), col("start"),
          xxhash64(col("shingle")).as("shingle"))
      else gramsRaw
    val firsts = grams
      .groupBy("shingle")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("start"))).as("__first"))
      .filter(col("__cnt") >= 2)
      .select(col("shingle"), col("__first"))
    // INTERVAL cut lists, not exploded positions: each cut gram is one
    // (start, start+k-1) row — k× fewer shuffle records than the
    // per-position explode this replaces — collected per doc and
    // merged row-locally (the array-local analogue of the
    // [[Temporal]] gaps-and-islands merge); the rebuild is then a
    // row-local indexed filter over the doc's token array, so no
    // token-level shuffle remains at all
    val cutIvs = grams.join(firsts, "shingle")
      .filter(struct(col(idCol), col("start")) =!= col("__first"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(struct(col("start").as("s"),
        (col("start") + (k - 1)).as("e")))).as("__ivs"))
      .select(col(idCol), mergeIvs(col("__ivs")).as("__merged"))
    base.join(cutIvs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(
          when(col("__merged").isNull, array_join(col("__toks"), " "))
            .otherwise(array_join(
              filter(col("__toks"), (t, i) =>
                !exists(col("__merged"), iv =>
                  iv.getField("s") <= i && i <= iv.getField("e"))), " ")),
          lit("")).as("text_clean"))
  }

  /** Row-local merge of an ASCENDING-sorted (s, e) interval array:
    * one aggregate fold extending or appending the last interval —
    * adjacent intervals coalesce too (same coverage set). O(|ivs|)
    * per row, no shuffle.
    */
  private def mergeIvs(ivs: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    aggregate(ivs, array().cast("array<struct<s:int,e:int>>"),
      (acc, x) => {
        val last = element_at(acc, -1)
        when(size(acc) === 0, array(x))
          .when(x.getField("s") <= last.getField("e") + 1,
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(last.getField("s").as("s"),
                greatest(last.getField("e"), x.getField("e")).as("e")))))
          .otherwise(concat(acc, array(x)))
      })

  /** Near-dup pair EVIDENCE: for each candidate pair, the structure of
    * their exact k-gram agreement — total matched shingle positions,
    * number of contiguous shared runs, and the longest shared run in
    * tokens. This is the "why did these two match" row a dedup
    * decision gets reviewed against (a 90 %-Jaccard pair with one
    * giant run is a true near-dup; the same estimate spread over 40
    * two-token fragments is boilerplate contamination).
    *
    * Mechanics: positional shingles of only the paired docs (semi-join
    * before the explode ships any positions), matched on the shingle
    * key, then contiguous runs found on each DIAGONAL (pa − pb): on a
    * diagonal, consecutive positions are consecutive matches, so the
    * classic pos − row_number() grouping labels each run — the
    * dot-plot alignment trick in two window functions. Shuffles are
    * keyed on shingle / (pair, diagonal); per-pair work is bounded by
    * doc length × repetition, never corpus size.
    */
  def pairEvidence(df: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), Portable.tokens(col(textCol)).as("__toks"))
    val grams = base.select(col(idCol),
      posexplode(shingles(col("__toks"), k)).as(Seq("pos", "sh")))
    val aSide = grams
      .join(pairs.select(col("id_a").as(idCol)).distinct(), idCol)
      .select(col(idCol).as("id_a"), col("pos").as("pa"), col("sh"))
    val bSide = grams
      .join(pairs.select(col("id_b").as(idCol)).distinct(), idCol)
      .select(col(idCol).as("id_b"), col("pos").as("pb"), col("sh"))
    // distinct here too: duplicate (id_a,id_b) rows in the caller's
    // pairs frame would otherwise multiply every match row, inflating
    // n_matches/n_runs for that pair
    val matched = aSide.join(bSide, "sh")
      .join(pairs.select("id_a", "id_b").distinct(), Seq("id_a", "id_b"))
    val diag = col("pa") - col("pb")
    val w = Window.partitionBy(col("id_a"), col("id_b"), diag)
      .orderBy(col("pa"))
    val runs = matched
      .withColumn("__grp", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), diag.as("__diag"), col("__grp"))
      .agg(count(lit(1)).as("__len"))
    runs.groupBy("id_a", "id_b")
      .agg(sum(col("__len")).as("n_matches"),
        count(lit(1)).as("n_runs"),
        (max(col("__len")) + (k - 1)).as("longest_run_tokens"))
  }

  /** Cross-corpus SPAN dedup — the CCNet/shard "line dedup" shape for
    * corpora whose documents carry no line structure: cut each document
    * into NON-overlapping `span`-token blocks (the pseudo-lines), hash
    * each block, and keep only the globally-first occurrence of every
    * repeated block (deterministic keeper: min (doc, block index)
    * struct, a combinable aggregate — no window). Later occurrences are
    * cut and each document is rebuilt in order from its surviving
    * blocks. Blocks shorter than `minTokens` (the ragged tail block)
    * carry too little signal to call duplicates and are always kept.
    *
    * Contrast [[substringDedup]] (overlapping k-gram coverage): that
    * explodes one row per TOKEN position and catches arbitrary-offset
    * repeats; this explodes one row per BLOCK — a `span`× smaller
    * shuffle — and catches the aligned repeats that dominate real
    * corpora (boilerplate lines, templated paragraphs). At 100 TB this
    * is the corpus-wide first pass; substringDedup is the fine tail
    * pass on what survives. Both shuffles key on the block/shingle
    * content (or its 64-bit hash via `hashSpans = true`, shrinking
    * shuffle rows to 8 bytes at ~n²/2⁶⁴ collision risk), never doc×doc.
    *
    * Returns one row per input doc: (id, text_clean, n_spans, n_cut).
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                span: Int = 8, minTokens: Int = 4,
                hashSpans: Boolean = false): DataFrame = {
    require(span >= 1 && minTokens >= 1, "span and minTokens must be >= 1")
    val base = df.select(col(idCol), Portable.tokens(col(textCol)).as("__toks"))
    // per-doc block ARRAY (row-local, never exploded with its text):
    // the keep-first tail explodes only (id, idx, key, len)
    val perDoc = base
      .select(col(idCol),
        transform(
          sequence(lit(0),
            greatest(ceil(size(col("__toks")).cast("double") / span)
              .cast("int") - 1, lit(0))),
          i => array_join(slice(col("__toks"), i * span + lit(1), lit(span)), " "))
          .as("__blocks"))
      .withColumn("__blens",
        transform(col("__blocks"), b => size(Portable.tokens(b))))
    keepFirstBlocks(df, perDoc, idCol, minTokens, hashSpans)
  }

  /** Shared block-dedup tail for [[spanDedup]] and [[cdcDedup]]:
    * given one row per doc with its block ARRAY (`__blocks`) and
    * block token lengths (`__blens`), keep the globally-first
    * occurrence of every repeated block of ≥ minTokens tokens, cut the
    * rest, rebuild each doc's text in block order. Returns one row per
    * input doc: (id, text_clean, n_spans, n_cut).
    *
    * Scale shape: the keep-first decision explodes only
    * (id, idx, key, len) — 8-byte keys under `hashBlocks`, never block
    * TEXT — and the rebuild is ROW-LOCAL: the cut indexes come back as
    * one small array per affected doc (shuffle ∝ cuts, not blocks) and
    * an indexed `filter` over the already-materialized block array
    * reconstructs the text. The previous formulation re-shuffled every
    * block row with its text into a per-doc collect_list sort —
    * blocks× the necessary shuffle volume (measured 1.9× slower at
    * sf0.1 on q_cdc_dedup).
    */
  private def keepFirstBlocks(df: DataFrame, perDoc: DataFrame,
                              idCol: String, minTokens: Int,
                              hashBlocks: Boolean): DataFrame = {
    // materialized ONCE: the per-doc block build (boundary HOF +
    // per-block slice/join — the dominant cost for content-defined
    // chunks) feeds the explode AND the row-local rebuild
    val keyed = perDoc
      .withColumn("__keys",
        if (hashBlocks) transform(col("__blocks"), b => xxhash64(b))
        else col("__blocks"))
      .localCheckpoint()
    val exploded = keyed
      .select(col(idCol),
        posexplode(arrays_zip(col("__keys").as("k"), col("__blens").as("l")))
          .as(Seq("idx", "__z")))
      .select(col(idCol), col("idx"),
        col("__z.k").as("__key"), col("__z.l").as("blen"))
      .filter(col("blen") >= minTokens)
    // duplicated full-length blocks and their keeper occurrence
    val firsts = exploded
      .groupBy("__key")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("idx"))).as("__first"))
      .filter(col("__cnt") >= 2)
      .select(col("__key"), col("__first"))
    val cutPerDoc = exploded
      .join(firsts, "__key")
      .filter(struct(col(idCol), col("idx")) =!= col("__first"))
      .groupBy(col(idCol))
      .agg(collect_set(col("idx")).as("__cutIdx"))
    keyed
      .join(cutPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(array_join(
          filter(col("__blocks"),
            (b, i) => !coalesce(
              array_contains(col("__cutIdx"), i), lit(false))),
          " "), lit("")).as("text_clean"),
        // explicit null guards: size(null) is -1 under the legacy
        // default, so coalesce alone would under-count
        when(col("__blocks").isNull, lit(0L))
          .otherwise(size(col("__blocks")).cast("long")).as("n_spans"),
        when(col("__cutIdx").isNull, lit(0L))
          .otherwise(size(col("__cutIdx")).cast("long")).as("n_cut"))
  }

  /** Content-defined chunking dedup — the SHIFT-ROBUST sibling of
    * [[spanDedup]] (whose fixed blocks miss repeats at a different
    * token offset; see the alignment spec). Chunk boundaries are
    * decided by CONTENT, not position: a boundary falls after token i
    * whenever the hash of the `w`-token window ending at i is ≡ 0
    * mod `divisor` (the LBFS/rsync rolling-chunk trick, token-level).
    * Inserting a token early in a doc shifts every fixed block but
    * only perturbs CDC boundaries whose windows overlap the edit —
    * repeated content downstream re-synchronizes and still dedups.
    * Mean chunk length ≈ `divisor` tokens.
    *
    * Everything before the keep-first groupBy is row-local array
    * arithmetic (window hashes, boundary list, chunk slicing — one
    * projection, no shuffle); the dedup tail is the same
    * content-keyed shuffle as spanDedup. Same return shape.
    */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
               w: Int = 3, divisor: Int = 4,
               minTokens: Int = 2, hashChunks: Boolean = false): DataFrame = {
    require(w >= 1 && divisor >= 1 && minTokens >= 1,
      "w, divisor, minTokens must be >= 1")
    // boundary detection + chunk slicing in ONE native expression
    // ([[graft.expressions.CdcChunks]]): the former two interpreted
    // HOFs (a per-position slice+join+md5 filter and a per-chunk
    // slice+join zip_with) dominated the row-local cost — the
    // expression hashes pre-extracted token bytes incrementally and
    // emits the identical blocks/blens (CdcParitySpec pins old ≡ new
    // byte-for-byte; the DuckDB oracle is unchanged)
    // NULL text: one null block of length -1 — exactly what the old
    // declarative form produced (legacy size(null) = -1 riding through
    // its zip_with) and what the oracle's outer-join shape counts as
    // n_spans = 1; the keep-first tail's null guards then rebuild ''
    val nullDoc = struct(
      array(lit(null).cast("string")).as("blocks"),
      array(lit(-1)).as("blens"))
    val perDoc = df
      .select(col(idCol),
        when(col(textCol).isNull, nullDoc)
          .otherwise(graft.expressions.CdcExpressions.cdcChunks(
            Portable.tokens(col(textCol)), w, divisor)).as("__c"))
      .select(col(idCol), col("__c.blocks").as("__blocks"),
        col("__c.blens").as("__blens"))
    keepFirstBlocks(df, perDoc, idCol, minTokens, hashChunks)
  }
}
