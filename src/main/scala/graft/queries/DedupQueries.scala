package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.functions.Portable._
import graft.model.Tables
import graft.operators.{Curation, Dedup, MaintainedComponents}

/** Deduplication queries over `documents`: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard. The MinHash/SimHash oracles are
  * generated from the same constants as the Spark expressions
  * (graft.functions.Portable), so the DuckDB compare is bit-exact.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  private val K = 3 // shingle width

  val queries: Map[String, Q] = Map(
    // exact dedup groups by content digest
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("content_md5")),

    // MinHash signatures (16 perms; no shingle dedup — min is
    // multiset-invariant, saves a shuffle of the shingle strings)
    "q_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(
        Dedup.docShingles(Tables.documents(s, d), "doc_id", "text", K,
          dedup = false),
        "doc_id")
        .orderBy("doc_id")),

    // LSH candidate pairs with estimated Jaccard (signatures
    // localCheckpoint-materialized — they feed the band join and both
    // estimation sides, and nothing is left in the CacheManager)
    "q_minhash_pairs" -> ((s, d) => {
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(Tables.documents(s, d), "doc_id", "text", K,
          dedup = false),
        "doc_id").localCheckpoint()
      Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .orderBy("id_a", "id_b")
    }),

    // the stored SQL surface TIMED as a first-class query (SqlParity
    // pins the ≡, this puts it in the bench record under every
    // master): write the signature table to the stored layout, then
    // run the band self-join as PURE SQL over the catalog's stored
    // namespace — the partition-layout read path a SQL-only user gets
    "q_stored_sql_pairs" -> ((s, d) => {
      val root = Scratch.fresh(s"ssq_${Scratch.tag(d)}")
      // catalog instances cache per name on first use — key the name
      // by the sf dir so scale legs in one process don't collide
      val cat = s"gsb${Scratch.tag(d)}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.storedDir", root)
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(Tables.documents(s, d), "doc_id", "text", K,
          dedup = false),
        "doc_id")
      Dedup.writeSignatures(sigs, "doc_id", s"$root/sigs")
      // band keys as aliased structs (identical struct types — SQL
      // infers field names from source columns otherwise)
      val bands = (0 until NumBands).map { b =>
        val rows = (0 until RowsPerBand)
          .map(r => s"mh${b * RowsPerBand + r} AS r$r")
        s"struct($b AS b, ${rows.mkString(", ")})"
      }
      s.sql(
        s"""WITH keyed AS (
           |  SELECT doc_id AS id, explode(array(${bands.mkString(", ")}))
           |    AS band_key
           |  FROM $cat.stored.sigs)
           |SELECT a.id AS id_a, b.id AS id_b
           |FROM keyed a JOIN keyed b ON a.band_key = b.band_key
           |WHERE a.id < b.id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    // frequency-aware near-dup: weighted MinHash (tf-capped unary
    // expansion) proposes candidates, exact capped weighted Jaccard
    // verifies — reported as an integer fraction (jw_num/jw_den) so
    // the compare is bit-exact on any engine. Catches boilerplate-
    // heavy near-dups whose repeated tokens dilute the SET Jaccard
    "q_weighted_jaccard" -> ((s, d) =>
      Dedup.weightedJaccardPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // canonical-doc selection: connected components pick the cluster,
    // PageRank picks the representative (max centrality, min-id tie) —
    // both integer-deterministic, so the whole composition oracles
    "q_canonical_docs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // pairs feed BOTH the component labels and the rank edges — the
      // memoized shared pair graph (same entry as q_dedup_transitive
      // and the dup-rate/evidence queries over this corpus)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", K, 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val comps = Dedup.connectedComponents(pairs,
        docs.select(col("doc_id").as("id")), "id")
        .select(col("id").as("doc_id"), col("component"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val ranks = graft.operators.Graph.pageRank(docs.select("doc_id"),
        edges, "doc_id", "src", "dst", iters = 3)
      // Kept as the WINDOW pair deliberately (r16 measured rejection):
      // a groupBy(component).agg(min(struct(-rank, id)), count) was
      // tried — it is the guide-§2.3 "aggregate before you shuffle"
      // form — but a struct-min buffer is not hash-aggregable, so the
      // plan became Sort → SortAggregate(partial) → Exchange → Sort →
      // SortAggregate: TWO sorts where the window pair pays one
      // exchange + one sort (both windows share the partitioning), and
      // on this mostly-singleton-component corpus the partial phase
      // reduced 5.0E3 rows only to 4.72E3 while the struct column grew
      // the exchange from 156 KiB to 258 KiB
      // (plans/r16/q_canonical_docs_{before,after}_exec.txt) —
      // interleaved A/B 1.03, flat. The aggregate form only wins at
      // high duplication rates (clusters ≫ 1 per task), which this
      // operator cannot assume. The corpus-sized comps ⋈ ranks join
      // below is correctly a SortMergeJoin at scale (both sides carry
      // one row per doc); AQE broadcasts it at bench sizes.
      val w = Window.partitionBy("component")
        .orderBy(col("rank_ppm").desc, col("doc_id").asc)
      comps.join(ranks, "doc_id")
        .withColumn("__rn", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("component")))
        .filter(col("__rn") === 1)
        .select(col("component"), col("doc_id").as("canonical_id"),
          col("rank_ppm"), col("cluster_size"))
        .orderBy("component")
    }),

    // blocked fuzzy match: LSH band candidates verified by edit
    // distance — the entity-resolution two-phase join
    "q_fuzzy_match" -> ((s, d) =>
      Dedup.fuzzyMatchPairs(Tables.documents(s, d), "doc_id", "text",
        K, maxDist = 100)
        .orderBy("id_a", "id_b")),

    // PageRank over the near-dup pair graph (both directions), 3
    // rounds of integer micro-unit arithmetic — centrality marks the
    // canonical doc inside each duplicate neighborhood
    "q_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(docs, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val pairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.Graph.pageRank(docs.select("doc_id"), edges,
        "doc_id", "src", "dst", iters = 3)
        .orderBy("doc_id")
    }),

    // per-vertex triangle counts over the >=0.5-Jaccard pair graph —
    // the cluster-density diagnostic next to q_dup_clusters
    "q_triangles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(docs, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val pairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      graft.operators.Graph.triangleCounts(pairs, "id_a", "id_b")
        .orderBy("vertex")
    }),

    // per-pair match-structure evidence over the >=0.5 pair graph:
    // total shared shingle positions, contiguous runs, longest run
    "q_dup_evidence" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(docs, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val pairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.pairEvidence(docs, "doc_id", "text", pairs, k = K)
        .orderBy("id_a", "id_b")
    }),

    // per-doc 60-bit SimHash (sign-safe BIGINT; 15-bit bands downstream)
    "q_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // SimHash near-dup pairs via 4×15-bit banding: candidates share at
    // least one intact band, which by pigeonhole is EXACT for
    // maxDist 3 < 4 bands — so the all-pairs DuckDB oracle must match
    // bit-for-bit even though the Spark plan never joins all pairs
    "q_simhash_pairs" -> ((s, d) => {
      // signatures materialized: they feed both sides of the band join
      val sims = Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .localCheckpoint()
      Dedup.simhashBandedPairs(sims, "doc_id", maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    // exact n-gram Jaccard over source-blocked pairs (shingle-first
    // self-join — zero-overlap pairs never materialize)
    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardBlocked(Tables.documents(s, d),
        "doc_id", "text", "source", K)
        .orderBy("id_a", "id_b")),

    // end-to-end corpus dedup: exact + minhash near-dup removal
    "q_dedup_corpus" -> ((s, d) =>
      Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text", K,
        threshold = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // duplicate clusters: connected components (iterative min-label
    // propagation) over the minhash near-dup pair graph — the
    // transitive-closure view the DuckDB oracle replays with a
    // recursive CTE
    "q_dup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", K,
        threshold = 0.5).select("id_a", "id_b")
      Dedup.connectedComponents(pairs, docs.select("doc_id"), "doc_id")
        .orderBy("doc_id")
    }),

    // incremental component maintenance: base labeling (90% of docs)
    // + one ingest batch (10%: intra + cross edges vs base
    // signatures) merged via the star-contraction identity — output
    // must EQUAL the full closure over the whole corpus, which is
    // exactly what the oracle computes (refresh ≡ full recompute).
    // The batch fraction mirrors the lifecycle's real shape: the
    // merge leg's closure is batch-sized, the base labeling is the
    // stored state the query must (once) construct.
    //
    // DELIBERATELY kept alongside q_comp_lifecycle (r13 verdict asked
    // to retire one): this is the OPERATOR-identity query — it pins
    // Dedup.mergeComponents alone against the DuckDB closure, with
    // the stored state as an in-memory stand-in, so a regression here
    // isolates to the star-contraction algebra; q_comp_lifecycle runs
    // the same merge THROUGH the parquet store + relabel overlay, so a
    // regression there that this query doesn't show isolates to the
    // storage/commit layer. The bench pair also prices the storage
    // layer's overhead as (lifecycle − operator) per round. The
    // base-labeling rebuild is the cost of keeping the stand-in
    // in-memory — constant per run, outside the merge leg being
    // measured (README prices the merge leg separately).
    "q_incr_components" -> ((s, d) => {
      val all = Tables.documents(s, d)
      val base = all.filter(col("doc_id") % 10 =!= 9)
      val batch = all.filter(col("doc_id") % 10 === 9)
      val baseSigs = Dedup.minhashSignatures(
        Dedup.docShingles(base, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val basePairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(baseSigs, "doc_id"), baseSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      // the stored-state stand-in: labels feed three consumers inside
      // mergeComponents (touched probe, member expansion, carry-over)
      // — materialized once, as the real lifecycle's parquet read is
      val baseLabels = Dedup.connectedComponents(basePairs,
        base.select("doc_id"), "doc_id").localCheckpoint()
      val newSigs = Dedup.minhashSignatures(
        Dedup.docShingles(batch, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val cross = Dedup.estimatedJaccardAcross(
        Dedup.lshCrossPairs(newSigs, baseSigs, "doc_id"),
        newSigs, baseSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      val intra = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(newSigs, "doc_id"), newSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      Dedup.mergeComponents(baseLabels, cross.unionByName(intra),
        batch.select("doc_id"), "doc_id")
        .orderBy("doc_id")
    }),

    // deletion propagation (right to be forgotten): forget ~6% of the
    // corpus and repair the component labeling from the maintained
    // signature table — must EQUAL the full closure over the surviving
    // corpus (deletes can SPLIT components, which stars can't answer)
    "q_forget" -> ((s, d) => {
      val all = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(all, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val pairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      // the stored-state stand-ins: labels + signatures would be
      // parquet reads in the real lifecycle
      val labels = Dedup.connectedComponents(pairs,
        all.select("doc_id"), "doc_id").localCheckpoint()
      val del = all.filter(col("doc_id") % 17 === 3).select("doc_id")
      Dedup.forgetDocs(labels, sigs, del, "doc_id")
        .orderBy("doc_id")
    }),

    // the STORED component-label lifecycle (q_incr_components/q_forget
    // keep their state in-memory as the operator-identity stand-ins;
    // this is the real thing): base labels + signatures persisted as
    // hash-partitioned parquet, one ingest batch MERGED through the
    // stored table (partition-pruned member expansion, one committed
    // relabel overlay — io/Overlays), the batch sigs appended,
    // then a forget batch REPAIRED from the stored signature table —
    // final labeling read back from disk must equal the full closure
    // over the surviving corpus (merge∘forget ≡ recompute)
    "q_comp_lifecycle" -> ((s, d) => {
      val all = Tables.documents(s, d)
      val base = all.filter(col("doc_id") % 10 =!= 9)
      val batch = all.filter(col("doc_id") % 10 === 9)
      val labelPath = Scratch.fresh(s"complabels_${Scratch.tag(d)}/labels")
      val sigPath = Scratch.fresh(s"compsigs_${Scratch.tag(d)}/sigs")
      val baseSigs = Dedup.minhashSignatures(
        Dedup.docShingles(base, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val basePairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(baseSigs, "doc_id"), baseSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      // the two bootstrap writes are INDEPENDENT tables over the same
      // checkpointed baseSigs — overlap them (guide §2.6): the sig
      // write's tasks back-fill the closure's per-round straggler
      // tails instead of waiting for the whole iteration to finish
      graft.Par.par2(
        () => Dedup.writeSignatures(baseSigs, "doc_id", sigPath),
        () => MaintainedComponents.write(
          Dedup.connectedComponents(basePairs, base.select("doc_id"),
            "doc_id"),
          "doc_id", labelPath))
      // ingest: batch edges derived against the STORED signature table
      // (the read's file listing snapshots here, before the append
      // below can add files — the merge leg scans exactly this state)
      val storedSigs = Dedup.readSignatures(s, sigPath)
      val newSigs = Dedup.minhashSignatures(
        Dedup.docShingles(batch, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val cross = Dedup.estimatedJaccardAcross(
        Dedup.lshCrossPairs(newSigs, storedSigs, "doc_id"),
        newSigs, storedSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      val intra = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(newSigs, "doc_id"), newSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      // merge touches only the label store, append only the signature
      // store (parquet append: immutable files, and merge's scans ride
      // the pre-append listing above) — independent, overlapped
      graft.Par.par2(
        () => MaintainedComponents.merge(s, labelPath,
          cross.unionByName(intra), batch.select("doc_id"), "doc_id",
          batchId = 1L),
        () => Dedup.appendSignatures(newSigs, "doc_id", sigPath))
      // right-to-be-forgotten batch, repaired from the stored sigs
      MaintainedComponents.forget(s, labelPath, sigPath,
        all.filter(col("doc_id") % 17 === 3).select("doc_id"), "doc_id",
        batchId = 2L)
      MaintainedComponents.read(s, labelPath).orderBy("doc_id")
    }),

    // leakage-safe split: near-dup components share a split, so no
    // near-duplicate pair can straddle train/test (eval contamination)
    "q_leakage_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", K,
        threshold = 0.5).select("id_a", "id_b")
      val clusters = Dedup.connectedComponents(pairs,
        docs.select("doc_id"), "doc_id")
      Curation.leakageSafeSplit(docs.select("doc_id"), "doc_id", clusters)
        .select("doc_id", "component", "split")
        .orderBy("doc_id")
    }),

    // transitive-closure corpus dedup: one representative per cluster
    "q_dedup_transitive" -> ((s, d) =>
      Dedup.dedupCorpusTransitive(Tables.documents(s, d), "doc_id", "text",
        K, threshold = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // incremental ingest: even-id docs are the standing corpus (only
    // their SIGNATURE table participates), odd-id docs the new batch.
    // The corpus signatures are localCheckpoint-materialized per
    // incrementalDedup's caller contract: they feed BOTH the band join
    // and the scoring join, and the unmaterialized form evaluated the
    // half-corpus shingle+digest subtree twice (r2's slowest query,
    // 20.6 s at sf0.1)
    "q_incremental_dedup" -> ((s, d) => {
      val all = Tables.documents(s, d)
      val existingSigs = Dedup.minhashSignatures(
        Dedup.docShingles(all.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", K, dedup = false), "doc_id")
        .localCheckpoint()
      Dedup.incrementalDedup(all.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", existingSigs, K, threshold = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // full maintained-table lifecycle: write the corpus signatures to
    // partitioned parquet, read them back, dedup the new batch against
    // the STORED table, append the survivors' signatures, compact, and
    // return the final table — the oracle recomputes what it must
    // contain (corpus sigs + surviving-batch sigs) from scratch
    "q_sig_lifecycle" -> ((s, d) => {
      val all = Tables.documents(s, d)
      val table = Scratch.fresh(s"sigtable_${Scratch.tag(d)}/sigs")
      val corpusSigs = Dedup.minhashSignatures(
        Dedup.docShingles(all.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", K, dedup = false), "doc_id")
      Dedup.writeSignatures(corpusSigs, "doc_id", table)
      val stored = Dedup.readSignatures(s, table)
      // WithSigs: the survivors' signatures come out of the dedup
      // itself — the append never re-tokenizes the batch
      val (_, survivorSigs) = Dedup.incrementalDedupWithSigs(
        all.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", stored, K,
        threshold = 0.5)
      Dedup.appendSignatures(survivorSigs, "doc_id", table)
      Dedup.compactSignatures(s, table)
      Dedup.readSignatures(s, table).orderBy("doc_id")
    }),

    // exact n-gram Jaccard over LSH-bounded candidate pairs — the
    // corpus-scale block key (band buckets), vs q_ngram_jaccard's
    // attribute block
    "q_ngram_jaccard_lsh" -> ((s, d) =>
      Dedup.ngramJaccardLsh(Tables.documents(s, d), "doc_id", "text", K)
        .orderBy("id_a", "id_b")),

    // exact substring (span-level) dedup: corpus-duplicated 6-token
    // spans cut everywhere but their first occurrence
    "q_substring_dedup" -> ((s, d) =>
      Dedup.substringDedup(Tables.documents(s, d), "doc_id", "text", k = 6)
        .orderBy("doc_id")),

    // duplication rate per source: which data feeds are paying their
    // way — docs, near-dup losers (greedy id_b policy), and the loss
    // share, ranked worst-first (the procurement report a corpus team
    // actually reads before renewing a feed)
    "q_dup_rate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val losers = Dedup.minhashNearDups(docs, "doc_id", "text", K, 0.5)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("__lost", lit(1L))
      docs.select(col("doc_id"), col("source"))
        .join(losers, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__lost"), lit(0L))).as("n_dup_losers"))
        .withColumn("dup_share",
          round(col("n_dup_losers").cast("double") / col("n_docs"), 6))
        .orderBy(desc("dup_share"), col("source"))
    }),

    // cross-language near-dup matrix: how many near-dup pairs CROSS a
    // language boundary, per (lang_a, lang_b) — the machine-translation
    // / cross-locale-boilerplate contamination diagnostic (same-lang
    // pairs are ordinary dups; cross-lang pairs mean templated or
    // mistagged content leaking across locales)
    "q_crosslang_dups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(docs, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val pairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5)
      val langs = docs.select(col("doc_id"), col("lang"))
      pairs
        .join(langs.select(col("doc_id").as("id_a"),
          col("lang").as("__la")), "id_a")
        .join(langs.select(col("doc_id").as("id_b"),
          col("lang").as("__lb")), "id_b")
        .select(least(col("__la"), col("__lb")).as("lang_a"),
          greatest(col("__la"), col("__lb")).as("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_lang", col("lang_a") =!= col("lang_b"))
        .orderBy("lang_a", "lang_b")
    }),

    // quality-aware transitive dedup: each near-dup cluster keeps its
    // LONGEST doc (ties by id), not its min id
    "q_dedup_keep_best" -> ((s, d) =>
      Dedup.dedupCorpusKeepBest(
        Tables.documents(s, d).select("doc_id", "text", "lang", "source",
          "n_chars"),
        "doc_id", "text", "n_chars")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // asymmetric containment (|A∩B|/|A|, /|B|) over LSH candidates —
    // the quote/wrapper signature Jaccard blurs
    "q_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text", K,
        minContain = 0.3)
        .orderBy("id_a", "id_b")),

    // cross-corpus span dedup: non-overlapping 3-token blocks, keep the
    // globally-first occurrence of each repeated block (CCNet-style
    // "line dedup" for a corpus whose docs carry no newlines)
    "q_span_dedup" -> ((s, d) =>
      Dedup.spanDedup(Tables.documents(s, d), "doc_id", "text",
        span = 3, minTokens = 2)
        .orderBy("doc_id")),

    // LSH banding S-curve advisor: P(candidate | jaccard) for every
    // (bands, rows) split of the 16 permutations — the sizing table a
    // dedup deployment reads before running at corpus scale
    "q_lsh_curve" -> ((s, _) =>
      Dedup.lshCurve(s).orderBy("bands", "jaccard")),

    // content-defined chunking dedup: boundaries decided by window
    // hashes (mean chunk ≈ 4 tokens), so repeated content re-syncs
    // and dedups even at a shifted offset — the rsync/LBFS trick at
    // token level, complementing q_span_dedup's fixed blocks
    "q_cdc_dedup" -> ((s, d) =>
      Dedup.cdcDedup(Tables.documents(s, d), "doc_id", "text",
        w = 3, divisor = 4, minTokens = 2)
        .orderBy("doc_id")),

    // 1-bit signature compression: the 64×-smaller signature's
    // Jaccard estimate next to the full-signature estimate on the
    // same LSH candidates — the storage/variance trade a 100 TB
    // signature store actually makes
    "q_bbit_minhash" -> ((s, d) => {
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(Tables.documents(s, d), "doc_id", "text", K,
          dedup = false),
        "doc_id").localCheckpoint()
      Dedup.bbitJaccard(
        Dedup.estimatedJaccard(
          Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id"),
        sigs, "doc_id")
        .orderBy("id_a", "id_b")
    }),
  )

  // ---- oracle SQL, generated from the same constants ----

  // CTE builders parameterized by the base relation so composed
  // pipelines (CurationQueries.q_corpus_pipeline) can run the same
  // MinHash arithmetic over a filtered doc set
  private[queries] def shCteFrom(base: String): String =
    s"""toks AS (SELECT doc_id, ${Portable.tokensSql("text")} AS t FROM $base),
       |sh0 AS (SELECT doc_id, unnest(${Portable.shinglesSql("t", K)}) AS s FROM toks),
       |sh AS (SELECT DISTINCT doc_id, s FROM sh0)""".stripMargin

  private[queries] def sigCteFrom(base: String): String =
    s"""${shCteFrom(base)},
       |h AS (SELECT doc_id, ${Portable.hash32Sql("s")} AS hv FROM sh),
       |sig AS (SELECT doc_id,
       |  ${(0 until NumPerms).map(j => s"CAST(min(${Portable.permSql("hv", j)}) AS BIGINT) AS mh$j").mkString(",\n  ")}
       |  FROM h GROUP BY doc_id)""".stripMargin

  private val shCte = shCteFrom("documents")

  private val sigCte = sigCteFrom("documents")

  /** cand + pairs CTEs: LSH band candidates filtered to estimated
    * Jaccard ≥ threshold. Expects `sig` and `bands` in scope.
    */
  private[queries] def pairsCtes(threshold: Double): String = {
    val matches = (0 until NumPerms)
      .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y ON x.band_key = y.band_key
       |  WHERE x.doc_id < y.doc_id),
       |pairs AS (SELECT c.id_a, c.id_b FROM cand c
       |  JOIN sig a ON a.doc_id = c.id_a
       |  JOIN sig b ON b.doc_id = c.id_b
       |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= $threshold)""".stripMargin
  }

  private[queries] val bandsCteText: String = {
    val bands = (0 until NumBands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
      s"SELECT doc_id, concat_ws('_', $b, ${cols.mkString(", ")}) AS band_key FROM sig"
    }
    s"bands AS (${bands.mkString(" UNION ALL ")})"
  }

  private val bandsCte = bandsCteText

  /** Full-corpus transitive closure by recursive CTE: reach(id, comp)
    * holds every component-member id reachable from `id`; min over it
    * is exactly the min-label fixpoint the Spark loop converges to.
    * Serves BOTH q_dup_clusters (direct closure) and
    * q_incr_components (incremental merge — refresh ≡ full recompute
    * IS the contract, so the two queries share one oracle).
    */
  private def closureSqlFrom(base: String, prelude: String = ""): String = {
    val matches = (0 until NumPerms)
      .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH RECURSIVE $prelude${sigCteFrom(base)},
       |$bandsCte,
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y ON x.band_key = y.band_key
       |  WHERE x.doc_id < y.doc_id),
       |pairs AS (SELECT c.id_a, c.id_b FROM cand c
       |  JOIN sig a ON a.doc_id = c.id_a
       |  JOIN sig b ON b.doc_id = c.id_b
       |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, comp) AS (
       |  SELECT doc_id, doc_id FROM $base
       |  UNION
       |  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst)
       |SELECT id AS doc_id, min(comp) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
  }

  private lazy val fullClosureSql: String = closureSqlFrom("documents")

  /** One unrolled PageRank-round CTE (`r{t+1}` from `r{t}`) — the same
    * split-product integer micro-unit formula as
    * [[graft.operators.Graph.pageRank]] (`//` truncates like Spark's
    * `div` for the all-non-negative operands here). Shared by
    * q_pagerank and q_canonical_docs so the engine formula and both
    * oracles can only change together.
    */
  private def pageRankRoundCte(t: Int): String =
    s"""r${t + 1} AS (SELECT n.doc_id AS v,
       |  CAST(150000 + 850000 * (coalesce(c.i, 0) // 1000000)
       |       + (850000 * (coalesce(c.i, 0) % 1000000)) // 1000000
       |       AS BIGINT) AS r
       |  FROM documents n LEFT JOIN (
       |    SELECT ed.dst AS v2, CAST(sum(r$t.r // ed.deg) AS BIGINT) AS i
       |    FROM ed JOIN r$t ON r$t.v = ed.src GROUP BY ed.dst) c
       |  ON c.v2 = n.doc_id)""".stripMargin

  // 60-bit signature (15-bit bands in the Spark plan) — the bit-row
  // formulation mirrors Dedup.simhash's conditional-sum arithmetic
  private val simhashCtes =
    s"""tok0 AS (SELECT doc_id, ${Portable.tokensSql("text")} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM tok0),
       |hh AS (SELECT doc_id, ${Portable.hash60Sql("tok")} AS h FROM tok),
       |bits AS (SELECT doc_id, b, ((h >> CAST(b AS INT)) & 1) * 2 - 1 AS w
       |  FROM hh, generate_series(0, 59) AS gs(b)),
       |bsum AS (SELECT doc_id, b, sum(w) AS s FROM bits GROUP BY 1, 2),
       |sim AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
       |           ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bsum GROUP BY doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_md5""".stripMargin,

    "q_minhash_sig" ->
      s"""WITH $sigCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,

    "q_minhash_pairs" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id)
         |SELECT c.id_a, c.id_b,
         |  round(CAST(($matches) AS DOUBLE) / $NumPerms, 6) AS est_jaccard
         |FROM cand c
         |JOIN sig a ON a.doc_id = c.id_a
         |JOIN sig b ON b.doc_id = c.id_b
         |ORDER BY c.id_a, c.id_b""".stripMargin
    },

    // the stored-SQL band join must land on the same candidate set —
    // write + store + pure-SQL read ≡ the direct band derivation
    "q_stored_sql_pairs" ->
      s"""WITH $sigCte,
         |$bandsCte
         |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |FROM bands x JOIN bands y ON x.band_key = y.band_key
         |WHERE x.doc_id < y.doc_id
         |ORDER BY 1, 2""".stripMargin,

    "q_weighted_jaccard" -> {
      val wbands = (0 until NumBands).map { bnd =>
        val cols = (0 until RowsPerBand).map(r => s"mh${bnd * RowsPerBand + r}")
        s"SELECT doc_id, concat_ws('_', $bnd, ${cols.mkString(", ")}) AS band_key FROM sig"
      }
      s"""WITH toks AS (SELECT doc_id, ${Portable.tokensSql("text")} AS t
         |  FROM documents),
         |sh0 AS (SELECT doc_id, unnest(${Portable.shinglesSql("t", K)}) AS s0
         |  FROM toks),
         |ctf AS (SELECT doc_id, ${Portable.hash60Sql("s0")} AS sh,
         |    LEAST(count(*), ${graft.operators.Dedup.WtfCap}) AS ctf
         |  FROM sh0 GROUP BY 1, 2),
         |rep AS (SELECT doc_id,
         |    CAST(sh AS VARCHAR) || '@' ||
         |      CAST(unnest(generate_series(1, ctf)) AS VARCHAR) AS ws
         |  FROM ctf),
         |h AS (SELECT doc_id, ${Portable.hash32Sql("ws")} AS hv FROM rep),
         |sig AS (SELECT doc_id,
         |  ${(0 until NumPerms).map(j => s"CAST(min(${Portable.permSql("hv", j)}) AS BIGINT) AS mh$j").mkString(",\n  ")}
         |  FROM h GROUP BY doc_id),
         |bands AS (${wbands.mkString(" UNION ALL ")}),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |tot AS (SELECT doc_id, CAST(sum(ctf) AS BIGINT) AS tot
         |  FROM ctf GROUP BY 1),
         |num AS (SELECT c.id_a, c.id_b,
         |    CAST(sum(LEAST(a.ctf, b.ctf)) AS BIGINT) AS jw_num
         |  FROM cand c
         |  JOIN ctf a ON a.doc_id = c.id_a
         |  JOIN ctf b ON b.doc_id = c.id_b AND b.sh = a.sh
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b,
         |  coalesce(n.jw_num, 0) AS jw_num,
         |  ta.tot + tb.tot - coalesce(n.jw_num, 0) AS jw_den
         |FROM cand c
         |LEFT JOIN num n ON n.id_a = c.id_a AND n.id_b = c.id_b
         |JOIN tot ta ON ta.doc_id = c.id_a
         |JOIN tot tb ON tb.doc_id = c.id_b
         |ORDER BY c.id_a, c.id_b""".stripMargin
    },

    "q_canonical_docs" -> {
      s"""WITH RECURSIVE $sigCte,
         |$bandsCte,
         |${pairsCtes(0.5)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst),
         |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         |ed AS (SELECT e.src, e.dst, d.deg FROM edges e
         |  JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
         |  ON d.src = e.src),
         |r0 AS (SELECT doc_id AS v, CAST(1000000 AS BIGINT) AS r
         |  FROM documents),
         |${pageRankRoundCte(0)},
         |${pageRankRoundCte(1)},
         |${pageRankRoundCte(2)},
         |j AS (SELECT c.comp AS component, c.id AS doc_id, r3.r AS rank_ppm
         |  FROM comps c JOIN r3 ON r3.v = c.id)
         |SELECT component, doc_id AS canonical_id, rank_ppm,
         |  count(*) OVER (PARTITION BY component) AS cluster_size
         |FROM j
         |QUALIFY row_number() OVER (
         |  PARTITION BY component ORDER BY rank_ppm DESC, doc_id) = 1
         |ORDER BY component""".stripMargin
    },

    "q_fuzzy_match" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id)
         |SELECT c.id_a, c.id_b,
         |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
         |FROM cand c
         |JOIN documents a ON a.doc_id = c.id_a
         |JOIN documents b ON b.doc_id = c.id_b
         |WHERE levenshtein(a.text, b.text) <= 100
         |ORDER BY c.id_a, c.id_b""".stripMargin,

    "q_pagerank" -> {
      s"""WITH $sigCte,
         |$bandsCte,
         |${pairsCtes(0.5)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |ed AS (SELECT e.src, e.dst, d.deg FROM edges e
         |  JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
         |  ON d.src = e.src),
         |r0 AS (SELECT doc_id AS v, CAST(1000000 AS BIGINT) AS r
         |  FROM documents),
         |${pageRankRoundCte(0)},
         |${pageRankRoundCte(1)},
         |${pageRankRoundCte(2)}
         |SELECT v AS doc_id, r AS rank_ppm FROM r3
         |ORDER BY doc_id""".stripMargin
    },

    "q_dup_evidence" -> {
      val sh3 = Portable.shinglesSql("t", K)
      s"""WITH $sigCte,
         |$bandsCte,
         |${pairsCtes(0.5)},
         |egr0 AS (SELECT doc_id, $sh3 AS g FROM toks),
         |egr AS (SELECT doc_id, unnest(generate_series(1, len(g))) AS pos, g
         |  FROM egr0),
         |esh AS (SELECT doc_id, pos, g[pos] AS sh FROM egr),
         |em AS (SELECT p.id_a, p.id_b, a.pos AS pa, b.pos AS pb
         |  FROM pairs p
         |  JOIN esh a ON a.doc_id = p.id_a
         |  JOIN esh b ON b.doc_id = p.id_b AND b.sh = a.sh),
         |er AS (SELECT id_a, id_b, pa, pb,
         |    pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb
         |      ORDER BY pa) AS grp
         |  FROM em),
         |eruns AS (SELECT id_a, id_b, pa - pb AS diag, grp, count(*) AS len
         |  FROM er GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, CAST(sum(len) AS BIGINT) AS n_matches,
         |  count(*) AS n_runs,
         |  CAST(max(len) + ${K - 1} AS BIGINT) AS longest_run_tokens
         |FROM eruns GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin
    },

    "q_triangles" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |${pairsCtes(0.5)},
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
         |deg AS (SELECT v, count(*) AS degree FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |tri AS (SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tv AS (SELECT v, count(*) AS n_triangles FROM (
         |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY 1)
         |SELECT deg.v AS vertex, deg.degree,
         |  coalesce(tv.n_triangles, 0) AS n_triangles
         |FROM deg LEFT JOIN tv ON tv.v = deg.v
         |ORDER BY vertex""".stripMargin,

    "q_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,

    // ground truth stays ALL-pairs: banding with maxDist < numBands is
    // lossless (pigeonhole), so the exhaustive oracle checks both the
    // hamming arithmetic AND the banded plan's recall
    "q_simhash_pairs" ->
      s"""WITH $simhashCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_corpus" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |losers AS (SELECT DISTINCT c.id_b FROM cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(text))
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN keepers kp ON kp.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT id_b FROM losers)
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_dup_clusters" -> fullClosureSql,

    // refresh ≡ full recompute: the incrementally-merged labeling must
    // be INDISTINGUISHABLE from the full-corpus closure — same oracle
    "q_incr_components" -> fullClosureSql,

    // forget ≡ full recompute over the surviving corpus
    "q_forget" -> closureSqlFrom("surv",
      "surv AS (SELECT * FROM documents WHERE doc_id % 17 <> 3),\n"),

    // the stored lifecycle lands on the same final corpus: merge the
    // whole corpus in, then forget %17 — ≡ closure over survivors
    "q_comp_lifecycle" -> closureSqlFrom("surv",
      "surv AS (SELECT * FROM documents WHERE doc_id % 17 <> 3),\n"),

    "q_leakage_split" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      val bucket =
        s"${Portable.hash32Sql("CAST(c.component AS VARCHAR)")} % 100"
      s"""WITH RECURSIVE $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |pairs AS (SELECT c.id_a, c.id_b FROM cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst),
         |lscomp AS (SELECT id AS doc_id, min(comp) AS component
         |  FROM reach GROUP BY id)
         |SELECT c.doc_id, c.component,
         |  CASE WHEN $bucket < 80 THEN 'train'
         |       WHEN $bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM lscomp c ORDER BY c.doc_id""".stripMargin
    },

    "q_dedup_transitive" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH RECURSIVE $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |pairs AS (SELECT c.id_a, c.id_b FROM cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst),
         |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN comps c ON c.id = d.doc_id
         |WHERE c.comp = d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    // dup-rate mirror: distinct greedy losers (id_b side of pairs)
    // left-joined to the doc table, share per source
    "q_dup_rate" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |${pairsCtes(0.5)},
         |losers AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END)
         |    AS BIGINT) AS n_dup_losers,
         |  round(CAST(sum(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END)
         |    AS DOUBLE) / count(*), 6) AS dup_share
         |FROM documents d LEFT JOIN losers l ON l.doc_id = d.doc_id
         |GROUP BY d.source
         |ORDER BY dup_share DESC, d.source""".stripMargin,

    // cross-language matrix mirror: the shared sig/band/pairs CTEs,
    // langs attached, unordered (lang_a ≤ lang_b) per-pair counting
    "q_crosslang_dups" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |${pairsCtes(0.5)},
         |lp AS (SELECT least(da.lang, db.lang) AS lang_a,
         |    greatest(da.lang, db.lang) AS lang_b
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.id_a
         |  JOIN documents db ON db.doc_id = p.id_b)
         |SELECT lang_a, lang_b, count(*) AS n_pairs,
         |  lang_a <> lang_b AS cross_lang
         |FROM lp GROUP BY 1, 2
         |ORDER BY lang_a, lang_b""".stripMargin,

    // same recursive components as q_dedup_transitive; the keeper is
    // the per-component (n_chars DESC, doc_id) top-1
    "q_dedup_keep_best" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH RECURSIVE $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |pairs AS (SELECT c.id_a, c.id_b FROM cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst),
         |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN comps c ON c.id = d.doc_id
         |QUALIFY row_number() OVER (PARTITION BY c.comp
         |  ORDER BY d.n_chars DESC, d.doc_id) = 1
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_incremental_dedup" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sigCte,
         |$bandsCte,
         |bn AS (SELECT doc_id, band_key FROM bands WHERE doc_id % 2 <> 0),
         |be AS (SELECT doc_id, band_key FROM bands WHERE doc_id % 2 = 0),
         |cross_cand AS (SELECT DISTINCT n.doc_id AS id_a, e.doc_id AS id_b
         |  FROM bn n JOIN be e ON n.band_key = e.band_key),
         |vs_existing AS (SELECT DISTINCT c.id_a FROM cross_cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5),
         |intra_cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bn x JOIN bn y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |intra_losers AS (SELECT DISTINCT c.id_b FROM intra_cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id % 2 <> 0
         |  AND doc_id NOT IN (SELECT id_a FROM vs_existing)
         |  AND doc_id NOT IN (SELECT id_b FROM intra_losers)
         |ORDER BY doc_id""".stripMargin
    },

    // final maintained table = corpus (even) signatures + signatures
    // of batch (odd) docs surviving the q_incremental_dedup logic
    "q_sig_lifecycle" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sigCte,
         |$bandsCte,
         |bn AS (SELECT doc_id, band_key FROM bands WHERE doc_id % 2 <> 0),
         |be AS (SELECT doc_id, band_key FROM bands WHERE doc_id % 2 = 0),
         |cross_cand AS (SELECT DISTINCT n.doc_id AS id_a, e.doc_id AS id_b
         |  FROM bn n JOIN be e ON n.band_key = e.band_key),
         |vs_existing AS (SELECT DISTINCT c.id_a FROM cross_cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5),
         |intra_cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bn x JOIN bn y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |intra_losers AS (SELECT DISTINCT c.id_b FROM intra_cand c
         |  JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b
         |  WHERE CAST(($matches) AS DOUBLE) / $NumPerms >= 0.5)
         |SELECT * FROM sig
         |WHERE doc_id % 2 = 0
         |   OR (doc_id NOT IN (SELECT id_a FROM vs_existing)
         |       AND doc_id NOT IN (SELECT id_b FROM intra_losers))
         |ORDER BY doc_id""".stripMargin
    },

    // LSH-blocked exact Jaccard: candidates from band buckets, scored
    // over the distinct shingle table
    "q_ngram_jaccard_lsh" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.id_a
         |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b,
         |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |        / (na.n + nb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
         |FROM cand c
         |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |JOIN sizes na ON na.doc_id = c.id_a
         |JOIN sizes nb ON nb.doc_id = c.id_b
         |WHERE round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |        / (na.n + nb.n - coalesce(i.n_inter, 0)), 6) > 0
         |ORDER BY c.id_a, c.id_b""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH $shCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM documents a JOIN documents b
         |    ON a.source = b.source AND a.doc_id < b.doc_id),
         |inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.s = sa.s
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b,
         |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |        / (na.n + nb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         |JOIN sizes na ON na.doc_id = p.id_a
         |JOIN sizes nb ON nb.doc_id = p.id_b
         |WHERE round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |        / (na.n + nb.n - coalesce(i.n_inter, 0)), 6) > 0
         |ORDER BY p.id_a, p.id_b""".stripMargin,

    // containment mirror: same cand CTE as the minhash pairs, n_inter
    // via shingle-key join, both asymmetric ratios; the 0.3 OR-filter
    // applies to the ROUNDED ratios exactly as the Spark side does
    "q_containment" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.id_a
         |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b,
         |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
         |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / na.n, 6)
         |    AS contain_a,
         |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / nb.n, 6)
         |    AS contain_b
         |FROM cand c
         |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |JOIN sizes na ON na.doc_id = c.id_a
         |JOIN sizes nb ON nb.doc_id = c.id_b
         |WHERE round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / na.n, 6) >= 0.3
         |   OR round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / nb.n, 6) >= 0.3
         |ORDER BY c.id_a, c.id_b""".stripMargin,

    // mirror of Dedup.substringDedup k=6: rn=1 in (doc_id, start) order
    // is the keeper; every later occurrence of a shingle seen ≥2 times
    // is cut; DuckDB arrays are 1-based where Spark posexplode is
    // 0-based, but both sides are internally consistent
    "q_substring_dedup" -> {
      val k = 6
      val shK = Portable.shinglesSql("t", k)
      s"""WITH toks AS (SELECT doc_id, ${Portable.tokensSql("text")} AS t FROM documents),
         |gr0 AS (SELECT doc_id, $shK AS g FROM toks),
         |occ AS (SELECT doc_id, unnest(generate_series(1, len(g))) AS start, g
         |  FROM gr0),
         |occ2 AS (SELECT doc_id, start, g[start] AS shingle FROM occ),
         |ranked AS (SELECT doc_id, start, row_number()
         |    OVER (PARTITION BY shingle ORDER BY doc_id, start) AS rn
         |  FROM occ2),
         |hits AS (SELECT doc_id, start FROM ranked WHERE rn >= 2),
         |covered AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(generate_series(start, start + ${k - 1})) AS pos
         |  FROM hits)),
         |tk AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
         |  FROM toks),
         |tok AS (SELECT doc_id, pos, t[pos] AS tok FROM tk),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
         |  LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
         |  WHERE c.pos IS NULL),
         |rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos)
         |    AS text_clean
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean
         |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_span_dedup" -> {
      val span = 3
      val minTokens = 2
      s"""WITH toks AS (SELECT doc_id, ${Portable.tokensSql("text")} AS t FROM documents),
         |blk AS (SELECT doc_id, t,
         |    unnest(generate_series(0,
         |      greatest(CAST(ceil(len(t) / ${span}.0) AS INT) - 1, 0))) AS idx
         |  FROM toks),
         |blocks AS (SELECT doc_id, idx,
         |    array_to_string(t[idx * $span + 1 : idx * $span + $span], ' ')
         |      AS block
         |  FROM blk),
         |b2 AS (SELECT doc_id, idx, block,
         |    len(${Portable.tokensSql("block")}) AS blen
         |  FROM blocks),
         |ranked AS (SELECT doc_id, idx, row_number()
         |    OVER (PARTITION BY block ORDER BY doc_id, idx) AS rn
         |  FROM b2 WHERE blen >= $minTokens),
         |cut AS (SELECT doc_id, idx FROM ranked WHERE rn >= 2),
         |kept AS (SELECT b.doc_id, b.idx, b.block,
         |    c.idx IS NOT NULL AS iscut
         |  FROM b2 b LEFT JOIN cut c
         |    ON c.doc_id = b.doc_id AND c.idx = b.idx),
         |rebuilt AS (SELECT doc_id,
         |    string_agg(CASE WHEN NOT iscut THEN block END, ' ' ORDER BY idx)
         |      AS text_clean,
         |    count(*) AS n_spans,
         |    CAST(sum(CASE WHEN iscut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
         |  coalesce(r.n_spans, 0) AS n_spans, coalesce(r.n_cut, 0) AS n_cut
         |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_lsh_curve" -> {
      val blocks = (1 to NumPerms).filter(NumPerms % _ == 0).map { b =>
        val r = NumPerms / b
        val srChain = (1 to r).map(_ => "s").mkString(" * ")
        val missChain = (1 to b).map(_ => "(1.0 - sr)").mkString(" * ")
        val isCur = if (b == Portable.NumBands) 1 else 0
        s"""SELECT $b AS bands, $r AS rows_per_band, s AS jaccard,
           |  round(1.0 - $missChain, 6) AS p_candidate,
           |  $isCur AS is_current
           |FROM (SELECT s, $srChain AS sr FROM grid)""".stripMargin
      }
      s"""WITH grid AS (SELECT CAST(si AS DOUBLE) / 20.0 AS s
         |  FROM generate_series(1, 19) AS g(si))
         |${blocks.mkString("\nUNION ALL\n")}
         |ORDER BY bands, jaccard""".stripMargin
    },

    "q_cdc_dedup" -> {
      val (w, dvr, minTokens) = (3, 4, 2)
      val winHash = Portable.hash32Sql(s"array_to_string(t[i-${w - 1}:i], ' ')")
      s"""WITH toks AS (SELECT doc_id, ${Portable.tokensSql("text")} AS t FROM documents),
         |tb AS (SELECT doc_id, t, len(t) AS n FROM toks),
         |bp AS (SELECT doc_id, t, n,
         |    unnest(generate_series($w, n)) AS i
         |  FROM tb WHERE n >= $w),
         |bsel AS (SELECT doc_id, i FROM (
         |    SELECT doc_id, i, n, $winHash AS h FROM bp)
         |  WHERE h % $dvr = 0 AND i < n),
         |cuts AS (SELECT doc_id, list(i ORDER BY i) AS cs FROM bsel
         |  GROUP BY doc_id),
         |bl AS (SELECT tb.doc_id, tb.t,
         |    list_append(coalesce(c.cs, []), tb.n) AS bs
         |  FROM tb LEFT JOIN cuts c USING (doc_id)),
         |bj AS (SELECT doc_id, t, bs,
         |    unnest(generate_series(1, len(bs))) AS j FROM bl),
         |sl AS (SELECT doc_id, j - 1 AS idx,
         |    CASE WHEN j = 1 THEN 1 ELSE bs[j - 1] + 1 END AS s_,
         |    bs[j] AS e_, t
         |  FROM bj),
         |b2 AS (SELECT doc_id, idx,
         |    array_to_string(t[s_:e_], ' ') AS block,
         |    e_ - s_ + 1 AS blen
         |  FROM sl),
         |ranked AS (SELECT doc_id, idx, row_number()
         |    OVER (PARTITION BY block ORDER BY doc_id, idx) AS rn
         |  FROM b2 WHERE blen >= $minTokens),
         |cut AS (SELECT doc_id, idx FROM ranked WHERE rn >= 2),
         |kept AS (SELECT b.doc_id, b.idx, b.block,
         |    c.idx IS NOT NULL AS iscut
         |  FROM b2 b LEFT JOIN cut c
         |    ON c.doc_id = b.doc_id AND c.idx = b.idx),
         |rebuilt AS (SELECT doc_id,
         |    string_agg(CASE WHEN NOT iscut THEN block END, ' ' ORDER BY idx)
         |      AS text_clean,
         |    count(*) AS n_spans,
         |    CAST(sum(CASE WHEN iscut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
         |  coalesce(r.n_spans, 0) AS n_spans, coalesce(r.n_cut, 0) AS n_cut
         |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_bbit_minhash" -> {
      val matches = (0 until NumPerms)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      val pack = (0 until NumPerms)
        .map(j => s"(mh$j & 1) * ${1L << j}")
        .mkString(" + ")
      s"""WITH $sigCte,
         |$bandsCte,
         |bs AS (SELECT doc_id, CAST($pack AS INT) AS bsig FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band_key = y.band_key
         |  WHERE x.doc_id < y.doc_id)
         |SELECT c.id_a, c.id_b,
         |  round(CAST(($matches) AS DOUBLE) / $NumPerms, 6) AS est_jaccard,
         |  round(greatest(
         |    1.0 - bit_count(CAST(xor(ba.bsig, bb.bsig) AS BIGINT)) / 8.0,
         |    0.0), 4) AS bbit_est
         |FROM cand c
         |JOIN sig a ON a.doc_id = c.id_a
         |JOIN sig b ON b.doc_id = c.id_b
         |JOIN bs ba ON ba.doc_id = c.id_a
         |JOIN bs bb ON bb.doc_id = c.id_b
         |ORDER BY c.id_a, c.id_b""".stripMargin
    },
  )
}
