package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`array<float>` or `array<double>`; arithmetic is
  * ALWAYS double — per-element widening, which is exact — but the
  * arrays themselves stay in their stored element type end-to-end, so
  * a float32 embedding store scans, joins and shuffles 4-byte
  * elements, half the bytes of a cast-at-scan plan).
  *
  * Float contract: every cosine/dot here is either the native
  * [[graft.expressions.DotProduct]]/[[graft.expressions.CosineSimilarity]]
  * (widens per element) or the declarative HOF shape that
  * [[graft.extensions.NativeDotProductRule]] rewrites to it — including
  * the float×float pattern — so no path computes a float-precision
  * product. The one HOF with no native twin, [[l2Sq]], is only ever
  * evaluated float-vs-double (centroid frames are explicitly widened —
  * they are k-row broadcasts, so the widening is free), where the
  * analyzer's per-element cast keeps the subtraction in double.
  *
  * Scale design:
  * - brute-force top-k is the correctness baseline: queries × corpus
  *   dot products. Fine when |queries| is small (broadcast the query
  *   set); never run it all-pairs at 100 TB.
  * - IVF: a coarse quantizer assigns each vector to a cell; search
  *   only probes the query's cell(s). The cell assignment is the
  *   partition key, so a cell probe is a co-partitioned join, not a
  *   scan. Here the harness table carries a `label` cluster id which
  *   stands in for the quantizer's assignment.
  * - Random-hyperplane LSH: sign-bit sketch over fixed hyperplanes
  *   turns cosine similarity into hamming proximity on compact keys;
  *   bucket join replaces the cross product.
  * All expressions are codegen'd higher-order functions — no UDFs.
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns (index
    * order, so the result is bit-deterministic and reproducible by any
    * engine that folds left-to-right).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity dot/(|a|·|b|); exactly dot(a,b) /
    * (sqrt(dot(a,a)) * sqrt(dot(b,b))) — mirror this shape in oracles.
    * A zero vector yields NULL (declared policy), not NaN — NaN sorts
    * LARGEST under desc ordering, so one all-zero embedding would
    * otherwise take rank 1 for every query.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(dot(a, b) / denom)
  }

  /** Symmetric per-vector INT8 quantization — the storage/bandwidth
    * lever for ANN at scale: a 64-dim float32 embedding is 256 B, its
    * int8 twin 64 B + one double scale, so a 100 TB embedding store
    * scans ~4× less for candidate generation (re-rank the survivors
    * against the full-precision vectors). Policy, engine-portable:
    * `scale = max|v| / 127`; `q_i = floor(v_i/scale + 0.5)` clamped to
    * [-127,127] (explicit floor(x+0.5) half-up, NOT round() — engines
    * disagree on round's half behavior, floor never). A zero/empty
    * vector quantizes to zeros with scale 0. Dequantization error is
    * ≤ scale/2 per component (spec-pinned). Adds `q_scale` and `q_vec`
    * (array<int>); row-local, no shuffle.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    // no array cast: abs/max are exact in float, and the division
    // below widens per element — q_scale/q_vec are bit-identical to
    // the double leg while the vector column stays 4-byte
    val v = col(vecCol)
    val scale = coalesce(array_max(transform(v, x => abs(x)))
      .cast("double"), lit(0.0)) / 127.0
    df.withColumn("q_scale", scale)
      .withColumn("q_vec",
        when(col("q_scale") === 0.0,
          transform(v, _ => lit(0)))
          .otherwise(transform(v, x =>
            // least/greatest SKIP nulls: an unguarded NULL element
            // would clamp to +127 (max magnitude); a missing
            // component must contribute 0 to every integer dot
            when(x.isNull, lit(0)).otherwise(
              greatest(lit(-127), least(lit(127),
                floor(x / col("q_scale") + 0.5).cast("int")))))))
  }

  /** Brute-force cosine top-k: for each row of `queries`, the k most
    * similar rows of `corpus` (excluding self-matches by id). The
    * query side is broadcast — the corpus is scanned once, no shuffle
    * of the corpus itself; the only shuffle is the per-query top-k
    * window over |queries|·|corpus| scored pairs.
    */
  /** Shared ranking tail: per-query top-k by cosine desc with a
    * deterministic neighbor-id tie-break. One place, so the tie-break
    * and rounding can never desynchronize across the three ANN forms
    * (each has its own oracle row mirroring exactly this shape).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Pair score from PRE-COMPUTED per-row norms: bit-identical to
    * [[cosine]] (the same sqrt-of-sequential-fold subtree and the same
    * null-on-zero-denominator policy), but each side's norm is
    * evaluated once per ROW below the join instead of once per PAIR
    * above it — the pair loop drops from 3 dot products to 1, the
    * dominant term of every brute-force/blocked ANN tier at scale.
    */
  private def pairCos(qv: Column, cv: Column, qn: Column, cn: Column): Column = {
    val denom = qn * cn
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(dot(qv, cv) / denom)
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k)
  }

  /** Hard-negative mining: for each query vector, the top-k most
    * similar vectors with a DIFFERENT label — the contrastive-training
    * counterpart of nearest-neighbor search (the highest-cosine
    * wrong-label examples are exactly the negatives that carry
    * gradient signal; random negatives are trivially separable).
    *
    * Same broadcast + pre-computed-norm shape as [[bruteForceTopK]];
    * the label-mismatch predicate rides the broadcast join, so the
    * blocked/IVF variants compose the same way when the corpus is too
    * large for a full scan per query.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("__ql") =!= col("__cl"))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k)
  }

  /** IVF-style probed top-k: identical to brute force but the score
    * space is restricted to the query's coarse cell (`cellCol` equal on
    * both sides) — the join becomes an equi-join on the cell id, which
    * at scale is co-partitioned with the corpus layout.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, cellCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(cellCol).as("cell"),
      col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(cellCol).as("cell"),
      col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component w(plane i, dim j)
    * in {-3..3}: a fixed integer MIXING function, so Spark and any
    * oracle regenerate the same planes (oracle SQL interpolates these
    * values as literals, so only Scala-side determinism matters).
    *
    * Must NOT be affine in (i, j): the previous
    * ((i*31 + j*17 + 7) % 7) - 3 collapses to f((i+j) mod 7), making
    * every plane a cyclic shift of one 7-periodic pattern — plane 7
    * bit-identical to plane 0, all projections functions of the
    * vector's 7 residue-class sums, recall silently degraded. The
    * multiply-xor-shift mix below breaks that structure.
    */
  def planeComponent(i: Int, j: Int): Int = {
    val h0 = i * 0x9E3779B9 + (j + 1) * 0x85EBCA6B
    val h1 = (h0 ^ (h0 >>> 13)) * 0xC2B2AE35
    Math.floorMod(h1 ^ (h1 >>> 16), 7) - 3
  }

  /** Squared L2 distance as a sequential index-order fold — the same
    * bit-deterministic shape as [[dot]], so an oracle mirroring the
    * left-associated chain `(v1-c1)² + (v2-c2)² + …` reproduces it
    * exactly.
    */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Assignment step of Lloyd's k-means: each vector to its nearest
    * centroid (squared L2, ties to the lowest cluster id). `centroids`
    * must be `(cluster, cv: array<double>)` and SMALL — it is broadcast,
    * so the fact side is scanned once with no shuffle of the vectors
    * themselves; the only shuffle is the per-vector argmin, which the
    * GroupedTopK heap rewrite executes without a full sort. This is the
    * semantic-clustering primitive a curation pipeline runs at corpus
    * scale (centroids come from a sample; assignment is the 100 TB
    * pass).
    */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame = {
    val v = df.select(col(idCol).as("__id"),
      col(vecCol).as("__v"))
    // widen the k-row centroid frame (free — it is broadcast), so
    // l2Sq is float-vs-DOUBLE: the analyzer widens the fact element
    // inside the subtraction and the arithmetic stays exact double
    // even though the corpus vectors remain 4-byte through the scan
    val cents = centroids.withColumn("cv", col("cv").cast("array<double>"))
    val scored = v.crossJoin(broadcast(cents))
      .withColumn("__d2", l2Sq(col("__v"), col("cv")))
    val w = Window.partitionBy("__id")
      .orderBy(col("__d2").asc, col("cluster").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__id").as(idCol), col("cluster"),
        round(col("__d2"), 6).as("dist2"))
  }

  /** Residual frame for residual-quantization tiers: each vector's
    * assigned coarse cell plus `rv = v − centroid(cell)` as a double
    * array. The textbook IVFADC refinement — within a probed cell the
    * residual L2 IS the original L2 (the shared centroid cancels), but
    * residuals have far smaller spread than raw vectors, so the same
    * codebook budget quantizes them with less error (spec-measured).
    * Compose: `pqSeedCodebook`/`pqEncode`/`ivfPqTopK` over
    * (id, "rv", "cell") exactly as over raw vectors. Broadcast
    * centroids + one row-local zip_with — no extra shuffle beyond the
    * assignment argmin.
    */
  def residuals(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val cents = centroids.withColumn("cv", col("cv").cast("array<double>"))
    assignToCentroids(df, idCol, vecCol, centroids)
      .select(col(idCol), col("cluster").as("cell"))
      .join(df.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(cents), col("cell") === col("cluster"))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), col("cv"), (x, y) => x - y).as("rv"))
  }

  /** Multi-probe cell assignment: each vector's `nprobe` NEAREST
    * centroids (squared L2, ties to the lowest cluster id) — the
    * recall knob of IVF search: a query near a cell boundary misses
    * neighbors filed just across it, and probing the next-nearest
    * cells recovers them for nprobe× scan cost instead of a full
    * scan. Returns one row per (vector, probed cell):
    * (idCol, cell, probe_rank, dist2). Compose with [[ivfTopK]] /
    * [[ivfPqTopK]] by passing the expanded frame as the query side —
    * their per-query ranking already merges candidates across the
    * probed cells. Corpus rows keep single-cell assignment
    * ([[assignToCentroids]]); only queries fan out.
    *
    * Same scale shape as assignment: broadcast centroids, row-local
    * distances, the top-nprobe window executes as a bounded heap.
    */
  def assignProbeCells(df: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val v = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val cents = centroids.withColumn("cv", col("cv").cast("array<double>"))
    val scored = v.crossJoin(broadcast(cents))
      .withColumn("__d2", l2Sq(col("__v"), col("cv")))
    val w = Window.partitionBy("__id")
      .orderBy(col("__d2").asc, col("cluster").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col("__id").as(idCol), col("cluster").as("cell"),
        col("__rn").as("probe_rank"), round(col("__d2"), 6).as("dist2"))
  }

  /** Embedding outlier detection: vectors whose squared distance to
    * their assigned centroid exceeds the per-cluster `q`-quantile —
    * the semantic-quality gate that catches mis-embedded or
    * off-distribution documents before they pollute training mixes
    * (the ANN sibling of the text-side quality filters).
    *
    * Distances come from [[assignToCentroids]] (broadcast centroids,
    * no all-pairs); the per-cluster cutoff frame is k rows, broadcast
    * back for the row-local compare. Both sides of the compare are
    * pre-rounded to 6 decimals, so the strict `>` is exact decimal
    * arithmetic on both engines.
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, q: Double = 0.9): DataFrame = {
    // materialized once: the corpus-wide argmin assignment feeds the
    // percentile aggregate AND the final join
    val assigned = assignToCentroids(df, idCol, vecCol, centroids)
      .localCheckpoint()
    val cuts = assigned.groupBy("cluster")
      .agg(round(expr(s"percentile(dist2, $q)"), 6).as("cutoff"))
    assigned.join(broadcast(cuts), "cluster")
      .filter(col("dist2") > col("cutoff"))
      .select(col(idCol), col("cluster"), col("dist2"), col("cutoff"))
  }

  /** Full Lloyd's k-means over an embedding column. Deterministic
    * throughout: seeds are the k vectors with the smallest ids (no RNG
    * — reproducible across runs and engines), assignment ties break to
    * the lowest cluster id, and iteration count is fixed rather than
    * tolerance-driven so every run does identical work.
    *
    * Scale shape: centroids live in a k×dim frame that is broadcast
    * for assignment and recomputed by a (cluster, dim) grouped mean —
    * per iteration one broadcast join + one explode/groupBy shuffle of
    * k·dim partial sums, never a vector×vector product. Centroid means
    * are float-sum order-DEPENDENT across partitions, which is why the
    * oracle-checked query covers the assignment step (exact) and this
    * loop is spec-verified on separable data instead.
    *
    * Returns (assignments `(id, cluster, dist2)`, centroids
    * `(cluster, cv)`). Lineage per round is truncated with
    * Checkpoints.stabilize on the tiny centroid frame only (reliable when a checkpoint dir is configured).
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): (DataFrame, DataFrame) = {
    val v = df.select(col(idCol).as("__id"),
      col(vecCol).as("__v"))
    val seedW = Window.orderBy("__id")
    // seeds widened to double (k rows): keeps every l2Sq in the loop
    // float-vs-double; round ≥ 2 centroids are double already (avg)
    var cent = v.orderBy("__id").limit(k)
      .withColumn("cluster", row_number().over(seedW) - 1)
      .select(col("cluster"), col("__v").cast("array<double>").as("cv"))
      .transform(graft.Checkpoints.stabilize)
    for (_ <- 0 until iters) {
      val assign = v.crossJoin(broadcast(cent))
        .withColumn("__d2", l2Sq(col("__v"), col("cv")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("__id").orderBy(col("__d2").asc, col("cluster").asc)))
        .filter(col("__rn") === 1)
        .select(col("__id"), col("cluster"), col("__v"))
      cent = assign
        .select(col("cluster"), posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy("cluster", "__dim").agg(avg("__x").as("__m"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("__dim"), col("__m")))).as("__dm"))
        .select(col("cluster"),
          transform(col("__dm"), s => s.getField("__m")).as("cv"))
        .transform(graft.Checkpoints.stabilize)
    }
    (assignToCentroids(df, idCol, vecCol, cent), cent)
  }

  /** Cluster-balanced diversity sample (the SemDeDup-flavored
    * "flatten the topic distribution" selection): assign every vector
    * to its nearest centroid, then keep only the `ceil(sqrt(cluster
    * size))` most central members of each cluster (capped at
    * `maxPerCluster`). Square-root budgets over-sample small clusters
    * relative to big ones, so dominant boilerplate topics stop
    * swamping the corpus while rare topics keep representation — the
    * diversity knob a pre-training mixture actually turns.
    *
    * Deterministic: rank within a cluster orders by (rounded dist2,
    * id). Scale shape: the assignment is a broadcast-centroid join
    * (the vectors never shuffle); the per-cluster rank is a
    * row_number bounded by the CONSTANT `maxPerCluster`, so the
    * GroupedTopK heap rewrite executes it without sorting whole
    * clusters; cluster sizes are a k-row aggregate that AQE
    * broadcasts back for the row-local sqrt-budget filter. No stage
    * touches more than top-`maxPerCluster` rows per cluster after the
    * heap, regardless of corpus size.
    *
    * Returns (id, cluster, c_size, rank_in_cluster, dist2).
    */
  def diversitySample(df: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame,
                      maxPerCluster: Int = 64): DataFrame = {
    require(maxPerCluster >= 1, "maxPerCluster must be >= 1")
    // materialized once: the corpus-wide argmin assignment feeds the
    // size aggregate AND the ranked selection
    val assigned = assignToCentroids(df, idCol, vecCol, centroids)
      .localCheckpoint()
    val sizes = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("c_size"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("dist2").asc, col(idCol).asc)
    assigned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxPerCluster) // constant bound → heap exec
      .join(sizes, "cluster")
      .withColumn("__budget",
        least(ceil(sqrt(col("c_size").cast("double"))).cast("bigint"),
          lit(maxPerCluster.toLong)))
      .filter(col("rn") <= col("__budget"))
      .select(col(idCol), col("cluster"), col("c_size"),
        col("rn").cast("bigint").as("rank_in_cluster"), col("dist2"))
  }

  // ---- maintained IVF vector-index lifecycle ----
  //
  // The vector sibling of the MinHash signature-table lifecycle
  // (Dedup.writeSignatures): between batches the corpus's embeddings
  // live as a CELL-PARTITIONED parquet index — one directory per
  // coarse k-means cell, centroids frozen at creation (the standard
  // IVF contract: retrain = rebuild). Appends route new vectors to
  // their cells; queries touch ONLY their probe cells' files
  // (partition pruning — a top-k over 10 B vectors reads k_probe
  // cells, not the corpus). Vectors stay in their stored element
  // type (float32) end-to-end.

  /** Create (or replace) a vector index at `path`: frozen centroids
    * + cell-partitioned vectors.
    */
  /** ONE corpus pass producing (id, cell, vector) — the float-vector
    * sibling of [[encodeAndRoute]]: row-local argmin against the
    * broadcast packed centroids instead of the window-argmin +
    * equi-join-on-id shape (which shuffled corpus × k rows and then
    * the corpus again). Null vectors are unroutable and excluded (the
    * pqEncode convention).
    */
  private def routeVectors(df: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame): DataFrame =
    withCellLocal(
      df.filter(col(vecCol).isNotNull).select(col(idCol), col(vecCol)),
      vecCol, centroids)
      .select(col(idCol), col("cell"), col(vecCol))

  def writeVectorIndex(df: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    routeVectors(df, idCol, vecCol, centroids)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/vectors")
  }

  /** Route a new batch to its cells under the index's FROZEN
    * centroids and append. Batch text/vectors are never re-read after
    * this ingest.
    */
  def appendVectorIndex(df: DataFrame, idCol: String, vecCol: String,
                        path: String): Unit = {
    val cent = df.sparkSession.read.parquet(s"$path/centroids")
    routeVectors(df, idCol, vecCol, cent)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$path/vectors")
  }

  /** The stored index: (cell, id, vector). */
  def readVectorIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/vectors")

  /** Top-k cosine neighbors from the STORED index: assign each query
    * to its probe cell under the frozen centroids, prune the index
    * scan to exactly those cells (the probe-cell id set is bounded by
    * the centroid count — a scalar-sized driver probe, the same class
    * as the bench warmup collects), then score cell-locally. The
    * pruning filter reaches the parquet read as a PartitionFilter
    * (spec-asserted), so storage I/O is probe-cells-sized.
    */
  def queryVectorIndex(spark: SparkSession, path: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int): DataFrame = {
    val cent = spark.read.parquet(s"$path/centroids")
    val qCells = assignToCentroids(queries, idCol, vecCol, cent)
      .select(col(idCol), col("cluster").as("cell"))
      .join(queries.select(col(idCol), col(vecCol)), idCol)
    val probeCells = qCells.select("cell").distinct()
      .collect().map(_.get(0)).toSeq
    val index = readVectorIndex(spark, path)
      .filter(col("cell").isin(probeCells: _*))
    ivfTopK(qCells, index, idCol, vecCol, "cell", k)
  }

  /** Deterministic drift-responsive re-seeding for [[reindexVectorIndex]]:
    * one seed per hash bucket — centroid i is the vector of the MIN id
    * among ids with `hash32(id) % k = i`. A hash-uniform sample of the
    * CURRENT corpus (appended batches included), so re-seeding tracks
    * distribution drift the way a random re-sample does, while staying
    * bit-deterministic and SQL-expressible (`arg_min` per bucket — the
    * q_ann_reindex oracle recomputes it exactly; a Lloyd-refined
    * k-means re-seed is the non-oracle-able alternative — pass its
    * centroids to [[reindexVectorIndex]] directly). One groupBy over
    * (bucket, id, vector); no global sort, no window.
    */
  def hashSeeds(df: DataFrame, idCol: String, vecCol: String,
                k: Int): DataFrame =
    df.select(
      pmod(Portable.hash32(col(idCol).cast("string")), lit(k.toLong))
        .cast("int").as("cluster"),
      col(idCol), col(vecCol))
      .groupBy("cluster")
      .agg(min_by(col(vecCol), col(idCol)).as("cv"))
      .select(col("cluster"), col("cv").cast("array<double>").as("cv"))

  /** Rebuild a stored IVF index under NEW centroids — the answer to
    * cell drift: append-only ingest under [[appendVectorIndex]]'s
    * frozen centroids slowly degrades the layout (a drifted batch
    * piles into few cells, so probe pruning reads ever-larger slices).
    * The rebuild re-assigns every stored vector to the new centroids
    * and swaps the WHOLE index (centroids + cell-partitioned vectors)
    * atomically ([[graft.io.GenTable.replace]] — readers see the old
    * index until the swap; a crash leaves old or new, never a mix of
    * cells under mismatched centroids). Cost: one pass over the
    * stored vectors (broadcast-centroid argmin, the assign shape) +
    * one partitioned write — at 100 TB, schedule it like compaction,
    * off the ingest path. Pair with [[indexCellStats]] to DECIDE when
    * (imbalance = max/mean cell size).
    */
  def reindexVectorIndex(spark: SparkSession, path: String,
                         idCol: String, vecCol: String,
                         centroids: DataFrame): Unit = {
    // materialize the new layout inputs BEFORE the swap unlinks the
    // old dir: both read the live index
    val cents = centroids.localCheckpoint()
    val reassigned = routeVectors(
      readVectorIndex(spark, path).drop("cell"), idCol, vecCol, cents)
      .localCheckpoint()
    graft.io.GenTable.replace(spark, path) { stage =>
      cents.write.parquet(s"$stage/centroids")
      reassigned.write.partitionBy("cell").parquet(s"$stage/vectors")
    }
  }

  /** Per-index cell balance: (cells, rows, max cell, imbalance =
    * max/mean) — the one-row health check that schedules
    * [[reindexVectorIndex]].
    */
  def indexCellStats(spark: SparkSession, path: String): DataFrame =
    readVectorIndex(spark, path)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("cells"), sum("n").as("rows"),
        max("n").as("max_cell"))
      .select(col("cells"), col("rows"), col("max_cell"),
        round(col("max_cell") / (col("rows") / col("cells")), 4)
          .as("imbalance"))

  /** Random-hyperplane LSH bucket key: `numPlanes` sign bits packed to
    * a long. Vectors in the same bucket are cosine-close candidates.
    *
    * Each projection is a native [[graft.expressions.DotProduct]]
    * against a constant plane array (requires
    * [[graft.extensions.GraftExtensions]] on the session): one fused
    * codegen loop per plane. The unrolled alternative — dim×planes
    * `element_at` terms in a single expression tree — costs ~10× here
    * and risks overflowing the 64 KB JVM method limit into interpreted
    * fallback. Arithmetic is the same left-to-right fold, so oracle
    * SQL mirroring the index-order sum stays bit-exact.
    */
  def lshBucket(vec: Column, dim: Int, numPlanes: Int): Column =
    (0 until numPlanes).map { i =>
      val plane = typedLit((0 until dim).map(j => planeComponent(i, j).toDouble))
      val proj = graft.expressions.VectorExpressions.dotProduct(vec, plane)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ±1 Rademacher sign of the random-projection matrix (out dim j,
    * in dim i) — the same multiply-xor-shift mix family as
    * [[planeComponent]], so the matrix is a reproducible literal on
    * any engine (oracle SQL interpolates these constants verbatim).
    */
  def projComponent(j: Int, i: Int): Int = {
    val h0 = j * 0x85EBCA6B + (i + 1) * 0x9E3779B9
    val h1 = (h0 ^ (h0 >>> 13)) * 0xC2B2AE35
    if (((h1 ^ (h1 >>> 16)) & 1) == 0) 1 else -1
  }

  /** Johnson–Lindenstrauss random projection dim → outDim:
    * proj_j = Σ_i v[i]·s(j,i) with Rademacher signs — pairwise
    * distances/cosines survive within ε for outDim = O(log n / ε²).
    * Row-local (zero shuffle): each output dim is a codegen'd native
    * dot product against a LITERAL sign vector, so at 100 TB this cuts
    * every downstream embedding scan, shuffle, and ANN candidate join
    * by dim/outDim× (4× here) — generate candidates in projected
    * space, rerank survivors against the full vectors (the same
    * two-tier playbook as [[quantizeInt8]]). Output is double: the
    * sums are exact ±1-weighted folds of float inputs, mirrored by the
    * oracle's left-associated chain.
    */
  def randomProject(df: DataFrame, vecCol: String, dim: Int, outDim: Int,
                    outCol: String = "proj"): DataFrame = {
    val dims = (0 until outDim).map { j =>
      val signs = typedLit((0 until dim).map(i => projComponent(j, i).toDouble))
      graft.expressions.VectorExpressions.dotProduct(col(vecCol), signs)
    }
    df.withColumn(outCol, array(dims: _*))
  }

  /** LSH-bucketed ANN: score only pairs sharing a bucket. Recall is
    * tunable by numPlanes (fewer planes → bigger buckets → higher
    * recall, more compute).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, dim: Int, numPlanes: Int, k: Int): DataFrame = {
    // project the array once: the bucket expression references the
    // vector dim×planes times; the native dot product takes the float
    // array as-is (plane literals are double, widening is per element)
    val withBucket = (df: DataFrame, id: String, v: String, n: String) =>
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .select(col(id), col(v), lshBucket(col(v), dim, numPlanes).as("bucket"),
          l2Norm(col(v)).as(n))
    val q = withBucket(queries, "query_id", "qv", "qn")
    val c = withBucket(corpus, "neighbor_id", "cv", "cn")
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(scored, k)
  }

  /** Quantized-coarse / exact-fine ANN: rank candidates by the INT8
    * integer dot product, rescore only the top `candidates` with the
    * exact float cosine. This is the memory-bandwidth lever for ANN at
    * corpus scale — the coarse pass streams 1-byte components (8×
    * smaller scans than float64, 4× than float32) and its arithmetic
    * is INTEGER (exact, order-independent, engine-portable); floats
    * only touch the `candidates`-per-query rescore set. Recall loss is
    * bounded by quantization error (≤ scale/2 per component, spec'd in
    * [[quantizeInt8]]); candidates ≫ k buys it back.
    *
    * approx score = q_scale·c_scale·(q̂·ĉ) — the dequantized dot — so
    * ranking is by approximate DOT; like IVF probing this assumes
    * near-normalized embeddings (the common case for learned
    * encoders). Both rank stages break ties by neighbor id.
    */
  def int8RescoreTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, k: Int,
                      candidates: Int = 10): DataFrame = {
    require(candidates >= k,
      s"int8RescoreTopK: candidates=$candidates < k=$k would silently " +
        "return fewer than k neighbors; raise candidates")
    val q = quantizeInt8(
      queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv")), "qv")
      .select(col("query_id"), col("qv"),
        col("q_scale").as("qs"), col("q_vec").as("qq"))
    val c = quantizeInt8(
      corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), "cv")
      .select(col("neighbor_id"), col("cv"),
        col("q_scale").as("cs"), col("q_vec").as("cq"))
    val idot = aggregate(
      zip_with(col("qq"), col("cq"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val coarse = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", col("qs") * col("cs") * idot)
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cand = coarse.withColumn("__crk", row_number().over(w))
      .filter(col("__crk") <= candidates)
    rankTopK(cand.withColumn("cos", cosine(col("qv"), col("cv"))), k)
  }

  /** Matryoshka (prefix-dimension) two-stage search: coarse-rank by
    * cosine over the FIRST `prefixDim` components, exact-rescore the
    * top `candidates` with the full vector. The dimension-truncation
    * complement of [[int8RescoreTopK]]'s value quantization — for
    * MRL-style embeddings (trained so information concentrates in the
    * leading dims) the coarse pass reads prefixDim/dim of the floats,
    * which at 100 TB means the coarse scan can run over a stored
    * PREFIX column a fraction of the vector table's width. Both rank
    * stages break ties by neighbor id; prefix slicing is row-local
    * (same fold order as the full cosine, so the oracle's first-n-term
    * chain reproduces it bit-for-bit).
    */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, prefixDim: Int, k: Int,
                     candidates: Int = 10): DataFrame = {
    require(prefixDim >= 1, "prefixDim must be >= 1")
    require(candidates >= k,
      s"matryoshkaTopK: candidates=$candidates < k=$k would silently " +
        "return fewer than k neighbors; raise candidates")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // the coarse pass is the Q×candidates hot loop: the native fused
    // cosine_sim expression (one codegen loop, identical index-order
    // accumulation to the HOF/oracle chain) runs it at ~10× the
    // aggregate-HOF cost — the languageId lesson
    val coarse = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", graft.expressions.VectorExpressions.cosineSim(
        slice(col("qv"), 1, prefixDim), slice(col("cv"), 1, prefixDim)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cand = coarse.withColumn("__crk", row_number().over(w))
      .filter(col("__crk") <= candidates)
    rankTopK(cand.withColumn("cos", cosine(col("qv"), col("cv"))), k)
  }

  /** Maximal-marginal-relevance diverse top-k: greedily pick k items
    * maximizing `rel(c) − λ·max_{s∈S} cos(c, s)` — the
    * diversity-aware sampler for retrieval/curation (pure top-k
    * returns k near-copies of the same hit; training-data selection
    * wants coverage). Classic MMR (Carbonell & Goldstein).
    *
    * Scale shape: one distributed scan scores relevance and takes the
    * top-`candidates` (bounded, checkpointed); the greedy loop then
    * runs k rounds of a 1-row argmax over that bounded set, with each
    * selected vector riding into the next round's expression as a
    * literal — driver traffic is k rows, like the other argmax-probe
    * loops (bpeTrain, kmeans). CONTRACT: driver state and per-round
    * expression size grow O(k·dim) (the `isin` exclusion list and the
    * `greatest(sims)` term both carry every prior pick), so k must
    * stay report-sized — tens to hundreds, never corpus-scale; for
    * diverse selection of thousands+, run MMR per partition/cluster
    * (e.g. after [[assignToCentroids]]) so each greedy loop keeps its
    * small-k shape. All arithmetic is the deterministic
    * IEEE cosine/multiply chain, ties break by id, so the selection
    * oracles exactly (k unrolled rounds in DuckDB).
    */
  def mmrTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queryVec: Seq[Double], k: Int, lambda: Double = 0.5,
              candidates: Int = 20): DataFrame = {
    // hard-enforce the documented report-sized contract: the greedy
    // loop drives k driver rounds and builds a growing isin/greatest
    // expression — a thousands-sized k would silently plan a huge
    // expression tree instead of failing fast
    require(k >= 1 && k <= 256, s"mmrTopK is a report-sized op: k=$k (max 256)")
    require(candidates >= k && candidates <= 4096,
      s"candidates=$candidates must be in [k, 4096]")
    val spark = corpus.sparkSession
    val qv = lit(queryVec.toArray)
    // score relevance on the stored element type (the corpus-sized
    // pass); widen to double only AFTER the limit — `candidates` rows
    // — so the greedy loop and its collect stay double-typed
    val cand = corpus
      .select(col(idCol), col(vecCol).as("v0"))
      .withColumn("rel", cosine(col("v0"), qv))
      .orderBy(desc("rel"), col(idCol))
      .limit(candidates)
      .select(col(idCol), col("rel"),
        col("v0").cast("array<double>").as("v"))
      .localCheckpoint()
    // ids stay type-generic (Any + the corpus's own id StructField) —
    // a getLong here would crash for string-keyed corpora
    var selected = List.empty[(Any, Array[Double])]
    val picks = Seq.newBuilder[org.apache.spark.sql.Row]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val base =
        if (selected.isEmpty) cand
        else cand.filter(!col(idCol).isin(selected.map(_._1): _*))
      val sims = selected.map(s => cosine(col("v"), lit(s._2)))
      val mmr = sims match {
        case Nil => col("rel")
        case one :: Nil => col("rel") - lit(lambda) * one
        case many => col("rel") - lit(lambda) * greatest(many: _*)
      }
      // a zero-norm query or candidate yields NULL rel/mmr (cosine's
      // declared policy); filter them or the argmax row could be a
      // null-mmr row once only those remain — an NPE at getDouble
      val top = base.withColumn("mmr", mmr)
        .filter(col("mmr").isNotNull)
        .orderBy(desc("mmr"), col(idCol))
        .limit(1)
        .select(col(idCol), col("mmr"), col("v"))
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top(0)
        val vec = row.getSeq[Double](2).toArray
        selected ::= ((row.get(0), vec))
        picks += org.apache.spark.sql.Row(r, row.get(0), row.getDouble(1))
        r += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      cand.schema(idCol),
      org.apache.spark.sql.types.StructField("mmr",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(picks.result(), 1), schema)
      .select(col("rank"), col(idCol), round(col("mmr"), 6).as("mmr"))
  }

  /** Sparse all-pairs cosine over shared TOKENS (no embeddings): the
    * inverted-index similarity join (Bayardo et al.'s all-pairs
    * problem, re-expressed as three keyed shuffles). Documents are
    * integer term-frequency vectors; a pair's dot product accumulates
    * only through tokens BOTH contain, so the plan is:
    *   1. (doc, token, tf) counts — one groupBy;
    *   2. document-frequency cap: tokens in > dfCap docs are dropped
    *      from pairing. This is THE scale lever — a stop-token in n
    *      docs alone yields n²/2 candidate pairs, and cosine weight
    *      from ubiquitous tokens is noise anyway (tf-idf intuition:
    *      idf ≈ 0). Self-join volume is Σ df² over SURVIVING tokens,
    *      bounded by |tokens| × dfCap;
    *   3. postings self-join on token (a < b), groupBy pair summing
    *      tf_a·tf_b → integer dot products;
    *   4. threshold in INTEGERS: cos ≥ num/den ⟺ den²·dot² ≥
    *      num²·|a|²·|b|² (dot ≥ 0 here), compared in DECIMAL(38,0) so
    *      the squares can't wrap a long — no float compare decides
    *      membership, so the survivor set is bit-stable on any engine.
    * The reported cosine is IEEE double (sqrt is correctly rounded, so
    * DuckDB matches exactly at round(..., 6)).
    *
    * Output: (id_a, id_b, dot, cos) for pairs with cos ≥ tNum/tDen.
    */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
                        dfCap: Long = 100, tNum: Long = 1,
                        tDen: Long = 2): DataFrame = {
    val tf = df
      .select(col(idCol).as("id"),
        explode(Portable.tokens(col(textCol))).as("token"))
      // split() of an empty/whitespace doc yields "" tokens — without
      // this filter every pair of empty docs scores cosine 1.0
      .filter(length(col("token")) > 0)
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    // rare-token postings + per-doc squared norms over the SAME capped
    // token set (norms must match the pairing space or the threshold
    // algebra breaks); localCheckpoint: tf feeds the cap, both join
    // sides, and the norms — four consumers of one token explosion
    val tfc = tf.localCheckpoint()
    val kept = tfc.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("token")
    val postings = tfc.join(kept, "token")
    val norms = postings.groupBy("id")
      .agg(sum(col("tf") * col("tf")).as("norm2"))
    val a = postings.select(col("token"), col("id").as("id_a"),
      col("tf").as("tf_a"))
    val b = postings.select(col("token"), col("id").as("id_b"),
      col("tf").as("tf_b"))
    val dots = a.join(b, Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("norm2").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("norm2").as("nb")), "id_b")
      .filter(lit(tDen * tDen) * col("dot").cast("decimal(38,0)") *
        col("dot") >=
        lit(tNum * tNum) * col("na").cast("decimal(38,0)") * col("nb"))
      .select(col("id_a"), col("id_b"), col("dot"),
        // cast BEFORE the product: na*nb in long wraps at corpus
        // scale (sqrt of a wrapped negative is NaN) — the threshold
        // filter above was already decimal-widened, the report leg
        // must match
        round(col("dot") / sqrt(col("na").cast("double")
          * col("nb").cast("double")), 6).as("cos"))
  }

  // ---- product quantization (PQ) --------------------------------------

  /** Product quantization splits each `numSub·subDim`-dim vector into
    * `numSub` subvectors and stores, per vector, only the id of the
    * nearest codeword in each subspace — `numSub` small ints instead of
    * `numSub·subDim` floats (8 bytes vs 256 for the 64-dim corpus: a
    * 32× memory/bandwidth cut, THE storage tier between int8 and raw
    * floats for 100 TB-scale vector search). Queries score candidates
    * with an asymmetric-distance (ADC) lookup table: the query's exact
    * distance to every codeword is computed ONCE (numSub·numCodes
    * entries), then each candidate's approximate distance is a
    * row-local sum of `numSub` table lookups — no float vector is ever
    * read at scoring time.
    *
    * Codebook layout: `(m, code, cv)` with `cv` the subDim-length
    * codeword of subspace `m` (double). [[pqSeedCodebook]] derives a
    * DETERMINISTIC codebook from the numCodes smallest-id vectors (the
    * oracle-replayable convention the kmeans seeds use);
    * [[pqTrainCodebook]] refines per-subspace codebooks with Lloyd
    * iterations for real recall (float-mean order dependence makes it
    * spec-territory, like [[kmeans]]).
    */
  def pqSeedCodebook(df: DataFrame, idCol: String, vecCol: String,
                     numSub: Int, subDim: Int, numCodes: Int): DataFrame = {
    val seedW = Window.orderBy("__sid")
    val seeds = df.select(col(idCol).as("__sid"),
        col(vecCol).cast("array<double>").as("__v"))
      .orderBy("__sid").limit(numCodes)
      .withColumn("code", row_number().over(seedW) - 1)
    seeds.select(col("code"),
        explode(expr(s"sequence(0, ${numSub - 1})")).as("m"), col("__v"))
      .select(col("m"), col("code"),
        expr(s"slice(__v, m * $subDim + 1, $subDim)").as("cv"))
  }

  /** Per-subspace Lloyd-refined codebook: [[kmeans]] over each
    * subvector slice (numSub independent small k-means runs — the
    * centroid frames are k×subDim, the corpus is scanned once per
    * round per subspace). Deterministic given the deterministic seeds;
    * float-mean order dependence is inherited from [[kmeans]], so this
    * is the spec/recall path while [[pqSeedCodebook]] is the oracle
    * path.
    */
  def pqTrainCodebook(df: DataFrame, idCol: String, vecCol: String,
                      numSub: Int, subDim: Int, numCodes: Int,
                      iters: Int): DataFrame = {
    (0 until numSub).map { m =>
      val sub = df.select(col(idCol).as("__id"),
        expr(s"slice(cast($vecCol as array<double>), ${m * subDim + 1}, $subDim)")
          .as("__sv"))
      val (_, cent) = kmeans(sub, "__id", "__sv", numCodes, iters)
      cent.select(lit(m).as("m"), col("cluster").as("code"), col("cv"))
    }.reduce(_.union(_))
  }

  /** One-row broadcastable form of a centroid frame: `__cents` =
    * array of (cluster, cv) structs in cluster-ascending order.
    */
  private def packCentroids(centroids: DataFrame): DataFrame =
    centroids
      .select(col("cluster"), col("cv").cast("array<double>").as("cv"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("cluster"), col("cv"))))
        .as("__cents"))

  /** ROW-LOCAL twin of [[assignToCentroids]]'s argmin, for the
    * corpus-side lifecycle passes: same left-folded float-vs-double
    * squared L2 as [[l2Sq]] and the same (distance asc, cluster asc)
    * tie-break (the fold visits clusters in ascending order and keeps
    * strictly-smaller distances, so the first minimum wins — exactly
    * the window's rank 1), but evaluated per row against the ONE-ROW
    * broadcast packed centroids: no k-way row blowup and no
    * per-vector shuffle, where the window form exchanges corpus × k
    * rows to rank them. Bit-identical cells by construction
    * (spec-pinned against assignToCentroids on the real embeddings).
    * Input rows must carry `vecCol` non-null (callers filter).
    * Adds `cell` of the centroid frame's cluster type.
    */
  private[operators] def withCellLocal(df: DataFrame, vecCol: String,
                                       centroids: DataFrame): DataFrame = {
    val clT = centroids.schema("cluster").dataType.sql
    df.crossJoin(broadcast(packCentroids(centroids)))
      .withColumn("cell", expr(
        s"""aggregate(
           |  transform(__cents, c -> named_struct('cl', c.cluster, 'd',
           |    aggregate(zip_with($vecCol, c.cv, (x, y) -> (x - y) * (x - y)),
           |      cast(0.0 as double), (a, x) -> a + x))),
           |  named_struct('cl', cast(null as $clT),
           |               'd', cast('Infinity' as double)),
           |  (acc, t) -> IF(t.d < acc.d, t, acc)).cl""".stripMargin))
      .drop("__cents")
  }

  /** One-row broadcastable nested-array form of a codebook:
    * `__cb[m+1][code+1][i]` = component i of subspace m's codeword. */
  private def packCodebook(codebook: DataFrame): DataFrame =
    codebook
      .groupBy("m")
      .agg(sort_array(collect_list(struct(col("code"), col("cv")))).as("cws"))
      .select(col("m"), expr("transform(cws, x -> x.cv)").as("cvs"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("m"), col("cvs")))).as("t"))
      .select(expr("transform(t, x -> x.cvs)").as("__cb"))

  /** Left-fold squared L2 between subspace `m` of vector column `vn`
    * and codeword `c` of the packed codebook — identical fold order to
    * [[l2Sq]], so the oracle's left-associated SQL chain reproduces the
    * doubles bit-for-bit. Free variables `m` and `c` are lambda
    * bindings supplied by the caller's surrounding expression.
    */
  private def pqSubDist(vn: String, subDim: Int): String =
    s"""aggregate(sequence(1, $subDim), cast(0.0 as double), (a, i) ->
       |  a + (element_at($vn, m * $subDim + i)
       |        - element_at(element_at(element_at(__cb, m+1), c+1), i))
       |     * (element_at($vn, m * $subDim + i)
       |        - element_at(element_at(element_at(__cb, m+1), c+1), i)))""".stripMargin

  /** Encode every vector as its per-subspace nearest-codeword ids.
    * Scale shape: ONE broadcast cross join with the 1-row packed
    * codebook, then the whole argmin runs ROW-LOCALLY (per subspace,
    * fold over codewords keeping the strictly smaller distance — ties
    * to the lowest code). No shuffle of the vectors, no per-code row
    * blowup. Returns (idCol, codes: array<int>).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, numSub: Int, subDim: Int): DataFrame = {
    // a NULL vector has no nearest codeword: its fold would yield the
    // sentinel code -1, which downstream ADC dereferences as
    // element_at(lut, 0) — an ANSI error. Unencodable rows are
    // excluded, the multimodal corrupt-bytes convention.
    val v = df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__v"))
    v.crossJoin(broadcast(packCodebook(codebook)))
      .withColumn("codes", expr(pqCodesExpr("__v", numSub, subDim)))
      .select(col(idCol), col("codes"))
  }

  /** The per-row nearest-codeword fold shared by [[pqEncode]] and the
    * lifecycle's single-pass [[encodeAndRoute]] — one expression, so
    * the two paths cannot drift.
    */
  private def pqCodesExpr(vn: String, numSub: Int, subDim: Int): String =
    s"""transform(sequence(0, ${numSub - 1}), m ->
       |  aggregate(
       |    transform(sequence(0, size(element_at(__cb, m+1)) - 1), c ->
       |      named_struct('c', c, 'd', ${pqSubDist(vn, subDim)})),
       |    named_struct('c', -1, 'd', cast('Infinity' as double)),
       |    (acc, x) -> IF(x.d < acc.d, x, acc)).c)""".stripMargin

  /** ONE corpus pass producing (id, cell, codes): row-local coarse
    * assignment ([[withCellLocal]]) + row-local PQ encode against the
    * two broadcast one-row artifact frames. Replaces the lifecycle's
    * previous assign → window-argmin → equi-join-on-id → encode shape,
    * which exchanged corpus × k rows for the argmin and then shuffled
    * the corpus AGAIN to glue cells to codes — the two largest
    * shuffles of the 100 TB ingest path, for a result every row can
    * compute locally. Cells and codes are bit-identical to the
    * two-pass form (same folds, same tie-breaks; spec-pinned).
    */
  private def encodeAndRoute(df: DataFrame, idCol: String, vecCol: String,
                             centroids: DataFrame, codebook: DataFrame,
                             numSub: Int, subDim: Int): DataFrame = {
    val v = df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__v"))
    withCellLocal(v, "__v", centroids)
      .crossJoin(broadcast(packCodebook(codebook)))
      .withColumn("codes", expr(pqCodesExpr("__v", numSub, subDim)))
      .select(col(idCol), col("cell"), col("codes"))
  }

  /** ADC top-k over PQ codes: each query computes its exact distance
    * to every codeword once (the numSub×numCodes lookup table, rounded
    * to DECIMAL(18,6) micro-units so the per-candidate sum is
    * order-free INTEGER arithmetic — bit-stable on any engine), then
    * candidates are scored by summing numSub table lookups row-locally
    * and ranked per query (approximate distance asc, id tie-break)
    * through the GroupedTopK heap. The codes frame streams; queries ×
    * LUTs broadcast. Returns (query_id, rank, neighbor_id, adc_micro).
    */
  def pqTopK(queries: DataFrame, codes: DataFrame, idCol: String,
             vecCol: String, codebook: DataFrame, numSub: Int, subDim: Int,
             k: Int): DataFrame = {
    val qlut = pqLut(queries, idCol, vecCol, Nil, codebook, numSub, subDim)
    val scored = codes.select(col(idCol).as("neighbor_id"), col("codes"))
      .join(broadcast(qlut), col("query_id") =!= col("neighbor_id"))
    pqRank(scored, numSub, k)
  }

  /** IVFADC: the 100 TB composition of the two ANN tiers — the coarse
    * cell (`cellCol`, e.g. [[assignToCentroids]] output) prunes the
    * candidate set to the query's cell via an EQUI-join, then PQ codes
    * score only those candidates. The join key makes the shuffle
    * cell-partitioned, so a corpus laid out by cell (the stored-IVF
    * lifecycle) serves each query from its probed cells' files only,
    * and the ADC scan cost drops from Q×N to Q×N/cells — plain
    * [[pqTopK]] is by construction a (compressed) full scan.
    * `codes` must carry (idCol, codes, cellCol); `queries`
    * (idCol, vecCol, cellCol). Returns the [[pqTopK]] schema.
    */
  def ivfPqTopK(queries: DataFrame, codes: DataFrame, idCol: String,
                vecCol: String, cellCol: String, codebook: DataFrame,
                numSub: Int, subDim: Int, k: Int): DataFrame = {
    val qlut = pqLut(queries, idCol, vecCol, Seq(cellCol), codebook,
      numSub, subDim)
    val scored = codes
      .select(col(idCol).as("neighbor_id"), col(cellCol), col("codes"))
      .join(broadcast(qlut), Seq(cellCol))
      .filter(col("query_id") =!= col("neighbor_id"))
    pqRank(scored, numSub, k)
  }

  // ---- maintained PQ (IVFADC) index lifecycle ----
  //
  // The compressed sibling of the IVF vector index
  // ([[writeVectorIndex]]): between batches the corpus lives as a
  // CELL-PARTITIONED parquet table of PQ CODES — numSub small ints per
  // vector instead of the float array (32× smaller for the 64-dim
  // corpus), under centroids AND codebook frozen at creation (retrain
  // = rebuild, the standard IVF/PQ contract). Appends encode and
  // route new vectors; queries read ONLY their probe cells' files and
  // never touch a float vector of the corpus — the storage profile
  // that makes 10 B-vector search a partition-pruned scan of bytes.

  /** Create (or replace) a PQ index at `path`: frozen centroids +
    * codebook, cell-partitioned codes.
    */
  def writePqIndex(df: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, codebook: DataFrame,
                   numSub: Int, subDim: Int, path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    encodeAndRoute(df, idCol, vecCol, centroids, codebook, numSub, subDim)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** numSub/subDim of a stored codebook — a bounded driver probe over
    * the (small-by-contract) codebook frame.
    */
  private def pqDims(codebook: DataFrame): (Int, Int) = {
    val r = codebook.agg(max(col("m")), max(size(col("cv")))).head()
    (r.getInt(0) + 1, r.getInt(1))
  }

  /** Encode a new batch under the index's FROZEN centroids + codebook
    * and append its codes to their cells. Batch vectors are never
    * re-read after this ingest.
    */
  def appendPqIndex(df: DataFrame, idCol: String, vecCol: String,
                    path: String): Unit = {
    val spark = df.sparkSession
    val cent = spark.read.parquet(s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebook")
    val (numSub, subDim) = pqDims(cb)
    encodeAndRoute(df, idCol, vecCol, cent, cb, numSub, subDim)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** IVFADC top-k from the STORED index: assign each query to its
    * probe cell under the frozen centroids, prune the codes scan to
    * exactly those cells (partition pruning — the probe-cell id set
    * is centroid-bounded, the same scalar-sized driver probe as
    * [[queryVectorIndex]]), then ADC-score the probed cells' codes.
    * Only the QUERY vectors are ever read as floats.
    */
  def queryPqIndex(spark: SparkSession, path: String, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int): DataFrame = {
    val cent = spark.read.parquet(s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebook")
    val (numSub, subDim) = pqDims(cb)
    val qCells = assignToCentroids(queries, idCol, vecCol, cent)
      .select(col(idCol), col("cluster").as("cell"))
      .join(queries.select(col(idCol), col(vecCol)), idCol)
    val probeCells = qCells.select("cell").distinct()
      .collect().map(_.get(0)).toSeq
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(probeCells: _*))
    ivfPqTopK(qCells, codes, idCol, vecCol, "cell", cb, numSub, subDim, k)
  }

  /** Per-query ADC lookup table: exact query→codeword distances in
    * DECIMAL(18,6) micro-units (order-free integer sums downstream).
    * `carry` columns (e.g. the IVF cell) ride along for the join.
    */
  private def pqLut(queries: DataFrame, idCol: String, vecCol: String,
                    carry: Seq[String], codebook: DataFrame,
                    numSub: Int, subDim: Int): DataFrame =
    queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id") +: col(vecCol).as("__qv") +:
        carry.map(col): _*)
      .crossJoin(broadcast(packCodebook(codebook)))
      .withColumn("__lut", expr(
        s"""transform(sequence(0, ${numSub - 1}), m ->
           |  transform(sequence(0, size(element_at(__cb, m+1)) - 1), c ->
           |    cast(cast(${pqSubDist("__qv", subDim)} as decimal(18,6))
           |         * 1000000 as bigint)))""".stripMargin))
      .select(col("query_id") +: carry.map(col) :+ col("__lut"): _*)

  /** Shared ADC scoring + ranking tail of the PQ tiers: approximate
    * distance = row-local sum of numSub LUT lookups, per-query top-k
    * (distance asc, id tie-break) through the GroupedTopK heap.
    */
  private def pqRank(scored: DataFrame, numSub: Int, k: Int): DataFrame = {
    // UNROLLED ADC sum: numSub is a plan-time constant, so the former
    // aggregate-over-sequence(0, numSub-1) — a CodegenFallback HOF
    // that materialized a sequence array and evaluated an interpreted
    // lambda PER CANDIDATE ROW — unrolls into a chain of native
    // element_at adds that stays inside whole-stage codegen. Integer
    // addition is associative, so the left-assoc chain is the exact
    // fold (sf10-measured: the ADC scan is the lifecycle's dominant
    // leg — see README PQ row; this is its hot expression).
    val adcSum = (0 until numSub).map { m =>
      s"element_at(element_at(__lut, ${m + 1}), element_at(codes, ${m + 1}) + 1)"
    }.mkString(" + ")
    val adc = scored.withColumn("adc_micro", expr(adcSum))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_micro").asc, col("neighbor_id").asc)
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_micro"))
  }
}
