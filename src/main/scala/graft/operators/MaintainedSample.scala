package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.io.{Deltas, MaintainedAgg, PartCommit, SchemaFile}

/** The maintained QUANTILE-SKETCH view — the fourth stored-aggregate
  * member (sum/count, extrema, distinct registers, this): per group,
  * the engine's deterministic bottom-m sample ([[Sketches
  * .quantileSketch]] — the m smallest (portable-hash, key) ranks, a
  * PURE SET FUNCTION of the group's keys, which is what makes an
  * incremental "reservoir" oracle-exact where a random one could
  * never be), stored as ≤ m rows/group under the `agg_part` layout.
  *
  * SET SEMANTICS, made explicit (review-hardened): the sample is of
  * KEYS. Rows are canonicalized to one per (group, key) before any
  * ranking — a key re-emitted across batches (or present in both the
  * stored slice and an insert batch) collapses instead of occupying
  * two of the m slots, and a conflicting value for one key resolves
  * deterministically (min). NULL keys are excluded throughout: a row
  * that cannot be named cannot be deleted, so admitting it would
  * leave an unremovable sample member (it also hashes to a null rank,
  * which would pin it to the front of every ordering).
  *
  * Maintenance by the sample's set algebra:
  *
  *   - INSERTS fold: bottom-m(S ∪ A) = bottom-m(bottom-m(S) ∪
  *     bottom-m(A)) — the spec-pinned merge ≡ direct identity of
  *     [[Sketches.quantileSketchMerge]] — so an ingest batch merges
  *     its own m-row sketch into the stored slice, never re-reading a
  *     fact.
  *   - DELETES of a NON-MEMBER of a FULL sample are free: removing an
  *     element whose rank lies above the m-th smallest cannot change
  *     the m smallest — bottom-m(S ∖ R) = bottom-m(S) when
  *     R ∩ bottom-m(S) = ∅. Only a delete that hits a sample MEMBER
  *     (or an under-full sample, where every row is a member and any
  *     remove means the stored state disagrees with the facts) dirties
  *     the group for the caller's fact-side recompute — the group
  *     needs its next-smallest rank, and only the facts know it.
  *
  * Same [[graft.io.PartCommit]] exactly-once contract as its three
  * siblings; refresh ≡ full re-sketch is the oracle
  * (q_incr_quantile, the q_sketch_lifecycle SQL replayed over the new
  * snapshot). Serving composes with the sketch toolkit unchanged:
  * [[Sketches.sketchQuantiles]] for percentile estimates,
  * [[Sketches.sketchKsDrift]] for drift between two stored samples.
  *
  * Reference scope: the reference recomputes its per-view statistics
  * from scratch each run (`steps/step5_create_views.py` rebuilds every
  * consolidated view); this maintains the distribution summary a
  * 100 TB corpus cannot afford to re-scan.
  */
object MaintainedSample {

  /** View rows: (groupCol, hv, key, v) — the [[Sketches
    * .quantileSketch]] shape minus the recomputable rank.
    */
  private def viewCols(groupCol: String) =
    Seq(groupCol, "hv", "key", "v")

  /** Per-row (group, hv, key, v) contributions: null keys excluded
    * (see class doc), null values excluded (the quantileSketch
    * contract), key carried AS STRING for cross-engine tie-breaks.
    */
  private def keyedRows(rows: DataFrame, groupCol: String,
                        keyCol: String, valueCol: String): DataFrame =
    rows.filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol),
        Portable.hash32(col(keyCol).cast("string")).as("hv"),
        col(keyCol).cast("string").as("key"), col(valueCol).as("v"))

  /** One row per (group, key): duplicate emissions collapse; a
    * conflicting value resolves to the min (deterministic — for
    * key-functional data this is the value itself).
    */
  private def canonical(df: DataFrame, groupCol: String): DataFrame =
    df.groupBy(col(groupCol), col("hv"), col("key"))
      .agg(min(col("v")).as("v"))
      .select(viewCols(groupCol).map(col): _*)

  /** bottom-m by (hv, key) per group — rides the GroupedTopK heap. */
  private def bottomM(df: DataFrame, groupCol: String,
                      m: Int): DataFrame = {
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("hv"), col("key"))
    df.withColumn("rk", row_number().over(wv))
      .filter(col("rk") <= m).drop("rk")
  }

  /** The canonical bottom-m sketch of per-row input — ≡ [[Sketches
    * .quantileSketch]] for unique non-null keys (spec-pinned by the
    * refresh ≡ re-sketch tests), set-canonical beyond it.
    *
    * COST: canonicalizing first (`groupBy(group, key)`) would exchange
    * every keyed row — the corpus-wide shuffle the GroupedTopK partial
    * exists to avoid (measured 1.9× on the whole lifecycle at the sf10
    * leg). Instead: take the BAG bottom-2m per group through the heap
    * (map-side pruned, exchange ≤ partitions × groups × 2m), dedupe
    * that window, and keep its first m keys — EXACT whenever the
    * window still holds ≥ m distinct keys, because bag order visits
    * keys in set order with duplicates adjacent, so the m-th distinct
    * key of the window is the true m-th set key. The VALUE of a kept
    * key is also exact, with one boundary case: rows of equal (hv,
    * key) are adjacent in the window order, so the 2m cut can slice
    * through at most the LAST key's run — a kept key with rows beyond
    * the window (whose min-v the window-local dedupe would miss) is
    * possible only when that last key itself ranks within the kept m,
    * i.e. the full window yielded ≤ m distinct keys. So any group
    * whose FULL 2m window yielded ≤ m keys (duplicates ≳ half the
    * window crowded the boundary) falls back to the full canonical
    * shuffle, and only its rows; every other group's kept keys have
    * ALL their rows inside the window, making min-v exact for
    * non-key-functional inputs too (review-hardened: `< m` here once
    * let the m-th key's straddling rows return a window-local, not
    * global, min).
    */
  private def sketchOf(rows: DataFrame, groupCol: String, keyCol: String,
                       valueCol: String, m: Int): DataFrame =
    sketchOfKeyed(keyedRows(rows, groupCol, keyCol, valueCol),
      groupCol, m)

  private def sketchOfKeyed(keyed: DataFrame, groupCol: String,
                            m: Int): DataFrame = {
    val win = bottomM(keyed, groupCol, 2 * m)
      .localCheckpoint() // feeds the dedup AND the crowding test once
    val canon = canonical(win, groupCol)
    // crowded groups land on the driver in ONE job (they fed two
    // broadcast joins before, so driver-boundedness was already this
    // code's assumption — a broadcast IS a driver collect + ship; the
    // localCheckpoint + isEmpty pair this replaces paid two blocking
    // jobs per sketch for the same bytes, ×3 sketches per view
    // lifecycle — job counts in LifecycleBench's `jobs`)
    val crowdedRows = canon.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__nk"))
      .join(win.groupBy(col(groupCol)).agg(count(lit(1)).as("__nb")),
        groupCol)
      .filter(col("__nk") <= m && col("__nb") >= 2 * m)
      .select(groupCol).collect()
    if (crowdedRows.isEmpty) return bottomM(canon, groupCol, m)
    val crowded = keyed.sparkSession.createDataFrame(
      java.util.Arrays.asList(crowdedRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        canon.schema(groupCol).copy(nullable = true))))
    val fast = bottomM(
      canon.join(broadcast(crowded), Seq(groupCol), "left_anti"),
      groupCol, m)
    val slow = bottomM(canonical(
      keyed.join(broadcast(crowded), Seq(groupCol), "left_semi"),
      groupCol), groupCol, m)
    fast.unionByName(slow)
  }

  /** Materialize the bottom-m sample per group from per-row input. */
  def write(rows: DataFrame, groupCol: String, keyCol: String,
            valueCol: String, path: String, m: Int): Unit = {
    val spark = rows.sparkSession
    def flat(dir: String): Unit = {
      val keyed = MaintainedAgg.withAggPart(
        sketchOf(rows, groupCol, keyCol, valueCol, m), Seq(groupCol))
      keyed.repartition(MaintainedAgg.AggParts, col("agg_part"))
        .write.mode("overwrite").partitionBy("agg_part").parquet(dir)
      SchemaFile.write(spark, dir, keyed.schema)
    }
    // zero-gap generation root on non-atomic-rename backends — the
    // [[graft.io.GenTable]] contract MaintainedAgg documents
    if (graft.io.GenTable.shouldGen(spark, path))
      graft.io.GenTable.swapGen(spark, path)(flat)
    else flat(path)
  }

  /** The stored sample rows (layout column dropped), crash-recovered —
    * feed directly to [[Sketches.sketchQuantiles]] /
    * [[Sketches.sketchKsDrift]].
    */
  def read(spark: SparkSession, rootPath: String): DataFrame = {
    val path = graft.io.GenTable.live(spark, rootPath)
    PartCommit.recover(spark, path)
    readKeyed(spark, path).drop("agg_part")
  }

  private def readKeyed(spark: SparkSession, path: String): DataFrame =
    SchemaFile.read(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }

  /** Percentile estimates served from the store. */
  def readQuantiles(spark: SparkSession, path: String, groupCol: String,
                    pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    Sketches.sketchQuantiles(read(spark, path), groupCol, pcts)

  /** Apply a CDC batch. `removed`/`added` carry per-row
    * (groupCol, keyCol, valueCol) contributions. `recompute` receives
    * the distinct DIRTY group keys and must return the NEW snapshot's
    * per-row rows for exactly those groups. Exactly-once under retry
    * keyed by `batchId`.
    *
    * Invariant (q_incr_quantile oracle, spec-pinned): after the
    * refresh the view ≡ [[write]] over the new snapshot, row-equal.
    */
  def deltaRefresh(spark: SparkSession, rootPath: String,
                   removed: DataFrame, added: DataFrame,
                   groupCol: String, keyCol: String, valueCol: String,
                   m: Int, batchId: Long)
                  (recompute: DataFrame => DataFrame): Unit = {
    val path = graft.io.GenTable.live(spark, rootPath)
    PartCommit.recover(spark, path)
    if (batchId <= PartCommit.lastApplied(spark, path)) return
    // a CDC refresh against a base with PENDING streaming deltas is
    // unsound for this view: the merge-on-read is a SET UNION, so a
    // delete of a key that also lives in an unfolded delta would be
    // silently resurrected by readWithDeltas, and the member-hit
    // classification below would run against a stale base. Unlike the
    // sum view (where base refresh and additive deltas compose
    // arithmetically), there is no safe interleaving — compact first.
    require(!Deltas.hasDeltas(spark, path),
      s"deltaRefresh($path): pending streaming _deltas — the sample " +
        "view's set-union merge cannot compose a CDC delete with " +
        "unfolded deltas; run compactDeltas first")
    // row-level (group, key) removal set — batch-bounded but NOT
    // broadcast (a CDC delete wave can be arbitrarily large; the
    // member-hit join below shuffles, AQE picks the strategy)
    val rem = removed.filter(col(keyCol).isNotNull)
      .select(col(groupCol), col(keyCol).cast("string").as("key"))
      .distinct().localCheckpoint()
    // the batch's own bottom-m: folding it in is exact (merge ≡ direct)
    val addSk = sketchOf(added, groupCol, keyCol, valueCol, m)
      .localCheckpoint()
    // ONE driver hop feeds the touched-part list AND the group set
    // (batch-group-level, broadcast below anyway — so driver-bounded by
    // the existing contract; the checkpoint + separate part collect
    // this replaces paid two blocking jobs)
    val bgSchema = org.apache.spark.sql.types.StructType(Seq(
      rem.schema(groupCol).copy(nullable = true)))
    val bgRows = MaintainedAgg.withAggPart(
      rem.select(groupCol).union(addSk.select(groupCol)).distinct(),
      Seq(groupCol)).collect()
    val parts = bgRows.map(_.getAs[Int]("agg_part")).distinct.toSeq
    val batchGroups = spark.createDataFrame(
      java.util.Arrays.asList(bgRows.map(r =>
        org.apache.spark.sql.Row(r.getAs[Any](groupCol))): _*), bgSchema)
    if (parts.isEmpty) {
      PartCommit.markApplied(spark, path, batchId)
      return
    }
    val slice = readKeyed(spark, path)
      .filter(col("agg_part").isin(parts: _*)).drop("agg_part")
      .localCheckpoint() // feeds stats, carry and candidates once
    // per-group classification: member-hit removes (or an under-full
    // sample with ANY remove, or removes against a group with no
    // stored rows) ⇒ dirty — everything else folds arithmetically
    val stats = slice
      .join(rem.withColumn("__hit", lit(1)),
        Seq(groupCol, "key"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__size"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    val remGroups = rem.select(groupCol).distinct()
      .withColumn("__rg", lit(1))
    // classification folds straight into the dirty-key materialization
    // (the intermediate (group, __dirty) checkpoint was one more
    // blocking job for a frame with one consumer), and the dirty keys
    // land on the driver in ONE job: dirtyKeys ⊆ batchGroups, which
    // this method already broadcasts (carry's anti-join), and every
    // caller broadcasts into its recompute — driver-boundedness was
    // already the contract, so the localCheckpoint + isEmpty pair paid
    // two blocking jobs for the same bytes
    // nullable=true: a null group key must survive the driver hop the
    // way it survived the checkpoint this replaces
    val dirtySchema = org.apache.spark.sql.types.StructType(Seq(
      rem.schema(groupCol).copy(nullable = true)))
    val dirtyRows = stats.join(remGroups, Seq(groupCol), "full_outer")
      .filter(coalesce(col("__rg"), lit(0)) === 1 &&
        (col("__size").isNull || col("__hits") > 0 ||
          col("__size") < m))
      .select(groupCol).collect()
    val dirtyKeys = spark.createDataFrame(
      java.util.Arrays.asList(dirtyRows: _*), dirtySchema)
    val cleanTouched = batchGroups
      .join(dirtyKeys, Seq(groupCol), "left_anti")
    // clean fold: bottom-m of the KEY SET of (stored slice ∪ batch
    // sketch) — canonicalized so a re-added existing key cannot take
    // two slots — computed only over TOUCHED clean groups; untouched
    // groups in the touched partitions carry over verbatim
    val carry = slice.join(broadcast(batchGroups), Seq(groupCol),
      "left_anti")
    val cleanFold = bottomM(canonical(
      slice.join(broadcast(cleanTouched), Seq(groupCol), "left_semi")
        .unionByName(addSk
          .join(broadcast(cleanTouched), Seq(groupCol), "left_semi")),
      groupCol), groupCol, m)
    // the emptiness gate is now a driver-local array check (no job);
    // recompute stays un-invoked when nothing is dirty — the
    // spec-pinned contract
    val dirtySk =
      if (dirtyRows.isEmpty) cleanFold.limit(0)
      else sketchOf(recompute(dirtyKeys), groupCol, keyCol, valueCol, m)
    val merged = MaintainedAgg.withAggPart(
      carry.select(viewCols(groupCol).map(col): _*)
        .unionByName(cleanFold.select(viewCols(groupCol).map(col): _*))
        .unionByName(dirtySk.select(viewCols(groupCol).map(col): _*)),
      Seq(groupCol))
    PartCommit.replaceParts(spark, path, "agg_part", batchId, parts) {
      stage =>
        merged.repartition(parts.size, col("agg_part"))
          .write.mode("overwrite").partitionBy("agg_part").parquet(stage)
    }
  }

  // ---- streaming ingest: per-batch sample-delta partitions ----
  //
  // The shared delta protocol ([[graft.io.Deltas]]), and like the
  // distinct view's registers the sample's algebra makes it SAFER
  // than the sum view: the canonicalized merge is a set union +
  // keep-bottom-m — associative AND idempotent — so even a delta
  // folded twice yields the same sample. The batch-id marks exist for
  // IO hygiene (skip known-folded work), not correctness.

  /** One micro-batch's delta: the batch's OWN bottom-m sketch under
    * its own partition (replay rewrites the same bytes).
    */
  def writeDeltaPartial(added: DataFrame, batchId: Long,
                        groupCol: String, keyCol: String,
                        valueCol: String, m: Int,
                        rootPath: String): Unit = {
    val path = graft.io.GenTable.live(added.sparkSession, rootPath)
    if (Deltas.alreadyFolded(added.sparkSession, path, batchId)) return
    val b = added.localCheckpoint() // isEmpty + write: two actions
    if (!b.isEmpty)
      sketchOf(b, groupCol, keyCol, valueCol, m)
        .write.mode("overwrite")
        .parquet(Deltas.deltaPath(path, batchId))
  }

  /** The served sample: bottom-m of the canonical KEY SET of
    * (base ∪ every pending delta) per group — merge-on-read, one
    * window over ≤ (1 + batches)·m rows per group; a key present in
    * the base and in a delta (or in two deltas) counts once.
    */
  def readWithDeltas(spark: SparkSession, rootPath: String,
                     groupCol: String, m: Int): DataFrame = {
    val path = graft.io.GenTable.live(spark, rootPath)
    val base = read(spark, path)
    if (!Deltas.hasDeltas(spark, path)) return base
    val deltas = spark.read.parquet(Deltas.dir(path))
      .select(viewCols(groupCol).map(col): _*)
    bottomM(canonical(base.unionByName(deltas), groupCol), groupCol, m)
  }

  /** Fold pending deltas into the base ATOMICALLY — the shared
    * [[graft.io.Deltas.compact]] contract (single-writer: stop the
    * ingest first).
    */
  def compactDeltas(spark: SparkSession, path: String,
                    groupCol: String, m: Int): Unit =
    Deltas.compact(spark, path) { stage =>
      val folded = readWithDeltas(spark, path, groupCol, m)
        .localCheckpoint() // materialize BEFORE the swap touches files
      val keyed = MaintainedAgg.withAggPart(folded, Seq(groupCol))
      keyed.repartition(MaintainedAgg.AggParts, col("agg_part"))
        .write.mode("overwrite").partitionBy("agg_part").parquet(stage)
      SchemaFile.write(spark, stage, keyed.schema)
    }
}
