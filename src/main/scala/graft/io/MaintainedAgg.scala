package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A STORED materialized aggregate laid out hash-partitioned on the
  * group key — the [[graft.operators.Dedup.SigParts]] pattern applied
  * to materialized-view maintenance. [[MergeTable
  * .incrementalJoinAggRefresh]] keeps the view as an in-memory frame
  * and re-reads the whole previous aggregate for its carry-over
  * anti-join; fine when the view is 25 nations, a wall when it is
  * 10⁸ customers on 100 TB of facts. Here the view lives on disk
  * under `agg_part = hash(groupCols) % AggParts` ([[ViewTable]] — the
  * layout, commit and delta protocol this view shares with the
  * distinct and sample views), so a refresh batch:
  *
  *   1. computes per-group DELTAS from the changed rows alone
  *      (sum/count aggregates are SELF-MAINTAINABLE — the classic MV
  *      result: new_sum = old_sum + Σ added − Σ removed; no untouched
  *      fact is ever re-read, unlike the recompute-touched-groups
  *      strategy, whose "touched groups" recompute still scans every
  *      fact of a touched group);
  *   2. maps the delta groups to their `agg_part` values — ≤
  *      [[ViewTable.AggParts]] distinct ints, bounded driver work —
  *      and reads ONLY those partitions of the stored view (static
  *      partition filter, ScanAudit-measured in MaintainedAggSpec);
  *   3. merges slice + deltas with one partial-agg-friendly union
  *      (groups whose count hits zero drop out — the group-deletion
  *      case), and rewrites ONLY the touched partitions (a staged
  *      touched-partition commit; a partition whose every group
  *      vanished is deleted).
  *
  * Refresh cost is O(batch + touched/AggParts of the view): at 100 TB
  * a daily 0.1 % CDC batch touches a bounded slice of a 64-way
  * layout, never the fact table and never the untouched view rows.
  *
  * Exactness contract: measure columns must be DECIMAL (store the
  * exact decimal; cast to double only when READING the view out) —
  * decimal sums are associative and order-independent, so
  * build + deltas ≡ one exact sum over the new snapshot, bit-equal to
  * a full recompute. Double measures would drift in the last ulp and
  * break the refresh ≡ recompute oracle. Count columns are LONG.
  * Measures are normalized to DECIMAL(38,6) on write and merge so the
  * stored schema never widens across refreshes.
  *
  * Reference behavior mirrored: the reference pipeline rebuilds its
  * consolidated views from scratch each run (`steps/step5_create_views
  * .py` recreates every view per run); this is the maintained twin a
  * daily-cadence 100 TB corpus needs.
  */
object MaintainedAgg {

  private val MeasureType =
    org.apache.spark.sql.types.DecimalType(38, 6)

  /** Materialize a freshly computed aggregate as the stored view.
    * `measureCols` are cast to the canonical decimal; `countCol` must
    * be a long count of contributing rows (drives group deletion).
    * Generation-rooted or flat by backend ([[ViewTable.bootstrap]]);
    * callers always address the ROOT path.
    */
  def write(agg: DataFrame, groupCols: Seq[String], path: String,
            measureCols: Seq[String], countCol: String): Unit =
    ViewTable.bootstrap(agg.sparkSession, path, groupCols)(
      normalize(agg, measureCols, countCol))

  /** Read the full view back (layout column dropped). Completes any
    * crashed refresh first — a half-applied commit must never be
    * served.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    ViewTable.read(spark, path)

  private def normalize(df: DataFrame, measureCols: Seq[String],
                        countCol: String): DataFrame = {
    val keep = df.columns.filterNot(c =>
      measureCols.contains(c) || c == countCol || c == "agg_part")
    df.select(keep.map(col) ++
      measureCols.map(m => col(m).cast(MeasureType).as(m)) :+
      col(countCol).cast("long").as(countCol): _*)
  }

  /** Merged sums per `keys` group; groups whose count is not positive
    * drop out (the group-deletion case).
    */
  private def sumGroups(rows: DataFrame, keys: Seq[String],
                        measureCols: Seq[String],
                        countCol: String): DataFrame = {
    val mAggs = measureCols.map(m =>
      sum(col(m)).cast(MeasureType).as(m)) :+
      sum(col(countCol)).as(countCol)
    rows.groupBy(keys.map(col): _*)
      .agg(mAggs.head, mAggs.tail: _*)
      .filter(col(countCol) > 0)
  }

  /** Apply a CDC batch to the stored view. `removed` / `added` are
    * the batch's PER-ROW measure contributions (already enriched
    * through the view's dim joins — only changed-key rows, so the
    * enrich is O(batch)): each row carries the group columns plus one
    * decimal column per measure. An UPDATE contributes its old row to
    * `removed` and its new row to `added`; a DELETE only to
    * `removed`; an INSERT only to `added`.
    *
    * Invariant (spec-pinned and the q_incr_joinagg oracle): after the
    * refresh the view ≡ the same aggregation over the new snapshot.
    *
    * Crash and replay contract: [[ViewTable.refresh]] — exactly-once
    * under retry keyed by `batchId`, a crashed predecessor's commit
    * completed first. The id-free overload allocates the applied mark
    * + 1 after that recovery: safe against a mid-flight crash, but
    * NOT replay-detecting across successful runs; unattended
    * at-least-once ingest belongs on the streaming path
    * ([[writeDeltaPartial]] + [[compactDeltas]]).
    */
  def deltaRefresh(spark: SparkSession, path: String,
                   removed: DataFrame, added: DataFrame,
                   groupCols: Seq[String], measureCols: Seq[String],
                   countCol: String): Unit =
    sumRefresh(spark, path, removed, added, groupCols, measureCols,
      countCol, None)

  def deltaRefresh(spark: SparkSession, rootPath: String,
                   removed: DataFrame, added: DataFrame,
                   groupCols: Seq[String], measureCols: Seq[String],
                   countCol: String, batchId: Long): Unit =
    sumRefresh(spark, rootPath, removed, added, groupCols, measureCols,
      countCol, Some(batchId))

  private def sumRefresh(spark: SparkSession, rootPath: String,
                         removed: DataFrame, added: DataFrame,
                         groupCols: Seq[String], measureCols: Seq[String],
                         countCol: String, batchId: Option[Long]): Unit =
    ViewTable.refresh(spark, rootPath, batchId) {
      def contrib(df: DataFrame, w: Int): DataFrame =
        df.select(groupCols.map(col) ++
          measureCols.map(m =>
            (col(m).cast(MeasureType) * lit(w)).cast(MeasureType).as(m)) :+
          lit(w.toLong).as(countCol): _*)
      val dAggs = measureCols.map(m => sum(col(m)).as(m)) :+
        sum(col(countCol)).as(countCol)
      val deltas = contrib(added, 1).unionByName(contrib(removed, -1))
        .groupBy(groupCols.map(col): _*)
        .agg(dAggs.head, dAggs.tail: _*)
      val keyed = ViewTable.withAggPart(
        normalize(deltas, measureCols, countCol), groupCols)
        .localCheckpoint() // feeds the part list AND the merge once
      val parts = keyed.select("agg_part").distinct()
        .collect().map(_.getInt(0)).toSeq
      ViewTable.Batch(parts, slice => sumGroups(slice.unionByName(keyed),
        groupCols :+ "agg_part", measureCols, countCol))
    }

  // ---- MIN/MAX maintained aggregates ----
  //
  // Extrema are NOT self-maintainable under deletes (the r12 verdict's
  // open gap): sums fold removals arithmetically, but deleting the row
  // that CARRIED a group's min says nothing about the new min — the
  // evidence is gone from the view. The classical MV answer is
  // implemented here: inserts fold (new_min = least(old, batch_min));
  // a delete makes a group DIRTY only when a removed value ties or
  // beats the stored extreme (rmin ≤ stored_min or rmax ≥ stored_max —
  // an interior delete can't move either end), and only dirty groups
  // are recomputed from the fact side, via a caller-supplied
  // `recompute(dirtyGroups)` that returns the NEW snapshot's rows for
  // exactly those groups (the caller owns the fact layout, so it can
  // push the group semi-join into a bucketed/partitioned scan). At
  // 100 TB a CDC batch dirties the handful of groups whose extremes it
  // touched; everything else is arithmetic on the touched view slice.

  private def minMaxAggs(valueCols: Seq[String], countCol: String) =
    valueCols.flatMap(v => Seq(
      min(col(v).cast(MeasureType)).as(s"min_$v"),
      max(col(v).cast(MeasureType)).as(s"max_$v"))) :+
      count(lit(1L)).cast("long").as(countCol)

  private def minMaxViewCols(groupCols: Seq[String],
                             valueCols: Seq[String], countCol: String) =
    groupCols ++ valueCols.flatMap(v => Seq(s"min_$v", s"max_$v")) :+
      countCol

  /** Materialize the extrema view from PER-ROW input: one
    * `min_<v>`/`max_<v>` pair per value column (canonical decimals,
    * order-preserving) plus the row count.
    */
  def writeMinMax(rows: DataFrame, groupCols: Seq[String], path: String,
                  valueCols: Seq[String], countCol: String): Unit = {
    val a = minMaxAggs(valueCols, countCol)
    ViewTable.bootstrap(rows.sparkSession, path, groupCols)(
      rows.groupBy(groupCols.map(col): _*).agg(a.head, a.tail: _*))
  }

  /** Apply a CDC batch to the extrema view. `removed`/`added` carry
    * per-row (groupCols ++ valueCols) contributions, exactly as
    * [[deltaRefresh]]. Same [[ViewTable.refresh]] crash/replay
    * contract. `recompute` receives the distinct DIRTY group keys
    * (batch-bounded, on the driver — [[ViewTable.collectKeys]]) and
    * must return the new snapshot's per-row contributions for those
    * groups.
    *
    * Invariant (spec-pinned, q_incr_minmax oracle): after the refresh
    * the view ≡ min/max/count over the new snapshot.
    */
  def deltaRefreshMinMax(spark: SparkSession, rootPath: String,
                         removed: DataFrame, added: DataFrame,
                         groupCols: Seq[String], valueCols: Seq[String],
                         countCol: String, batchId: Long)
                        (recompute: DataFrame => DataFrame): Unit =
    ViewTable.refresh(spark, rootPath, Some(batchId)) {
      def side(df: DataFrame, w: Int) =
        df.select(groupCols.map(col) ++
          valueCols.map(v => col(v).cast(MeasureType).as(v)) :+
          lit(w).as("__w"): _*)
      val bAggs = valueCols.flatMap(v => Seq(
        min(when(col("__w") === 1, col(v))).as(s"__amin_$v"),
        max(when(col("__w") === 1, col(v))).as(s"__amax_$v"),
        min(when(col("__w") === -1, col(v))).as(s"__rmin_$v"),
        max(when(col("__w") === -1, col(v))).as(s"__rmax_$v"))) ++ Seq(
        sum(when(col("__w") === 1, 1L).otherwise(0L)).as("__an"),
        sum(when(col("__w") === -1, 1L).otherwise(0L)).as("__rn"))
      val batchAgg = side(added, 1).unionByName(side(removed, -1))
        .groupBy(groupCols.map(col): _*)
        .agg(bAggs.head, bAggs.tail: _*)
        .localCheckpoint() // feeds the part list AND the classification
      val parts = ViewTable.withAggPart(
        batchAgg.select(groupCols.map(col): _*), groupCols)
        .select("agg_part").distinct().collect().map(_.getInt(0)).toSeq
      ViewTable.Batch(parts, { slice =>
        val joined = slice.drop("agg_part")
          .join(batchAgg, groupCols, "full_outer")
          .localCheckpoint() // feeds carry, clean, dirty — one evaluation
        val viewCols = minMaxViewCols(groupCols, valueCols, countCol)
        val untouchedInPart = col("__an").isNull && col("__rn").isNull
        val carry = joined.filter(untouchedInPart)
          .select(viewCols.map(col): _*)
        val touched = joined.filter(!untouchedInPart)
        val rn = coalesce(col("__rn"), lit(0L))
        val an = coalesce(col("__an"), lit(0L))
        // a removed value tying the stored extreme may have been its
        // last witness (duplicates keep the recompute cheap and
        // correct either way); a missing stored row with removes is
        // defensively dirty
        val dirtyCond = rn > 0 && (col(countCol).isNull ||
          valueCols.map(v =>
            col(s"__rmin_$v") <= col(s"min_$v") ||
              col(s"__rmax_$v") >= col(s"max_$v")).reduce(_ || _))
        val cleanSel = groupCols.map(col) ++ valueCols.flatMap(v => Seq(
          least(col(s"min_$v"), col(s"__amin_$v")).cast(MeasureType)
            .as(s"min_$v"),
          greatest(col(s"max_$v"), col(s"__amax_$v")).cast(MeasureType)
            .as(s"max_$v"))) :+
          (coalesce(col(countCol), lit(0L)) + an - rn).as(countCol)
        val clean = touched.filter(!dirtyCond).select(cleanSel: _*)
          .filter(col(countCol) > 0)
        val dirty = ViewTable.collectKeys(
          touched.filter(dirtyCond).select(groupCols.map(col): _*))
        val a = minMaxAggs(valueCols, countCol)
        val dirtyAgg =
          if (dirty.isEmpty) clean.limit(0)
          else recompute(dirty.frame).groupBy(groupCols.map(col): _*)
            .agg(a.head, a.tail: _*)
        ViewTable.withAggPart(
          carry.unionByName(clean).unionByName(dirtyAgg), groupCols)
      })
    }

  // ---- streaming ingest: per-batch deltas ----
  //
  // Each micro-batch's per-group sums commit as its batch of the
  // view's `_deltas` log, serving merges base ⊎ committed deltas on
  // read, and compaction folds them into the base — the shared
  // protocol of [[ViewTable.writeDelta]] / [[ViewTable.compact]].

  /** One micro-batch's delta write (factored out so replay
    * idempotence is testable without a stream): `added` rows carry
    * the per-row measure contributions; the per-group delta commits
    * as this batch of the `_deltas` log ([[ViewTable.writeDelta]]).
    */
  def writeDeltaPartial(added: DataFrame, batchId: Long,
                        groupCols: Seq[String], measureCols: Seq[String],
                        countCol: String, rootPath: String): Unit =
    ViewTable.writeDelta(added, batchId, rootPath) { b =>
      val dAggs = measureCols.map(m =>
        sum(col(m).cast(MeasureType)).cast(MeasureType).as(m)) :+
        count(lit(1L)).as(countCol)
      normalize(b.groupBy(groupCols.map(col): _*)
        .agg(dAggs.head, dAggs.tail: _*), measureCols, countCol)
    }

  /** The served view: stored base merged with every pending batch
    * delta — merge-on-read, one union + group-by over (base slice +
    * delta rows). Group-deletion semantics match [[deltaRefresh]]
    * (count ≤ 0 drops out; ingest deltas are append-only so counts
    * only grow, but a weighted delta keeps the same contract).
    */
  def readWithDeltas(spark: SparkSession, rootPath: String,
                     groupCols: Seq[String], measureCols: Seq[String],
                     countCol: String): DataFrame =
    ViewTable.readWithDeltas(spark, rootPath,
      groupCols ++ measureCols :+ countCol)(
      sumGroups(_, groupCols, measureCols, countCol))

  /** Fold pending deltas into the base ATOMICALLY — the
    * [[ViewTable.compact]] contract (single-writer: stop the ingest
    * first).
    */
  def compactDeltas(spark: SparkSession, path: String,
                    groupCols: Seq[String], measureCols: Seq[String],
                    countCol: String): Unit =
    ViewTable.compact(spark, path, groupCols)(
      readWithDeltas(spark, path, groupCols, measureCols, countCol))
}
