package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The storage kernel of the `agg_part` stored-view family — the sum /
  * count and min/max views ([[MaintainedAgg]]), the distinct-register
  * view ([[graft.operators.MaintainedDistinct]]) and the bottom-m
  * sample view ([[graft.operators.MaintainedSample]]). The views keep
  * only their fold algebra; everything about how a view lives on disk
  * is written here once:
  *
  *   - LAYOUT: parquet partitioned by `agg_part = pmod(hash(group),
  *     AggParts)` ([[withAggPart]]), one file per partition dir, the
  *     schema persisted out of band in `_schema` so a view whose every
  *     group was deleted still reads as an empty frame.
  *   - TABLE ROOT: callers always address the ROOT path. On backends
  *     whose rename is not atomic a view bootstraps generation-rooted
  *     (`root/_gen` + `root/g<N>/…`), elsewhere flat
  *     ([[GenTable.bootstrap]]); every entry point resolves
  *     [[GenTable.live]] first and works on the concrete dir.
  *   - REFRESH ([[refresh]]): the touched-partition commit of a CDC
  *     batch, exactly-once under retry keyed by batch id
  *     ([[PartCommit]]).
  *   - DELTAS ([[writeDelta]], [[readWithDeltas]], [[compact]]): the
  *     streaming twin's merge-on-read log, the `_deltas` batches of
  *     [[Overlays]] folded under the `_folded` high-water mark.
  */
object ViewTable {

  /** Layout fan-out. 64 partitions keeps per-partition view slices
    * ≈ view/64 (the rewrite unit) while a typical batch touches most
    * parts only once it has ≥ ~64 distinct groups — the same sizing
    * logic as Dedup.SigParts.
    */
  val AggParts = 64

  /** The layout column: reader-side recomputable from the group
    * columns alone, so any batch knows which partitions its groups
    * can live in without consulting the table.
    *
    * Hash convention differs from Dedup's `sig_part` ON PURPOSE — do
    * not port one formula to the other: here `hash()` (Murmur3 over
    * possibly-many, possibly-null group columns) is signed, so `pmod`
    * is required for non-negative parts; Dedup.withSigPart uses the
    * engine's PORTABLE `hash32` (md5 prefix, already non-negative, a
    * single id column) so a plain `%` is safe there AND the oracle
    * can recompute it in SQL. This layout never needs oracle-side
    * recomputation (the partition column is engine-internal), so the
    * cheaper codegen'd Murmur3 is the right choice.
    */
  def withAggPart(df: DataFrame, groupCols: Seq[String]): DataFrame =
    df.withColumn("agg_part",
      pmod(hash(groupCols.map(col): _*), lit(AggParts)).cast("int"))

  /** Write `view` as a complete table at the concrete dir `dir` (a
    * generation dir, a compaction stage or a flat root — never
    * re-resolved): one writer per `agg_part`, so one file per
    * partition dir, then the out-of-band schema.
    */
  private def writeAt(view: DataFrame, groupCols: Seq[String],
                      dir: String): Unit = {
    val keyed = withAggPart(view, groupCols)
    keyed.repartition(AggParts, col("agg_part"))
      .write.mode("overwrite").partitionBy("agg_part").parquet(dir)
    SchemaFile.write(view.sparkSession, dir, keyed.schema)
  }

  /** Materialize `view` (one row per group, no layout column) as the
    * stored table at `root`, generation-rooted or flat by backend.
    * `view` is evaluated inside the write, after any orphan of a
    * crashed predecessor is cleared.
    */
  def bootstrap(spark: SparkSession, root: String, groupCols: Seq[String])
               (view: => DataFrame): Unit =
    GenTable.bootstrap(spark, root)(writeAt(view, groupCols, _))

  /** The stored rows (layout column dropped). Completes any crashed
    * refresh first — a half-applied commit is never served.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val live = GenTable.live(spark, root)
    PartCommit.recover(spark, live)
    SchemaFile.read(spark, live).drop("agg_part")
  }

  /** One view's CDC batch against the live table: the touched
    * `agg_part` values, and the merge that turns the touched slice
    * (the stored rows of those parts, `agg_part` included) into their
    * complete new content, `agg_part` included. A touched part the
    * merge leaves no rows in is deleted.
    */
  final case class Batch(parts: Seq[Int], merge: DataFrame => DataFrame)

  /** Apply one CDC batch to the view at `root`, in this order:
    *
    *   1. resolve the live dir ([[GenTable.live]]);
    *   2. finish any predecessor's half-applied commit
    *      ([[PartCommit.recover]]) BEFORE anything reads the table;
    *   3. replay gate: a batch id at or below the `_applied` mark
    *      no-ops. `batchId = None` allocates mark + 1 — AFTER the
    *      recovery, so a predecessor that crashed past its commit
    *      marker has advanced the mark first and this call's batch is
    *      applied on top of it, not mistaken for a replay;
    *   4. refuse committed streaming `_deltas` (below);
    *   5. `batch` supplies the touched parts (evaluated only now);
    *   6. an empty batch still advances the mark, so its replay stays
    *      a no-op;
    *   7. `batch.merge` gets the touched slice — a static partition
    *      filter, so the scan reads touched/AggParts of the view;
    *   8. the merged parts are staged outside the visible tree and
    *      swapped in under one commit marker
    *      ([[PartCommit.replaceParts]]): a crash before the marker
    *      leaves the view intact, a crash after it is completed by the
    *      next entry point's recovery.
    *
    * Pending deltas: a CDC refresh never composes with unfolded
    * streaming deltas. The sum view's count>0 group-deletion clamp
    * would drop a group whose contributions still sit in a delta
    * (losing the subtraction for good at compaction); the register
    * max and the sample's set union cannot subtract at all, so a
    * delete of a key that also lives in a delta would be resurrected
    * by [[readWithDeltas]], and their dirty tests would consult a
    * stale base. So every view fails fast with "run compactDeltas
    * first". The min/max view has no delta writer, so for it the
    * guard only fires on deltas some other writer left at its path.
    *
    * Without a natural batch numbering (`batchId = None`) the refresh
    * is still exactly-once under a mid-flight crash (recovery is
    * marker-driven, not id-driven), but a retry after a SUCCESSFUL
    * run applies the batch again; unattended at-least-once ingest
    * belongs on the delta path.
    */
  def refresh(spark: SparkSession, root: String, batchId: Option[Long])
             (batch: => Batch): Unit = {
    val live = GenTable.live(spark, root)
    PartCommit.recover(spark, live)
    val applied = PartCommit.lastApplied(spark, live)
    val id = batchId.getOrElse(applied + 1)
    if (id <= applied) return
    require(!hasDeltas(spark, live),
      s"deltaRefresh($live): committed streaming _deltas — a CDC refresh " +
        "cannot compose with unfolded deltas; run compactDeltas first")
    val b = batch
    if (b.parts.isEmpty) {
      PartCommit.markApplied(spark, live, id)
      return
    }
    val merged = b.merge(
      SchemaFile.read(spark, live).filter(col("agg_part").isin(b.parts: _*)))
    // the staged write reads the live slice files and writes OUTSIDE
    // the visible tree, so no materialization barrier is needed; the
    // merge shuffled on the group, so re-align on agg_part to stage
    // each touched partition as ONE file
    PartCommit.replaceParts(spark, live, "agg_part", id, b.parts) {
      stage =>
        merged.repartition(b.parts.size, col("agg_part"))
          .write.mode("overwrite").partitionBy("agg_part").parquet(stage)
    }
  }

  /** Keys collected in one job, with the same rows as a local frame. */
  final case class Keys(rows: Array[Row], frame: DataFrame) {
    def isEmpty: Boolean = rows.isEmpty
  }

  /** The dirty-key driver hop: `keys` lands on the driver in ONE job
    * and comes back as a local frame (schema widened to nullable, so a
    * null group key survives the hop), and emptiness becomes a
    * driver-local check, so a view's recompute callback stays
    * un-invoked when nothing is dirty.
    *
    * DRIVER-BOUND CONTRACT: the keys must be batch-bounded — touched
    * or dirty GROUP keys of one CDC batch (or the crowded groups of one
    * sketch), never rows. Every caller broadcasts them onward (into the
    * recompute's semi-join or the view's own anti-join), and a
    * broadcast is itself a driver collect + ship, so the views already
    * relied on this bound; the recompute callback receives exactly
    * these keys. A bounded-collect guard belongs here, at this one
    * site.
    */
  def collectKeys(keys: DataFrame): Keys = {
    val rows = keys.collect()
    Keys(rows, keys.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(keys.schema.map(_.copy(nullable = true)))))
  }

  // ---- streaming deltas ----
  //
  // A micro-batch cannot refresh in place: a replayed batch (restart
  // after a crash between sink write and offset commit) would fold
  // twice. Instead each batch's per-group delta commits as one batch
  // of the `_deltas` overlay log ([[Overlays]], keyed by the batch
  // id), serving merges base ⊎ committed deltas on read, and
  // compaction folds them into the base in one table swap that also
  // publishes the `_folded` high-water mark.

  private val Deltas = Overlays("_deltas")

  private[io] def hasDeltas(spark: SparkSession, live: String): Boolean =
    Deltas.committed(spark, live).nonEmpty

  /** One micro-batch's delta: `fold` turns the batch's rows into its
    * per-group delta, committed as this batch of the `_deltas` log. A
    * batch at or below the `_folded` mark is already in the base (the
    * crash window between compaction and the stream's offset commit)
    * and no-ops — recreating its delta would count it twice; so does
    * a batch whose delta has committed, and an empty one. A delta
    * whose write failed before its commit point is invisible to every
    * reader and to [[compact]], and its replay writes it again.
    */
  def writeDelta(added: DataFrame, batchId: Long, root: String)
                (fold: DataFrame => DataFrame): Unit = {
    val spark = added.sparkSession
    val live = GenTable.live(spark, root)
    if (batchId > Marks.readLong(spark, live, "_folded"))
      Deltas.commitBatch(spark, live, batchId)(added)(fold)
  }

  /** The served view: the stored base, or — when deltas have
    * committed — `merge` over base ⊎ every committed delta's `cols`.
    */
  def readWithDeltas(spark: SparkSession, root: String, cols: Seq[String])
                    (merge: DataFrame => DataFrame): DataFrame = {
    val live = GenTable.live(spark, root)
    val base = read(spark, live)
    Deltas.read(spark, live).fold(base)(d =>
      merge(base.unionByName(d.select(cols.map(col): _*))))
  }

  /** Fold committed deltas into the base ATOMICALLY: `folded` (the fully
    * merged view, typically the view's readWithDeltas) is materialized
    * and written as a complete new table together with the `_folded`
    * mark of every committed batch id and the carried `_applied`
    * refresh mark, then published by one table swap
    * ([[GenTable.replace]]): a generation root flips its `_gen`
    * pointer to the new generation (zero copies, no reader gap); a
    * flat table takes the [[StagedSwap]] swap (two renames where
    * rename is atomic, marker + copy where it is not). A crash
    * anywhere leaves either the old base + deltas or the folded base +
    * mark, and a replayed batch at or below the mark no-ops in
    * [[writeDelta]], so no delta is ever applied twice.
    *
    * WRITER DISCIPLINE: single writer — stop the maintaining ingest
    * before compacting. A delta landing between the fold's read and
    * the swap would be swapped away with the old table; restart
    * REPLAY after the swap is what the mark makes safe, concurrent
    * NEW writes during it are not.
    */
  def compact(spark: SparkSession, root: String, groupCols: Seq[String])
             (folded: => DataFrame): Unit = {
    val live = GenTable.live(spark, root)
    val mark = (Deltas.committed(spark, live).map(_._1) :+
      Marks.readLong(spark, live, "_folded")).max
    val applied = PartCommit.lastApplied(spark, live)
    GenTable.replace(spark, root) { stage =>
      // materialize BEFORE the swap touches files
      writeAt(folded.localCheckpoint(), groupCols, stage)
      Marks.writeLong(spark, stage, "_folded", mark)
      if (applied >= 0) PartCommit.markApplied(spark, stage, applied)
    }
  }
}
