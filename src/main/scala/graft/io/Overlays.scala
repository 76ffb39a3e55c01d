package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The committed batch overlays of a live table, kept under one
  * `_`-prefixed dir (invisible to the table's own parquet scans) —
  * the per-batch log behind the component store's relabel overlays,
  * the signature table's deletion tombstones, the agg_part views'
  * streaming `_deltas` ([[ViewTable]]) and the stream drivers' AMS
  * partials and trending counts:
  *
  *   - NAMING: batch `key` lives at `<live>/<dir>/batch_id=<key>`,
  *     where `key` is the batch id, optionally followed by `-<tag>`.
  *   - COMMIT: the batch's rows land as ONE parquet file (overlays are
  *     batch-bounded by contract), then its `_done` marker, holding
  *     the batch id, publishes all-or-nothing
  *     ([[AtomicIo.publishFile]]) — the commit point. A dir without
  *     `_done` is invisible to [[committed]], and a replay overwrites
  *     it.
  *   - FOLD: [[foldIfDue]] runs the owner's compaction once the
  *     committed batches reach the auto-compaction bound.
  *
  * What a batch MEANS — how readers apply it, how its key is chosen,
  * what makes a replay a no-op — stays with the owning store.
  * Single-writer per table, like every maintenance op here.
  */
final case class Overlays(dir: String) {

  private def fsOf(spark: SparkSession, live: String): FileSystem =
    new Path(live).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def batchDir(live: String, key: String): Path =
    new Path(s"$live/$dir", s"batch_id=$key")

  private def doneOf(batch: Path): Path = new Path(batch, "_done")

  /** The committed batches as (batch id, dir), in ascending batch-id
    * order. One listing plus one existence check per batch dir; no
    * Spark job.
    */
  def committed(spark: SparkSession, live: String): Seq[(Long, String)] = {
    val fs = fsOf(spark, live)
    val d = new Path(s"$live/$dir")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(_.isDirectory)
      .filter(st => fs.exists(doneOf(st.getPath)))
      .map { st =>
        val Overlays.BatchKey(id) = st.getPath.getName
        id.toLong -> st.getPath.toString
      }.toSeq.sortBy(_._1)
  }

  /** Has batch `key` committed? */
  def isCommitted(spark: SparkSession, live: String, key: String): Boolean =
    fsOf(spark, live).exists(doneOf(batchDir(live, key)))

  /** Commit `rows` as batch `key` of batch id `batchId`: one parquet
    * file, then the `_done` marker.
    */
  def publish(spark: SparkSession, live: String, key: String,
              batchId: Long)(rows: DataFrame): Unit = {
    val d = batchDir(live, key)
    rows.coalesce(1).write.mode("overwrite").parquet(d.toString)
    AtomicIo.publishFile(fsOf(spark, live), doneOf(d),
      batchId.toString.getBytes("UTF-8"))
  }

  /** Commit micro-batch `batchId` (keyed by the id alone) at most
    * once: a batch that has committed no-ops, and so does an empty
    * one. `rows` is materialized once — the emptiness check and the
    * write are two actions, and without it a micro-batch source is
    * read twice — and `fold` turns it into the batch's rows. Returns
    * whether the batch has committed.
    */
  def commitBatch(spark: SparkSession, live: String, batchId: Long)
                 (rows: DataFrame)(fold: DataFrame => DataFrame): Boolean =
    isCommitted(spark, live, batchId.toString) || {
      val b = rows.localCheckpoint()
      !b.isEmpty && {
        publish(spark, live, batchId.toString, batchId)(fold(b))
        true
      }
    }

  /** The rows of every committed batch, or None when none has
    * committed.
    */
  def read(spark: SparkSession, live: String): Option[DataFrame] = {
    val paths = committed(spark, live).map(_._2)
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Run `fold` (the owner's compaction, which must leave no committed
    * batch behind) once the committed batches reach the auto-compaction
    * bound (`spark.graft.autoCompactPendingBatches`, default 8). Call
    * it after the commit point, on a replay too: a crash mid-fold
    * leaves committed batches and an intact table, so the replay of
    * the same batch finishes the fold.
    */
  def foldIfDue(spark: SparkSession, live: String)(fold: => Unit): Unit =
    if (committed(spark, live).size >=
        Overlays.autoCompactPendingBatches(spark)) fold
}

object Overlays {

  private val BatchKey = """batch_id=(-?\d+)(?:-.*)?""".r

  /** Pending-batch bound past which an overlay's owner folds it into
    * the base — the compaction cadence is CODE, not a caller contract:
    * without it a long-running ingest that never compacts pays one
    * batch-sized join per pending batch on every read and, past the
    * broadcast threshold, quietly breaks the "batch-bounded ⇒
    * broadcastable" assumption the readers make. 8 bounds the read tax
    * at ≤8 batch-sized joins while amortizing each fold (one table
    * write) over 8 O(batch) maintenance ops; tables with larger
    * batch-to-table ratios can lower it, streams with tiny batches
    * raise it.
    */
  private def autoCompactPendingBatches(spark: SparkSession): Int =
    spark.conf.get("spark.graft.autoCompactPendingBatches", "8").toInt
}
