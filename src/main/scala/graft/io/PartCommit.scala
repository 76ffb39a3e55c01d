package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Two-phase commit for TOUCHED-PARTITION replacement in a
  * hash-partitioned parquet table — the crash story dynamic partition
  * overwrite cannot give. Spark's dynamic overwrite commits partition
  * dirs one rename at a time, so a crash mid-commit leaves a MIXED
  * table (some touched partitions new, others old) that no blind
  * retry can repair: re-merging a delta into an already-merged
  * partition double-counts it. [[StagedSwap]] solves this for
  * whole-table rewrites; this is the partition-granular sibling for
  * the agg_part views' CDC refresh ([[ViewTable.refresh]], the one
  * [[replaceParts]] caller), whose whole point is NOT rewriting the
  * untouched 63/64ths of a 100 TB view. The component-label store
  * ([[graft.operators.MaintainedComponents]]) commits relabel
  * overlays ([[Overlays]]) instead and keeps only the `_applied` mark
  * and the [[recover]] of a crashed commit from here.
  *
  * Protocol (all mutation of live partitions happens in step 3):
  *
  *   1. STAGE — the caller materializes the new content of every
  *      surviving touched partition under `path/_stage` (a `_`-prefixed
  *      dir: invisible to Spark's file listing, so readers of the live
  *      table never see half-written staging files). The live table is
  *      untouched; a crash here costs only garbage the next attempt
  *      clears.
  *   2. COMMIT MARKER — one small `_commit` file (batch id + the
  *      touched and survived partition lists) is published by an
  *      ATOMIC rename of `_commit.tmp`. This is the commit point.
  *   3. APPLY — per touched partition: survived partitions are swapped
  *      in (delete live dir, rename staged dir into place), emptied
  *      ones deleted. Every sub-step is idempotent given the marker
  *      (a staged dir's EXISTENCE records whether its swap already
  *      happened — the rename consumes it), so [[recover]] can replay
  *      the apply phase from any crash point. On completion the
  *      `_applied` high-water mark is advanced and the marker removed.
  *
  * Exactly-once under retry: re-running a batch whose id is ≤ the
  * `_applied` mark no-ops; re-running after a crash either finds no
  * marker (nothing was applied — recompute from the intact table) or
  * finds the marker and completes the apply phase verbatim. The one
  * caller obligation is to [[recover]] BEFORE reading the table to
  * compute a new batch ([[ViewTable.refresh]] does), so a
  * predecessor's half-applied refresh is finished first.
  *
  * Single-writer assumption throughout, as every maintenance op in
  * this package: two concurrent refreshes of one table are a caller
  * bug, not a tolerated state.
  *
  * STORAGE CONTRACT ([[AtomicIo]] seam): step 2's marker publication
  * is all-or-nothing on every backend (tmp+rename where rename is
  * atomic, a single atomic PUT on object stores), and step 3 has two
  * implementations — rename-based where directory rename is atomic
  * (file://, hdfs://), and delete+copy with per-partition done
  * markers where it is not (s3a://, gs://, abfs://, unknown schemes;
  * see [[applyCommitByCopy]]). Both are idempotent under replay from
  * any crash point; ObjectStoreCommitSpec proves the copy protocol
  * under a non-atomic-rename filesystem shim with crash injection at
  * every mutation.
  */
object PartCommit {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def stageDir(path: String): String = s"$path/_stage"

  /** Batch ids ≤ this mark are fully applied; -1 before any commit. */
  def lastApplied(spark: SparkSession, path: String): Long =
    Marks.readLong(spark, path, "_applied")

  // Published via Marks (tmp + rename, never truncate-in-place): a
  // crash mid-write must not leave an unparseable mark. A crash
  // BETWEEN delete and rename loses the mark entirely, which is safe:
  // applyCommit writes it before removing `_commit`, so recovery
  // replays the (idempotent) apply; markApplied's empty-delta case
  // simply re-marks on retry.
  private def writeApplied(spark: SparkSession, path: String,
                           id: Long): Unit =
    Marks.writeLong(spark, path, "_applied", id)

  /** Record a batch as applied WITHOUT touching any partition — the
    * empty-delta case still needs replay detection.
    */
  def markApplied(spark: SparkSession, path: String, batchId: Long): Unit =
    if (batchId > lastApplied(spark, path))
      writeApplied(spark, path, batchId)

  private case class Commit(batchId: Long, partCol: String,
                            touched: Seq[Int], survived: Set[Int])

  private def readCommit(spark: SparkSession,
                         path: String): Option[Commit] = {
    val p = new Path(path, "_commit")
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      def ints(s: String) =
        s.split(',').filter(_.nonEmpty).map(_.trim.toInt).toSeq
      Some(Commit(lines.head.trim.toLong, lines(1).trim,
        ints(lines(2)), ints(lines(3)).toSet))
    }
  }

  /** Finish a crashed [[replaceParts]]: if a `_commit` marker exists,
    * replay its apply phase (idempotent) to completion. Callers MUST
    * run this before reading the table to build a new batch — a mixed
    * half-applied table is only observable between marker publish and
    * apply completion, and this closes that window. Returns true if a
    * pending commit was completed.
    */
  def recover(spark: SparkSession, path: String): Boolean =
    readCommit(spark, path) match {
      case None => false
      case Some(c) => applyCommit(spark, path, c); true
    }

  private def applyCommit(spark: SparkSession, path: String,
                          c: Commit): Unit = {
    val fs = fsOf(spark, path)
    if (AtomicIo.renameIsAtomic(fs)) {
      c.touched.foreach { p =>
        val live = new Path(path, s"${c.partCol}=$p")
        if (c.survived(p)) {
          val staged = new Path(stageDir(path), s"${c.partCol}=$p")
          // the staged dir's existence == "swap not done yet": the
          // rename below consumes it, so a replay skips finished parts
          if (fs.exists(staged)) {
            fs.delete(live, true)
            if (!fs.rename(staged, live))
              throw new java.io.IOException(
                s"part commit: cannot move $staged into place")
          }
        } else fs.delete(live, true) // emptied partition — idempotent
      }
    } else applyCommitByCopy(fs, path, c)
    writeApplied(spark, path, c.batchId)
    fs.delete(new Path(path, "_commit"), false)
    fs.delete(new Path(stageDir(path)), true)
    fs.delete(new Path(path, DoneDir), true)
  }

  /** `_`-prefixed (reader-invisible) per-partition done markers for
    * the copy-based apply below.
    */
  private val DoneDir = "_commit_done"

  /** The NON-atomic-rename apply: on an object store a directory
    * "rename" is a per-file copy+delete with arbitrarily long partial
    * states, so the atomic path's "staged dir existence == swap not
    * done" invariant does not survive a crash (a half-renamed staged
    * dir is neither present nor consumed). Instead each partition's
    * swap is delete-live + COPY-staged-contents (the staged source is
    * never consumed, so any crash point replays from an intact
    * source), committed per partition by an all-or-nothing done
    * marker ([[AtomicIo.publishFile]] — one atomic PUT). Replay skips
    * partitions whose marker exists and redoes the rest from scratch;
    * every sub-step is idempotent. Extra cost vs the atomic path: the
    * touched partitions' bytes are copied once more — which is what a
    * directory rename costs on these stores anyway.
    */
  private def applyCommitByCopy(fs: org.apache.hadoop.fs.FileSystem,
                                path: String, c: Commit): Unit = {
    val doneDir = new Path(path, DoneDir)
    fs.mkdirs(doneDir)
    c.touched.foreach { p =>
      val done = new Path(doneDir, p.toString)
      if (!fs.exists(done)) {
        val live = new Path(path, s"${c.partCol}=$p")
        fs.delete(live, true)
        if (c.survived(p))
          AtomicIo.copyDirContents(fs,
            new Path(stageDir(path), s"${c.partCol}=$p"), live)
        AtomicIo.publishFile(fs, done, Array.emptyByteArray)
      }
    }
  }

  /** Replace the `touched` partitions of the table at `path` with
    * whatever `stage` materializes (a parquet write partitioned by
    * `partCol` into the staging dir it is handed; the live table stays
    * readable throughout). A touched partition the stage produced no
    * dir for is treated as EMPTIED and deleted. Exactly-once under
    * retry keyed by `batchId` (monotone per table; ≤ the applied mark
    * no-ops). Any pending predecessor commit is completed first —
    * though callers should have done that before READING the table.
    */
  def replaceParts(spark: SparkSession, path: String, partCol: String,
                   batchId: Long, touched: Seq[Int])
                  (stage: String => Unit): Unit = {
    recover(spark, path)
    if (batchId <= lastApplied(spark, path)) return
    val fs = fsOf(spark, path)
    val stagePath = new Path(stageDir(path))
    fs.delete(stagePath, true) // garbage from a pre-marker crash
    fs.delete(new Path(path, "_commit.tmp"), false)
    // stale done markers from a predecessor that crashed AFTER its
    // `_commit` removal (so recover above had nothing to replay) must
    // not leak into this batch's copy-based apply
    fs.delete(new Path(path, DoneDir), true)
    stage(stageDir(path))
    val survived =
      if (!fs.exists(stagePath)) Set.empty[Int]
      else fs.listStatus(stagePath).map(_.getPath.getName)
        .collect { case n if n.startsWith(s"$partCol=") =>
          n.stripPrefix(s"$partCol=").toInt }.toSet
    // the commit point: all-or-nothing marker publication (tmp+rename
    // on atomic-rename filesystems, one atomic PUT on object stores —
    // [[AtomicIo.publishFile]]). Before it the live table is intact
    // and a retry recomputes; after it, recovery replays the apply.
    AtomicIo.publishFile(fs, new Path(path, "_commit"),
      s"$batchId\n$partCol\n${touched.mkString(",")}\n${survived.mkString(",")}\n"
        .getBytes("UTF-8"))
    applyCommit(spark, path,
      Commit(batchId, partCol, touched, survived))
  }
}
