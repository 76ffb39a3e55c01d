package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Generation-pointer table root: the ZERO-GAP serving layout for
  * whole-table swaps on backends whose rename is not atomic.
  *
  * [[StagedSwap]]'s copy-mode apply (object stores) deletes the live
  * table and re-copies the staged one — correct and replayable, but an
  * EXTERNAL reader (anything not routed through `recover()`) can
  * observe a missing or partial table for the whole copy, and the
  * previous table stops being recoverable once the apply starts (the
  * r14 README's documented caveat (a)). The manifest fix [[Versioned]]
  * proves end-to-end is applied here to the maintained-view layouts
  * without adopting its batch/file-list format:
  *
  *   root/_gen        ← ONE small pointer file naming the live
  *                      generation (all-or-nothing publish on every
  *                      backend — [[AtomicIo.publishFile]])
  *   root/g<N>/       ← a complete, self-contained table dir (the
  *                      partitioned parquet + `_schema` + `_applied` /
  *                      `_folded` marks + `_deltas` the view protocols
  *                      already speak)
  *
  * A swap writes the ENTIRE next generation beside the live one, then
  * flips the pointer — so a reader that resolves [[live]] sees the
  * previous complete table until the single atomic PUT lands, and the
  * new complete table after it; there is no window in which the
  * resolved directory is missing or partial, and the swap performs
  * ZERO copies (cheaper than copy-mode [[StagedSwap]], which pays a
  * full table copy). Crash anywhere needs NO recovery step for
  * readers: the pointer always names a complete generation; a crashed
  * writer leaves only an unreferenced `g<N+1>` orphan that the next
  * swap deletes and rewrites.
  *
  * Retention: the PREVIOUS generation is deleted right after the flip
  * (two-generation peak footprint). A reader that resolved the old
  * generation and is still mid-scan when the delete lands can lose
  * files under it — the same contract as [[Versioned.vacuum]]
  * `keepLast=1`; deployments with long-running external scans should
  * widen retention by deferring [[swapGen]]'s cleanup (out of scope
  * here — single-writer maintenance windows are this engine's
  * standing discipline).
  *
  * Which tables are gen-rooted: decided at BOOTSTRAP by the backend —
  * [[shouldGen]] is true where rename is non-atomic (the backends with
  * the gap) or where a `_gen` pointer already exists. Tables on
  * atomic-rename filesystems keep the flat in-place layout every
  * existing spec pins (their [[StagedSwap]] gap is two metadata
  * renames, microseconds).
  */
object GenTable {

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val GenMark = "_gen"

  /** Current generation number, if `root` is a generation root. */
  def currentGen(spark: SparkSession, root: String): Option[Long] =
    Some(Marks.readLong(spark, root, GenMark)).filter(_ >= 0)

  /** The LIVE table dir: `root/g<N>` for a generation root, `root`
    * itself for a legacy flat table. Every view-level entry point
    * resolves through this once, then runs its existing protocol
    * against the concrete dir.
    */
  def live(spark: SparkSession, root: String): String =
    currentGen(spark, root).fold(root)(n => s"$root/g$n")

  def isGenRoot(spark: SparkSession, root: String): Boolean =
    currentGen(spark, root).isDefined

  /** Should a BOOTSTRAP of `root` lay the table out generation-rooted?
    * Yes where the backend's rename is non-atomic (zero-gap serving is
    * the correct default there) or where the table already is one.
    */
  private def shouldGen(spark: SparkSession, root: String): Boolean = {
    val fs = fsOf(spark, root)
    !AtomicIo.renameIsAtomic(fs) || fs.exists(new Path(root, GenMark))
  }

  /** Replace the table with whatever `write` materializes at the next
    * generation dir, publishing by one atomic pointer flip. `write`
    * must fully produce the new table (data + marks) at the dir it is
    * handed. Single-writer, like every maintenance op here.
    */
  private def swapGen(spark: SparkSession, root: String)
                     (write: String => Unit): Unit = {
    val fs = fsOf(spark, root)
    val cur = currentGen(spark, root)
    val next = cur.fold(0L)(_ + 1L)
    val nextDir = new Path(root, s"g$next")
    fs.delete(nextDir, true) // a crashed predecessor's orphan
    write(nextDir.toString)
    // the commit point: readers resolve g<cur> before this PUT and
    // g<next> after it — never anything partial
    Marks.writeLong(spark, root, GenMark, next)
    // sweep EVERYTHING stale, not just g<cur>: (a) a writer that died
    // between a previous flip and its cleanup left its old generation
    // behind, and per-flip cur-only deletion would orphan it forever;
    // (b) a table MIGRATING from the flat layout (first gen-rooted
    // bootstrap over an existing in-place table) leaves its old flat
    // data/marks/deltas at the root — the flat overwrite it replaces
    // deleted those, so the sweep preserves the old contract. Both
    // deletes happen strictly AFTER the flip, so a resolving reader
    // never loses its snapshot mid-commit.
    fs.listStatus(new Path(root)).foreach { st =>
      val n = st.getPath.getName
      if (n != s"g$next" && n != GenMark) fs.delete(st.getPath, true)
    }
  }

  /** BOOTSTRAP (create or re-create) the table at `root`: `write`
    * produces the complete table at the dir it is handed — the next
    * generation where [[shouldGen]] holds, the flat root itself
    * otherwise (a whole-dir overwrite in place).
    */
  def bootstrap(spark: SparkSession, root: String)
               (write: String => Unit): Unit =
    if (shouldGen(spark, root)) swapGen(spark, root)(write)
    else write(root)

  /** REPLACE an existing table wholesale (compaction): a generation
    * root writes the next generation and flips its pointer; a flat
    * table takes the [[StagedSwap]] swap. `write` produces the
    * complete new table at the dir it is handed. Single-writer.
    */
  def replace(spark: SparkSession, root: String)
             (write: String => Unit): Unit =
    if (isGenRoot(spark, root)) swapGen(spark, root)(write)
    else StagedSwap.swap(spark, root)(write)
}
