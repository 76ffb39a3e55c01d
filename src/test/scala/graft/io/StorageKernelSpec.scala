package graft.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One place per storage decision: the generation-root-or-flat and
  * pointer-flip-or-rename choices live only in [[GenTable]], the
  * agg_part views' delta directory, touched-partition commit and
  * dirty-key driver hop only in [[ViewTable]], the overlay batch
  * commit marker and auto-compaction bound only in [[Overlays]], and
  * the whole-table swap only behind [[GenTable.replace]].
  */
class StorageKernelSpec extends AnyFunSuite {

  private def mainSources(): Seq[Path] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val stream = Files.walk(root)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally stream.close()
  }

  /** Files other than `owner` (a path suffix) matching any of `banned`;
    * the owner itself must match every one.
    */
  private def offenders(owner: String, banned: Seq[Regex]): Seq[String] = {
    val (own, others) = mainSources().partition(_.toString.endsWith(owner))
    assert(own.size == 1, s"$owner not found under src/main")
    val ownText = Files.readString(own.head)
    banned.foreach(r =>
      assert(r.findFirstIn(ownText).isDefined, s"$owner lost $r"))
    others.filter { p =>
      val text = Files.readString(p)
      banned.exists(_.findFirstIn(text).isDefined)
    }.map(_.toString)
  }

  test("only GenTable decides generation root vs flat table") {
    val bad = offenders("io/GenTable.scala",
      Seq("""shouldGen\(""".r, """swapGen\(""".r, """isGenRoot\(""".r))
    assert(bad.isEmpty, s"generation-layout decision outside GenTable: $bad")
  }

  test("only ViewTable owns _deltas, the agg_part commit and the key hop") {
    val bad = offenders("io/ViewTable.scala",
      Seq("\"_deltas\"".r, """replaceParts\([^)]*"agg_part"""".r,
        """createDataFrame\(\s*java\.util\.Arrays\.asList""".r))
    assert(bad.isEmpty, s"agg_part view storage outside ViewTable: $bad")
  }

  test("only Overlays owns the _done marker and the auto-compaction bound") {
    val bad = offenders("io/Overlays.scala",
      Seq("\"_done\"".r, """spark\.graft\.autoCompactPendingBatches""".r))
    assert(bad.isEmpty, s"overlay commit or bound outside Overlays: $bad")
  }

  test("only GenTable.replace runs the staged whole-table swap") {
    val bad = offenders("io/GenTable.scala", Seq("""StagedSwap\.swap\(""".r))
    assert(bad.isEmpty, s"StagedSwap.swap called outside GenTable: $bad")
  }
}
