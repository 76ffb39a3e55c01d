package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session path: every main sizes and builds its session through
  * [[Sessions.local]], so no other source may build a session or read
  * the core-count variable itself.
  */
class SessionsSpec extends AnyFunSuite {

  test("only Sessions.scala builds a SparkSession or reads SPARK_GRAFT_CPUS") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val banned = Seq("""SparkSession\s*\.\s*builder\s*\(""".r,
      "\"SPARK_GRAFT_CPUS\"".r)
    val stream = Files.walk(root)
    val offenders = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Sessions.scala")
      .filter { p =>
        val text = Files.readString(p)
        banned.exists(_.findFirstIn(text).isDefined)
      }.map(_.toString).toSeq.sorted
    finally stream.close()
    assert(offenders.isEmpty, s"second session path in: $offenders")
  }
}
