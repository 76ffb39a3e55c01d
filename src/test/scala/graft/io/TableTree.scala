package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

/** The on-disk tree of a stored table, for the layout specs. Part-file
  * names are masked (they carry a write uuid); `.crc` checksum side
  * files are dropped (a local-filesystem artifact); the `_applied`,
  * `_done`, `_folded` and `_gen` marks render with their value and
  * `_schema` with its fields (`?` = nullable); every other file (a
  * `_bloom` sidecar, `_SUCCESS`) renders by name only.
  */
object TableTree {

  private val PartFile =
    """part-\d{5}-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}[.-]c\d{3}"""

  private val Marks = Set("_applied", "_done", "_folded", "_gen")

  private def schemaOf(json: String): String =
    DataType.fromJson(json).asInstanceOf[StructType].fields
      .map(f => s"${f.name}:${f.dataType.simpleString}" +
        (if (f.nullable) "?" else ""))
      .mkString(",")

  /** Sorted relative tree under `root`: files and empty dirs (`dir/`),
    * part names masked, marks and schema rendered. `root` must be the
    * only entry of its parent dir — nothing may be left beside it
    * (swap stage/old dirs).
    */
  def apply(root: String): Seq[String] = {
    val dir = Paths.get(new org.apache.hadoop.fs.Path(root).toUri.getPath)
    val siblings = Files.list(dir.getParent)
    try assert(siblings.iterator().asScala.map(_.getFileName.toString)
      .toSeq == Seq(dir.getFileName.toString), s"leftovers beside $root")
    finally siblings.close()
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir)
      .filter(p => !Files.isDirectory(p) || Files.list(p).count() == 0)
      .map { p =>
        val rel = dir.relativize(p).toString
        val name = p.getFileName.toString
        if (Files.isDirectory(p)) rel + "/"
        else if (Marks(name)) s"$rel=${Files.readString(p).trim}"
        else if (name == "_schema") s"$rel=${schemaOf(Files.readString(p))}"
        else rel.replaceAll(PartFile, "part-*")
      }
      .filterNot(_.endsWith(".crc"))
      .toSeq.distinct.sorted
    finally walk.close()
  }
}
