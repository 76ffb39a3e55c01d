package graft.io

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FilterFileSystem,
  Path, RawLocalFileSystem}

import graft.SparkSpec

/** Local files under scheme `onebyte`, whose input streams return at
  * most one byte per `read(buf, off, len)` — a short read the
  * `InputStream` contract allows and remote stores produce.
  */
class OneByteReadFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("onebyte:///")
}) {
  override def getScheme: String = "onebyte"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = fs.open(f, bufferSize)
    new FSDataInputStream(new FSInputStream {
      override def read(): Int = in.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        in.read(b, off, len.min(1))
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = false
      override def close(): Unit = in.close()
    })
  }
}

class GenTableSpec extends SparkSpec {

  test("a multi-digit generation resolves through one-byte reads") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.onebyte.impl", classOf[OneByteReadFs].getName)
    val root = "onebyte://" + java.nio.file.Files
      .createTempDirectory("graft_gen_").toString + "/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // onebyte is not an atomic-rename scheme, so every bootstrap flips
    // the generation pointer: g0 … g12
    (0 to 12).foreach(_ =>
      GenTable.bootstrap(spark, root)(dir => fs.mkdirs(new Path(dir))))
    assert(GenTable.currentGen(spark, root).contains(12L))
    assert(GenTable.live(spark, root) == s"$root/g12")
    assert(fs.exists(new Path(s"$root/g12")))
  }
}
