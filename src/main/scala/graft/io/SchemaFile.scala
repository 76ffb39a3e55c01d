package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Out-of-band schema for maintained parquet tables whose partition
  * set can legitimately shrink to NOTHING (a [[ViewTable]] refresh, or
  * a [[graft.operators.MaintainedComponents]] label fold, that
  * deletes every surviving row): with zero parquet files left, a
  * schema-INFERENCE read throws `Unable to infer schema` instead of
  * returning the empty table. The `_schema` file (Spark's own
  * StructType JSON, `_`-prefixed so data readers never list it) keeps
  * reads total — and doubles as a listing-free fast path, like the
  * reference's declared CSV schemas (`config.py` station dictionaries)
  * versus per-run inference.
  */
object SchemaFile {

  private def p(path: String) = new Path(path, "_schema")

  def write(spark: SparkSession, dir: String, schema: StructType): Unit = {
    val fs = p(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p(dir), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** The parquet table at `dir` under its pinned schema, partition
    * columns included: an empty frame, not an error, when no data file
    * is left. Falls back to inference for tables written before the
    * schema file existed.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val fs = p(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p(dir))) spark.read.parquet(dir)
    else {
      val in = fs.open(p(dir))
      val json =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
        .parquet(dir)
    }
  }
}
