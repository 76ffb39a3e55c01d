package graft
import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** `{"<query>":"<oracle sql>",…}`, escaped by json4s — a tab, CR or
    * other control char in an oracle's SQL must not make the
    * correctness check's `json.load` (scripts/check.py) fail and
    * silently zero the round's correctness.
    */
  private[graft] def oracleJson(entries: Iterable[(String, String)]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(entries.map { case (k, v) => k -> JString(v) }.toList)))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dump (and emit
    // oracle rows for) just those, for fast single-query iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // queries that persist internally (minhash/simhash pairs) must
        // not leave cached plans or dead checkpoint blocks pressuring
        // later queries; Memo-held frames are spared
        Memo.releaseUnheld(spark)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter(kv => keep(kv._1))))
    spark.stop()
  }
}
