package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{Memo, Sessions, SparkEntry}

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (plans/rNN/<query>_{before,after}
  * .txt). Lifecycle queries build their stored state as a side effect
  * of constructing the frame; the dump therefore runs the query
  * function exactly as Bench does, then formats the FINAL frame's plan.
  *
  * usage: PlanDump <outDir> <suffix> [queryCsv]
  *   writes <outDir>/<query>_<suffix>.txt for each selected query.
  *   A suffix ending in `_exec` EXECUTES the query first and dumps the
  *   FINAL adaptive plan (isFinalPlan=true) — the only way to see
  *   decisions AQE takes at runtime (join-strategy rewrites, coalesced
  *   exchanges), which the pre-execution plan hides.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val exec = suffix.endsWith("_exec")
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // same QueryExecution instance: after the action its adaptive
        // roots are final, so the explain below prints the real plan
        if (exec) df.queryExecution.toRdd.count()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      Memo.releaseUnheld(spark)
    }
    spark.stop()
  }
}
