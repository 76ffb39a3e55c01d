package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.io.Csv
import graft.pipeline._

/** Reference-workload benchmark: 87 synthetic INE-shaped CSVs through
  * stages 3→5 (flag removal → sparse-station filter → all 33 views).
  * Comparable to BASELINE.md's step timings (step 3 <30 s, step 2
  * <10 s for the same 87 files; scraping excluded — it's network
  * acquisition, not engine work). Prints one JSON line.
  */
object PipelineBench {

  private def genFixtures(dir: Path, rowsPerFile: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    val allTables = Views.all.flatMap(_.tables) ++ Views.waterSimpleTables
    allTables.distinct.map { table =>
      val view = Views.all.find(_.tables.contains(table))
      val (pcol, plabel, scol, slabel) = view match {
        case Some(v) if v.periodCol.contains("ANO") =>
          (v.periodCol, "Año", v.stationCol, v.stationName)
        case Some(v) => (v.periodCol, "Mes", v.stationCol, v.stationName)
        case None => ("DTI_CL_MES", "Mes", "DTI_CL_T013EST_POAL", "Estaciones POAL")
      }
      val sb = new StringBuilder
      sb.append(s"﻿$pcol,$plabel,$scol,$slabel,Value,Flag Codes,Flags\n")
      (0 until rowsPerFile).foreach { i =>
        val period = f"20${10 + i % 12}%02d-${1 + i % 12}%02d"
        val station = s"ST${i % 40}"
        val v = if (rnd.nextDouble() < 0.1) "" else f"${rnd.nextDouble() * 100}%.2f"
        sb.append(s"$period,p $period,$station,Estación $station,$v,e,est\n")
      }
      Files.write(dir.resolve(s"$table.csv"), sb.toString.getBytes("UTF-8"))
      table
    }
  }

  def main(args: Array[String]): Unit = {
    val rowsPerFile = sys.env.getOrElse("GRAFT_PIPE_ROWS", "2000").toInt
    val spark = Sessions.local()
    val raw = Files.createTempDirectory("graft_pipe_raw")
    val out = Files.createTempDirectory("graft_pipe_out").toString
    val tables = genFixtures(raw, rowsPerFile)

    val load: String => Option[DataFrame] = { name =>
      val p = raw.resolve(s"$name.csv")
      if (Files.exists(p)) Some(Csv.readLongTable(spark, p.toString)) else None
    }

    // without the dictionary the run skips v_estaciones (32 views)
    val dictDir = Some(queries.CatalogQueries.DictDir)
      .filter(d => Files.isDirectory(java.nio.file.Paths.get(d)))
    val t0 = System.nanoTime()
    val report = Orchestrator.run(spark, load, out,
      parallelism = sys.env.getOrElse("GRAFT_PIPE_PAR", "8").toInt,
      dictDir = dictDir)
    val secs = (System.nanoTime() - t0) / 1e9
    val ok = report.views.count(_.status == "success")
    val rows = report.views.map(_.rows).sum
    println(s"""{"metric":"pipeline_87_files","value":$secs,"unit":"sec",""" +
      s""""files":${tables.size},"views_attempted":${report.views.size},""" +
      s""""views_ok":$ok,"view_rows":$rows,"rows_per_file":$rowsPerFile}""")
    spark.stop()
  }
}
