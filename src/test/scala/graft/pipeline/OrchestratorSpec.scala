package graft.pipeline

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.json4s.JObject
import org.json4s.jackson.JsonMethods

import graft.SparkSpec
import graft.io.Csv

/** End-to-end pipeline golden test: INE-shaped fixture CSVs (UTF-8 BOM,
  * accents, sparse stations, a period known only to the second member)
  * through Orchestrator.run, asserting on the written view CSVs —
  * the same drive as the reference's stages 3→5 over `raw/` → `views/`.
  */
class OrchestratorSpec extends SparkSpec {

  private lazy val rawDir: Path = {
    val dir = Files.createTempDirectory("graft_ine_raw")
    def write(name: String, content: String): Unit =
      Files.write(dir.resolve(s"$name.csv"),
        ("﻿" + content).getBytes("UTF-8"))
    write("temp_max_absoluta",
      """DTI_CL_MES,Mes,DTI_CL_ESTACIONES_METEO,Estaciones meteorológicas DMC,Value,Flag Codes,Flags
        |2021-01,enero 2021,S1,Santiago,30.0,e,est
        |2021-01,enero 2021,S2,Valparaíso,25.0,e,est
        |2021-02,febrero 2021,S1,Santiago,31.0,e,est
        |2021-02,febrero 2021,S2,Valparaíso,26.0,e,est
        |2021-03,marzo 2021,S1,Santiago,29.0,e,est
        |2021-03,marzo 2021,S2,Valparaíso,24.0,e,est
        |2021-01,enero 2021,SX,Sparse,,e,est
        |2021-02,febrero 2021,SX,Sparse,,e,est""".stripMargin)
    write("temp_min_absoluta",
      """DTI_CL_MES,Mes,DTI_CL_ESTACIONES_METEO,Estaciones meteorológicas DMC,Value,Flag Codes,Flags
        |2021-01,enero 2021,S1,Santiago,10.0,e,est
        |2021-02,febrero 2021,S1,Santiago,11.0,e,est
        |2021-04,abril 2021,S1,Santiago,9.0,e,est""".stripMargin)
    write("volumen_del_embalse_por_embalse",
      """DTI_CL_MES,Mes,DTI_CL_T002A,Embalse,Value,Flag Codes,Flags
        |2021-01,enero 2021,E1,Embalse Uno,100.5,e,est""".stripMargin)
    dir
  }

  private def load: String => Option[DataFrame] = { name =>
    val p = rawDir.resolve(s"$name.csv")
    if (Files.exists(p)) Some(Csv.read(spark, p.toString)) else None
  }

  /** A step report as written to disk, parsed back. */
  private def parsed(step: JObject): JsonNode =
    new ObjectMapper().readTree(JsonMethods.compact(JsonMethods.render(step)))

  test("orchestrator produces views + report over fixture CSVs") {
    val outDir = Files.createTempDirectory("graft_ine_out").toString
    val report = Orchestrator.run(spark, load, outDir, singleFileCsv = true)
    val byName = report.views.map(v => v.name -> v).toMap

    // consolidated air view present with the two member columns
    val vt = byName("v_temperatura")
    assert(vt.status == "success")
    assert(vt.columns == Seq("mes", "estacion", "temp_max_absoluta",
      "temp_min_absoluta"))
    // spine: 3 periods × S1,S2 from member 1 + 2021-04×S1 from member 2;
    // SX eliminated by the sparse filter (0 non-null values)
    assert(vt.rows == 7, s"got ${vt.rows}")

    // single-file mode writes exactly {view}.csv (reference layout),
    // re-readable, carrying the NULL-label quirk
    assert(Files.isRegularFile(
      java.nio.file.Paths.get(s"$outDir/views/v_temperatura.csv")))
    val back = Csv.read(spark, s"$outDir/views/v_temperatura.csv")
    val abril = back.filter(back("temp_min_absoluta") === 9.0).collect()
    assert(abril.length == 1 && abril(0).isNullAt(0),
      "period known only to member 2 → NULL mes label")

    // simple water view: flags + DTI_ dropped
    assert(byName("v_volumen_del_embalse_por_embalse").columns ==
      Seq("Mes", "Embalse", "Value"))

    // missing members reported as error, run continues
    assert(byName("v_mp25_anual").status == "error")

    // report JSON is parseable shape
    val vistas = parsed(Reports.step5Json(report, 0.0)).at("/vistas")
    assert(vistas.isArray && vistas.size == report.views.size)
  }

  test("dictionary run: v_estaciones emitted, detailed step-4/7 report") {
    val outDir = Files.createTempDirectory("graft_ine_out2").toString
    val report = Orchestrator.run(spark, load, outDir,
      singleFileCsv = true, dictDir = Some("/root/reference/dictionary"),
    )
    val byName = report.views.map(v => v.name -> v).toMap

    // the 33rd view: station catalog in exact reference column order
    val est = byName("v_estaciones")
    assert(est.status == "success" && est.rows == 98)
    assert(est.columns == Seq("nombre", "latitud", "longitud",
      "numero_region", "nombre_region", "descripcion"))
    // with the dictionary, ALL 33 reference views are attempted:
    // 19 air + 2 water consolidated + 10 simple + 2 catalogs
    assert(report.views.size == 33, s"got ${report.views.size}")

    // step-4 metrics for the fixture's temp_max_absoluta: 8 rows, SX
    // has 2 rows but 0 non-null values → station eliminated
    val st = report.filterStats.find(_.table == "temp_max_absoluta").get
    assert(st.rowsBefore == 8 && st.rowsEliminated == 2)
    assert(st.stationsBefore == 3 && st.stationsEliminated == 1 &&
      st.stationsAfter == 2)
    assert(st.nullStationRows == 0)

    // consolidated step-7 merge carries the reference's summary fields
    val step4 = parsed(Reports.step4Json(report))
    assert(parsed(Reports.step5Json(report, 0.0))
      .at("/resumen/vistas_totales").asInt == 33)
    assert(step4.at("/metadata/umbral_minimo").asInt == 3)
    assert(step4.at("/top_eliminadas").isArray)
    assert(report.successRate > 0 && report.successRate < 100)
    assert(report.topEliminated().head.table == "temp_max_absoluta")
  }

  test("per-step reports + consolidated multi-report merge") {
    import graft.io.RunPaths
    val base = Files.createTempDirectory("graft_reports_e2e").toString
    val today = java.time.LocalDate.of(2026, 8, 12)
    val report = Orchestrator.run(spark, load,
      RunPaths.runDir(base, today), singleFileCsv = true)

    // step-3 detail collected schema-only: the fixture files all carry
    // "Flag Codes"/"Flags"
    assert(report.removeStats.nonEmpty)
    val rm = report.removeStats.find(_.table == "temp_max_absoluta").get
    assert(rm.colsRemoved == Seq("Flag Codes", "Flags"))
    assert(rm.colsFinal.size == rm.colsOriginal.size - 2)
    assert(parsed(Reports.step3Json(report)).at("/resumen/total_archivos")
      .asInt == report.removeStats.size)

    Reports.writeStepReports(spark, base, today, report,
      elapsedSeconds = 12.34)
    val consolidated = Reports.consolidate(spark, base)
    assert(consolidated.isDefined)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(consolidated.get)
    // 3 of the 6 reference steps present (scrape/standardize/db absent)
    assert(tree.at("/resumen_pipeline/pasos_completados").asInt == 3)
    assert(tree.at("/resumen_pipeline/pasos_fallidos").asInt == 3)
    assert(tree.at("/resumen_pipeline/tiempo_total_segundos")
      .asDouble == 12.34)
    assert(tree.at("/reportes_individuales/paso_3/resumen/total_columnas_eliminadas")
      .asInt == report.removeStats.map(_.colsRemoved.size).sum)
    assert(tree.at("/reportes_individuales/paso_4/resumen/total_registros_eliminados")
      .asInt == report.filterStats.map(_.rowsEliminated).sum)
    assert(tree.at("/reportes_individuales/paso_5/resumen/vistas_totales")
      .asInt == report.views.size)
    // the consolidated file itself landed in reportes/
    assert(Files.isRegularFile(java.nio.file.Paths.get(
      RunPaths.reportsDir(base, today), Reports.ConsolidatedFile)))
    // re-running the consolidation is idempotent (reads from disk)
    assert(Reports.consolidate(spark, base).isDefined)
  }

  test("runWithCatalog resolves tables via the dictionary name mapping") {
    val outDir = Files.createTempDirectory("graft_ine_out4").toString
    val cat = graft.model.Catalogs.load("/root/reference/dictionary")
    val report = Orchestrator.runWithCatalog(spark, cat,
      rawDir.toString, outDir, "/root/reference/dictionary",
      singleFileCsv = true)
    val byName = report.views.map(v => v.name -> v).toMap
    // the fixture files carry standardized names → found through
    // catalog.pathFor; absent members → error rows, run completes
    assert(byName("v_temperatura").status == "success")
    assert(byName("v_temperatura").rows == 7)
    assert(byName("v_estaciones").rows == 98)
    assert(report.views.size == 33)
  }

  test("same-day re-run: clean + re-emit under the dated run layout") {
    import graft.io.RunPaths
    val base = Files.createTempDirectory("graft_runs_e2e").toString
    val today = java.time.LocalDate.of(2026, 8, 12)

    def runOnce(): Orchestrator.RunReport = {
      RunPaths.cleanRun(spark, base, today) // limpiar_ejecucion_previa
      Orchestrator.run(spark, load, RunPaths.runDir(base, today),
        singleFileCsv = true)
    }
    val first = runOnce()
    val marker = java.nio.file.Paths.get(
      RunPaths.runDir(base, today), "views", "stale_leftover.csv")
    Files.write(marker, "stale".getBytes)
    val second = runOnce()
    // the re-run wiped the day's folder: no stale file, views re-emitted
    assert(!Files.exists(marker), "same-day cleanup must remove leftovers")
    assert(Files.isRegularFile(java.nio.file.Paths.get(
      RunPaths.runDir(base, today), "views", "v_temperatura.csv")))
    assert(second.views.map(_.name).toSet == first.views.map(_.name).toSet)
    assert(RunPaths.latestRun(spark, base).get
      .endsWith(RunPaths.runFolder(today)))
  }

  test("a failing view is captured as error and the run continues") {
    val outDir = Files.createTempDirectory("graft_ine_out3").toString
    val poison: String => Option[DataFrame] = {
      case "temp_max_absoluta" => throw new RuntimeException("boom")
      case name => load(name)
    }
    val report = Orchestrator.run(spark, poison, outDir,
      singleFileCsv = true)
    val byName = report.views.map(v => v.name -> v).toMap
    assert(byName("v_temperatura").status == "error")
    assert(byName("v_temperatura").error.exists(_.contains("boom")))
    // unrelated views still succeed
    assert(byName("v_volumen_del_embalse_por_embalse").status == "success")
  }

  test("an ACTION-time failure (during the view write) is also captured") {
    import org.apache.spark.sql.functions.expr
    val outDir = Files.createTempDirectory("graft_ine_out5").toString
    // plan builds fine; the error fires only when tasks execute —
    // where Spark failures actually surface
    val poison: String => Option[DataFrame] = {
      case "temp_max_absoluta" => load("temp_max_absoluta")
        .map(_.withColumn("Value",
          expr("raise_error('task boom\\nsecond line')")))
      case name => load(name)
    }
    val report = Orchestrator.run(spark, poison, outDir,
      singleFileCsv = true)
    val byName = report.views.map(v => v.name -> v).toMap
    assert(byName("v_temperatura").status == "error",
      "runtime task failures must degrade to an error row, not abort")
    assert(byName("v_volumen_del_embalse_por_embalse").status == "success")
    // the step-5 report stays VALID JSON even with a multi-line
    // Spark error message embedded
    val error = byName("v_temperatura").error.get
    assert(error.contains("\n"), "fixture must embed a multi-line error")
    val rows = parsed(Reports.step5Json(report, 0.0)).at("/vistas")
    assert((0 until rows.size).map(rows.get).exists(r =>
      r.at("/view").asText == "v_temperatura" &&
        r.at("/error").asText == error))
  }

  test("a default run reports every view's written rows and every table's step 4") {
    val outDir = Files.createTempDirectory("graft_ine_default").toString
    val report = Orchestrator.run(spark, load, outDir, singleFileCsv = true,
      parallelism = 4)
    val ok = report.successes
    assert(ok.nonEmpty)
    // the row count observed on the write is the file's data lines
    ok.foreach { v =>
      val lines = Files.readAllLines(
        java.nio.file.Paths.get(s"$outDir/views/${v.name}.csv")).size
      assert(v.rows == lines - 1, s"${v.name}: ${v.rows} rows, $lines lines")
    }
    // every loaded table with a station column carries its step-4 report
    val loaded = report.removeStats.map(_.table)
    assert(loaded.nonEmpty)
    val withStation = loaded.filter(t =>
      Schemas.findStationColumn(load(t).get).isDefined)
    assert(report.filterStats.map(_.table) == withStation.sorted)
  }

  test("one-thread and four-thread schedules give the same report") {
    def runWith(parallelism: Int): Orchestrator.RunReport =
      Orchestrator.run(spark, load,
        Files.createTempDirectory(s"graft_ine_par$parallelism").toString,
        singleFileCsv = true, parallelism = parallelism)
    def shape(r: Orchestrator.RunReport) =
      r.views.map(v => (v.name, v.status, v.rows, v.columns))
    val serial = runWith(1)
    val parallel = runWith(4)
    assert(shape(parallel) == shape(serial))
    assert(parallel.filterStats == serial.filterStats)
    assert(parallel.removeStats == serial.removeStats)
    // report order is task order, whichever view finishes first
    assert(parallel.views.map(_.name) == Views.all.map(_.name) ++
      Views.waterSimpleTables.map(t => s"v_$t") :+ "v_entidades_agua")
  }
}
