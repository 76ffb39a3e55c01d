package graft.pipeline

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.io.RunPaths
import graft.pipeline.Orchestrator.RunReport

/** Per-step report persistence + the consolidated multi-report merge
  * (generar_reporte_consolidado.py:1-132 and
  * steps/step7_generate_report.py:167-202): each pipeline stage leaves
  * a `pasoN_*.json` under the dated run's `reportes/` folder, and the
  * consolidator re-reads whatever subset exists from DISK — so a
  * partially-failed run still consolidates, and reports written by
  * other processes (or engines) merge in as long as they follow the
  * filename contract.
  *
  * All I/O goes through Hadoop FileSystem — the same code paths work
  * on `file://` and `s3a://`. Parsing uses json4s, which ships on the
  * Spark classpath.
  *
  * Deliberate divergence: the reference measures wall-clock per step
  * because each step is a separate process over materialized CSVs.
  * This engine fuses steps 3–5 into one lazy plan, so per-step timing
  * is not observable — steps 3 and 4 report `total_segundos: 0.0` with
  * an explanatory `nota`, and the fused run's wall-clock is charged to
  * step 5, where the plan actually executes.
  */
object Reports {

  /** Step file → display name, reference order
    * (generar_reporte_consolidado.py:40-47).
    */
  val StepFiles: Seq[(Int, String, String)] = Seq(
    (1, "paso1_scraper.json", "Scraping"),
    (2, "paso2_standardize.json", "Standardize Names"),
    (3, "paso3_remove_columns.json", "Remove Columns"),
    (4, "paso4_filter_stations.json", "Filter Stations"),
    (5, "paso5_create_views.json", "Create Views"),
    (6, "paso6_upload_to_db.json", "Upload to DB"))

  val ConsolidatedFile = "pipeline_completo.json"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def writeText(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val out = fs(spark, path).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readText(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(bytes.toString("UTF-8"))
      } finally in.close()
    }
  }

  private def jstr(s: String) = JString(s)
  private def round2(d: Double) = math.round(d * 100.0) / 100.0

  private val FusedNote =
    "etapa fusionada en el plan lazy de la etapa 5; sin tiempo propio"

  /** The step-3 report (steps/step3_remove_columns.py:178-212). */
  def step3Json(report: RunReport): JObject = {
    val withCols = report.removeStats.filter(_.colsRemoved.nonEmpty)
    val without = report.removeStats.filter(_.colsRemoved.isEmpty)
    JObject(
      "metadata" -> JObject(
        "etapa" -> jstr("remove_columns"),
        "columnas_objetivo" -> JArray(
          Schemas.flagColumns.map(jstr).toList)),
      "resumen" -> JObject(
        "total_archivos" -> JInt(report.removeStats.size),
        "procesados_exitosos" -> JInt(withCols.size),
        "sin_columnas_a_eliminar" -> JInt(without.size),
        "fallidos" -> JInt(0),
        "tasa_exito_porcentaje" -> JDouble(
          if (report.removeStats.isEmpty) 0.0 else 100.0),
        "total_columnas_eliminadas" -> JInt(
          report.removeStats.map(_.colsRemoved.size).sum)),
      "archivos_procesados" -> JArray(withCols.map { r =>
        JObject(
          "filename" -> jstr(r.table),
          "columnas_originales" -> JArray(r.colsOriginal.map(jstr).toList),
          "columnas_eliminadas" -> JArray(r.colsRemoved.map(jstr).toList),
          "columnas_finales" -> JArray(r.colsFinal.map(jstr).toList),
          "num_columnas_original" -> JInt(r.colsOriginal.size),
          "num_columnas_final" -> JInt(r.colsFinal.size))
      }.toList),
      "archivos_sin_columnas" -> JArray(without.map(r => jstr(r.table)).toList),
      "tiempos" -> JObject(
        "total_segundos" -> JDouble(0.0), "nota" -> jstr(FusedNote)))
  }

  /** The step-4 report (steps/step4_filter_stations.py:247-295). */
  def step4Json(report: RunReport): JObject =
    JObject(
      "metadata" -> JObject(
        "etapa" -> jstr("filter_stations"),
        "umbral_minimo" -> JInt(Steps.MinRecords.toInt)),
      "resumen" -> JObject(
        "archivos" -> JInt(report.filterStats.size),
        "total_estaciones_eliminadas" -> JInt(
          report.filterStats.map(_.stationsEliminated.toInt).sum),
        "total_registros_eliminados" -> JLong(report.rowsEliminated),
        "total_registros_null" -> JLong(
          report.filterStats.map(_.nullStationRows).sum),
        "porcentaje_registros_eliminados" -> JDouble(
          round2(report.eliminatedPct))),
      "top_eliminadas" -> JArray(report.topEliminated().map { s =>
        JObject("table" -> jstr(s.table),
          "stations_eliminated" -> JLong(s.stationsEliminated),
          "rows_eliminated" -> JLong(s.rowsEliminated))
      }.toList),
      "archivos_detalle" -> JArray(report.filterStats.map { s =>
        JObject("table" -> jstr(s.table),
          "rows_before" -> JLong(s.rowsBefore),
          "null_station_rows" -> JLong(s.nullStationRows),
          "rows_eliminated" -> JLong(s.rowsEliminated),
          "rows_after" -> JLong(s.rowsAfter),
          "stations_before" -> JLong(s.stationsBefore),
          "stations_eliminated" -> JLong(s.stationsEliminated),
          "stations_after" -> JLong(s.stationsAfter))
      }.toList),
      "tiempos" -> JObject(
        "total_segundos" -> JDouble(0.0), "nota" -> jstr(FusedNote)))

  /** The step-5 report (steps/step5_create_views.py report section);
    * carries the fused run's wall-clock.
    */
  def step5Json(report: RunReport, elapsedSeconds: Double): JObject =
    JObject(
      "metadata" -> JObject("etapa" -> jstr("create_views")),
      "resumen" -> JObject(
        "vistas_totales" -> JInt(report.views.size),
        "vistas_exitosas" -> JInt(report.successes.size),
        "vistas_fallidas" -> JInt(report.views.size - report.successes.size),
        "tasa_exito" -> JDouble(round2(report.successRate))),
      "vistas" -> JArray(report.views.map { v =>
        JObject(List(
          "view" -> jstr(v.name), "status" -> jstr(v.status),
          "rows" -> JLong(v.rows),
          "columns" -> JArray(v.columns.map(jstr).toList)) ++
          v.error.map(e => "error" -> jstr(e)).toList)
      }.toList),
      "tiempos" -> JObject(
        "total_segundos" -> JDouble(round2(elapsedSeconds))))

  /** Persist a run's per-step reports under the dated `reportes/`
    * folder — the inputs [[consolidate]] merges.
    */
  def writeStepReports(spark: SparkSession, base: String, date: LocalDate,
                       report: RunReport, elapsedSeconds: Double): Unit = {
    val dir = RunPaths.reportsDir(base, date)
    def emit(name: String, obj: JObject): Unit =
      writeText(spark, s"$dir/$name",
        JsonMethods.pretty(JsonMethods.render(obj)))
    emit("paso3_remove_columns.json", step3Json(report))
    emit("paso4_filter_stations.json", step4Json(report))
    emit("paso5_create_views.json", step5Json(report, elapsedSeconds))
  }

  private def durationOf(j: JValue): Option[Double] =
    j \ "tiempos" \ "total_segundos" match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case JLong(l) => Some(l.toDouble)
      case _ => None
    }

  /** Merge the NEWEST run's per-step reports into
    * `pipeline_completo.json` (generar_reporte_consolidado.py:33-103):
    * reads whichever `pasoN_*.json` files exist, sums their durations,
    * embeds each verbatim under `reportes_individuales.paso_N`, writes
    * the consolidated file into the same `reportes/` folder, and
    * returns its JSON. None when no dated run or no step reports
    * exist.
    */
  def consolidate(spark: SparkSession, base: String): Option[String] =
    RunPaths.listRuns(spark, base).headOption.flatMap { case (date, runDir) =>
      val dir = s"$runDir/reportes"
      val found = StepFiles.flatMap { case (n, file, name) =>
        readText(spark, s"$dir/$file").map { text =>
          (n, name, JsonMethods.parse(text))
        }
      }
      if (found.isEmpty) None
      else {
        val tiempoTotal = found.flatMap { case (_, _, j) => durationOf(j) }.sum
        val pasos = found.collect { case (n, name, j)
            if durationOf(j).isDefined =>
          JObject("paso" -> JInt(n), "nombre" -> jstr(name),
            "duracion_segundos" -> JDouble(durationOf(j).get),
            "exitoso" -> JBool(true))
        }
        val consolidated = JObject(
          "metadata" -> JObject(
            "pipeline" -> jstr("graft pipeline consolidado"),
            "fecha_ejecucion" -> jstr(RunPaths.runFolder(date))),
          "resumen_pipeline" -> JObject(
            "pasos_totales" -> JInt(StepFiles.size),
            "pasos_completados" -> JInt(found.size),
            "pasos_fallidos" -> JInt(StepFiles.size - found.size),
            "tiempo_total_segundos" -> JDouble(round2(tiempoTotal)),
            "tiempo_total_minutos" -> JDouble(round2(tiempoTotal / 60)),
            "tiempo_total_horas" -> JDouble(round2(tiempoTotal / 3600))),
          "pasos_ejecutados" -> JArray(pasos.toList),
          "reportes_individuales" -> JObject(found.map {
            case (n, _, j) => s"paso_$n" -> j
          }.toList),
          "estructura_final" -> JObject(
            "views" -> jstr("vistas consolidadas generadas"),
            "reportes" -> jstr(
              "reportes JSON de cada paso + reporte consolidado")))
        val json = JsonMethods.pretty(JsonMethods.render(consolidated))
        writeText(spark, s"$dir/$ConsolidatedFile", json)
        Some(json)
      }
    }
}
