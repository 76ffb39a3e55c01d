package graft.pipeline

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.Par
import graft.io.Csv
import graft.model.{Catalogs, TableCatalog}

/** Pipeline orchestration mirroring pipeline_orchestrator.py:71-315 —
  * stages 3→5 composed as one lazy lineage per view (no intermediate
  * CSV materialization; the reference re-reads files between every
  * step), with per-stage JSON-able metrics.
  *
  * Step 1 (Playwright scraping) is external acquisition, not a Spark
  * operator (SURVEY.md §2.1 S3) — the orchestrator starts at the file
  * layer. Step 2 (renames) is absorbed by the name→path catalog
  * ([[graft.model.TableCatalog.pathFor]]). Step 6 (JDBC) is
  * [[graft.io.Jdbc]], pluggable as the sink. Step 7 (report merge) is
  * [[Reports]]. Dated-run layout/cleanup is [[graft.io.RunPaths]].
  */
object Orchestrator {

  /** Entity-catalog source mapping
    * (steps/step5_create_views.py:564-577 + cuenca branch :550-562).
    */
  val entitySources: Seq[(String, String, String, String)] = Seq(
    ("num_glaciares_por_cuenca", "Cuencas", "Cuenca Hidrográfica",
      "Cuenca hidrográfica - Monitoreo de glaciares y balance hídrico regional"),
    ("coliformes_fecales_en_matriz_biologica", "Estaciones POAL",
      "Estación Costera - Coliformes Biológicos",
      "Estación de monitoreo costero - Análisis de coliformes fecales en organismos marinos"),
    ("coliformes_fecales_en_matriz_acuosa", "Estaciones POAL",
      "Estación Costera - Coliformes Acuosos",
      "Estación de monitoreo costero - Análisis de coliformes fecales en agua de mar"),
    ("metales_totales_en_la_matriz_sedimentaria", "Estaciones POAL",
      "Estación Costera - Metales Sedimentos",
      "Estación de monitoreo costero - Análisis de metales pesados en sedimentos marinos"),
    ("metales_disueltos_en_la_matriz_acuosa", "Estaciones POAL",
      "Estación Costera - Metales Disueltos",
      "Estación de monitoreo costero - Análisis de metales disueltos en agua de mar"),
    ("caudal_medio_de_aguas_corrientes", "Estaciones Fluviométricas",
      "Estación Fluviométrica",
      "Estación de medición de ríos - Monitoreo de caudal y flujo de agua"),
    ("cantidad_de_agua_caida", "Estaciones meteorológicas DMC",
      "Estación Meteorológica",
      "Estación meteorológica - Medición de lluvias y precipitaciones"),
    ("evaporacion_real_por_estacion", "Estación", "Estación de Evaporación",
      "Estación de evaporación - Medición de pérdida de agua por evaporación"),
    ("volumen_del_embalse_por_embalse", "Embalse", "Embalse",
      "Embalse o represa - Monitoreo de almacenamiento de agua"),
    ("altura_nieve_equivalente_en_agua", "Estaciones nivométricas",
      "Estación Nivométrica",
      "Estación de medición de nieve - Monitoreo de acumulación de nieve en cordillera"),
    ("nivel_estatico_de_aguas_subterraneas", "Estaciones Pozo",
      "Pozo de Monitoreo",
      "Pozo de monitoreo - Medición de nivel de aguas subterráneas (napas)"),
    ("temp_superficial_del_mar", "Estación ambiental SHOA",
      "Estación Oceanográfica",
      "Estación oceanográfica - Medición de temperatura del mar"),
    ("nivel_medio_del_mar", "Estación ambiental SHOA",
      "Estación Oceanográfica",
      "Estación oceanográfica - Medición de nivel del mar"))

  final case class ViewResult(name: String, status: String, rows: Long,
                              columns: Seq[String],
                              error: Option[String] = None)

  /** Consolidated run report — the step-7 merge
    * (steps/step7_generate_report.py:167-202) plus the step-4 filter
    * metrics the reference reports per file
    * (steps/step4_filter_stations.py:247-295) and the step-3
    * columns-removed detail (steps/step3_remove_columns.py:178-212).
    */
  final case class RunReport(views: Seq[ViewResult],
                             filterStats: Seq[Steps.FilterStats] = Nil,
                             removeStats: Seq[Steps.RemoveStats] = Nil) {
    def successes: Seq[ViewResult] = views.filter(_.status == "success")
    def successRate: Double =
      if (views.isEmpty) 0.0 else successes.size.toDouble / views.size * 100

    /** Top-n files by eliminated stations, desc, name tiebreak
      * (steps/step4_filter_stations.py:291-295).
      */
    def topEliminated(n: Int = 5): Seq[Steps.FilterStats] =
      filterStats.sortBy(s => (-s.stationsEliminated, s.table)).take(n)

    /** Step-4 totals over every filtered file
      * (steps/step4_filter_stations.py:247-295).
      */
    def rowsBefore: Long = filterStats.map(_.rowsBefore).sum
    def rowsEliminated: Long = filterStats.map(_.rowsEliminated).sum
    def eliminatedPct: Double =
      if (rowsBefore == 0) 0.0 else rowsEliminated.toDouble / rowsBefore * 100
  }

  /** Run stages 3–5 over a loader (table name → raw DataFrame),
    * writing each view as CSV under `outDir/views`. Every loaded table
    * takes step 3 and, when it has a station column, step 4 before
    * consolidation, as the pipeline order prescribes (step 4 runs
    * before step 5); both report per file.
    *
    * `dictDir` (the reference's dictionary/ folder) enables the
    * dictionary-driven pieces: the `v_estaciones` station catalog (the
    * 33rd view, steps/step5_create_views.py:503-548) and the
    * data-driven station-column probe list.
    *
    * Throughput design (87 files / 33 views on one session):
    * - cleaned members are persisted and memoized — each member feeds
    *   the spine, label maps, and pivot (3–4 plan subtrees), and
    *   re-scanning CSV per subtree dominated the wall-clock;
    * - each view is written once, and its row count is observed on
    *   that write rather than taken by a second action;
    * - all views (consolidated, simple, both catalogs) are one task
    *   list run by one [[graft.Par.map]] of width `parallelism`: the
    *   per-view jobs are small, so `parallelism` views in flight keep
    *   the executor pool busy instead of paying 33 × sequential job
    *   latency, and with no barrier between view kinds a thread freed
    *   by a short view takes the next at once — the 13-member entity
    *   catalog overlaps the last views. A member shared by several
    *   views is loaded once, by whichever view asks first.
    *
    * Failure semantics mirror the reference: any view task error is
    * captured as a status=error row and the run continues; persisted
    * frames are released in a finally block.
    */
  def run(spark: SparkSession, loadRaw: String => Option[DataFrame],
          outDir: String, singleFileCsv: Boolean = false,
          parallelism: Int = 8, dictDir: Option[String] = None): RunReport = {
    val catalog = dictDir.map(Catalogs.load)
    // reference probe order: the table's mapped station column first,
    // then the registry in dictionary order (step4:42-66); without a
    // dictionary, the transcribed fallback list
    def knownFor(name: String): Seq[String] = catalog
      .map(_.stationProbeOrder(name))
      .getOrElse(Schemas.stationColumns)
    val statsMap =
      new scala.collection.concurrent.TrieMap[String, Steps.FilterStats]
    val removeMap =
      new scala.collection.concurrent.TrieMap[String, Steps.RemoveStats]
    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

    /** One table's cleaned member, loaded once, on first use.
      * `computeIfAbsent` makes exactly one holder per table
      * (`TrieMap.getOrElseUpdate` may run its thunk twice and orphan a
      * persisted frame); the load — header discovery and the step-4
      * aggregate, both Spark actions — runs outside the mapping
      * function, where it would block every table hashed to the same
      * bin. A load that throws is tried again by the next view.
      */
    final class Member(name: String) {
      lazy val df: Option[DataFrame] = loadRaw(name).map { raw =>
        val (noFlags, rmStats) = Steps.removeFlagColumnsWithStats(raw, name)
        removeMap.put(name, rmStats)
        val (kept, _, stats) = Steps.filterSparseStations(noFlags,
          known = knownFor(name), table = name)
        stats.foreach(statsMap.put(name, _))
        val cleaned = kept.persist()
        persisted.add(cleaned)
        cleaned
      }
    }
    val members = new java.util.concurrent.ConcurrentHashMap[String, Member]
    val load: String => Option[DataFrame] =
      name => members.computeIfAbsent(name, new Member(_)).df

    /** One view → CSV + counted result, errors captured. The row count
      * is observed on the write itself, so the view's plan runs once.
      * Single-file mode writes exactly `{view}.csv` like the reference
      * (steps/step5_create_views.py:416-423); multi-part mode writes a
      * directory per view (the scale path). The Try wraps the WHOLE
      * task — plan building AND the write, where Spark failures
      * actually surface — so one bad view degrades to a status=error
      * row instead of aborting the run.
      */
    def emit(name: String, built: => Option[DataFrame]): ViewResult =
      Try {
        built.map { df =>
          val rows = Observation()
          val target =
            if (singleFileCsv) s"$outDir/views/$name.csv"
            else s"$outDir/views/$name"
          Csv.write(df.observe(rows, count(lit(1)).as("rows")), target,
            singleFileCsv)
          ViewResult(name, "success", rows.get("rows").asInstanceOf[Long],
            df.columns.toSeq)
        }
      } match {
        case Success(Some(r)) => r
        case Success(None) => ViewResult(name, "error", 0L, Nil)
        case Failure(e) =>
          ViewResult(name, "error", 0L, Nil,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }

    // one task per view, in report order; the catalogs close the list:
    // v_estaciones from the dictionary (exact reference column
    // order), v_entidades_agua from the CLEANED members — the
    // reference rewrites raw/ in place at steps 3-4, so its step-5
    // entity extraction only ever sees filtered data; building from
    // loadRaw would leak sparse-eliminated stations into the catalog
    val views: Seq[(String, () => Option[DataFrame])] =
      (Views.airViews ++ Views.waterConsolidatedViews).map(v =>
        v.name -> (() => Consolidate.consolidate(v, load))) ++
        Views.waterSimpleTables.map(t =>
          s"v_$t" -> (() => load(t).map(Consolidate.simpleWaterView))) ++
        dictDir.toSeq.map(d =>
          "v_estaciones" -> (() => Some(Catalogs.stationCatalog(spark, d)))) :+
        ("v_entidades_agua" -> (() => Steps.entityCatalog(
          entitySources.flatMap { case (table, colName, tipo, desc) =>
            load(table).map(df => (df, colName, tipo, desc))
          })))

    try {
      RunReport(
        Par.map(views, parallelism) { case (name, build) =>
          emit(name, build())
        },
        statsMap.values.toSeq.sortBy(_.table),
        removeMap.values.toSeq.sortBy(_.table))
    } finally persisted.forEach(_.unpersist(blocking = false))
  }

  /** Catalog-driven entry: table names resolve to CSV paths under
    * `rawDir` via the dictionary's standardized names (S8 as
    * metadata — the reference renames physical files; here the rename
    * IS the catalog lookup).
    */
  def runWithCatalog(spark: SparkSession, catalog: TableCatalog,
                     rawDir: String, outDir: String, dictDir: String,
                     singleFileCsv: Boolean = false,
                     parallelism: Int = 8): RunReport = {
    val loader: String => Option[DataFrame] = name => {
      val path = catalog.pathFor(rawDir, name)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        Some(Csv.readLongTable(spark, path))
      else None
    }
    run(spark, loader, outDir, singleFileCsv, parallelism, Some(dictDir))
  }
}
