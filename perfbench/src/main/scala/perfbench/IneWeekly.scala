package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.{Csv, Jdbc}
import graft.model.Catalogs
import graft.pipeline.{Consolidate, Orchestrator, Steps, Views}

/** `ine_weekly`: the paper's weekly batch at reference size. A pass is
  * one whole run: [[Orchestrator.run]] over the 87 generated CSVs
  * (steps 3→5, 33 views written as single CSV files, catalog-driven
  * station probe), then step 6 for every view — read the view back,
  * [[Steps.coerceAllNumeric]], [[Jdbc.write]] into in-memory Derby.
  * Ops: 33 view builds (not timed one by one; the Orchestrator runs
  * them together) and 33 timed view loads.
  */
final class IneWeekly(args: Main.Args) extends Workload {
  private val root = args.work.resolve("ine")
  private var raw: Path = _
  private var dict: Path = _
  private var expected: Map[String, Long] = Map.empty
  private var report: Option[Orchestrator.RunReport] = None
  private var out: Path = _
  private var viewsFailed = 0L
  private var rowsLoaded = 0L

  private val jdbc = Jdbc.JdbcConfig(
    url = "jdbc:derby:memory:perfbench;create=true", user = "",
    password = "", driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    numPartitions = Main.nproc)

  private def loader(spark: SparkSession): String => Option[DataFrame] =
    name => {
      val p = raw.resolve(s"$name.csv")
      if (Files.exists(p)) Some(Csv.readLongTable(spark, p.toString)) else None
    }

  /** Generates and writes the inputs; nothing is warmed up. The batch
    * runs as cold as a weekly job in a fresh JVM does.
    */
  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = root.resolve(s"setup$rep")
    val drop = IneData.generate(args.seed)
    raw = dir.resolve("raw")
    dict = dir.resolve("dictionary")
    IneData.writeCsvs(drop, raw)
    IneData.writeDictionary(dict, args.seed)
    expected = IneData.expectedViewRows(drop)
  }

  private def load(spark: SparkSession, outDir: Path, view: String,
                   trace: Spans): Unit = {
    val df = trace.span("io.Csv", "read")(Csv.readLongTable(spark,
      outDir.resolve("views").resolve(s"$view.csv").toString))
    val typed = trace.span("pipeline.Steps")(Steps.coerceAllNumeric(df))
    trace.span("io.Jdbc")(Jdbc.write(typed, view, jdbc))
  }

  def pass(spark: SparkSession, trace: Trace, ops: Ops, n: Int): Unit = {
    out = root.resolve(s"out$n")
    val r = trace.span("pipeline.Orchestrator")(scala.util.Try(
      Orchestrator.run(spark, loader(spark), out.toString,
        singleFileCsv = true, parallelism = Main.nproc,
        dictDir = Some(dict.toString))))
    report = r.toOption
    r match {
      case scala.util.Success(rep) =>
        rep.views.foreach { v =>
          ops.attempted += 1
          if (v.status != "success") {
            viewsFailed += 1
            ops.fail(v.name, v.error.getOrElse(v.status))
          }
        }
      case scala.util.Failure(e) =>
        expected.keys.foreach { v =>
          ops.attempted += 1
          viewsFailed += 1
          ops.fail(v, String.valueOf(e.getMessage))
        }
    }
    report.toSeq.flatMap(_.successes).foreach { v =>
      ops.time(s"load ${v.name}")(load(spark, out, v.name, trace))
        .foreach(_ => rowsLoaded += v.rows)
    }
  }

  /** Every view built, with the generator's row count; every file and
    * Derby table holding that many rows.
    */
  override def check(spark: SparkSession, ops: Ops, n: Int): Unit =
    report.foreach { rep =>
      val built = rep.views.map(v => v.name -> v).toMap
      expected.keys.filterNot(built.contains).foreach(v =>
        ops.fail(v, "view missing from the run report"))
      val conn = java.sql.DriverManager.getConnection(jdbc.url)
      try rep.successes.foreach { v =>
        val want = expected.getOrElse(v.name, -1L)
        val lines = Files.lines(out.resolve("views").resolve(s"${v.name}.csv"))
        val inFile = try lines.count() - 1 finally lines.close()
        if (v.rows != want || inFile != want)
          ops.fail(v.name, s"rows ${v.rows}, file $inFile, expected $want")
        val rs = conn.createStatement()
          .executeQuery(s"SELECT COUNT(*) FROM ${v.name}")
        val inDb = if (rs.next()) rs.getLong(1) else -1L
        if (inDb != v.rows)
          ops.fail(s"load ${v.name}", s"derby $inDb, view ${v.rows}")
      } finally conn.close()
    }

  /** Traced runs only: the same 33 views built once more layer by layer
    * through the public functions the Orchestrator composes, on `nproc`
    * threads like the Orchestrator. Each layer's span ends at the
    * Orchestrator's persist boundary (the cleaned member, the view
    * frame), so the layers' jobs separate.
    */
  override def traced(spark: SparkSession, trace: Trace, ops: Ops,
                      n: Int): Unit = {
    val catalog = Catalogs.load(dict.toString)
    val dir = root.resolve(s"layers$n")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.nproc)
    def inParallel[A](items: Seq[A])(f: A => Unit): Unit =
      items.map(a => pool.submit(new Runnable { def run(): Unit = f(a) }))
        .foreach(_.get())
    val cleaned = new java.util.concurrent.ConcurrentHashMap[String, Option[DataFrame]]()
    val tables = (Views.all.flatMap(_.tables) ++ Views.waterSimpleTables).distinct
    def write(name: String, df: => Option[DataFrame], layer: String): Unit =
      trace.span(layer)(df.map(_.persist())).foreach { v =>
        trace.span(layer)(v.count())
        trace.span("io.Csv", "write")(Csv.write(v,
          dir.resolve(s"$name.csv").toString, singleFile = true))
        v.unpersist(blocking = false)
      }
    val member: String => Option[DataFrame] =
      t => Option(cleaned.get(t)).flatten
    try {
      inParallel(tables) { t =>
        val rawDf = trace.span("io.Csv", "read")(loader(spark)(t))
        cleaned.put(t, rawDf.map { df =>
          trace.span("pipeline.Steps") {
            val c = Steps.filterSparseStations(Steps.removeFlagColumns(df),
              known = catalog.stationProbeOrder(t))._1.persist()
            c.count()
            c
          }
        })
      }
      inParallel(Views.all)(v =>
        write(v.name, Consolidate.consolidate(v, member), "pipeline.Consolidate"))
      inParallel(Views.waterSimpleTables)(t =>
        write(s"v_$t", member(t).map(Consolidate.simpleWaterView),
          "pipeline.Consolidate"))
      write("v_entidades_agua", Steps.entityCatalog(
        Orchestrator.entitySources.flatMap { case (t, c, tipo, desc) =>
          member(t).map(df => (df, c, tipo, desc))
        }), "pipeline.Steps")
    } finally {
      pool.shutdown()
      cleaned.values.asScala.flatten.foreach(_.unpersist(blocking = false))
    }
  }

  def perLayer(spark: SparkSession, trace: Trace): Map[String, Double] =
    Map("pipeline.Orchestrator.views_failed" -> viewsFailed.toDouble,
      "io.Jdbc.rows" -> rowsLoaded.toDouble)
}
