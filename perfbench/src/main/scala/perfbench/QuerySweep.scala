package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** `query_sweep`: `SparkEntry.queries` entries on the committed sf0.01
  * tables. A pass runs the query set once; before each query `Memo`,
  * the SQL cache and every persisted RDD are cleared, so no query reads
  * what an earlier one cached. Each query's row count is checked
  * against the DuckDB oracle's count for the same tables. The seed
  * drives the generated dictionary the station-catalog query reads;
  * the tables are fixed, so the oracle's counts hold.
  *
  * The set is `<data>/query_set.txt`, one name a line.
  *
  * Traced runs then also drive the six stores through
  * [[StoredLifecycle]] — bootstrap, [[LifecycleRounds]] rounds of
  * refresh and serve, and the from-scratch check — so the store layers
  * are measured one by one. Those ops count in `attempted`/`failed`.
  */
final class QuerySweep(args: Main.Args) extends Workload {
  private val sfDir = args.data.resolve("sf0.01").toString

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq(CoreQueries.queries, TextQueries.queries, DedupQueries.queries,
      SimilarityQueries.queries, EventQueries.queries,
      MultimodalQueries.queries, CatalogQueries.queries,
      TemporalQueries.queries, CurationQueries.queries,
      SketchQueries.queries, MiningQueries.queries)
      .zip(Layers.queryModules).map { case (q, m) => m -> q }

  private val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  private val all = graft.SparkEntry.queries

  private val names: IndexedSeq[String] =
    Files.readAllLines(args.data.resolve("query_set.txt")).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toIndexedSeq

  private val oracle: Map[String, Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(args.data.resolve("oracle_rows.json").toFile,
        classOf[java.util.Map[String, Object]])
    m.asScala.map { case (k, v) => k -> v.toString.toLong }.toMap
  }

  private val failedBy = scala.collection.mutable.Map.empty[String, Double]
  private val seconds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** The station catalog query reads the generated dictionary
    * (`GRAFT_DICT_DIR`, set by the launcher).
    */
  def setup(spark: SparkSession, rep: Int): Unit = {
    val dictDir = sys.env.getOrElse("GRAFT_DICT_DIR",
      sys.error("GRAFT_DICT_DIR must name the generated dictionary"))
    IneData.writeDictionary(java.nio.file.Paths.get(dictDir), args.seed)
    names.foreach(n => require(all.contains(n), s"unknown query $n"))
    QuerySweep.Tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)
  }

  /** A fixed mix of joins, aggregates, windows, sorts and explodes
    * over the tables, so the engine's shared code paths
    * (analysis, optimisation, code generation) are compiled before the
    * pass, as in a long-lived session. Each query still compiles its
    * own plans when it runs.
    */
  override def warmUp(spark: SparkSession): Unit = {
    QuerySweep.Tables.foreach(t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(s"warm_$t"))
    val mix = Seq(
      """SELECT n_name, count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS rev
        |FROM warm_lineitem JOIN warm_orders ON l_orderkey = o_orderkey
        |JOIN warm_customer ON o_custkey = c_custkey
        |JOIN warm_nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY rev DESC""".stripMargin,
      """SELECT user_id, event_type, count(*) OVER (PARTITION BY user_id ORDER BY ts)
        |AS k, lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |FROM warm_events""".stripMargin,
      """SELECT tok, count(*) AS n FROM (SELECT explode(split(lower(text), ' '))
        |AS tok FROM warm_documents) GROUP BY tok ORDER BY n DESC LIMIT 50""".stripMargin,
      """SELECT DISTINCT p_brand, p_type FROM warm_part
        |WHERE p_partkey NOT IN (SELECT l_partkey FROM warm_lineitem WHERE l_quantity > 49)""".stripMargin,
      """SELECT label, count(*), avg(size(embedding)) FROM warm_embeddings GROUP BY label""")
    mix.foreach(q => spark.sql(q).queryExecution.toRdd.count())
    QuerySweep.Tables.foreach(t => spark.catalog.dropTempView(s"warm_$t"))
  }

  private def clean(spark: SparkSession): Unit = {
    graft.Memo.clear()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def run(spark: SparkSession, trace: Spans, ops: Ops, q: String,
                  sample: Boolean): Unit = {
    clean(spark)
    // toRdd.count: every output column is computed, not a pruned count
    ops.time(q, sample)(trace.span(moduleOf(q))(
      all(q)(spark, sfDir).queryExecution.toRdd.count())) match {
      case Some(rows) if oracle.get(q).contains(rows) =>
        if (sample) seconds += q -> ops.last
      case Some(rows) =>
        ops.fail(q, s"$rows rows, oracle ${oracle.getOrElse(q, "missing")}")
        failedBy(moduleOf(q)) = failedBy.getOrElse(moduleOf(q), 0.0) + 1
      case None =>
        failedBy(moduleOf(q)) = failedBy.getOrElse(moduleOf(q), 0.0) + 1
    }
  }

  /** The set in its listed order. In a fresh JVM whichever query first
    * needs a code path pays its compilation, so an order drawn from the
    * seed moved that cost between queries and spread a run's median by
    * about 11 % across seeds; one fixed order keeps runs comparable.
    */
  def pass(spark: SparkSession, trace: Trace, ops: Ops, n: Int): Unit = {
    names.foreach(q => run(spark, trace, ops, q, sample = true))
    clean(spark)
  }

  private var lifecycle: Option[StoredLifecycle] = None

  override def traced(spark: SparkSession, trace: Trace, ops: Ops,
                      n: Int): Unit = if (n == 0) {
    val l = new StoredLifecycle(args, spark, args.work.resolve("lifecycle"))
    lifecycle = Some(l)
    ops.time("stores bootstrap", sample = false)(l.bootstrap(trace))
    (0 until QuerySweep.LifecycleRounds).foreach(r => l.round(trace, ops, r))
    l.check(ops)
  }

  override def detail: Seq[(String, String)] =
    Seq("query_s" -> Json.obj(seconds.toSeq.map { case (q, s) => q -> Json.num(s) }: _*)) ++
      lifecycle.toSeq.flatMap(_.detail)

  def perLayer(spark: SparkSession, trace: Trace): Map[String, Double] =
    failedBy.map { case (m, k) => s"$m.failed" -> k }.toMap ++
      lifecycle.map(_.sizes).getOrElse(Map.empty)
}

object QuerySweep {
  val LifecycleRounds = 1
  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
