package graft

import org.apache.spark.sql.SparkSession

/** Single place that encodes the session settings the whole engine
  * assumes: UTC semantics (oracle parity), AQE on (runtime re-plan at
  * scale: skew joins, adaptive shuffle partition coalescing), and a
  * shuffle-partition count sized for the local harness while staying a
  * pure config knob for a real cluster.
  */
object Sessions {

  /** Apply graft's standard configs to an existing builder. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // native vector functions + the HOF-dot-product rewrite rule
    .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // parquet scans: vectorized reader + pushdown are default-on; pin
    // them anyway so a cluster-side config drift can't silently
    // de-optimize every scan.
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.parquet.enableVectorizedReader", "true")
    // events.parquet stores TIMESTAMP(NANOS); set once at build time —
    // a per-read conf.set would be a session-wide side effect, racy
    // under the orchestrator's multi-threaded driver
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")

  /** Master URL for local sessions. Defaults to in-process `local[n]`;
    * `SPARK_GRAFT_MASTER` overrides — e.g. `local-cluster[2,2,2048]`
    * spawns two REAL executor JVMs, forcing every custom Expression,
    * physical operator, and typed Aggregator across a genuine
    * task-serialization boundary (the failure class `local[*]`
    * structurally cannot catch). When the master is not in-process the
    * application classes must ship to executors: set `SPARK_GRAFT_JARS`
    * to the packaged graft jar (sbt package output).
    */
  private def master(cores: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")

  private def withJars(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_JARS").fold(b)(j => b.config("spark.jars", j))

  /** Core count for local sessions: `SPARK_GRAFT_CPUS` when set, else
    * the machine's processors capped at 32. The only read of that
    * variable: every main sizes its session through here.
    */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors().min(32))

  /** The session every main and test builds: [[tuned]] configs,
    * `master`, `SPARK_GRAFT_JARS`, one shuffle partition per core,
    * WARN logging.
    */
  def local(cores: Int = defaultCores): SparkSession = {
    val s = tuned(withJars(
      SparkSession.builder()
        .master(master(cores))
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    )).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
