package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM, one workload, one result line.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --data <dir>
  *
  * `--work` is a scratch directory the run owns (inputs, outputs,
  * stores); `--data` holds the committed parquet tables and oracle row
  * counts. The last stdout line is the JSON result; everything else
  * goes to stderr or to `<work>/detail.json`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, data: Path)

  /** Thread and connection counts: one per core, nothing more. */
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val args = Args(kv("--workload"), kv("--seed").toLong,
      kv("--seconds").toDouble, kv("--trace") == "1",
      Paths.get(kv("--work")), Paths.get(kv("--data")))
    val workload: Workload = args.workload match {
      case "ine_weekly" => new IneWeekly(args)
      case "query_sweep" => new QuerySweep(args)
      case other => sys.error(s"unknown workload $other")
    }
    val result = run(args, workload)
    println(result)
  }

  def session(work: Path): SparkSession = {
    val s = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(args: Args, w: Workload): String = {
    val t0 = System.nanoTime()
    val spark = session(args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark, args.trace)
    // set up several times and keep the median, so one slow set-up
    // (JIT, page cache) does not decide the metric; the last set-up's
    // state is the one measured. The warm-up runs once, after them.
    val setups = (0 until Setups).map { rep =>
      val s0 = System.nanoTime()
      w.setup(spark, rep)
      (System.nanoTime() - s0) / 1e9
    }
    val ops = new Ops
    val w0 = System.nanoTime()
    w.warmUp(spark)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setups) + warmS
    System.err.println(f"[perfbench] session $sessionS%.2f s, set-ups " +
      setups.map(x => f"$x%.2f").mkString(" ") + f", warm-up $warmS%.2f s")

    trace.resetPeak()
    val gc0 = Trace.gcSeconds
    val passes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    // whole passes only: another one starts while it is expected to end
    // within the run's seconds
    val start = System.nanoTime()
    def fits = (System.nanoTime() - start) / 1e9 + Stats.median(passes.toSeq) <=
      args.seconds
    var pass = 0
    while (pass == 0 || fits) {
      val p0 = System.nanoTime()
      val cpu0 = Trace.cpuSeconds
      w.pass(spark, trace, ops, pass)
      passes += (System.nanoTime() - p0) / 1e9
      passCpu += Trace.cpuSeconds - cpu0
      if (args.trace) w.traced(spark, trace, ops, pass)
      // checks run between passes, off the clock
      val c0 = System.nanoTime()
      w.check(spark, ops, pass)
      val checkNs = System.nanoTime() - c0
      pass += 1
      System.err.println(f"[perfbench] pass $pass: ${passes.last}%.2f s " +
        f"(check ${checkNs / 1e9}%.2f s)")
    }
    val peakMb = trace.peakStorageMb
    val gcS = Trace.gcSeconds - gc0

    val opSamples = ops.samples
    val opP50 = Stats.quantile(opSamples, 0.5)
    val tail = Stats.tail(opSamples)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("run_s", Stats.median(passes.toSeq), "s"),
      ("run_cpu_s", Stats.median(passCpu.toSeq), "s"),
      ("peak_storage_mb", peakMb, "MB"))
    val metrics =
      if (!args.trace) e2e
      else Layers.metrics(trace, w.perLayer(spark, trace) ++ Map(
        "jvm.gc_s" -> gcS, "trace.run_s" -> Stats.median(passes.toSeq)))
    val detail = Json.obj(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "trace" -> args.trace.toString,
      "nproc" -> nproc.toString,
      "setup_reps_s" -> Json.arr(setups.map(Json.num)),
      "session_s" -> Json.num(sessionS),
      "warm_up_s" -> Json.num(warmS),
      "passes_s" -> Json.arr(passes.toSeq.map(Json.num)),
      "passes_cpu_s" -> Json.arr(passCpu.toSeq.map(Json.num)),
      "gc_s" -> Json.num(gcS),
      "ops" -> Json.arr(opSamples.map(Json.num)),
      "op_p50_s" -> Json.num(opP50),
      "op_tail_s" -> Json.num(tail.value),
      "tail_percentile" -> tail.percentile.toString,
      "tail_samples" -> opSamples.size.toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "failures" -> Json.arr(ops.failures.toSeq.map(Json.str)),
      "extra" -> Json.obj(w.detail: _*))
    Files.write(args.work.resolve("detail.json"), detail.getBytes("UTF-8"))
    System.err.println(f"[perfbench] op p50 $opP50%.3f s, " +
      f"p${tail.percentile} ${tail.value}%.3f s of ${opSamples.size} ops; " +
      s"${ops.failed}/${ops.attempted} ops failed")
    ops.failures.foreach(f => System.err.println(s"[perfbench] failed: $f"))
    trace.close()
    spark.stop()
    Json.obj(
      "correct" -> (ops.failed == 0).toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*))
  }

  val Setups = 3
}

/** One benchmark workload. A run calls `setup` [[Main.Setups]] times
  * and `warmUp` once, then `pass` until the time is up, with `check`
  * after each pass, off the clock.
  */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  /** Once, after the set-ups. */
  def warmUp(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, trace: Trace, ops: Ops, n: Int): Unit
  def check(spark: SparkSession, ops: Ops, n: Int): Unit = ()
  /** Traced runs only, after each pass and off its clock. */
  def traced(spark: SparkSession, trace: Trace, ops: Ops, n: Int): Unit = ()
  /** Per-layer values the workload counts itself (not from spans). */
  def perLayer(spark: SparkSession, trace: Trace): Map[String, Double]
  def detail: Seq[(String, String)] = Nil
}

/** Op accounting: every op is attempted; a failed op is counted and
  * never timed, so it can never read as a fast one.
  */
final class Ops {
  private val times = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Seconds of the last op that succeeded. */
  var last = 0.0

  /** Time `f` as one op; with `sample = false` it counts but is left
    * out of the latency samples.
    */
  def time[A](name: String, sample: Boolean = true)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    Try(f) match {
      case Success(a) =>
        last = (System.nanoTime() - t0) / 1e9
        if (sample) times += last
        Some(a)
      case Failure(e) =>
        fail(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        None
    }
  }

  /** An op that ran but whose output check failed. */
  def fail(name: String, why: String): Unit = {
    failed += 1
    failures += s"$name: ${why.linesIterator.take(3).mkString(" ")}"
  }

  def samples: Seq[Double] = times.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  final case class Tail(percentile: Int, value: Double)

  /** The highest whole percentile with at least ten samples beyond it;
    * below 20 samples there is none, and the median stands in.
    */
  def tail(xs: Seq[Double]): Tail = {
    val p = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
    if (xs.size < 20 || p < 50) Tail(50, quantile(xs, 0.5))
    else Tail(p, quantile(xs, p / 100.0))
  }

  /** Harrell–Davis estimate of the `p` quantile: a Beta-weighted mean
    * of the order statistics around that rank. With tens of samples
    * it moves smoothly where a single order statistic jumps between
    * neighbouring values.
    */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      import org.apache.commons.math3.special.Beta.regularizedBeta
      val s = xs.sorted
      val n = s.size
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      val cdf = (0 to n).map(i => regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
}

/** Just enough JSON writing for the result line and the detail file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
