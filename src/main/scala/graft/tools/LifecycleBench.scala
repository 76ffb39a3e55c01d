package graft.tools

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.model.Tables
import graft.operators.{Dedup, MaintainedComponents, Similarity, TextOps}

/** STANDING-TABLE pricing for the stored lifecycles (components, PQ
  * index, sample/quantile and distinct views, tf-idf term stats) — the
  * r14 verdict's ask #7: the single-shot q_*_lifecycle queries bundle
  * bootstrap with the maintenance ops they exist to price, so a
  * maintenance-side improvement shows up diluted (the bloom-sidecar
  * trade measured +8% on the bundled query while winning on the
  * standing shape). This main bootstraps each store ONCE, then runs N
  * maintenance rounds over disjoint batch slices and reports the
  * bootstrap cost and the per-op MEDIANS of the steady-state rounds,
  * in seconds and in Spark jobs started (the view lifecycles are
  * job-count-bound at small scale: each localCheckpoint / isEmpty /
  * collect is one scheduling round trip).
  *
  * One JSON line on stdout:
  *   {"metric":"lifecycle_steady","sf":…,"rounds":N,"ops":{…},"jobs":{…}}
  *
  * Usage: runMain graft.tools.LifecycleBench <sfDir> [rounds]
  * (also runnable from a packaged jar against an OLDER engine jar by
  * putting the old jar FIRST on the classpath — the tool drives only
  * public APIs stable across rounds, which is how the interleaved A/B
  * prices r(N-1) vs rN on identical op shapes).
  */
object LifecycleBench {

  private val K = 3
  // PQ shape: SimilarityQueries' q_pq_lifecycle constants
  private val NumSeeds = 10
  private val PqSub = 8
  private val PqSubDim = 8
  private val PqCodes = 16
  private val TopK = 5

  private def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)

  /** Wall seconds and Spark jobs started per named operation; per-round
    * operations keep the median over rounds of each.
    */
  private[tools] final class Ops(spark: SparkSession, rounds: Int) {
    private val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val jobs = scala.collection.mutable.LinkedHashMap[String, Int]()

    private val sc = spark.sparkContext
    private val FenceGroup = "lifecycle-bench-fence"
    private val started = new AtomicInteger
    private val fencesSeen = new Semaphore(0)
    private val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(
            _.getProperty("spark.jobGroup.id") == FenceGroup))
          fencesSeen.release()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)

    /** Jobs started so far, read once the listener has received every
      * event posted before this call: a one-task fence job goes
      * through the same in-order listener queue, so once its start
      * arrives, so has every earlier job's.
      */
    private def settledJobs(): Int = {
      sc.setJobGroup(FenceGroup, "listener fence")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(fencesSeen.tryAcquire(5, TimeUnit.MINUTES),
        "listener bus never delivered the fence job")
      started.get()
    }

    private def measure(f: => Unit): (Double, Int) = {
      val j0 = settledJobs()
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, settledJobs() - j0)
    }

    def once(name: String)(f: => Unit): Unit = {
      val (dt, n) = measure(f)
      secs(name) = dt
      jobs(name) = n
      System.err.println(f"[lifecycle] $name: $dt%.2f s, $n jobs")
    }

    def perRound(name: String)(f: Int => Unit): Unit = {
      val runs = (0 until rounds).map { r =>
        val (dt, n) = measure(f(r))
        System.err.println(f"[lifecycle] $name round $r: $dt%.2f s, $n jobs")
        (dt, n)
      }
      secs(name) = median(runs.map(_._1))
      jobs(name) = median(runs.map(_._2))
    }

    def close(): Unit = sc.removeSparkListener(listener)

    /** `"ops":{…},"jobs":{…}` for the stdout line. */
    def json: String = {
      def obj(m: Iterable[(String, Any)]) =
        m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      s""""ops":${obj(secs)},"jobs":${obj(jobs)}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rounds = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = Sessions.local()
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val ops = new Ops(spark, rounds)
    import ops.{once, perRound}

    val root = java.nio.file.Files
      .createTempDirectory("lifecycle_bench_").toString

    // ---- components ----
    val all = Tables.documents(spark, sfDir)
    val base = all.filter(col("doc_id") % 10 =!= 9)
    val labelPath = s"$root/labels"
    val sigPath = s"$root/sigs"
    once("comp_bootstrap") {
      val baseSigs = Dedup.minhashSignatures(
        Dedup.docShingles(base, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val basePairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(baseSigs, "doc_id"), baseSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      Dedup.writeSignatures(baseSigs, "doc_id", sigPath)
      MaintainedComponents.write(
        Dedup.connectedComponents(basePairs, base.select("doc_id"),
          "doc_id"), "doc_id", labelPath)
    }
    // per-round merge batch: the held-out 10% sliced N ways; edge
    // derivation (signature build + banding vs the stored table) is
    // the INGEST's cost, priced separately from the merge op itself
    val mergeEdges = (0 until rounds).map { r =>
      val batch = all.filter(col("doc_id") % 10 === 9 &&
        expr(s"pmod(doc_id div 10, $rounds)") === r)
        .localCheckpoint()
      val storedSigs = Dedup.readSignatures(spark, sigPath)
      val newSigs = Dedup.minhashSignatures(
        Dedup.docShingles(batch, "doc_id", "text", K, dedup = false),
        "doc_id").localCheckpoint()
      val cross = Dedup.estimatedJaccardAcross(
        Dedup.lshCrossPairs(newSigs, storedSigs, "doc_id"),
        newSigs, storedSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      val intra = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(newSigs, "doc_id"), newSigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      val edges = cross.unionByName(intra).localCheckpoint()
      edges.count()
      Dedup.appendSignatures(newSigs, "doc_id", sigPath)
      (batch, edges)
    }
    perRound("comp_merge") { r =>
      val (batch, edges) = mergeEdges(r)
      MaintainedComponents.merge(spark, labelPath, edges,
        batch.select("doc_id"), "doc_id", batchId = r + 1L)
    }
    perRound("comp_forget") { r =>
      MaintainedComponents.forget(spark, labelPath, sigPath,
        all.filter(col("doc_id") % 17 === 3 &&
          expr(s"pmod(doc_id div 17, $rounds)") === r)
          .select("doc_id"),
        "doc_id", batchId = rounds + r + 1L)
    }
    // serve with whatever maintenance state is pending (overlays on
    // the r15 jar, a materialized table on earlier jars) — the honest
    // read-side price of deferring the fold
    once("comp_serve") {
      MaintainedComponents.read(spark, labelPath)
        .queryExecution.toRdd.count()
    }
    // the read-side price of the tombstones the forgets left pending
    // (those past the auto-compaction bound are already folded)
    once("sig_serve") {
      Dedup.readSignatures(spark, sigPath).queryExecution.toRdd.count()
    }
    // the deferred cost the tombstone forgets accumulate: one periodic
    // fold absorbs all N rounds' tombstones (honest amortized pricing
    // — the eager delete this replaced paid a comparable rewrite EVERY
    // round)
    once("sig_compact_after_forgets") {
      Dedup.compactSignatures(spark, sigPath)
    }
    // label-overlay fold pricing (the r15 relabel overlay)
    once("label_compact_after_ops") {
      MaintainedComponents.compactLabels(spark, labelPath)
    }
    once("comp_serve_folded") {
      MaintainedComponents.read(spark, labelPath)
        .queryExecution.toRdd.count()
    }

    // ---- PQ index ----
    val e = Tables.embeddings(spark, sfDir)
    val cent = e.filter(col("vec_id") < NumSeeds)
      .select(col("vec_id").as("cluster"),
        col("embedding").cast("array<double>").as("cv"))
    val queries = e.filter(expr("vec_id % 50 = 0")).localCheckpoint()
    val pqPath = s"$root/pq"
    once("pq_bootstrap") {
      val cb = Similarity.pqSeedCodebook(e, "vec_id", "embedding",
        PqSub, PqSubDim, PqCodes)
      Similarity.writePqIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cent, cb, PqSub, PqSubDim, pqPath)
    }
    perRound("pq_append") { r =>
      Similarity.appendPqIndex(
        e.filter(col("vec_id") % 2 =!= 0 &&
          expr(s"pmod(vec_id div 2, $rounds)") === r),
        "vec_id", "embedding", pqPath)
    }
    perRound("pq_query") { _ =>
      Similarity.queryPqIndex(spark, pqPath, queries,
        "vec_id", "embedding", TopK)
        .queryExecution.toRdd.count()
    }

    // ---- sample/quantile + distinct views (lineitem ⋈ supplier) ----
    // completes standing-table pricing over ALL maintained families:
    // base = 90% of lineitem; round r removes the r-th slice of the
    // %17 keys and adds the r-th slice of the held-out tenth, so the
    // "current" relation after round r is one closed-form filter and
    // the dirty-group recompute can be handed the true current rows.
    val li = Tables.lineitem(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
    def asRows(f: DataFrame): DataFrame = f
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), col("k"), col("v"))
    def keyedV(f: DataFrame): DataFrame = f
      .withColumn("k", concat_ws("-", col("l_orderkey"), col("l_linenumber")))
      .withColumn("v", col("l_extendedprice"))
    val ok = col("l_orderkey")
    def removedSlice(r: Int): DataFrame = asRows(keyedV(
      li.filter(ok % 10 =!= 9 && ok % 17 === 3 &&
        expr(s"pmod(l_orderkey div 17, $rounds)") === r)))
    def addedSlice(r: Int): DataFrame = asRows(keyedV(
      li.filter(ok % 10 === 9 &&
        expr(s"pmod(l_orderkey div 10, $rounds)") === r)))
    def currentRows(r: Int): DataFrame = asRows(keyedV(li.filter(
      (ok % 10 =!= 9 &&
        !(ok % 17 === 3 && expr(s"pmod(l_orderkey div 17, $rounds)") <= r)) ||
      (ok % 10 === 9 && expr(s"pmod(l_orderkey div 10, $rounds)") <= r))))

    val QsM = 64
    val sampDir = s"$root/sample"
    once("sample_bootstrap") {
      import graft.operators.MaintainedSample
      MaintainedSample.write(asRows(keyedV(li.filter(ok % 10 =!= 9))),
        "nk", "k", "v", sampDir, QsM)
    }
    perRound("sample_refresh") { r =>
      import graft.operators.MaintainedSample
      MaintainedSample.deltaRefresh(spark, sampDir,
        removedSlice(r), addedSlice(r), "nk", "k", "v", QsM,
        batchId = r + 1L) { dirty =>
        currentRows(r).join(broadcast(dirty), Seq("nk"), "left_semi")
      }
    }
    perRound("sample_serve") { _ =>
      import graft.operators.{MaintainedSample, Sketches}
      Sketches.sketchQuantiles(
        MaintainedSample.read(spark, sampDir), "nk")
        .queryExecution.toRdd.count()
    }

    val distDir = s"$root/distinct"
    once("distinct_bootstrap") {
      import graft.operators.MaintainedDistinct
      MaintainedDistinct.write(
        asRows(keyedV(li.filter(ok % 10 =!= 9))).drop("v"),
        Seq("nk"), "k", distDir)
    }
    perRound("distinct_refresh") { r =>
      import graft.operators.MaintainedDistinct
      MaintainedDistinct.deltaRefresh(spark, distDir,
        removedSlice(r).drop("v"), addedSlice(r).drop("v"),
        Seq("nk"), "k", batchId = r + 1L) { dirty =>
        currentRows(r).drop("v")
          .join(broadcast(dirty), Seq("nk"), "left_semi")
      }
    }
    perRound("distinct_serve") { _ =>
      import graft.operators.MaintainedDistinct
      MaintainedDistinct.read(spark, distDir)
        .queryExecution.toRdd.count()
    }

    // ---- tf-idf term stats ----
    val tfDir = s"$root/tfidf"
    once("tfidf_bootstrap") {
      TextOps.writeTermStats(base, "doc_id", "text", "source", tfDir)
    }
    perRound("tfidf_refresh") { r =>
      TextOps.refreshTermStats(spark, tfDir,
        removedDocs = base.filter(col("doc_id") % 17 === 3 &&
          expr(s"pmod(doc_id div 17, $rounds)") === r),
        addedDocs = all.filter(col("doc_id") % 10 === 9 &&
          col("doc_id") % 17 =!= 3 &&
          expr(s"pmod(doc_id div 10, $rounds)") === r),
        "doc_id", "text", "source", batchId = r + 1L)
    }
    perRound("tfidf_serve") { _ =>
      TextOps.topTermsFromStats(spark, tfDir, "source", k = 5)
        .queryExecution.toRdd.count()
    }

    ops.close()
    println(s"""{"metric":"lifecycle_steady","sf":"$sfDir","rounds":$rounds,${ops.json}}""")
    spark.stop()
  }
}
