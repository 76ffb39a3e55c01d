package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators._

/** The six stored structures written beside reads, on the committed
  * sf0.01 tables. Traced `query_sweep` runs drive it after their query
  * pass, to measure the store layers one by one.
  *
  * [[bootstrap]] creates every store — components with their signature
  * table, the PQ index, the sample/quantile and distinct views over
  * lineitem ⋈ supplier, and the tf-idf term stats. [[round]] r makes
  * every store absorb batch r (refresh) and then reads it (serve).
  * A refresh is everything a caller does to absorb the batch; for the
  * components that includes deriving the batch's near-duplicate edges
  * against the stored signatures. Batches are disjoint slices of held-
  * out keys (adds) and of base keys (removals), drawn from the seed.
  *
  * [[check]] reads every store again and compares it with a
  * from-scratch build over the current relation.
  */
final class StoredLifecycle(args: Main.Args, spark: SparkSession, root: Path) {
  import StoredLifecycle._

  private val sfDir = args.data.resolve("sf0.01").toString
  private val in = new Inputs
  private var newSigs: DataFrame = _
  private var rounds = 0
  private val opSeconds = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[Double]]

  /** The tables and the seed's slices of them. */
  private final class Inputs {
    private def slot(key: String) =
      pmod(xxhash64(col(key), lit(args.seed)), lit(Slots))
    private def batch(u: Column, r: Int) = pmod(u, lit(Rounds)) === r
    private def upTo(u: Column, r: Int) = pmod(u, lit(Rounds)) <= r

    val docs: DataFrame = Tables.documents(spark, sfDir)
      .withColumn("__u", slot("doc_id")).localCheckpoint()
    private val du = col("__u")
    private val docAdd = du < 2000
    private val docDrop = du >= 2000 && du < 2600
    def baseDocs: DataFrame = docs.filter(!docAdd).drop("__u")
    def addedDocs(r: Int): DataFrame = docs.filter(docAdd && batch(du, r)).drop("__u")
    def droppedDocs(r: Int): DataFrame = docs.filter(docDrop && batch(du, r)).drop("__u")
    def currentDocs(r: Int): DataFrame = docs.filter(
      (!docAdd && !(docDrop && upTo(du, r))) || (docAdd && upTo(du, r)))
      .drop("__u")

    val vecs: DataFrame = Tables.embeddings(spark, sfDir)
      .withColumn("__u", slot("vec_id")).localCheckpoint()
    private val vu = col("__u")
    private val vecAdd = vu < 3000
    def baseVecs: DataFrame = vecs.filter(!vecAdd).drop("__u")
    def addedVecs(r: Int): DataFrame = vecs.filter(vecAdd && batch(vu, r)).drop("__u")
    def currentVecs(r: Int): DataFrame =
      vecs.filter(!vecAdd || upTo(vu, r)).drop("__u")
    val queries: DataFrame = vecs.filter(col("vec_id") % 50 === 0).drop("__u")
      .localCheckpoint()
    val centroids: DataFrame = vecs.filter(col("vec_id") < NumSeeds)
      .select(col("vec_id").as("cluster"),
        col("embedding").cast("array<double>").as("cv"))

    // lineitem ⋈ supplier as (nation, line key, price) rows
    val lines: DataFrame = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"),
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("k"),
        col("l_extendedprice").as("v"), slot("l_orderkey").as("__u"))
      .localCheckpoint()
    private val lu = col("__u")
    private val lineAdd = lu < 1000
    private val lineDrop = lu >= 1000 && lu < 1600
    def baseLines: DataFrame = lines.filter(!lineAdd).drop("__u")
    def addedLines(r: Int): DataFrame = lines.filter(lineAdd && batch(lu, r)).drop("__u")
    def droppedLines(r: Int): DataFrame = lines.filter(lineDrop && batch(lu, r)).drop("__u")
    def currentLines(r: Int): DataFrame = lines.filter(
      (!lineAdd && !(lineDrop && upTo(lu, r))) || (lineAdd && upTo(lu, r)))
      .drop("__u")
  }

  private def dir(store: String): String = root.resolve(store).toString

  private def sigsOf(docs: DataFrame): DataFrame =
    Dedup.minhashSignatures(
      Dedup.docShingles(docs, "doc_id", "text", Shingle, dedup = false),
      "doc_id")

  private def nearDups(pairs: DataFrame, a: DataFrame, b: DataFrame,
                       across: Boolean): DataFrame =
    (if (across) Dedup.estimatedJaccardAcross(pairs, a, b, "doc_id")
     else Dedup.estimatedJaccard(pairs, a, "doc_id"))
      .filter(col("est_jaccard") >= Threshold).select("id_a", "id_b")

  private def componentsFromScratch(docs: DataFrame): DataFrame = {
    val sigs = sigsOf(docs).localCheckpoint()
    Dedup.connectedComponents(
      nearDups(Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, sigs, across = false),
      docs.select("doc_id"), "doc_id")
  }

  def bootstrap(t: Spans): Unit = {
    t.span(Comp, "bootstrap") {
      val sigs = sigsOf(in.baseDocs).localCheckpoint()
      t.span(Sigs, "bootstrap")(Dedup.writeSignatures(sigs, "doc_id", dir("sigs")))
      MaintainedComponents.write(Dedup.connectedComponents(
        nearDups(Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, sigs, across = false),
        in.baseDocs.select("doc_id"), "doc_id"), "doc_id", dir("labels"))
    }
    t.span(Pq, "bootstrap") {
      val cb = Similarity.pqSeedCodebook(in.vecs.drop("__u"), "vec_id",
        "embedding", PqSub, PqSubDim, PqCodes)
      Similarity.writePqIndex(in.baseVecs, "vec_id", "embedding",
        in.centroids, cb, PqSub, PqSubDim, dir("pq"))
    }
    t.span(Sample, "bootstrap")(
      MaintainedSample.write(in.baseLines, "nk", "k", "v", dir("sample"), SampleM))
    t.span(Distinct, "bootstrap")(
      MaintainedDistinct.write(in.baseLines.drop("v"), Seq("nk"), "k", dir("distinct")))
    t.span(Terms, "bootstrap")(
      TextOps.writeTermStats(in.baseDocs, "doc_id", "text", "source", dir("tfidf")))
  }

  private def op(ops: Ops, trace: Spans, store: String, phase: String)
                (f: => Unit): Unit = {
    ops.time(s"$store $phase", sample = false)(trace.span(store, phase)(f))
      .foreach(_ => opSeconds.getOrElseUpdate(s"$store:$phase",
        scala.collection.mutable.ArrayBuffer.empty) += ops.last)
  }

  def round(trace: Spans, ops: Ops, r: Int): Unit = {
    val batchId = r + 1L
    op(ops, trace, Comp, "refresh") {
      val batch = in.addedDocs(r).localCheckpoint()
      newSigs = sigsOf(batch).localCheckpoint()
      val stored = Dedup.readSignatures(spark, dir("sigs"))
      val edges = nearDups(Dedup.lshCrossPairs(newSigs, stored, "doc_id"),
        newSigs, stored, across = true)
        .unionByName(nearDups(Dedup.lshCandidatePairs(newSigs, "doc_id"),
          newSigs, newSigs, across = false))
      // merges and forgets share one batch-id sequence on the table
      MaintainedComponents.merge(spark, dir("labels"), edges,
        batch.select("doc_id"), "doc_id", batchId = 2 * r + 1L)
      MaintainedComponents.forget(spark, dir("labels"), dir("sigs"),
        in.droppedDocs(r).select("doc_id"), "doc_id", batchId = 2 * r + 2L)
    }
    op(ops, trace, Sigs, "refresh")(
      Dedup.appendSignatures(newSigs, "doc_id", dir("sigs")))
    op(ops, trace, Pq, "refresh")(
      Similarity.appendPqIndex(in.addedVecs(r), "vec_id", "embedding", dir("pq")))
    op(ops, trace, Sample, "refresh")(
      MaintainedSample.deltaRefresh(spark, dir("sample"), in.droppedLines(r),
        in.addedLines(r), "nk", "k", "v", SampleM, batchId) { dirty =>
        in.currentLines(r).join(broadcast(dirty), Seq("nk"), "left_semi")
      })
    op(ops, trace, Distinct, "refresh")(
      MaintainedDistinct.deltaRefresh(spark, dir("distinct"),
        in.droppedLines(r).drop("v"), in.addedLines(r).drop("v"), Seq("nk"), "k",
        batchId) { dirty =>
        in.currentLines(r).drop("v").join(broadcast(dirty), Seq("nk"), "left_semi")
      })
    op(ops, trace, Terms, "refresh")(
      TextOps.refreshTermStats(spark, dir("tfidf"), in.droppedDocs(r),
        in.addedDocs(r), "doc_id", "text", "source", batchId))

    serves.foreach { case (store, read) =>
      op(ops, trace, store, "serve")(read().queryExecution.toRdd.count())
    }
    rounds = r + 1
  }

  /** Each store's read, as a caller serves it. */
  private def serves: Seq[(String, () => DataFrame)] = Seq(
    Comp -> (() => MaintainedComponents.read(spark, dir("labels"))),
    Sigs -> (() => Dedup.readSignatures(spark, dir("sigs"))),
    Pq -> (() => Similarity.queryPqIndex(spark, dir("pq"), in.queries,
      "vec_id", "embedding", TopK)),
    Sample -> (() => Sketches.sketchQuantiles(
      MaintainedSample.read(spark, dir("sample")), "nk")),
    Distinct -> (() => MaintainedDistinct.readEstimates(spark, dir("distinct"),
      Seq("nk"))),
    Terms -> (() => TextOps.topTermsFromStats(spark, dir("tfidf"), "source", k = 5)))

  /** Every store's read equals a from-scratch build over the current
    * relation; a mismatch fails every op of that store.
    */
  def check(ops: Ops): Unit = {
    val last = rounds - 1
    val fresh = root.resolve("fresh")
    val docs = in.currentDocs(last).localCheckpoint()
    val lines = in.currentLines(last).localCheckpoint()
    MaintainedSample.write(lines, "nk", "k", "v", fresh.resolve("sample").toString, SampleM)
    MaintainedDistinct.write(lines.drop("v"), Seq("nk"), "k", fresh.resolve("distinct").toString)
    Similarity.writePqIndex(in.currentVecs(last), "vec_id", "embedding",
      spark.read.parquet(s"${dir("pq")}/centroids"),
      spark.read.parquet(s"${dir("pq")}/codebook"), PqSub, PqSubDim,
      fresh.resolve("pq").toString)
    val sigs = sigsOf(docs)
    val expected: Map[String, () => DataFrame] = Map(
      Comp -> (() => componentsFromScratch(docs)),
      Sigs -> (() => sigs),
      Pq -> (() => Similarity.queryPqIndex(spark, fresh.resolve("pq").toString,
        in.queries, "vec_id", "embedding", TopK)),
      Sample -> (() => Sketches.sketchQuantiles(
        MaintainedSample.read(spark, fresh.resolve("sample").toString), "nk")),
      Distinct -> (() => MaintainedDistinct.readEstimates(spark,
        fresh.resolve("distinct").toString, Seq("nk"))),
      Terms -> (() => TextOps.topTerms(docs, "doc_id", "text", "source", k = 5)))
    serves.foreach { case (store, read) =>
      val why = scala.util.Try {
        val want = expected(store)()
        val got = read().select(want.columns.map(col).toIndexedSeq: _*)
        sameRows(got, want)
      } match {
        case scala.util.Success(None) => None
        case scala.util.Success(Some(diff)) => Some(diff)
        case scala.util.Failure(e) => Some(String.valueOf(e.getMessage))
      }
      why.foreach { w =>
        ops.fail(s"$store check", w)
        // the other ops of a store that fails its check fail with it
        (1 until 2 * rounds).foreach(_ => ops.fail(s"$store check", "as above"))
      }
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Option[String] = {
    def bag(df: DataFrame) =
      df.collect().toSeq.map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case x => x
      }).groupBy(identity).map { case (k, v) => k -> v.size }
    val (x, y) = (bag(a), bag(b))
    if (x == y) None
    else Some(s"${x.values.sum} rows served, ${y.values.sum} from scratch, " +
      s"${(x.keySet diff y.keySet).size} not in the rebuild")
  }

  /** Bytes and files on disk under each store's root. */
  def sizes: Map[String, Double] =
    Seq(Comp -> "labels", Sigs -> "sigs", Pq -> "pq", Sample -> "sample",
      Distinct -> "distinct", Terms -> "tfidf").flatMap { case (store, d) =>
      val files = Files.walk(root.resolve(d)).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq
      Seq(s"$store.store_mb" -> files.map(Files.size).sum / (1024.0 * 1024.0),
        s"$store.store_files" -> files.size.toDouble)
    }.toMap

  def detail: Seq[(String, String)] = Seq(
    "rounds" -> rounds.toString,
    "op_s" -> Json.obj(opSeconds.toSeq.map { case (k, v) =>
      k -> Json.arr(v.toSeq.map(Json.num)) }: _*))
}

object StoredLifecycle {
  private val Comp = "operators.MaintainedComponents"
  private val Sigs = "operators.Dedup"
  private val Pq = "operators.Similarity"
  private val Sample = "operators.MaintainedSample"
  private val Distinct = "operators.MaintainedDistinct"
  private val Terms = "operators.TextOps"

  /** Held-out keys are cut into this many disjoint batches. */
  val Rounds = 8
  private val Slots = 10000
  private val Shingle = 3
  private val Threshold = 0.5
  // PQ shape: SimilarityQueries' q_pq_lifecycle constants
  private val NumSeeds = 10
  private val PqSub = 8
  private val PqSubDim = 8
  private val PqCodes = 16
  private val TopK = 5
  private val SampleM = 64
}
