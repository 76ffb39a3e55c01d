package graft.io

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, MaintainedComponents}

/** The on-disk layout of the stored near-duplicate clustering, pinned
  * file by file: a component-label store and its signature table side
  * by side, after bootstrap, a merge (batch 1), a forget (batch 2: one
  * signature tombstone and one relabel overlay), a forget (batch 3)
  * that reaches an auto-compaction bound of 2 on both stores, and
  * explicit `compactLabels` and `compactSignatures` — on an
  * atomic-rename filesystem (flat tables) and on the non-atomic
  * `simfs://` shim (generation roots), rendered by [[TableTree]].
  */
class ComponentStoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.simfs.impl", classOf[SimFs].getName)
    c
  }

  private def tmp(scheme: String): String = {
    hconf
    scheme + java.nio.file.Files
      .createTempDirectory("graft_csspec_").toString + "/store"
  }

  private val T1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val T2 = "one two three four five six seven eight nine ten eleven"

  private def sigsOf(docs: (Long, String)*): DataFrame =
    Dedup.minhashSignatures(
      Dedup.docShingles(docs.toDF("doc_id", "text"), "doc_id", "text", 3,
        dedup = false), "doc_id")

  private def ids(xs: Long*): DataFrame = xs.toDF("doc_id")

  private def forget(store: String, batchId: Long, xs: Long*): Unit =
    MaintainedComponents.forget(spark, s"$store/labels", s"$store/sigs",
      ids(xs: _*), "doc_id", batchId)

  /** (step, run, labels gen, sigs gen, labels tree, sigs tree). */
  private type Step =
    (String, String => Unit, Int, Int, Seq[String], Seq[String])

  private def steps: Seq[Step] = Seq(
    ("bootstrap", (s: String) => {
      val sigs = sigsOf(1L -> T1, 2L -> T1, 3L -> T1, 10L -> T2, 11L -> T2)
        .localCheckpoint()
      val pairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
      Dedup.writeSignatures(sigs, "doc_id", s"$s/sigs")
      MaintainedComponents.write(
        Dedup.connectedComponents(pairs, ids(1L, 2L, 3L, 10L, 11L),
          "doc_id"), "doc_id", s"$s/labels")
    }, 0, 0, LabelsBoot, SigsBoot),
    ("merge(1)", (s: String) => {
      MaintainedComponents.merge(spark, s"$s/labels",
        Seq((4L, 1L), (12L, 10L)).toDF("id_a", "id_b"), ids(4L, 12L),
        "doc_id", batchId = 1L)
      Dedup.appendSignatures(sigsOf(4L -> T1, 12L -> T2), "doc_id",
        s"$s/sigs")
    }, 0, 0, LabelsMerge, SigsMerge),
    ("forget(2)", (s: String) => forget(s, 2L, 1L),
      0, 0, LabelsForget, SigsForget),
    ("auto-fold: forget(3) at bound 2", (s: String) => {
      spark.conf.set("spark.graft.autoCompactPendingBatches", "2")
      try forget(s, 3L, 10L)
      finally spark.conf.unset("spark.graft.autoCompactPendingBatches")
    }, 1, 1, LabelsFold, SigsFold),
    ("compactLabels", (s: String) =>
      MaintainedComponents.compactLabels(spark, s"$s/labels"),
      1, 1, LabelsFold, SigsFold),
    ("compactSignatures", (s: String) =>
      Dedup.compactSignatures(spark, s"$s/sigs"),
      1, 2, LabelsFold, SigsFold))

  /** Parquet files per `batch_id=…` overlay dir under `store` (the
    * tree renders a dir's part files as one line).
    */
  private def batchFiles(store: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(store).toUri.getPath)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        p.getParent.getFileName.toString.startsWith("batch_id="))
      .toSeq.groupBy(_.getParent.toString).map { case (d, fs) => d -> fs.size }
    finally walk.close()
  }

  /** Run [[steps]] against a fresh store on `scheme`, checking the
    * tree after each one. Flat tables must match their trees exactly;
    * generation-rooted ones must be the `_gen` pointer plus that same
    * tree under `g<gen>/`.
    */
  private def pin(scheme: String): Unit = {
    val store = tmp(scheme)
    def table(name: String, gen: Int, flat: Seq[String]): Seq[String] =
      (if (scheme == "file://") flat
       else s"_gen=$gen" +: flat.map(s"g$gen/" + _)).map(s"$name/" + _)
    steps.foreach { case (step, run, labelGen, sigGen, labels, sigs) =>
      run(store)
      val want = (table("labels", labelGen, labels) ++
        table("sigs", sigGen, sigs)).sorted
      val got = TableTree(store)
      assert(got == want, s"$step on $scheme:\n" +
        got.map(s => s"  \"$s\"").mkString(",\n"))
      assert(batchFiles(store).forall(_._2 == 1),
        s"$step on $scheme: an overlay batch holds one parquet file " +
          batchFiles(store))
    }
    val labels = MaintainedComponents.read(spark, s"$store/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(2L -> 2L, 3L -> 2L, 4L -> 2L, 11L -> 11L,
      12L -> 11L), labels)
    val sigIds = Dedup.readSignatures(spark, s"$store/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(2L, 3L, 4L, 11L, 12L), sigIds)
  }

  private val LabelsBoot = Seq(
    "_SUCCESS",
    "_schema=doc_id:bigint,component:bigint,comp_part:int?",
    "comp_part=29/_bloom",
    "comp_part=29/part-*.snappy.parquet",
    "comp_part=61/_bloom",
    "comp_part=61/part-*.snappy.parquet")
  private val SigsBoot = Seq(
    "_SUCCESS",
    "sig_part=13/part-*.snappy.parquet",
    "sig_part=14/part-*.snappy.parquet",
    "sig_part=3/part-*.snappy.parquet",
    "sig_part=8/part-*.snappy.parquet")
  private val LabelsMerge = Seq(
    "_SUCCESS",
    "_applied=1",
    "_relabels/batch_id=1/_SUCCESS",
    "_relabels/batch_id=1/_done=1",
    "_relabels/batch_id=1/part-*.snappy.parquet",
    "_schema=doc_id:bigint,component:bigint,comp_part:int?",
    "comp_part=29/_bloom",
    "comp_part=29/part-*.snappy.parquet",
    "comp_part=61/_bloom",
    "comp_part=61/part-*.snappy.parquet")
  private val SigsMerge = Seq(
    "_SUCCESS",
    "sig_part=13/part-*.snappy.parquet",
    "sig_part=14/part-*.snappy.parquet",
    "sig_part=3/part-*.snappy.parquet",
    "sig_part=7/part-*.snappy.parquet",
    "sig_part=8/part-*.snappy.parquet",
    "sig_part=9/part-*.snappy.parquet")
  private val LabelsForget = Seq(
    "_SUCCESS",
    "_applied=2",
    "_relabels/batch_id=1/_SUCCESS",
    "_relabels/batch_id=1/_done=1",
    "_relabels/batch_id=1/part-*.snappy.parquet",
    "_relabels/batch_id=2/_SUCCESS",
    "_relabels/batch_id=2/_done=2",
    "_relabels/batch_id=2/part-*.snappy.parquet",
    "_schema=doc_id:bigint,component:bigint,comp_part:int?",
    "comp_part=29/_bloom",
    "comp_part=29/part-*.snappy.parquet",
    "comp_part=61/_bloom",
    "comp_part=61/part-*.snappy.parquet")
  private val SigsForget = Seq(
    "_SUCCESS",
    "_tombstones/batch_id=2-f31c5f1336eb2190/_SUCCESS",
    "_tombstones/batch_id=2-f31c5f1336eb2190/_done=2",
    "_tombstones/batch_id=2-f31c5f1336eb2190/part-*.snappy.parquet",
    "sig_part=13/part-*.snappy.parquet",
    "sig_part=14/part-*.snappy.parquet",
    "sig_part=3/part-*.snappy.parquet",
    "sig_part=7/part-*.snappy.parquet",
    "sig_part=8/part-*.snappy.parquet",
    "sig_part=9/part-*.snappy.parquet")
  private val LabelsFold = Seq(
    "_SUCCESS",
    "_applied=3",
    "_schema=doc_id:bigint?,component:bigint?,comp_part:int?",
    "comp_part=24/_bloom",
    "comp_part=24/part-*.snappy.parquet",
    "comp_part=49/_bloom",
    "comp_part=49/part-*.snappy.parquet")
  private val SigsFold = Seq(
    "_SUCCESS",
    "sig_part=13/part-*.snappy.parquet",
    "sig_part=14/part-*.snappy.parquet",
    "sig_part=3/part-*.snappy.parquet",
    "sig_part=7/part-*.snappy.parquet",
    "sig_part=9/part-*.snappy.parquet")

  test("component store layout: file:// (flat)") { pin("file://") }
  test("component store layout: simfs:// (generation root)") {
    pin("simfs://")
  }
}
