package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec
import graft.operators.{MaintainedDistinct, MaintainedSample}

/** The on-disk layout of the agg_part view family, pinned file by
  * file: for the sum, min/max, distinct and sample views, the table
  * tree after bootstrap, refresh(1), a streaming delta write (where
  * the view has one) and compaction, on an atomic-rename filesystem
  * (flat table) and on the non-atomic `simfs://` shim (generation
  * root), rendered by [[TableTree]].
  */
class ViewTableSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.simfs.impl", classOf[SimFs].getName)
    c
  }

  private def tmp(scheme: String): String = {
    hconf
    scheme + java.nio.file.Files
      .createTempDirectory("graft_vtspec_").toString + "/view"
  }

  /** Run `steps` in order against a fresh table on `scheme`, checking
    * the tree after each one. Flat tables must match `flat` exactly;
    * generation-rooted ones must be the `_gen` pointer plus that same
    * tree under `g<gen>/`.
    */
  private def pin(scheme: String,
                  steps: Seq[(String, String => Unit, Int, Seq[String])])
      : Unit = {
    val path = tmp(scheme)
    steps.foreach { case (step, run, gen, flat) =>
      run(path)
      val want =
        if (scheme == "file://") flat.sorted
        else (s"_gen=$gen" +: flat.map(s"g$gen/" + _)).sorted
      val got = TableTree(path)
      assert(got == want, s"$step on $scheme:\n" +
        got.map(s => s"  \"$s\"").mkString(",\n"))
    }
  }

  private val dec = DecimalType(18, 2)

  // ---- sum/count ----

  private def sumRows(rs: (String, Int)*): DataFrame =
    rs.toDF("k", "m").select(col("k"), col("m").cast(dec).as("m"))

  private def sumSteps: Seq[(String, String => Unit, Int, Seq[String])] = Seq(
    ("bootstrap", (p: String) => MaintainedAgg.write(
      sumRows(("a", 10), ("b", 7), ("c", 5)).groupBy("k")
        .agg(sum("m").as("m"), count(lit(1)).as("n")),
      Seq("k"), p, Seq("m"), "n"), 0, SumBoot),
    ("refresh(1)", (p: String) => MaintainedAgg.deltaRefresh(spark, p,
      removed = sumRows(("b", 7)), added = sumRows(("a", 1), ("d", 3)),
      Seq("k"), Seq("m"), "n", 1L), 0, SumRefresh),
    ("delta(2)", (p: String) => MaintainedAgg.writeDeltaPartial(
      sumRows(("a", 2), ("e", 4)), 2L, Seq("k"), Seq("m"), "n", p),
      0, SumDelta),
    ("compact", (p: String) => MaintainedAgg.compactDeltas(spark, p,
      Seq("k"), Seq("m"), "n"), 1, SumCompact))

  private val SumBoot = Seq(
    "_SUCCESS",
    "_schema=k:string?,m:decimal(38,6)?,n:bigint,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=18/part-*.snappy.parquet",
    "agg_part=26/part-*.snappy.parquet")
  private val SumRefresh = Seq(
    "_SUCCESS",
    "_applied=1",
    "_schema=k:string?,m:decimal(38,6)?,n:bigint,agg_part:int?",
    "agg_part=18/part-*.snappy.parquet",
    "agg_part=26/part-*.snappy.parquet",
    "agg_part=6/part-*.snappy.parquet")
  private val SumDelta = Seq(
    "_SUCCESS",
    "_applied=1",
    "_deltas/batch_id=2/_SUCCESS",
    "_deltas/batch_id=2/part-*.snappy.parquet",
    "_schema=k:string?,m:decimal(38,6)?,n:bigint,agg_part:int?",
    "agg_part=18/part-*.snappy.parquet",
    "agg_part=26/part-*.snappy.parquet",
    "agg_part=6/part-*.snappy.parquet")
  private val SumCompact = Seq(
    "_SUCCESS",
    "_applied=1",
    "_folded=2",
    "_schema=k:string?,m:decimal(38,6)?,n:bigint?,agg_part:int?",
    "agg_part=18/part-*.snappy.parquet",
    "agg_part=26/part-*.snappy.parquet",
    "agg_part=6/part-*.snappy.parquet")

  test("sum view layout: file:// (flat)") { pin("file://", sumSteps) }
  test("sum view layout: simfs:// (generation root)") {
    pin("simfs://", sumSteps)
  }

  // ---- min/max (no delta writer) ----

  private def mmRows(rs: (String, Int)*): DataFrame =
    rs.toDF("k", "v").select(col("k"), col("v").cast(dec).as("v"))

  private def minMaxSteps: Seq[(String, String => Unit, Int, Seq[String])] = Seq(
    ("bootstrap", (p: String) => MaintainedAgg.writeMinMax(
      mmRows(("a", 10), ("a", 20), ("b", 7), ("c", 5)), Seq("k"), p,
      Seq("v"), "n"), 0, MinMaxBoot),
    ("refresh(1)", (p: String) => MaintainedAgg.deltaRefreshMinMax(spark, p,
      removed = mmRows(("a", 10)), added = mmRows(("d", 3)),
      Seq("k"), Seq("v"), "n", 1L) { d =>
        mmRows(("a", 20), ("b", 7), ("c", 5), ("d", 3))
          .join(d, Seq("k"), "left_semi")
      }, 0, MinMaxRefresh))

  private val MinMaxBoot = Seq(
    "_SUCCESS",
    "_schema=k:string?,min_v:decimal(38,6)?,max_v:decimal(38,6)?,n:bigint,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=18/part-*.snappy.parquet",
    "agg_part=26/part-*.snappy.parquet")
  private val MinMaxRefresh = Seq(
    "_SUCCESS",
    "_applied=1",
    "_schema=k:string?,min_v:decimal(38,6)?,max_v:decimal(38,6)?,n:bigint,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=18/part-*.snappy.parquet",
    "agg_part=26/part-*.snappy.parquet",
    "agg_part=6/part-*.snappy.parquet")

  test("min/max view layout: file:// (flat)") { pin("file://", minMaxSteps) }
  test("min/max view layout: simfs:// (generation root)") {
    pin("simfs://", minMaxSteps)
  }

  // ---- distinct (HLL registers) ----

  private def dRows(rs: (String, String)*): DataFrame = rs.toDF("g", "k")

  private def distinctSteps: Seq[(String, String => Unit, Int, Seq[String])] = Seq(
    ("bootstrap", (p: String) => MaintainedDistinct.write(
      dRows(("g1", "x1"), ("g1", "x2"), ("g2", "y1"), ("g3", "z1")),
      Seq("g"), "k", p), 0, DistinctBoot),
    ("refresh(1)", (p: String) => MaintainedDistinct.deltaRefresh(spark, p,
      removed = dRows(("g2", "y1")), added = dRows(("g4", "w1")),
      Seq("g"), "k", 1L) { d =>
        dRows(("g1", "x1"), ("g1", "x2"), ("g3", "z1"), ("g4", "w1"))
          .join(d, Seq("g"), "left_semi")
      }, 0, DistinctRefresh),
    ("delta(2)", (p: String) => MaintainedDistinct.writeDeltaPartial(
      dRows(("g1", "x3"), ("g5", "v1")), 2L, Seq("g"), "k", p),
      0, DistinctDelta),
    ("compact", (p: String) =>
      MaintainedDistinct.compactDeltas(spark, p, Seq("g")),
      1, DistinctCompact))

  private val DistinctBoot = Seq(
    "_SUCCESS",
    "_schema=g:string?,regs:array<int>?,n:bigint,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=20/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")
  private val DistinctRefresh = Seq(
    "_SUCCESS",
    "_applied=1",
    "_schema=g:string?,regs:array<int>?,n:bigint,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=49/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")
  private val DistinctDelta = Seq(
    "_SUCCESS",
    "_applied=1",
    "_deltas/batch_id=2/_SUCCESS",
    "_deltas/batch_id=2/part-*.snappy.parquet",
    "_schema=g:string?,regs:array<int>?,n:bigint,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=49/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")
  private val DistinctCompact = Seq(
    "_SUCCESS",
    "_applied=1",
    "_folded=2",
    "_schema=g:string?,regs:array<int>?,n:bigint?,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=49/part-*.snappy.parquet",
    "agg_part=55/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")

  test("distinct view layout: file:// (flat)") {
    pin("file://", distinctSteps)
  }
  test("distinct view layout: simfs:// (generation root)") {
    pin("simfs://", distinctSteps)
  }

  // ---- sample (bottom-m) ----

  private def sRows(rs: (String, String, Double)*): DataFrame =
    rs.toDF("g", "k", "v")

  private def sampleSteps: Seq[(String, String => Unit, Int, Seq[String])] = Seq(
    ("bootstrap", (p: String) => MaintainedSample.write(
      sRows(("g1", "a", 1.0), ("g1", "b", 2.0), ("g1", "c", 3.0),
        ("g2", "d", 4.0), ("g3", "e", 5.0)), "g", "k", "v", p, 2),
      0, SampleBoot),
    ("refresh(1)", (p: String) => MaintainedSample.deltaRefresh(spark, p,
      removed = sRows(("g2", "d", 4.0)), added = sRows(("g4", "f", 6.0)),
      "g", "k", "v", 2, 1L) { d =>
        sRows(("g1", "a", 1.0), ("g1", "b", 2.0), ("g1", "c", 3.0),
          ("g3", "e", 5.0), ("g4", "f", 6.0))
          .join(d, Seq("g"), "left_semi")
      }, 0, SampleRefresh),
    ("delta(2)", (p: String) => MaintainedSample.writeDeltaPartial(
      sRows(("g1", "h", 7.0), ("g5", "i", 8.0)), 2L, "g", "k", "v", 2, p),
      0, SampleDelta),
    ("compact", (p: String) =>
      MaintainedSample.compactDeltas(spark, p, "g", 2), 1, SampleCompact))

  private val SampleBoot = Seq(
    "_SUCCESS",
    "_schema=g:string?,hv:bigint?,key:string?,v:double?,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=20/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")
  private val SampleRefresh = Seq(
    "_SUCCESS",
    "_applied=1",
    "_schema=g:string?,hv:bigint?,key:string?,v:double?,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=49/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")
  private val SampleDelta = Seq(
    "_SUCCESS",
    "_applied=1",
    "_deltas/batch_id=2/_SUCCESS",
    "_deltas/batch_id=2/part-*.snappy.parquet",
    "_schema=g:string?,hv:bigint?,key:string?,v:double?,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=49/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")
  private val SampleCompact = Seq(
    "_SUCCESS",
    "_applied=1",
    "_folded=2",
    "_schema=g:string?,hv:bigint?,key:string?,v:double?,agg_part:int?",
    "agg_part=1/part-*.snappy.parquet",
    "agg_part=49/part-*.snappy.parquet",
    "agg_part=55/part-*.snappy.parquet",
    "agg_part=9/part-*.snappy.parquet")

  test("sample view layout: file:// (flat)") { pin("file://", sampleSteps) }
  test("sample view layout: simfs:// (generation root)") {
    pin("simfs://", sampleSteps)
  }
}
