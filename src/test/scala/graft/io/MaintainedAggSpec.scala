package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec
import graft.model.Tables

/** The stored hash-partitioned materialized aggregate: delta refresh
  * ≡ full recompute (the MV-maintenance invariant, exact decimals),
  * group deletion/insertion through the count column, and MEASURED
  * partition pruning — a small batch must read/rewrite only its
  * touched `agg_part` partitions, never the whole view.
  */
class MaintainedAggSpec extends SparkSpec {

  private val dec = DecimalType(18, 2)
  private def rev(price: org.apache.spark.sql.Column) =
    (price.cast(dec) * (lit(1) - col("l_discount")).cast(dec))
      .as("revenue")

  private def enrich(f: DataFrame): DataFrame = f
    .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
    .join(broadcast(Tables.customer(spark, sf)),
      col("o_custkey") === col("c_custkey"))
    .join(broadcast(Tables.nation(spark, sf)),
      col("c_nationkey") === col("n_nationkey"))

  private def aggOf(rows: DataFrame): DataFrame = rows
    .groupBy("n_name", "c_name")
    .agg(sum("revenue").as("revenue"), count(lit(1)).as("n_lines"))

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft_mvspec_").toString + "/view"

  test("delta refresh ≡ full recompute: updates, deletes, inserts") {
    val li = Tables.lineitem(spark, sf)
    val path = tmp()
    // old snapshot EXCLUDES %13 rows so the refresh can insert them
    // (some of those customers' groups are brand-new to the view)
    val oldF = li.filter(col("l_orderkey") % 13 =!= 0)
    graft.io.MaintainedAgg.write(
      aggOf(enrich(oldF).select(col("n_name"), col("c_name"),
        rev(col("l_extendedprice")))),
      Seq("n_name", "c_name"), path, Seq("revenue"), "n_lines")
    // batch: update %7 (price+1), delete %11, insert the %13 rows
    val changedOld = enrich(oldF.filter(
      col("l_orderkey") % 7 === 0 || col("l_orderkey") % 11 === 0))
      .select(col("n_name"), col("c_name"), col("l_orderkey"),
        col("l_extendedprice"), col("l_discount")).localCheckpoint()
    val removed = changedOld
      .select(col("n_name"), col("c_name"), rev(col("l_extendedprice")))
    val added = changedOld.filter(col("l_orderkey") % 11 =!= 0)
      .select(col("n_name"), col("c_name"),
        rev(col("l_extendedprice") + 1.0))
      .unionByName(enrich(li.filter(col("l_orderkey") % 13 === 0))
        .select(col("n_name"), col("c_name"), rev(col("l_extendedprice"))))
    graft.io.MaintainedAgg.deltaRefresh(spark, path, removed, added,
      Seq("n_name", "c_name"), Seq("revenue"), "n_lines")
    // full recompute of the new snapshot, exact decimals
    val newF = li.filter(col("l_orderkey") % 11 =!= 0 ||
        col("l_orderkey") % 13 === 0)
      .withColumn("l_extendedprice",
        when(col("l_orderkey") % 7 === 0 && col("l_orderkey") % 11 =!= 0
            && col("l_orderkey") % 13 =!= 0,
          col("l_extendedprice") + 1.0)
          .otherwise(col("l_extendedprice")))
    val expect = aggOf(enrich(newF).select(col("n_name"), col("c_name"),
      rev(col("l_extendedprice"))))
      .select(col("n_name"), col("c_name"),
        col("revenue").cast(DecimalType(38, 6)).as("revenue"),
        col("n_lines"))
    val got = graft.io.MaintainedAgg.read(spark, path)
      .select("n_name", "c_name", "revenue", "n_lines")
    assert(got.count() == expect.count(),
      s"row counts: got ${got.count()} expect ${expect.count()}")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "maintained view must equal the full recompute bit-for-bit")
  }

  test("group deletion: a group whose last row is removed drops out") {
    import spark.implicits._
    val path = tmp()
    val base = Seq(("a", "g1", 10), ("a", "g1", 5), ("b", "g2", 7))
      .toDF("k1", "k2", "m")
      .select(col("k1"), col("k2"), col("m").cast(dec).as("m"))
    graft.io.MaintainedAgg.write(
      base.groupBy("k1", "k2").agg(sum("m").as("m"),
        count(lit(1)).as("n")),
      Seq("k1", "k2"), path, Seq("m"), "n")
    // remove BOTH g1 rows → g1 must vanish; its partition file too if
    // it held nothing else
    graft.io.MaintainedAgg.deltaRefresh(spark, path,
      removed = Seq(("a", "g1", 10), ("a", "g1", 5)).toDF("k1", "k2", "m")
        .select(col("k1"), col("k2"), col("m").cast(dec).as("m")),
      added = Seq.empty[(String, String, Int)].toDF("k1", "k2", "m")
        .select(col("k1"), col("k2"), col("m").cast(dec).as("m")),
      Seq("k1", "k2"), Seq("m"), "n")
    val left = graft.io.MaintainedAgg.read(spark, path)
      .select("k1", "k2").as[(String, String)].collect().toSet
    assert(left == Set(("b", "g2")), left)
  }

  test("CDC refresh refuses a base with pending streaming deltas") {
    import spark.implicits._
    val path = tmp()
    def b(rs: (String, Int)*) =
      rs.toDF("k", "m").select(col("k"), col("m").cast(dec).as("m"))
    graft.io.MaintainedAgg.write(
      b(("g", 5)).groupBy("k").agg(sum("m").as("m"), count(lit(1)).as("n")),
      Seq("k"), path, Seq("m"), "n")
    graft.io.MaintainedAgg.writeDeltaPartial(b(("g", 3)), 1L,
      Seq("k"), Seq("m"), "n", path)
    // removing the delta's row would drive the base count to zero and
    // the count>0 clamp would drop g, losing the subtraction for good
    val e = intercept[IllegalArgumentException] {
      graft.io.MaintainedAgg.deltaRefresh(spark, path,
        removed = b(("g", 3)), added = b(), Seq("k"), Seq("m"), "n",
        batchId = 1L)
    }
    assert(e.getMessage.contains("compactDeltas"), e.getMessage)
    // after compaction the same refresh is legal and exact
    graft.io.MaintainedAgg.compactDeltas(spark, path, Seq("k"), Seq("m"), "n")
    graft.io.MaintainedAgg.deltaRefresh(spark, path,
      removed = b(("g", 3)), added = b(), Seq("k"), Seq("m"), "n",
      batchId = 1L)
    val got = graft.io.MaintainedAgg.read(spark, path)
      .select(col("k"), col("m").cast("decimal(38,6)"), col("n"))
      .collect().map(r => (r.getString(0), BigDecimal(r.getDecimal(1)),
        r.getLong(2))).toSeq
    assert(got == Seq(("g", BigDecimal(5), 1L)), got)
  }

  test("refresh reads only TOUCHED partitions of the stored view") {
    val li = Tables.lineitem(spark, sf)
    val path = tmp()
    graft.io.MaintainedAgg.write(
      aggOf(enrich(li).select(col("n_name"), col("c_name"),
        rev(col("l_extendedprice")))),
      Seq("n_name", "c_name"), path, Seq("revenue"), "n_lines")
    val total = spark.read.parquet(path).count()
    // one customer's update: ≤ a couple of groups → ≤ a couple of the
    // AggParts partitions touched
    val one = enrich(li.limit(4))
      .select(col("n_name"), col("c_name"), col("l_extendedprice"),
        col("l_discount")).localCheckpoint()
    val removed = one.select(col("n_name"), col("c_name"),
      rev(col("l_extendedprice")))
    val added = one.select(col("n_name"), col("c_name"),
      rev(col("l_extendedprice") + 1.0))
    // measure the refresh's view-slice read via the same static
    // partition filter deltaRefresh uses (ScanAudit numbers, not prose)
    val keyed = graft.io.ViewTable.withAggPart(
      removed.select("n_name", "c_name").distinct(), Seq("n_name", "c_name"))
    val parts = keyed.select("agg_part").distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(parts.nonEmpty &&
      parts.size < graft.io.ViewTable.AggParts / 4, parts.toString)
    val slice = spark.read.parquet(path)
      .filter(col("agg_part").isin(parts: _*))
    val read = graft.plans.ScanAudit.measure(slice).rowsRead
    assert(read < total / 2,
      s"a tiny batch must not scan the whole view: read $read of $total")
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("agg_part"),
      s"agg_part must prune at the partition level:\n$plan")
    // and the refresh itself leaves untouched partitions' FILES alone
    val before = untouchedFiles(path, parts.toSet)
    graft.io.MaintainedAgg.deltaRefresh(spark, path, removed, added,
      Seq("n_name", "c_name"), Seq("revenue"), "n_lines")
    assert(untouchedFiles(path, parts.toSet) == before,
      "untouched agg_part partitions must not be rewritten")
  }

  test("deltaRefresh shuffle is batch-sized, never view-sized") {
    val li = Tables.lineitem(spark, sf)
    val path = tmp()
    graft.io.MaintainedAgg.write(
      aggOf(enrich(li).select(col("n_name"), col("c_name"),
        rev(col("l_extendedprice")))),
      Seq("n_name", "c_name"), path, Seq("revenue"), "n_lines")
    val viewRows = spark.read.parquet(path).count()
    val one = enrich(li.limit(4))
      .select(col("n_name"), col("c_name"), col("l_extendedprice"),
        col("l_discount")).localCheckpoint()
    val removed = one.select(col("n_name"), col("c_name"),
      rev(col("l_extendedprice")))
    val added = one.select(col("n_name"), col("c_name"),
      rev(col("l_extendedprice") + 1.0))
    // the refresh runs its own jobs (collect + write), so measure the
    // total shuffle WRITE records across them with a stage listener
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        written.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.io.MaintainedAgg.deltaRefresh(spark, path, removed, added,
        Seq("n_name", "c_name"), Seq("revenue"), "n_lines")
      // listener events are async; wait until the count stabilizes
      var last = -1L
      var spins = 0
      while (written.get() != last && spins < 50) {
        last = written.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // deltas shuffle ∝ batch groups; the merge shuffles only the
    // touched partitions' slice — a refresh that shuffled the whole
    // view (or worse, re-read facts corpus-wide) trips this
    assert(written.get() > 0 && written.get() < viewRows / 2,
      s"refresh shuffled ${written.get()} records for a 4-row batch " +
        s"over a $viewRows-row view")
  }

  private def untouchedFiles(path: String,
                             touched: Set[Int]): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory)
      .filter(d => d.getPath.getName.startsWith("agg_part=") &&
        !touched.contains(d.getPath.getName.stripPrefix("agg_part=").toInt))
      .flatMap(d => fs.listStatus(d.getPath).map(f =>
        f.getPath.toString + ":" + f.getModificationTime + ":" + f.getLen))
      .toSet
  }
}
