package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The two-phase touched-partition commit: exactly-once under retry
  * (batch-id replay no-ops), crash recovery from every window the r12
  * advice identified (post-marker, mid-apply — including the mixed
  * state dynamic partition overwrite could leave), and the
  * fully-emptied-view read path through the persisted `_schema`.
  */
class PartCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft_pcspec_").toString + "/view"

  private def dec = org.apache.spark.sql.types.DecimalType(18, 2)

  private def seed(path: String): Unit = {
    val base = Seq(("a", 10), ("b", 7), ("c", 5)).toDF("k", "m")
      .select(col("k"), col("m").cast(dec).as("m"))
    MaintainedAgg.write(
      base.groupBy("k").agg(sum("m").as("m"), count(lit(1)).as("n")),
      Seq("k"), path, Seq("m"), "n")
  }

  private def viewMap(path: String): Map[String, (BigDecimal, Long)] =
    MaintainedAgg.read(spark, path)
      .select(col("k"), col("m").cast("decimal(38,6)"), col("n"))
      .collect()
      .map(r => r.getString(0) ->
        (BigDecimal(r.getDecimal(1)), r.getLong(2))).toMap

  private def batch(rows: (String, Int)*) =
    rows.toDF("k", "m").select(col("k"), col("m").cast(dec).as("m"))

  test("replaying an applied batchId is a no-op; the next id applies") {
    val path = tmp()
    seed(path)
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(("a", 1)), Seq("k"), Seq("m"), "n", batchId = 1L)
    val after1 = viewMap(path)
    assert(after1("a") == (BigDecimal(11), 2L), after1)
    // unattended at-least-once replay of batch 1: must not double-add
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(("a", 1)), Seq("k"), Seq("m"), "n", batchId = 1L)
    assert(viewMap(path) == after1, "replay of batch 1 double-applied")
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(("a", 1)), Seq("k"), Seq("m"), "n", batchId = 2L)
    assert(viewMap(path)("a") == (BigDecimal(12), 3L))
  }

  test("crash AFTER the commit marker: recover applies exactly once") {
    val path = tmp()
    seed(path)
    // stage batch 1 (a += 1) fully, publish the marker, but "crash"
    // before the apply phase — built by hand to pin the on-disk format
    val keyed = ViewTable.withAggPart(
      batch(("a", 11)).groupBy("k")
        .agg(sum("m").cast("decimal(38,6)").as("m"), lit(2L).as("n")),
      Seq("k"))
    val parts = keyed.select("agg_part").distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(parts.size == 1)
    val p = parts.head
    // the staged content REPLACES partition p: carry the other groups
    // of p untouched (none here — a/b/c land in distinct parts at this
    // layout; assert so the fixture stays honest)
    val others = spark.read.parquet(path)
      .filter(col("agg_part") === p && col("k") =!= "a")
    assert(others.isEmpty)
    keyed.write.mode("overwrite").partitionBy("agg_part")
      .parquet(PartCommit.stageDir(path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_commit"), true)
    out.write(s"1\nagg_part\n$p\n$p\n".getBytes("UTF-8")); out.close()
    // a half-applied commit must be invisible to readers: read()
    // recovers first
    val got = viewMap(path)
    assert(got("a") == (BigDecimal(11), 2L), got)
    assert(PartCommit.lastApplied(spark, path) == 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "_commit")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      PartCommit.stageDir(path))))
    // and the delta-refresh retry of batch 1 is now a no-op
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(("a", 1)), Seq("k"), Seq("m"), "n", batchId = 1L)
    assert(viewMap(path)("a") == (BigDecimal(11), 2L))
  }

  test("id-free refresh after a post-marker crash applies on top of it") {
    val path = tmp()
    seed(path)
    // batch 1 (a += 1) staged and its marker published, `_applied`
    // never written — the "crash AFTER the commit marker" state
    val keyed = ViewTable.withAggPart(
      batch(("a", 11)).groupBy("k")
        .agg(sum("m").cast("decimal(38,6)").as("m"), lit(2L).as("n")),
      Seq("k"))
    val p = keyed.select("agg_part").head().getInt(0)
    keyed.write.mode("overwrite").partitionBy("agg_part")
      .parquet(PartCommit.stageDir(path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_commit"), true)
    out.write(s"1\nagg_part\n$p\n$p\n".getBytes("UTF-8")); out.close()
    assert(PartCommit.lastApplied(spark, path) == -1L)
    // the id-free call must allocate its id AFTER recovery has
    // applied batch 1, or the replay gate drops this batch
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(("a", 1)), Seq("k"), Seq("m"), "n")
    assert(viewMap(path)("a") == (BigDecimal(12), 3L))
    assert(PartCommit.lastApplied(spark, path) == 2L)
  }

  test("crash MID-APPLY (mixed state): recovery converges, no double") {
    val path = tmp()
    seed(path)
    // batch 2 touches TWO partitions: a += 1 (update) and b removed
    // (partition emptied). Simulate the dynamic-overwrite nightmare:
    // a's partition already swapped in, b's deletion not yet done,
    // marker still present.
    val aKeyed = ViewTable.withAggPart(
      batch(("a", 11)).groupBy("k")
        .agg(sum("m").cast("decimal(38,6)").as("m"), lit(2L).as("n")),
      Seq("k"))
    val bKeyed = ViewTable.withAggPart(
      batch(("b", 7)).select(col("k")).distinct(), Seq("k"))
    val pa = aKeyed.select("agg_part").head().getInt(0)
    val pb = bKeyed.select("agg_part").head().getInt(0)
    assert(pa != pb, "fixture needs a and b in different partitions")
    aKeyed.write.mode("overwrite").partitionBy("agg_part")
      .parquet(PartCommit.stageDir(path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_commit"), true)
    out.write(s"2\nagg_part\n$pa,$pb\n$pa\n".getBytes("UTF-8")); out.close()
    // "crash" happened after a's swap: perform it by hand (this is the
    // state a per-partition committer leaves mid-flight)
    fs.delete(new org.apache.hadoop.fs.Path(path, s"agg_part=$pa"), true)
    fs.rename(
      new org.apache.hadoop.fs.Path(PartCommit.stageDir(path),
        s"agg_part=$pa"),
      new org.apache.hadoop.fs.Path(path, s"agg_part=$pa"))
    // retry: recover must finish b's deletion and NOT re-touch a
    assert(PartCommit.recover(spark, path))
    val got = viewMap(path)
    assert(got == Map("a" -> (BigDecimal(11), 2L),
      "c" -> (BigDecimal(5), 1L)), got)
    // recover is idempotent
    assert(!PartCommit.recover(spark, path))
  }

  test("fully-emptied view stays readable and refreshable") {
    val path = tmp()
    seed(path)
    // delete every group → zero parquet files left under the view
    MaintainedAgg.deltaRefresh(spark, path,
      removed = batch(("a", 10), ("b", 7), ("c", 5)), added = batch(),
      Seq("k"), Seq("m"), "n", batchId = 1L)
    assert(MaintainedAgg.read(spark, path).isEmpty)
    assert(MaintainedAgg.read(spark, path).columns.toSet ==
      Set("k", "m", "n"))
    // and the next batch repopulates through the same path
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(("d", 3)), Seq("k"), Seq("m"), "n", batchId = 2L)
    assert(viewMap(path) == Map("d" -> (BigDecimal(3), 1L)))
  }

  test("an empty delta batch still advances the applied mark") {
    val path = tmp()
    seed(path)
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(), Seq("k"), Seq("m"), "n", batchId = 5L)
    assert(PartCommit.lastApplied(spark, path) == 5L)
    // a stale replay below the mark no-ops even with real deltas
    MaintainedAgg.deltaRefresh(spark, path, removed = batch(),
      added = batch(("a", 100)), Seq("k"), Seq("m"), "n", batchId = 4L)
    assert(viewMap(path)("a") == (BigDecimal(10), 1L))
  }
}
