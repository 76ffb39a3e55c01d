package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Portable
import graft.model.Tables

/** Distinct-count maintained view: refresh ≡ full re-sketch (register
  * bit-equality, not just estimates), the dirty set MEASURED to be
  * only register-tying deletes (an interior delete — a removed key
  * whose rank is strictly below the register it hashed into — stays
  * arithmetic; recompute is never consulted), partition-pruned
  * rewrites, the PartCommit replay contract, and the emptied-view
  * read path.
  */
class MaintainedDistinctSpec extends SparkSpec {

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft_mdspec_").toString + "/view"

  /** (bucket, rank) of each candidate key under the view's own hash —
    * the spec picks interior/tying keys from MEASURED ranks, not
    * hand-assumed ones.
    */
  private def ranks(keys: Seq[String]): Map[String, (Long, Int)] = {
    import spark.implicits._
    val h = Portable.hash32(col("k"))
    keys.toDF("k")
      .select(col("k"), (h % Sketches.HllM).as("bucket"),
        Sketches.rho(shiftright(h, Sketches.HllB)).as("r"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap
  }

  /** A (hi, lo) key pair sharing a bucket with rank(hi) > rank(lo). */
  private def bucketPair(): (String, String) = {
    val rk = ranks((0 until 400).map(i => s"k$i"))
    rk.toSeq.groupBy(_._2._1).values
      .flatMap { ks =>
        val sorted = ks.sortBy(-_._2._2)
        if (sorted.size >= 2 && sorted(0)._2._2 > sorted(1)._2._2)
          Some((sorted(0)._1, sorted(1)._1))
        else None
      }
      .headOption.getOrElse(fail("no bucket-sharing key pair in 400"))
  }

  private def b(rs: (String, String)*): DataFrame = {
    import spark.implicits._
    rs.toDF("g", "k")
  }

  private def stored(path: String): Map[String, (Seq[Int], Long)] =
    MaintainedDistinct.read(spark, path)
      .collect().map(r => r.getString(0) ->
        ((r.getSeq[Int](1), r.getLong(2)))).toMap

  test("refresh ≡ full re-sketch across update/delete/insert (registers bit-equal)") {
    val li = Tables.lineitem(spark, sf)
    def rows(f: DataFrame): DataFrame = f
      .join(broadcast(Tables.supplier(spark, sf)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), col("k"))
    val path = tmp()
    val oldF = li.filter(col("l_orderkey") % 13 =!= 0)
      .withColumn("k", col("l_partkey").cast("string"))
    MaintainedDistinct.write(rows(oldF), Seq("nk"), "k", path)
    val removed = rows(oldF.filter(
      col("l_orderkey") % 7 === 0 || col("l_orderkey") % 11 === 0))
    val added = rows(oldF
        .filter(col("l_orderkey") % 7 === 0 && col("l_orderkey") % 11 =!= 0)
        .withColumn("k", (col("l_partkey") + 5000000L).cast("string")))
      .unionByName(rows(li.filter(col("l_orderkey") % 13 === 0)
        .withColumn("k", col("l_partkey").cast("string"))))
    val newRows = rows(li.filter(col("l_orderkey") % 11 =!= 0 ||
        col("l_orderkey") % 13 === 0)
      .withColumn("k",
        when(col("l_orderkey") % 7 === 0 && col("l_orderkey") % 11 =!= 0
            && col("l_orderkey") % 13 =!= 0, col("l_partkey") + 5000000L)
          .otherwise(col("l_partkey")).cast("string")))
      .localCheckpoint()
    var dirtyCount = -1L
    MaintainedDistinct.deltaRefresh(spark, path, removed, added,
      Seq("nk"), "k", batchId = 1L) { dirty =>
      dirtyCount = dirty.count()
      newRows.join(broadcast(dirty), Seq("nk"), "left_semi")
    }
    // the ground truth: a fresh sketch of the new snapshot
    val path2 = tmp()
    MaintainedDistinct.write(newRows, Seq("nk"), "k", path2)
    def state(p: String) = MaintainedDistinct.read(spark, p)
      .collect().map(r => r.get(0) ->
        ((r.getSeq[Int](1), r.getLong(2)))).toMap
    assert(state(path) == state(path2),
      "maintained registers must equal the full re-sketch bit-for-bit")
    assert(dirtyCount > 0, "fixture must exercise the dirty path")
    // and the served estimates match the direct estimator
    val est = MaintainedDistinct.readEstimates(spark, path, Seq("nk"))
    val direct = Sketches.hllDistinct(newRows, "nk", "k")
    assert(est.count() == direct.count())
    assert(est.select("nk", "hll_estimate")
      .exceptAll(direct.select(col("nk"), col("hll_estimate"))).isEmpty)
  }

  test("interior deletes never consult recompute; adds fold registers") {
    val (hi, lo) = bucketPair()
    val path = tmp()
    MaintainedDistinct.write(b(("g", hi), ("g", lo), ("h", "x1")),
      Seq("g"), "k", path)
    val before = stored(path)
    var consulted = false
    // remove g's INTERIOR key (its rank is strictly below the stored
    // register another key carries) and add a brand-new group i
    MaintainedDistinct.deltaRefresh(spark, path,
      removed = b(("g", lo)), added = b(("i", "x2")),
      Seq("g"), "k", batchId = 1L) { dirty =>
      consulted = true; dirty.limit(0).withColumn("k", lit(""))
    }
    assert(!consulted, "interior delete must stay arithmetic")
    val got = stored(path)
    assert(got("g")._1 == before("g")._1,
      "g's registers carry the surviving witness untouched")
    assert(got("g")._2 == 1L && got("h") == before("h"))
    assert(got("i")._2 == 1L)
  }

  test("register-tying delete dirties ONLY its group; replay no-ops") {
    val (hi, lo) = bucketPair()
    val path = tmp()
    MaintainedDistinct.write(b(("g", hi), ("g", lo), ("h", "x1")),
      Seq("g"), "k", path)
    val newSnap = b(("g", lo), ("h", "x1"), ("h", "x3")).localCheckpoint()
    var dirty = Seq.empty[String]
    // g loses the key CARRYING its register; h only gains (arithmetic)
    MaintainedDistinct.deltaRefresh(spark, path,
      removed = b(("g", hi)), added = b(("h", "x3")),
      Seq("g"), "k", batchId = 1L) { d =>
      dirty = d.collect().map(_.getString(0)).toSeq
      newSnap.join(broadcast(d), Seq("g"), "left_semi")
    }
    assert(dirty == Seq("g"), s"dirty set was $dirty")
    val after = stored(path)
    // g was re-sketched from its surviving key alone
    val fresh = tmp()
    MaintainedDistinct.write(newSnap, Seq("g"), "k", fresh)
    assert(after == stored(fresh))
    // replay of batch 1 must not re-apply (h would double-fold)
    MaintainedDistinct.deltaRefresh(spark, path,
      removed = b(("g", hi)), added = b(("h", "x3")),
      Seq("g"), "k", batchId = 1L) { d =>
      newSnap.join(broadcast(d), Seq("g"), "left_semi")
    }
    assert(stored(path) == after, "replay double-applied")
  }

  test("CDC refresh refuses a base with pending streaming deltas") {
    val path = tmp()
    MaintainedDistinct.write(b(("g", "a")), Seq("g"), "k", path)
    MaintainedDistinct.writeDeltaPartial(b(("g", "b")), batchId = 1L,
      Seq("g"), "k", path)
    // a delete of "b" would be resurrected by readWithDeltas (register
    // max can't subtract) — fail fast, don't corrupt
    val e = intercept[IllegalArgumentException] {
      MaintainedDistinct.deltaRefresh(spark, path,
        removed = b(("g", "b")), added = b(),
        Seq("g"), "k", batchId = 2L) { d => fail("must not reach") }
    }
    assert(e.getMessage.contains("compactDeltas"))
    // after compaction the same refresh is legal and register-exact
    MaintainedDistinct.compactDeltas(spark, path, Seq("g"))
    MaintainedDistinct.deltaRefresh(spark, path,
      removed = b(("g", "b")), added = b(),
      Seq("g"), "k", batchId = 2L) { d =>
      b(("g", "a")).join(broadcast(d), Seq("g"), "left_semi")
    }
    val fresh = tmp()
    MaintainedDistinct.write(b(("g", "a")), Seq("g"), "k", fresh)
    assert(stored(path) == stored(fresh))
  }

  test("refresh rewrites only touched partitions; emptied view stays readable") {
    val li = Tables.lineitem(spark, sf)
    def rows(f: DataFrame): DataFrame = f
      .join(broadcast(Tables.supplier(spark, sf)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"),
        col("l_partkey").cast("string").as("k"))
    val path = tmp()
    MaintainedDistinct.write(rows(li), Seq("nk"), "k", path)
    // one group's insert touches exactly its partition
    val one = rows(li.limit(1)).localCheckpoint()
    val parts = graft.io.ViewTable.withAggPart(
      one.select("nk").distinct(), Seq("nk"))
      .select("agg_part").distinct().collect().map(_.getInt(0)).toSet
    assert(parts.size == 1)
    def files(p: String, skip: Set[Int]): Map[String, Long] = {
      val root = new java.io.File(p)
      root.listFiles().filter(f => f.getName.startsWith("agg_part=") &&
          !skip(f.getName.stripPrefix("agg_part=").toInt))
        .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified())
        .toMap
    }
    val before = files(path, parts)
    // the refresh's view-slice read prunes at the partition level —
    // ScanAudit numbers, not prose (the MaintainedAgg standard)
    val total = spark.read.parquet(path).count()
    val slice = spark.read.parquet(path)
      .filter(col("agg_part").isin(parts.toSeq: _*))
    val read = graft.plans.ScanAudit.measure(slice).rowsRead
    val allParts = graft.io.ViewTable.withAggPart(
      spark.read.parquet(path).select("nk").distinct(), Seq("nk"))
      .select("agg_part").distinct().count()
    if (allParts > 1) // guard a degenerate all-in-one-partition layout
      assert(read < total,
        s"a one-group batch must not scan the whole view: $read of $total")
    assert(slice.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "agg_part must prune at plan level")
    MaintainedDistinct.deltaRefresh(spark, path,
      removed = one.limit(0), added = one,
      Seq("nk"), "k", batchId = 1L) { d => fail("insert-only is clean") }
    assert(files(path, parts) == before,
      "untouched agg_part partitions must not be rewritten")
    // drain the whole view: remove EVERY row ever written (the base
    // corpus plus batch 1's insert) — all groups lose their register
    // witnesses → dirty, and the recompute returns nothing
    MaintainedDistinct.deltaRefresh(spark, path,
      removed = rows(li).unionByName(one), added = one.limit(0),
      Seq("nk"), "k", batchId = 2L) { d =>
      d.withColumn("k", lit("zzz")).limit(0)
    }
    assert(MaintainedDistinct.read(spark, path).isEmpty,
      "fully-emptied view must read as empty, not error")
    // and it can be refilled through the normal refresh path
    MaintainedDistinct.deltaRefresh(spark, path,
      removed = one.limit(0), added = one,
      Seq("nk"), "k", batchId = 3L) { d => fail("insert-only is clean") }
    assert(MaintainedDistinct.read(spark, path).count() == 1L)
  }
}
