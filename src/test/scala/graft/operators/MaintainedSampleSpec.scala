package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Portable
import graft.model.Tables

/** Maintained quantile-sketch (bottom-m sample) view: refresh ≡ full
  * re-sketch (row equality — the sample is a pure set function of the
  * keys), the dirty set MEASURED to be only member-hitting deletes
  * (a non-member delete on a full sample stays arithmetic; recompute
  * is never consulted), the PartCommit replay contract, and
  * untouched-partition stability.
  */
class MaintainedSampleSpec extends SparkSpec {

  private val M = 2

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft_msspec_").toString + "/view"

  /** Keys of one group in the sample's own rank order (hash32, key). */
  private def rankOrder(keys: Seq[String]): Seq[String] = {
    import spark.implicits._
    keys.toDF("k")
      .select(col("k"), Portable.hash32(col("k")).as("hv"))
      .orderBy(col("hv"), col("k"))
      .collect().map(_.getString(0)).toSeq
  }

  private def b(rs: (String, String, Double)*): DataFrame = {
    import spark.implicits._
    rs.toDF("g", "k", "v")
  }

  private def stored(path: String): Set[(String, String, Double)] =
    MaintainedSample.read(spark, path)
      .select("g", "key", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet

  test("refresh ≡ full re-sketch across update/delete/insert (rows equal)") {
    val li = Tables.lineitem(spark, sf)
    def keyed(f: DataFrame): DataFrame = f.withColumn("k",
      concat_ws("-", col("l_orderkey"), col("l_linenumber")))
    def rows(f: DataFrame): DataFrame = f
      .join(broadcast(Tables.supplier(spark, sf)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"), col("k"), col("v"))
    val path = tmp()
    val m = 16
    val oldF = keyed(li.filter(col("l_orderkey") % 13 =!= 0))
      .withColumn("v", col("l_extendedprice"))
    MaintainedSample.write(rows(oldF), "nk", "k", "v", path, m)
    val removed = rows(oldF.filter(
      col("l_orderkey") % 7 === 0 || col("l_orderkey") % 11 === 0))
    val added = rows(oldF
        .filter(col("l_orderkey") % 7 === 0 && col("l_orderkey") % 11 =!= 0)
        .withColumn("v", col("l_extendedprice") + 1.0))
      .unionByName(rows(keyed(li.filter(col("l_orderkey") % 13 === 0))
        .withColumn("v", col("l_extendedprice"))))
    val newRows = rows(keyed(li.filter(col("l_orderkey") % 11 =!= 0 ||
        col("l_orderkey") % 13 === 0))
      .withColumn("v",
        when(col("l_orderkey") % 7 === 0 && col("l_orderkey") % 11 =!= 0
            && col("l_orderkey") % 13 =!= 0,
          col("l_extendedprice") + 1.0)
          .otherwise(col("l_extendedprice"))))
      .localCheckpoint()
    var dirtyCount = -1L
    MaintainedSample.deltaRefresh(spark, path, removed, added,
      "nk", "k", "v", m, batchId = 1L) { dirty =>
      dirtyCount = dirty.count()
      newRows.join(broadcast(dirty), Seq("nk"), "left_semi")
    }
    val path2 = tmp()
    MaintainedSample.write(newRows, "nk", "k", "v", path2, m)
    def state(p: String) = MaintainedSample.read(spark, p)
      .collect().map(r => (r.get(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(state(path) == state(path2),
      "maintained sample must equal the full re-sketch row-for-row")
    assert(dirtyCount > 0, "fixture must exercise the dirty path")
  }

  test("non-member delete on a full sample never consults recompute; adds fold") {
    val order = rankOrder((0 until 8).map(i => s"k$i"))
    val path = tmp()
    // group g FULL at m=2: sample = 2 lowest-ranked of its 4 keys
    val gKeys = Seq(order(0), order(2), order(4), order(6))
    MaintainedSample.write(
      b(gKeys.map(k => ("g", k, 1.0)) :+ (("h", order(1), 2.0)): _*),
      "g", "k", "v", path, M)
    val before = stored(path)
    assert(before.count(_._1 == "g") == M)
    var consulted = false
    // remove g's HIGHEST-ranked key (not in the sample) and add a
    // brand-new group i
    MaintainedSample.deltaRefresh(spark, path,
      removed = b(("g", order(6), 1.0)), added = b(("i", "z", 3.0)),
      "g", "k", "v", M, batchId = 1L) { d =>
      consulted = true; d.withColumn("k", lit("")).withColumn("v", lit(0.0))
    }
    assert(!consulted, "non-member delete must stay arithmetic")
    val got = stored(path)
    assert(got.filter(_._1 == "g") == before.filter(_._1 == "g"),
      "g's sample carries unchanged")
    assert(got.contains(("i", "z", 3.0)) && got == before + (("i", "z", 3.0)))
  }

  test("member delete dirties ONLY its group; replay no-ops") {
    val order = rankOrder((0 until 8).map(i => s"k$i"))
    val path = tmp()
    val gKeys = Seq(order(0), order(2), order(4), order(6))
    val all = gKeys.map(k => ("g", k, 1.0)) :+ (("h", order(1), 2.0))
    MaintainedSample.write(b(all: _*), "g", "k", "v", path, M)
    // g loses its LOWEST-ranked key — a sample member: the next rank
    // (order(4)) lives only in the facts
    val newSnap = b(all.filter(_._2 != order(0)) :+ (("h", "y", 4.0)): _*)
      .localCheckpoint()
    var dirty = Seq.empty[String]
    MaintainedSample.deltaRefresh(spark, path,
      removed = b(("g", order(0), 1.0)), added = b(("h", "y", 4.0)),
      "g", "k", "v", M, batchId = 1L) { d =>
      dirty = d.collect().map(_.getString(0)).toSeq
      newSnap.join(broadcast(d), Seq("g"), "left_semi")
    }
    assert(dirty == Seq("g"), s"dirty set was $dirty")
    val after = stored(path)
    val fresh = tmp()
    MaintainedSample.write(newSnap, "g", "k", "v", fresh, M)
    assert(after == stored(fresh),
      "repaired sample must equal the fresh sketch of the new snapshot")
    // replay of batch 1: no re-apply (h's add would double only if the
    // fold re-ran — the sample union is idempotent, but the mark must
    // still gate)
    MaintainedSample.deltaRefresh(spark, path,
      removed = b(("g", order(0), 1.0)), added = b(("h", "y", 4.0)),
      "g", "k", "v", M, batchId = 1L) { d => fail("replay must no-op") }
    assert(stored(path) == after)
  }

  test("set semantics: null keys excluded; a re-added member takes one slot") {
    val path = tmp()
    // a null-key row never enters the sample (it could never be
    // deleted — rem joins on key equality) …
    MaintainedSample.write(b(("g", "a1", 1.0), ("g", null, 9.0)),
      "g", "k", "v", path, M)
    val s0 = stored(path)
    assert(s0 == Set(("g", "a1", 1.0)), s0)
    // … and removing the null-key fact is a clean no-op, not a dirty
    // group (an unremovable member would make the view permanently
    // stale — the review finding this test pins)
    MaintainedSample.deltaRefresh(spark, path,
      removed = b(("g", null, 9.0)), added = b(),
      "g", "k", "v", M, batchId = 1L) { d => fail("null-key remove") }
    assert(stored(path) == s0)
    // re-adding the stored member a1 plus two new keys: the sample is
    // of KEYS — bottom-m of the distinct set, a1 never takes two slots
    MaintainedSample.deltaRefresh(spark, path,
      removed = b(),
      added = b(("g", "a1", 1.0), ("g", "a2", 2.0), ("g", "a3", 3.0)),
      "g", "k", "v", M, batchId = 2L) { d => fail("insert-only") }
    val fresh = tmp()
    MaintainedSample.write(
      b(("g", "a1", 1.0), ("g", "a2", 2.0), ("g", "a3", 3.0)),
      "g", "k", "v", fresh, M)
    assert(stored(path) == stored(fresh),
      "refold with a duplicate key must equal the set re-sketch")
  }

  test("duplicate-crowded bag window falls back to the exact set sketch") {
    // M=2 ⇒ the bag bottom-2m window is 4 rows; five copies of the
    // lowest-ranked key fill it with ONE distinct key (< m), forcing
    // the crowded-group fallback — which must still produce the exact
    // set-bottom-m {lowest, second-lowest}
    val order = rankOrder(Seq("c0", "c1", "c2"))
    val path = tmp()
    val rows = Seq.fill(5)(("g", order(0), 1.0)) ++
      Seq(("g", order(1), 2.0), ("g", order(2), 3.0))
    MaintainedSample.write(b(rows: _*), "g", "k", "v", path, M)
    val got = stored(path)
    assert(got == Set(("g", order(0), 1.0), ("g", order(1), 2.0)), got)
  }

  test("boundary key straddling the bag window keeps its GLOBAL min value") {
    // the r13-advice case the `< m` crowded test missed: the window
    // yields EXACTLY m distinct keys, and the m-th (last) key's
    // duplicate rows straddle the 2m cut with conflicting values —
    // a window-local dedupe could return a non-min v for it. The
    // `<= m` crowded condition must route the group through the full
    // canonical shuffle, so the kept value is the global min (0.5)
    // regardless of which duplicate rows the bag window happened to
    // hold. Key-functional inputs can't distinguish the two paths;
    // this fixture is deliberately non-key-functional.
    val order = rankOrder(Seq("s0", "s1"))
    val path = tmp()
    // group g: key A = 1 row; key B = 11 rows, distinct values with a
    // unique min — the 4-row (2m) window holds A + 3 of B's rows, so
    // B always straddles and its min is in the window only by luck
    val rows = Seq(("g", order(0), 1.0)) ++
      (0 until 10).map(i => ("g", order(1), 10.0 + i)) :+
      (("g", order(1), 0.5))
    MaintainedSample.write(b(rows: _*), "g", "k", "v", path, M)
    val got = stored(path)
    assert(got == Set(("g", order(0), 1.0), ("g", order(1), 0.5)), got)
  }

  test("CDC refresh refuses a base with pending streaming deltas") {
    val path = tmp()
    MaintainedSample.write(b(("g", "a", 1.0)), "g", "k", "v", path, M)
    MaintainedSample.writeDeltaPartial(b(("g", "b", 2.0)), batchId = 1L,
      "g", "k", "v", M, path)
    // a delete of "b" against the base would be resurrected by
    // readWithDeltas — deltaRefresh must fail fast, not corrupt
    val e = intercept[IllegalArgumentException] {
      MaintainedSample.deltaRefresh(spark, path,
        removed = b(("g", "b", 2.0)), added = b(),
        "g", "k", "v", M, batchId = 2L) { d => fail("must not reach") }
    }
    assert(e.getMessage.contains("compactDeltas"))
    // after compaction the same refresh is legal and exact
    MaintainedSample.compactDeltas(spark, path, "g", M)
    MaintainedSample.deltaRefresh(spark, path,
      removed = b(("g", "b", 2.0)), added = b(),
      "g", "k", "v", M, batchId = 2L) { d =>
      b(("g", "a", 1.0)).join(broadcast(d), Seq("g"), "left_semi")
    }
    assert(stored(path) == Set(("g", "a", 1.0)))
  }

  test("untouched partitions stable; emptied view stays readable") {
    val order = rankOrder((0 until 6).map(i => s"p$i"))
    val path = tmp()
    val all = order.zipWithIndex.map { case (k, i) =>
      (s"g${i % 3}", k, i.toDouble) }
    MaintainedSample.write(b(all: _*), "g", "k", "v", path, M)
    val one = b(("g0", "extra", 9.0)).localCheckpoint()
    val parts = graft.io.ViewTable.withAggPart(
      one.select("g"), Seq("g"))
      .select("agg_part").distinct().collect().map(_.getInt(0)).toSet
    def files(p: String, skip: Set[Int]): Map[String, Long] = {
      val root = new java.io.File(p)
      root.listFiles().filter(f => f.getName.startsWith("agg_part=") &&
          !skip(f.getName.stripPrefix("agg_part=").toInt))
        .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified())
        .toMap
    }
    val before = files(path, parts)
    // partition-pruned slice read, ScanAudit-measured (the
    // MaintainedAgg standard)
    val total = spark.read.parquet(path).count()
    val slice = spark.read.parquet(path)
      .filter(col("agg_part").isin(parts.toSeq: _*))
    val read = graft.plans.ScanAudit.measure(slice).rowsRead
    val allParts = graft.io.ViewTable.withAggPart(
      b(all: _*).select("g").distinct(), Seq("g"))
      .select("agg_part").distinct().count()
    if (allParts > 1) // tiny fixture: groups could all share a partition
      assert(read < total,
        s"a one-group batch must not scan the whole view: $read of $total")
    assert(slice.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "agg_part must prune at plan level")
    MaintainedSample.deltaRefresh(spark, path,
      removed = one.limit(0), added = one,
      "g", "k", "v", M, batchId = 1L) { d => fail("insert-only is clean") }
    assert(files(path, parts) == before,
      "untouched agg_part partitions must not be rewritten")
    // drain: remove every key ever written — all groups dirty, the
    // recompute returns nothing
    MaintainedSample.deltaRefresh(spark, path,
      removed = b(all :+ (("g0", "extra", 9.0)): _*),
      added = one.limit(0),
      "g", "k", "v", M, batchId = 2L) { d =>
      d.withColumn("k", lit("")).withColumn("v", lit(0.0)).limit(0)
    }
    assert(MaintainedSample.read(spark, path).isEmpty,
      "fully-emptied view must read as empty, not error")
    MaintainedSample.deltaRefresh(spark, path,
      removed = one.limit(0), added = one,
      "g", "k", "v", M, batchId = 3L) { d => fail("insert-only is clean") }
    assert(MaintainedSample.read(spark, path).count() == 1L)
  }
}
