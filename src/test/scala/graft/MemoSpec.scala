package graft

import org.apache.spark.sql.functions._

/** Session memo: plan-keyed hits, param misses, clear, and the
  * operator-level contract that a pipeline + audit twin share their
  * expensive subtrees.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  test("shared: same plan + params computes once, returns same instance") {
    Memo.clear()
    var computes = 0
    def frame() = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    def gated() = Memo.shared(Memo.dfKey(frame(), "op", 7)) {
      computes += 1
      frame().filter($"id" > 1).localCheckpoint()
    }
    val a = gated()
    val b = gated()
    assert(computes == 1, s"second call must hit, computed $computes times")
    assert(a eq b, "hit must return the same materialized frame")
    assert(a.as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("shared: differing params or plans miss") {
    Memo.clear()
    var computes = 0
    def get(df: org.apache.spark.sql.DataFrame, p: Int) =
      Memo.shared(Memo.dfKey(df, "op", p)) { computes += 1; df }
    val d1 = Seq(1L).toDF("id")
    get(d1, 1); get(d1, 2)                      // param miss
    get(d1.filter($"id" > 0), 1)                // plan miss
    assert(computes == 3, s"expected 3 computes, got $computes")
    get(d1, 1)
    assert(computes == 3, "original key must still hit")
  }

  test("clear drops entries; two reads of the same data share a key") {
    Memo.clear()
    var computes = 0
    // two structurally identical frames built independently must key
    // equal (canonicalized plan comparison, not reference identity)
    def mk() = Seq((1L, "x")).toDF("id", "t").select($"id")
    Memo.shared(Memo.dfKey(mk(), "op")) { computes += 1; mk() }
    Memo.shared(Memo.dfKey(mk(), "op")) { computes += 1; mk() }
    assert(computes == 1, "structurally equal plans must share the entry")
    Memo.clear()
    Memo.shared(Memo.dfKey(mk(), "op")) { computes += 1; mk() }
    assert(computes == 2, "clear must force recompute")
  }

  test("spark.graft.memo.maxEntries bounds the cache (LRU eviction)") {
    Memo.clear()
    spark.conf.set("spark.graft.memo.maxEntries", "2")
    try {
      var computes = 0
      def get(p: Int) =
        Memo.shared(Memo.dfKey(spark.range(1).toDF(), "cap", p)) {
          computes += 1; java.lang.Integer.valueOf(p)
        }
      get(1); get(2); get(3) // capacity 2: inserting 3 evicts LRU (=1)
      assert(Memo.size == 2, s"expected 2 entries, got ${Memo.size}")
      get(3); get(2)
      assert(computes == 3, "2 and 3 must still hit")
      get(1)
      assert(computes == 4, "evicted key must recompute")
    } finally {
      spark.conf.set("spark.graft.memo.maxEntries", "16")
      Memo.clear()
    }
  }

  test("entries of a GC'd session are pruned on the next cache write") {
    Memo.clear()
    var s2: org.apache.spark.sql.SparkSession = spark.newSession()
    var d2: org.apache.spark.sql.DataFrame = s2.range(1).toDF()
    Memo.shared(Memo.dfKey(d2, "dead")) { java.lang.Integer.valueOf(1) }
    assert(Memo.size == 1)
    val ref = new java.lang.ref.WeakReference(s2)
    s2 = null; d2 = null
    var tries = 0
    while (ref.get() != null && tries < 100) {
      System.gc(); Thread.sleep(20); tries += 1
    }
    assume(ref.get() == null,
      "JVM did not collect the dropped session; cannot exercise pruning")
    // the next WRITE prunes the dead session's entry
    Memo.shared(Memo.dfKey(spark.range(1).toDF(), "alive")) {
      java.lang.Integer.valueOf(2)
    }
    assert(Memo.size == 1,
      s"dead-session entry must be pruned, cache has ${Memo.size}")
    Memo.clear()
  }

  test("model gate id frame is shared between pipeline and audit calls") {
    Memo.clear()
    val docs = graft.model.Tables.documents(spark, sf).limit(200)
      .localCheckpoint()
    val g1 = graft.operators.Curation.modelQualityIds(docs, "doc_id", "text")
    val g2 = graft.operators.Curation.modelQualityIds(docs, "doc_id", "text")
    assert(g1 eq g2, "same corpus + params must reuse the trained gate")
    val other = graft.operators.Curation
      .modelQualityIds(docs, "doc_id", "text", buckets = 512)
    assert(!(g1 eq other), "changed params must retrain")
  }

  test("harness sweep spares memo blocks: liveRddIds covers the entry") {
    Memo.clear()
    val docs = graft.model.Tables.documents(spark, sf).limit(50)
    val shared = Memo.shared(Memo.dfKey(docs, "liveTest")) {
      docs.select("doc_id").localCheckpoint()
    }
    val live = Memo.liveRddIds
    val persisted = spark.sparkContext.getPersistentRDDs.values.toSeq
    assert(persisted.exists(r => live.contains(r.id)),
      "the memoized frame's checkpoint RDD must be reported live")
    // the harness pattern: unpersist everything NOT live, then the
    // memoized frame must still be fully readable (its blocks intact)
    persisted.filter(r => !live.contains(r.id))
      .foreach(_.unpersist(blocking = true))
    assert(shared.count() == 50,
      "sweep cleanup must not strand the memo entry")
    Memo.clear()
  }

  test("releaseUnheld leaves only memo-held RDDs persisted") {
    Memo.clear()
    val docs = graft.model.Tables.documents(spark, sf).limit(50)
    val held = Memo.shared(Memo.dfKey(docs, "releaseTest")) {
      docs.select("doc_id").localCheckpoint()
    }
    docs.select("text").localCheckpoint() // a query's dead checkpoint
    val live = Memo.liveRddIds
    assert(spark.sparkContext.getPersistentRDDs.keySet.exists(!live(_)),
      "the unheld checkpoint must be persisted before the release")
    Memo.releaseUnheld(spark)
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(left.subsetOf(live), s"unheld RDDs survived: ${left -- live}")
    assert(held.count() == 50, "the release must not strand the memo entry")
    Memo.clear()
  }

  test("liveRddIds walks NOVEL memo value shapes, not just df/(df,df)") {
    Memo.clear()
    val docs = graft.model.Tables.documents(spark, sf).limit(40)
    // a shape no Memo.shared call site uses today: a case class
    // holding a Seq of frames nested inside a tuple — the recursive
    // Product/Iterable walk must still find every frame's blocks
    case class Bundle(label: String, frames: Seq[org.apache.spark.sql
      .DataFrame], extra: (Int, org.apache.spark.sql.DataFrame))
    val b = Memo.shared(Memo.dfKey(docs, "novelShape")) {
      Bundle("x",
        Seq(docs.select("doc_id").localCheckpoint()),
        (7, docs.select("lang").localCheckpoint()))
    }
    val live = Memo.liveRddIds
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => !live.contains(r.id))
      .foreach(_.unpersist(blocking = true))
    assert(b.frames.head.count() == 40 && b.extra._2.count() == 40,
      "a novel memo value shape must not silently lose block protection")
    Memo.clear()
  }

  test("liveRddIds never runs jobs for LAZY memo values (AQE-safe)") {
    Memo.clear()
    val docs = graft.model.Tables.documents(spark, sf).limit(30)
    // a memoized frame left lazy (shareQualityBase=false path): the
    // cleanup must not plan/execute its shuffle stages
    Memo.shared(Memo.dfKey(docs, "lazyShape")) {
      docs.groupBy("lang").count() // unexecuted aggregate — has a shuffle
    }
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length
    Memo.liveRddIds
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length
    assert(after == before,
      "between-query cleanup must not execute lazy memo frames' stages")
    Memo.clear()
  }
}
