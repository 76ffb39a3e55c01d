package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("windowed counts aggregate per tumbling window and type") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedTypeCounts(events, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      in.addData((ts(10), "click", 1.0), (ts(20), "click", 2.0),
        (ts(70), "click", 4.0), (ts(15), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("event_type", "n", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows == Set(("click", 2L, 3.0), ("click", 1L, 4.0),
        ("view", 1L, 8.0)))
    } finally q.stop()
  }

  test("sliding windows: one event lands in windowLen/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = Streams.windowedTypeCounts(
      in.toDF().toDF("ts", "event_type", "value"),
      windowLen = "1 hour", watermark = "2 hours", slide = Some("30 minutes"))
      .writeStream.format("memory").queryName("slide_counts")
      .outputMode("complete").start()
    try {
      in.addData((ts(45), "click", 1.0)) // 00:45 → [00:00,01:00) and [00:30,01:30)
      q.processAllAvailable()
      val starts = spark.table("slide_counts")
        .select("window_start").collect()
        .map(_.getTimestamp(0).toString).sorted.toSeq
      assert(starts == Seq("2024-01-01 00:00:00.0", "2024-01-01 00:30:00.0"),
        s"got $starts")
    } finally q.stop()
  }

  test("session_window merges events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val q = Streams.sessionWindowAgg(events, "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      // user 1: events at 0,10,20 (one session), then 120 (new session)
      in.addData((ts(0), 1L, 1.0), (ts(10), 1L, 2.0), (ts(20), 1L, 3.0),
        (ts(120), 1L, 10.0))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select("user_id", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows == Set((1L, 3L, 6.0), (1L, 1L, 10.0)))
    } finally q.stop()
  }

  test("streaming near-dup gate drops LSH collisions vs the static corpus") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // static corpus: two docs; their band keys come from the BATCH
    // signature path — the gate's row-local signatures must collide
    // with them bit-for-bit
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark engines and shuffles"),
    ).toDF("doc_id", "text")
    val bandSet = Dedup.bandKeySet(Dedup.minhashSignatures(
      Dedup.docShingles(corpus, "doc_id", "text", 3, dedup = false),
      "doc_id"), "doc_id").localCheckpoint()

    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = Streams.streamingNearDupGate(docs, "text", bandSet)
      .writeStream.format("memory").queryName("neardup_gate")
      .outputMode("append").start()
    try {
      in.addData(
        // exact copy of corpus doc 1 → identical sigs → dropped
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        // novel doc → survives
        (11L, "a totally novel document with nothing in common whatsoever"),
        // short doc (< 3 tokens, null sigs) → survives
        (12L, "too short"))
      q.processAllAvailable()
      val out = spark.table("neardup_gate").select("doc_id").as[Long]
        .collect().toSet
      assert(out == Set(11L, 12L), s"got $out")
    } finally q.stop()
  }

  test("streaming heavy hitters: SpaceSaving state merges across batches") {
    // the typed Aggregator's mergeable sketch is exactly what a
    // streaming groupByKey agg needs — complete-mode output must
    // reflect items from BOTH micro-batches with summed counts
    import graft.functions.SpaceSaving
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = in.toDS()
      .groupByKey(_._1).mapValues(_._2)
      .agg(SpaceSaving.topItems(8).toColumn.name("top"))
      .writeStream.format("memory").queryName("stream_hh")
      .outputMode("complete").start()
    try {
      in.addData(("g", "a"), ("g", "a"), ("g", "b"))
      q.processAllAvailable()
      in.addData(("g", "a"), ("g", "c"), ("h", "z"))
      q.processAllAvailable()
      val out = spark.table("stream_hh")
        .as[(String, Seq[(String, Long)])].collect().toMap
      assert(out("g").head == (("a", 3L)), s"got ${out("g")}")
      assert(out("g").toMap == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
      assert(out("h") == Seq(("z", 1L)))
    } finally q.stop()
  }

  test("streaming decontam gate drops bloom hits row-locally") {
    import graft.functions.Bloom
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((1L, "the secret benchmark prompt lives here"))
      .toDF("doc_id", "text")
    val (mBits, nh) = (1 << 12, 4)
    val bits = Bloom.build(
      Dedup.docShingles(bench, "doc_id", "text", 3, dedup = false)
        .select("shingle").distinct(), "shingle", mBits, nh)

    val in = MemoryStream[(Long, String)]
    val q = Streams.streamingDecontamGate(
      in.toDF().toDF("doc_id", "text"), "text", bits, mBits, nh)
      .writeStream.format("memory").queryName("decontam_gate")
      .outputMode("append").start()
    try {
      in.addData(
        // shares the 3-shingle "secret benchmark prompt" → dropped
        (10L, "leaked copy of the secret benchmark prompt found online"),
        // clean doc → survives
        (11L, "an unrelated training document about distributed joins"),
        // short doc (no 3-shingles) → survives
        (12L, "too short"),
        // null text: no shingles, provably clean → must survive (a
        // bare filter(!probe) would silently drop it on null)
        (13L, null: String))
      q.processAllAvailable()
      val out = spark.table("decontam_gate").select("doc_id").as[Long]
        .collect().toSet
      assert(out == Set(11L, 12L, 13L), s"got $out")
    } finally q.stop()
  }

  test("curatedIngest: quality → decontam → near-dup gates compose end-to-end") {
    import graft.functions.Bloom
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def doc(tag: String): String =
      (1 to 24).map(i => s"${tag}_w$i").mkString(" ")
    val benchText = doc("bench")
    val bench = Seq((0L, benchText)).toDF("doc_id", "text")
    val (bits, m, nh) = Bloom.buildSized(
      Dedup.docShingles(bench, "doc_id", "text", 3, dedup = false)
        .select("shingle").distinct(), "shingle")

    val tag = System.nanoTime()
    val sigPath = s"${sys.props("java.io.tmpdir")}/graft_curated_$tag"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_curated_ck_$tag"
    val seen = scala.collection.mutable.Map[Long, Set[Long]]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.curatedIngest(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", sigPath,
      bits, m, nh, Map("checkpointLocation" -> ckpt)) { (survivors, id) =>
      seen.synchronized {
        seen(id) = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }
    try {
      in.addData(
        (1L, doc("alpha")), // good, novel → survives
        (2L, "a b " * 30),  // degenerate repetition → quality gate
        (3L, benchText + " extra tail tokens here"), // contaminated
        (4L, doc("beta")))  // good, novel → survives
      q.processAllAvailable()
      in.addData(
        (5L, doc("alpha")), // exact dup of stored doc 1 → near-dup gate
        (6L, doc("gamma"))) // novel → survives
      q.processAllAvailable()
      assert(seen(0L) == Set(1L, 4L), s"batch0: ${seen.get(0L)}")
      assert(seen(1L) == Set(6L), s"batch1: ${seen.get(1L)}")
      val sigIds = Dedup.readSignatures(spark, sigPath)
        .select("doc_id").as[Long].collect().toSet
      assert(sigIds == Set(1L, 4L, 6L), s"sig table: $sigIds")
    } finally q.stop()
  }

  test("curatedIngest restart soak: exactly-once decisions across two kill/restart cycles") {
    import graft.functions.Bloom
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // RocksDB state store, the production recovery configuration
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // restore in finally: an assertion failure must not leak the
    // RocksDB provider into the shared session's other suites
    try {
    def doc(tag: String): String =
      (1 to 24).map(i => s"${tag}_w$i").mkString(" ")
    val bench = Seq((0L, doc("bench"))).toDF("doc_id", "text")
    val (bits, m, nh) = Bloom.buildSized(
      Dedup.docShingles(bench, "doc_id", "text", 3, dedup = false)
        .select("shingle").distinct(), "shingle")

    val tag = System.nanoTime()
    val sigPath = s"${sys.props("java.io.tmpdir")}/graft_soak_sig_$tag"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_soak_ck_$tag"
    // sink keyed by batchId: a replayed batch OVERWRITES its slot (the
    // idempotent-sink contract) — so duplicate delivery would surface
    // as a changed slot, lost delivery as a missing slot
    val seen = scala.collection.mutable.Map[Long, Set[Long]]()
    val in = MemoryStream[(Long, String)]
    def start() = Streams.curatedIngest(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", sigPath,
      bits, m, nh, Map("checkpointLocation" -> ckpt)) { (survivors, id) =>
      seen.synchronized {
        seen(id) = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }

    // ---- life 1: two batches, then KILL ----
    val q1 = start()
    try {
      in.addData((1L, doc("alpha")), (2L, doc("beta")))
      q1.processAllAvailable()
      in.addData(
        (3L, doc("alpha")),          // dup of stored 1 → dropped
        (4L, doc("bench") + " x"),   // contaminated → dropped
        (5L, doc("gamma")))          // novel
      q1.processAllAvailable()
    } finally q1.stop()

    // data arriving while DOWN — must be picked up by the restart
    in.addData((6L, doc("beta")), (7L, doc("delta")))

    // ---- life 2: recover, process the backlog, KILL again ----
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // ---- life 3: dedup state must still span every prior life ----
    in.addData((8L, doc("delta")), (9L, doc("epsilon")))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()

    // decisions: exactly-once per batch slot, dedup spanning restarts
    val all = seen.values.flatten.toSet
    assert(all == Set(1L, 2L, 5L, 7L, 9L),
      s"survivor set wrong across restarts: $seen")
    assert(seen.values.map(_.size).sum == 5,
      s"a survivor was delivered twice: $seen")
    // signature table: exactly one signature row per admitted doc —
    // a replayed append would duplicate doc_ids here
    val sigIds = Dedup.readSignatures(spark, sigPath)
      .select("doc_id").as[Long].collect().toSeq
    assert(sigIds.sorted == Seq(1L, 2L, 5L, 7L, 9L),
      s"signature table not exactly-once: $sigIds")
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("signature-maintaining ingest dedups batch 2 against batch 1's appends") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val tag = System.nanoTime()
    val sigPath = s"${sys.props("java.io.tmpdir")}/graft_sig_ingest_$tag"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_sig_ckpt_$tag"
    val seen = scala.collection.mutable.Map[Long, Set[Long]]()
    val sigsAtSinkTime = scala.collection.mutable.Map[Long, Set[Long]]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.signatureMaintainingIngest(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", sigPath,
      Map("checkpointLocation" -> ckpt)) { (survivors, batchId) =>
      seen.synchronized {
        seen(batchId) = survivors.select("doc_id")
          .collect().map(_.getLong(0)).toSet
        val p = new org.apache.hadoop.fs.Path(sigPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        sigsAtSinkTime(batchId) =
          if (fs.exists(p))
            Dedup.readSignatures(spark, sigPath)
              .select("doc_id").as[Long].collect().toSet
          else Set.empty
      }
    }
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "completely different content about spark engines and shuffles"))
      q.processAllAvailable()
      in.addData(
        // exact copy of doc 1 from batch 1 → dropped via the table
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        (11L, "a totally novel document with nothing in common whatsoever"))
      q.processAllAvailable()
      val all = seen.synchronized(seen.toMap)
      assert(all(0L) == Set(1L, 2L), s"batch 0: ${all.get(0L)}")
      assert(all(1L) == Set(11L), s"batch 1: ${all.get(1L)}")
      // table holds exactly the survivors' signatures
      val ids = Dedup.readSignatures(spark, sigPath)
        .select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 11L), s"sig table: $ids")
      // crash-replay safety: the sink must run BEFORE the batch's own
      // signatures land — otherwise a replayed batch would self-match
      // and deliver nothing (see signatureMaintainingIngest scaladoc)
      val atSink = sigsAtSinkTime.synchronized(sigsAtSinkTime.toMap)
      assert(atSink(0L) == Set.empty[Long],
        s"bootstrap batch saw a pre-existing table: ${atSink(0L)}")
      assert(atSink(1L) == Set(1L, 2L),
        s"batch 1's sink ran after its own append: ${atSink(1L)}")
    } finally q.stop()
  }

  /** 120 documents and the ground truth a stream-maintained component
    * store must reproduce: their one-shot closure.
    */
  private def clusteredDocs(): (Seq[(Long, String)], Seq[(Long, Long)]) = {
    import graft.operators.Dedup
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1).take(120)
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", 3,
      threshold = 0.5).select("id_a", "id_b")
    val full = Dedup.connectedComponents(pairs, df.select("doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(full.exists(t => t._1 != t._2),
      "fixture must contain at least one non-trivial cluster")
    (docs, full)
  }

  test("component-maintaining ingest: stored labels ≡ full closure, any batch order") {
    implicit val sqlCtx = spark.sqlContext
    val (docs, full) = clusteredDocs()
    def run(order: Seq[Seq[(Long, String)]]): Seq[(Long, Long)] = {
      val tag = System.nanoTime()
      val base = sys.props("java.io.tmpdir")
      val sigPath = s"$base/graft_cmi_sig_$tag"
      val labelPath = s"$base/graft_cmi_lbl_$tag"
      val in = MemoryStream[(Long, String)]
      val q = Streams.componentMaintainingIngest(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        sigPath, labelPath,
        Map("checkpointLocation" -> s"$base/graft_cmi_ckpt_$tag"))
      try order.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      graft.operators.MaintainedComponents.read(spark, labelPath).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component")))
        .sorted.toSeq
    }
    // three forward batches, then a different cut in reverse order —
    // the star-contraction identity makes both equal the one-shot
    // closure (min-id labels and all)
    assert(run(docs.grouped(40).toSeq) == full,
      "stream ≠ batch for forward batching")
    assert(run(docs.reverse.grouped(50).toSeq) == full,
      "stream ≠ batch for reversed batching")
  }

  test("component-maintaining ingest across the auto-fold: store ≡ closure, ≤1 overlay pending") {
    import graft.operators.MaintainedComponents
    implicit val sqlCtx = spark.sqlContext
    val (docs, full) = clusteredDocs()
    val tag = System.nanoTime()
    val base = sys.props("java.io.tmpdir")
    val labelPath = s"$base/graft_cmi_fold_lbl_$tag"
    val in = MemoryStream[(Long, String)]
    // bound 2: the store folds its relabel overlays at every second merge
    spark.conf.set("spark.graft.autoCompactPendingBatches", "2")
    try {
      val q = Streams.componentMaintainingIngest(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$base/graft_cmi_fold_sig_$tag", labelPath,
        Map("checkpointLocation" -> s"$base/graft_cmi_fold_ckpt_$tag"))
      // 4 micro-batches: one bootstrap write, then 3 merges — the
      // second merge folds, the third leaves one overlay pending
      try docs.grouped(30).foreach { b =>
        in.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.unset("spark.graft.autoCompactPendingBatches")
    val got = MaintainedComponents.read(spark, labelPath).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component")))
      .sorted.toSeq
    assert(got == full, "stream ≠ batch across the auto-fold")
    val pending = graft.io.Overlays("_relabels")
      .committed(spark, graft.io.GenTable.live(spark, labelPath))
    assert(pending.size <= 1, s"overlays left pending: $pending")
  }

  test("row-local minhash signature is bit-identical to the batch form") {
    import graft.operators.Dedup
    import graft.functions.Portable
    val docs = graft.model.Tables.documents(spark, sf).limit(50)
    val batch = Dedup.minhashSignatures(
      Dedup.docShingles(docs, "doc_id", "text", 3, dedup = false), "doc_id")
    val local = docs
      .withColumn("__toks", Portable.tokens(col("text")))
      .withColumn("__hs", transform(Portable.shingles(col("__toks"), 3),
        s => Portable.hash32(s)))
      .select(col("doc_id") +:
        Dedup.minhashSigColumnsFromHashes(col("__hs")): _*)
    // inner join on every signature component: all rows must survive
    val joinCols = "doc_id" +: (0 until Portable.NumPerms).map(j => s"mh$j")
    assert(local.join(batch, joinCols, "inner").count() == batch.count())
  }

  test("transformWithState token budget persists per-source spend across batches") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Streams.BudgetDoc]
    val q = Streams.streamingTokenBudget(in.toDS(), budget = 10L)
      .writeStream.format("memory").queryName("tws_budget")
      .outputMode("append").start()
    try {
      in.addData(
        Streams.BudgetDoc("a", 1L, 4L),  // cum 4 → pass
        Streams.BudgetDoc("a", 2L, 5L),  // cum 9 → pass
        Streams.BudgetDoc("b", 3L, 20L)) // over budget alone → drop
      q.processAllAvailable()
      // batch 2: state must remember a's 9 spent tokens
      in.addData(Streams.BudgetDoc("a", 4L, 3L)) // 9+3 > 10 → drop
      in.addData(Streams.BudgetDoc("b", 5L, 10L)) // b spent 0 → pass
      q.processAllAvailable()
      val ids = spark.table("tws_budget").select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 5L), s"got $ids")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamingFunnel ≡ batch funnelSteps on the real events (in-order feed)") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val steps = Seq("view", "click", "purchase")
    val gap = 86400L
    val events = graft.model.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"))
    val batch = graft.operators.Temporal.funnelSteps(events, "user_id",
      "event_type", "ts", steps, gap)
      .select("step", "n_users")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // ts-ordered feed, split across TWO micro-batches so the reach
    // state genuinely persists across batch boundaries
    val ordered = events.as[(Long, String, Timestamp)].collect()
      .sortBy(e => (e._3.getTime, e._1))
      .map(e => Streams.FunnelEvent(e._1, e._2, e._3))
    val in = MemoryStream[Streams.FunnelEvent]
    val q = Streams.streamingFunnel(in.toDS(), steps, gap)
      .writeStream.format("memory").queryName("tws_funnel")
      .outputMode("append").start()
    try {
      val (first, second) = ordered.splitAt(ordered.length / 2)
      in.addData(first.toSeq); q.processAllAvailable()
      in.addData(second.toSeq); q.processAllAvailable()
      val streamed = spark.table("tws_funnel")
        .groupBy("step").agg(countDistinct("user_id").as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(streamed == batch.filter(_._2 > 0),
        s"stream $streamed != batch $batch")
      // append-mode discipline: one reach row per (user, step)
      val dups = spark.table("tws_funnel")
        .groupBy("user_id", "step").count().filter(col("count") > 1).count()
      assert(dups == 0, s"$dups duplicate reach emissions")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamingQuantileSketch ≡ batch sketch estimates on the documents") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val m = 32
    val docs = graft.model.Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull)
    val batchEst = graft.operators.Sketches.sketchQuantiles(
      graft.operators.Sketches.quantileSketch(docs, "source", "doc_id",
        "n_chars", m), "source")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rows = docs.select("source", "doc_id", "n_chars")
      .collect().map(r => Streams.QuantileDoc(r.getString(0),
        r.getLong(1).toString, r.getLong(2)))
    val in = MemoryStream[Streams.QuantileDoc]
    val q = Streams.streamingQuantileSketch(in.toDS(), m)
      .writeStream.format("memory").queryName("tws_qsk")
      .outputMode("update").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      // LAST emitted estimate per group must equal the batch estimate
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("emit_order").desc)
      val streamed = spark.table("tws_qsk")
        .withColumn("emit_order", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .collect().map(r => (r.getString(0),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(streamed == batchEst,
        s"streamed $streamed != batch $batchEst")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamingCusum ≡ batch cusumChangepoints on an in-order feed") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // two keys with different levels; the batch operator's self-mean
    // becomes the stream's frozen per-key μ (the stored reference)
    // key a: 16 low days then a 6× burst — μ=200M, slack 50M, h 400M:
    // the low side accumulates 50M/day (alarm day 9, restart), the
    // burst accumulates 350M/day on the high side (alarm day 18)
    val series = Seq.tabulate(20)(i =>
      ("a", java.sql.Date.valueOf(f"2024-02-${i + 1}%02d"),
        if (i < 16) 100L else 600L)) ++
      Seq.tabulate(20)(i =>
        ("b", java.sql.Date.valueOf(f"2024-02-${i + 1}%02d"), 50L + i))
    val daily = series.toDF("key", "day", "v")
    val batch = graft.operators.Temporal.cusumChangepoints(
      daily, "key", "day", "v")
      .orderBy("key", "day").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    val mu = series.groupBy(_._1).map { case (k, rs) =>
      k -> 1000000L * rs.map(_._3).sum / rs.length }
    val pts = series.map { case (k, d, v) =>
      Streams.CusumPoint(k, d, v, mu(k)) }
    val in = MemoryStream[Streams.CusumPoint]
    val q = Streams.streamingCusum(in.toDS())
      .writeStream.format("memory").queryName("tws_cusum")
      .outputMode("append").start()
    try {
      val (x, y) = pts.sortBy(p => (p.key, p.day.getTime))
        .splitAt(pts.length / 2)
      in.addData(x); q.processAllAvailable()
      in.addData(y); q.processAllAvailable()
      val streamed = spark.table("tws_cusum")
        .orderBy("key", "day").collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
      assert(streamed == batch, s"\n$streamed\nvs\n$batch")
      assert(streamed.count(_._6) >= 2,
        s"both CUSUM sides must alarm: $streamed")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sketch tie-break is UTF-8 byte order, matching Spark and the oracle") {
    // Supplementary-plane key (surrogate pair: UTF-16 units
    // 0xD800 0xDC00) vs a high-BMP key (U+FFFD): Scala's default
    // String ordering ranks the surrogate pair FIRST (0xD800 <
    // 0xFFFD), while UTF-8 bytes / code points rank it LAST
    // (U+10000 > U+FFFD). A 32-bit hash collision between such keys
    // must break the tie the way Spark SQL and DuckDB do.
    val astral = new String(Character.toChars(0x10000)) // "𐀀"
    val bmp = "�"
    assert(Ordering.String.lt(astral, bmp),
      "precondition: UTF-16 order ranks the surrogate pair first")
    val e1 = Streams.QSketchEntry(7L, astral, 1L)
    val e2 = Streams.QSketchEntry(7L, bmp, 2L)
    assert(Streams.sketchEntryOrder.compare(e2, e1) < 0,
      "equal-hash tie must rank U+FFFD before U+10000 (byte order)")
    // pin against Spark's own string comparator on assorted keys
    import org.apache.spark.unsafe.types.UTF8String
    val keys = Seq(astral, bmp, "", "a", "Z", "é", new String(Character.toChars(0xE000)),
      new String(Character.toChars(0x1F600)), "abc", "ab")
    for (a <- keys; b <- keys) {
      val ours = Streams.sketchEntryOrder.compare(
        Streams.QSketchEntry(0L, a, 0L), Streams.QSketchEntry(0L, b, 0L))
      val sparks = UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      assert(Integer.signum(ours) == Integer.signum(sparks),
        s"order mismatch vs Spark for (${a.codePoints().toArray.toSeq}, " +
          s"${b.codePoints().toArray.toSeq})")
    }
    // hv dominates: a smaller hash wins regardless of key bytes
    assert(Streams.sketchEntryOrder.compare(
      Streams.QSketchEntry(1L, bmp, 0L),
      Streams.QSketchEntry(2L, "", 0L)) < 0)
  }

  test("streamingRollingActiveUsers ≡ batch on observed days; windowDays=1 is DAU") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.model.Tables.events(spark, sf)
      .select("user_id", "ts").limit(3000).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val maxTs = ev.map(_._2.getTime).max
    // flush event far past watermark(3d) + window(7d): every real
    // day's window finalizes in append mode
    val flush = (-1L, new Timestamp(maxTs + 40L * 86400 * 1000))
    val batchDf = spark.createDataFrame(ev.toSeq).toDF("user_id", "ts")
    for (win <- Seq(7, 1)) {
      val batch = graft.operators.Temporal
        .rollingActiveUsers(batchDf, "user_id", "ts", win)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      val in = MemoryStream[(Long, Timestamp)]
      val q = Streams.streamingRollingActiveUsers(
        in.toDF().toDF("user_id", "ts"), "user_id", "ts", win)
        .writeStream.format("memory").queryName(s"rau_$win")
        .outputMode("append").start()
      try {
        val (a, b) = ev.splitAt(ev.length / 2)
        in.addData(a.toSeq); q.processAllAvailable()
        in.addData(b.toSeq :+ flush); q.processAllAvailable()
        val streamed = spark.table(s"rau_$win")
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        // batch reports observed days; the stream's covered-day
        // superset must agree on every one of them
        for ((day, n) <- batch)
          assert(streamed.get(day).contains(n),
            s"win=$win day $day: stream ${streamed.get(day)} != batch $n")
        if (win == 1)
          assert(streamed.filter(_._1 <= batch.keys.max).keySet ==
            batch.keySet,
            "windowDays=1 must emit exactly the observed days (DAU)")
      } finally q.stop()
    }
  }

  test("streamingRetention snapshots aggregate to the batch cohort matrix") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ev = graft.model.Tables.events(spark, sf)
      .select("user_id", "ts").limit(3000).collect()
      .map(r => Streams.RetEvent(r.getLong(0), r.getTimestamp(1)))
    val batchDf = spark.createDataFrame(
      ev.toSeq.map(e => (e.user_id, e.ts))).toDF("user_id", "ts")
    val batch = graft.operators.Temporal
      .retentionCohorts(batchDf, "user_id", "ts")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val in = MemoryStream[Streams.RetEvent]
    val q = Streams.streamingRetention(in.toDS())
      .writeStream.format("memory").queryName("ret_snap")
      .outputMode("update").start()
    try {
      // REVERSED halves: late-arriving earlier events force cohort
      // re-basing; the final snapshots must still match the batch
      val (a, b) = ev.sortBy(_.ts.getTime).splitAt(ev.length / 2)
      in.addData(b.toSeq); q.processAllAvailable()
      in.addData(a.toSeq); q.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("emit_order").desc)
      val last = spark.table("ret_snap")
        .withColumn("emit_order", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("cohort_week"),
          explode(col("offsets")).as("week_offset"))
      val counts = last.groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
        .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
        .toMap
      val sizes = counts.collect { case ((cw, 0), n) => cw -> n }
      val streamed = counts.map { case ((cw, off), n) =>
        val size = sizes(cw)
        // Spark's round(double) goes through BigDecimal.valueOf —
        // mirror it exactly so boundary halves round identically
        (cw, off, n, size,
          java.math.BigDecimal.valueOf(n.toDouble / size)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      }.toSet
      assert(streamed == batch,
        s"stream matrix diverged: only-stream=${streamed -- batch}, " +
          s"only-batch=${batch -- streamed}")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamingFunnel: chain gating and gap window, exact rows") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Streams.FunnelEvent]
    // gap 60 s: u1 converts fully; u2's purchase is outside the gap;
    // u3 clicks BEFORE viewing (same ts is not strictly after either)
    val q = Streams.streamingFunnel(in.toDS(),
      Seq("view", "click", "purchase"), maxGapSeconds = 60L)
      .writeStream.format("memory").queryName("tws_funnel2")
      .outputMode("append").start()
    try {
      in.addData(
        Streams.FunnelEvent(1L, "view", ts(0)),
        Streams.FunnelEvent(1L, "click", ts(1)),
        Streams.FunnelEvent(2L, "view", ts(0)),
        Streams.FunnelEvent(2L, "click", ts(1)),
        Streams.FunnelEvent(3L, "click", ts(0)),
        Streams.FunnelEvent(3L, "view", ts(0)))
      q.processAllAvailable()
      in.addData(
        Streams.FunnelEvent(1L, "purchase", ts(2)),  // within 60s of click
        Streams.FunnelEvent(2L, "purchase", ts(5)))  // 4 min after: out
      q.processAllAvailable()
      val got = spark.table("tws_funnel2")
        .select("user_id", "step", "event_type")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(got == Set(
        (1L, 1, "view"), (1L, 2, "click"), (1L, 3, "purchase"),
        (2L, 1, "view"), (2L, 2, "click"),
        (3L, 1, "view")), s"got $got")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup state survives a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val tag = System.nanoTime()
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_restart_ckpt_$tag"
    val out = s"${sys.props("java.io.tmpdir")}/graft_restart_out_$tag"
    val in = MemoryStream[(Timestamp, String)]
    // memory sinks can't recover from a checkpoint — the restart path
    // needs a real (file) sink, which is also the production shape
    def start() = Streams.streamingDedup(
      in.toDF().toDF("ts", "text"), "text", "text", "ts", "2 hours")
      .select("ts", "text")
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .outputMode("append").start()

    val q1 = start()
    try {
      in.addData((ts(0), "alpha"), (ts(1), "beta"))
      q1.processAllAvailable()
    } finally q1.stop()

    // RESTART against the same checkpoint: the dedup hash state must
    // come back, so a replayed "alpha" stays dropped across the restart
    val q2 = start()
    try {
      in.addData((ts(2), "alpha"), (ts(3), "gamma"))
      q2.processAllAvailable()
      val texts = spark.read.parquet(out).select("text")
        .as[String].collect().toSeq
      assert(texts.count(_ == "alpha") == 1,
        s"state lost across restart: $texts")
      assert(texts.toSet == Set("alpha", "beta", "gamma"), s"got $texts")
    } finally q2.stop()
  }

  test("stream-stream attribution joins clicks to in-window impressions only") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Streams.streamStreamAttribution(
      imps.toDF().toDF("user_id", "ts", "imp_id"),
      clks.toDF().toDF("user_id", "ts", "click_id"))
      .writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      imps.addData((1L, at(0), "i1"), (2L, at(0), "i2"))
      clks.addData(
        (1L, at(5), "c_in"),     // 5 min after i1 → attributed
        (2L, at(20), "c_late"),  // 20 min after i2 → outside window
        (3L, at(5), "c_nouser")) // no impression for user 3
      q.processAllAvailable()
      val rows = spark.table("attribution")
        .select("imp_id", "click_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("i1", "c_in")), s"got $rows")
    } finally q.stop()
  }

  test("stateful sessionization closes a session on gap within a batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.Ev]
    val q = Streams.statefulSessions(in.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("stateful_sess")
      .outputMode("append").start()
    try {
      // gap between minute 20 and minute 120 closes the first session
      in.addData(Streams.Ev(1L, ts(0), 1.0), Streams.Ev(1L, ts(10), 2.0),
        Streams.Ev(1L, ts(20), 3.0), Streams.Ev(1L, ts(120), 10.0))
      q.processAllAvailable()
      val rows = spark.table("stateful_sess")
        .select("user_id", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // first session emitted (closed by the later event); second still open
      assert(rows == Set((1L, 3L, 6.0)))
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence per content hash") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val q = Streams.streamingDedup(docs, "doc_id", "text", "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, "same text", ts(0)), (2L, "same text", ts(5)),
        (3L, "other text", ts(6)))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(ids.size == 2 && ids.contains(3L))
      assert(ids.intersect(Set(1L, 2L)).size == 1)
    } finally q.stop()
  }

  test("streaming quality gate drops degenerate and short docs in-flight") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = Streams.streamingQualityGate(docs, "text", minTokens = 20)
      .writeStream.format("memory").queryName("qgate")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, (1 to 30).map(i => s"w$i").mkString(" ")), // clean, long
        (2L, Seq.fill(30)("spam").mkString(" ")),       // degenerate
        (3L, "too short"))                              // under budget
      q.processAllAvailable()
      val ids = spark.table("qgate").select("doc_id").as[Long]
        .collect().toSet
      assert(ids == Set(1L))
    } finally q.stop()
  }

  test("streaming model gate ≡ batch marginGate on the same corpus (train batch, serve stream)") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val (w, n, s) =
      graft.operators.Classify.trainedGate(corpus, "doc_id", "text",
        buckets = 256)
    val batchKept = graft.operators.Classify
      .marginGate(corpus, "doc_id", "text", buckets = 256)
      .as[Long].collect().toSet
    assert(batchKept.nonEmpty, "gate must keep something on the fixture")
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamingModelGate(
        in.toDF().toDF("doc_id", "text"), "text", w, 256, n, s)
      .writeStream.format("memory").queryName("mgate")
      .outputMode("append").start()
    try {
      in.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(rows.length / 2).toSeq) // cross-batch too
      in.addData((999999L, null.asInstanceOf[String])) // unscorable
      q.processAllAvailable()
      val streamKept = spark.table("mgate").select("doc_id").as[Long]
        .collect().toSet
      assert(streamKept == batchKept,
        s"stream/batch gate drift: only-stream=${streamKept -- batchKept} " +
          s"only-batch=${batchKept -- streamKept}")
    } finally q.stop()
  }

  test("streaming curation chain: gate then dedup, incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val clean = (1 to 30).map(i => s"w$i").mkString(" ")
    val q = Streams.streamingDedup(
      Streams.streamingQualityGate(docs, "text", minTokens = 20),
      "doc_id", "text", "ts", "1 hour")
      .writeStream.format("memory").queryName("cur_chain")
      .outputMode("append").start()
    try {
      in.addData((1L, clean, ts(0)), (2L, "too short", ts(1)))
      q.processAllAvailable()
      in.addData((3L, clean, ts(5)), // dup of 1, later batch
        (4L, Seq.fill(25)("spam").mkString(" "), ts(6)))
      q.processAllAvailable()
      val ids = spark.table("cur_chain").select("doc_id").as[Long]
        .collect().toSet
      assert(ids == Set(1L), s"gate+dedup must leave only doc 1, got $ids")
    } finally q.stop()
  }

  test("streaming as-of enrich: latest update wins, state survives batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.AsofEv]
    val q = Streams.streamingAsofEnrich(in.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // batch 1: update u1=5.0 @t0; query @t10 sees it; query @t(-5)
      // (before the update) sees nothing; same-ts query sees update
      in.addData(
        Streams.AsofEv(1L, ts(10), 0, 100L, 5.0),
        Streams.AsofEv(1L, ts(20), 1, 1L, 0.0),
        Streams.AsofEv(1L, ts(5), 1, 2L, 0.0),
        Streams.AsofEv(1L, ts(10), 1, 3L, 0.0))
      q.processAllAvailable()
      // batch 2: state carries over; new update replaces it
      in.addData(
        Streams.AsofEv(1L, ts(30), 1, 4L, 0.0),
        Streams.AsofEv(1L, ts(40), 0, 101L, 7.0),
        Streams.AsofEv(1L, ts(50), 1, 5L, 0.0),
        Streams.AsofEv(2L, ts(50), 1, 6L, 0.0)) // other key: no state
      q.processAllAvailable()
      val rows = spark.table("asof_stream")
        .select("id", "asof_value")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
        .toMap
      assert(rows == Map(
        1L -> Some(5.0), 2L -> None, 3L -> Some(5.0),
        4L -> Some(5.0), 5L -> Some(7.0), 6L -> None))
    } finally q.stop()
  }

  test("versionedSink: micro-batches commit exactly once, replays skip") {
    implicit val sqlCtx = spark.sqlContext
    val table =
      s"${sys.props("java.io.tmpdir")}/graft_vsink_${System.nanoTime()}/t"
    val in = MemoryStream[(Long, String)]
    val q = Streams.versionedSink(in.toDF().toDF("k", "v"), table)
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      val vs = graft.io.Versioned.versions(spark, table)
      assert(vs.size == 2, s"two non-empty batches → two versions: $vs")
      assert(graft.io.Versioned.read(spark, table, None)
        .as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // simulate foreachBatch re-delivery of batch 0 after a restart:
      // same txn token → the log must not grow or duplicate
      graft.io.Versioned.commit(spark, table,
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "append",
        txn = Some("stream-0"))
      assert(graft.io.Versioned.versions(spark, table).size == 2,
        "replayed batch must not mint a version")
      assert(graft.io.Versioned.read(spark, table, None).count() == 3,
        "no duplicates after replay")
    } finally q.stop()
  }

  test("forgetMaintainingIngest: bridge delete splits, state tables shrink") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // hand-crafted signatures: 1≈2 on perms 0-7, 2≈3 on perms 8-15
    // (chain with bridge 2), 10≈11 identical, 20 alone
    def sig(id: Long, lo: Long, hi: Long) =
      (id, (0 until 8).map(lo + _) ++ (0 until 8).map(hi + _))
    val rows = Seq(sig(1L, 100, 200), sig(2L, 100, 300), sig(3L, 400, 300),
      sig(10L, 500, 600), sig(11L, 500, 600), sig(20L, 700, 800))
    val cols = "doc_id" +: (0 until 16).map(j => s"mh$j")
    val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType)))
    val sigs = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, s) =>
        org.apache.spark.sql.Row.fromSeq(id +: s) }), schema)
    val tag = System.nanoTime()
    val sigPath = s"${sys.props("java.io.tmpdir")}/graft_forget_sig_$tag"
    val labelPath = s"${sys.props("java.io.tmpdir")}/graft_forget_lab_$tag"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_forget_ck_$tag"
    Dedup.writeSignatures(sigs, "doc_id", sigPath)
    graft.operators.MaintainedComponents.write(
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (20L, 20L))
        .toDF("doc_id", "component"), "doc_id", labelPath)
    def labelsNow = graft.operators.MaintainedComponents.read(spark, labelPath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val in = MemoryStream[Long]
    val q = Streams.forgetMaintainingIngest(
      in.toDF().toDF("doc_id"), "doc_id", sigPath, labelPath,
      Map("checkpointLocation" -> ckpt))
    try {
      in.addData(2L) // the bridge: component {1,2,3} must SPLIT
      q.processAllAvailable()
      assert(labelsNow == Map(1L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L,
        20L -> 20L), labelsNow.toString)
      val sigIds1 = Dedup.readSignatures(spark, sigPath)
        .select("doc_id").as[Long].collect().toSet
      assert(sigIds1 == Set(1L, 3L, 10L, 11L, 20L), sigIds1.toString)
      in.addData(10L, 20L) // min-label of a pair + a singleton
      q.processAllAvailable()
      assert(labelsNow == Map(1L -> 1L, 3L -> 3L, 11L -> 11L),
        labelsNow.toString)
      val sigIds2 = Dedup.readSignatures(spark, sigPath)
        .select("doc_id").as[Long].collect().toSet
      assert(sigIds2 == Set(1L, 3L, 11L), sigIds2.toString)
    } finally q.stop()
  }

  test("ingest and forget lifecycles compose: interleaved ≡ closure over survivors") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def doc(tag: String): String =
      (1 to 24).map(i => s"${tag}_w$i").mkString(" ")
    val tag = System.nanoTime()
    val sigPath = s"${sys.props("java.io.tmpdir")}/graft_compose_sig_$tag"
    val labelPath = s"${sys.props("java.io.tmpdir")}/graft_compose_lab_$tag"
    // single-writer store: run each lifecycle's batch to completion
    // before the other touches the tables
    def runIngest(batch: Seq[(Long, String)]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = Streams.componentMaintainingIngest(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        sigPath, labelPath,
        Map("checkpointLocation" ->
          s"${sys.props("java.io.tmpdir")}/graft_compose_ck_${System.nanoTime()}"))
      try { in.addData(batch: _*); q.processAllAvailable() }
      finally q.stop()
    }
    def runForget(ids: Seq[Long]): Unit = {
      val in = MemoryStream[Long]
      val q = Streams.forgetMaintainingIngest(
        in.toDF().toDF("doc_id"), "doc_id", sigPath, labelPath,
        Map("checkpointLocation" ->
          s"${sys.props("java.io.tmpdir")}/graft_compose_ck_${System.nanoTime()}"))
      try { in.addData(ids: _*); q.processAllAvailable() }
      finally q.stop()
    }
    runIngest(Seq((1L, doc("alpha")), (2L, doc("beta")),
      (3L, doc("alpha"))))          // {1,3} near-dup, 2 alone
    runForget(Seq(1L))              // {3} relabels to 3
    runIngest(Seq((4L, doc("alpha")), (5L, doc("gamma")))) // 4 joins 3
    val got = graft.operators.MaintainedComponents.read(spark, labelPath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: one-shot closure over exactly the surviving docs
    val surv = Seq((2L, doc("beta")), (3L, doc("alpha")),
      (4L, doc("alpha")), (5L, doc("gamma")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(surv, "doc_id", "text", 3,
      threshold = 0.5).select("id_a", "id_b")
    val want = Dedup.connectedComponents(pairs, surv.select("doc_id"),
      "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"$got vs $want")
    val sigIds = Dedup.readSignatures(spark, sigPath)
      .select("doc_id").as[Long].collect().toSet
    assert(sigIds == Set(2L, 3L, 4L, 5L), sigIds.toString)
  }

  test("component drivers keep every label when the store's applied mark lags its overlays") {
    import graft.io.{GenTable, SimFs}
    import graft.operators.{Dedup, MaintainedComponents}
    implicit val sqlCtx = spark.sqlContext
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.simfs.impl", classOf[SimFs].getName)
    def doc(tag: String): String =
      (1 to 24).map(i => s"${tag}_w$i").mkString(" ")
    def labels(labelPath: String): Map[Long, Long] =
      MaintainedComponents.read(spark, labelPath).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def closure(docs: Seq[(Long, String)]): Map[Long, Long] = {
      val df = docs.toDF("doc_id", "text")
      val pairs = Dedup.minhashNearDups(df, "doc_id", "text", 3,
        threshold = 0.5).select("id_a", "id_b")
      Dedup.connectedComponents(pairs, df.select("doc_id"), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def sigIds(sigPath: String): Set[Long] =
      Dedup.readSignatures(spark, sigPath).select("doc_id").as[Long]
        .collect().toSet
    def ingest(in: MemoryStream[(Long, String)], sigPath: String,
               labelPath: String, ckpt: String) =
      Streams.componentMaintainingIngest(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        sigPath, labelPath, Map("checkpointLocation" -> ckpt))
    val base = sys.props("java.io.tmpdir")

    // (a) an ingest micro-batch dies between its relabel overlay's
    // `_done` and the applied mark (a simfs crash at the mark's first
    // write); the forget driver runs before the ingest replays. The
    // forget must not inherit the committed overlay's id, or it skips
    // its own relabel and the forgotten doc keeps its label.
    {
      val tag = System.nanoTime()
      val sigPath = s"$base/graft_lag_a_sig_$tag"
      val labelPath = s"simfs://$base/graft_lag_a_lbl_$tag"
      val ckpt = s"$base/graft_lag_a_ck_$tag"
      val in = MemoryStream[(Long, String)]
      val q1 = ingest(in, sigPath, labelPath, ckpt)
      try {
        in.addData((1L, doc("alpha")), (2L, doc("beta")))
        q1.processAllAvailable()                      // bootstrap write
        val live = new org.apache.hadoop.fs.Path(
          GenTable.live(spark, labelPath)).toUri.getPath
        SimFs.arm(s"$live/_applied", failFrom = 1)
        in.addData((3L, doc("alpha")))                // merge: 3 joins 1
        assert(scala.util.Try(q1.processAllAvailable()).isFailure,
          "the injected crash must fail the micro-batch")
      } finally { q1.stop(); SimFs.disarm() }
      val fin = MemoryStream[Long]
      val qf = Streams.forgetMaintainingIngest(
        fin.toDF().toDF("doc_id"), "doc_id", sigPath, labelPath,
        Map("checkpointLocation" -> s"$base/graft_lag_a_fck_$tag"))
      try { fin.addData(1L); qf.processAllAvailable() } finally qf.stop()
      val q2 = ingest(in, sigPath, labelPath, ckpt)   // replays doc 3
      try q2.processAllAvailable() finally q2.stop()
      val want = closure(Seq((2L, doc("beta")), (3L, doc("alpha"))))
      assert(labels(labelPath) == want, s"${labels(labelPath)} vs $want")
      assert(sigIds(sigPath) == Set(2L, 3L), sigIds(sigPath).toString)
    }

    // (b) an atomic-rename mark publish deletes `_applied` before it
    // renames the new one into place; a crash between the two leaves
    // two overlays pending and no mark. The next batch must not reuse
    // a pending overlay's id.
    {
      val tag = System.nanoTime()
      val sigPath = s"$base/graft_lag_b_sig_$tag"
      val labelPath = s"$base/graft_lag_b_lbl_$tag"
      val in = MemoryStream[(Long, String)]
      val q = ingest(in, sigPath, labelPath, s"$base/graft_lag_b_ck_$tag")
      val all = Seq((1L, doc("alpha")), (2L, doc("beta")),
        (3L, doc("alpha")), (4L, doc("gamma")), (5L, doc("beta")))
      try {
        all.take(4).foreach { d => in.addData(d); q.processAllAvailable() }
        val mark = new org.apache.hadoop.fs.Path(
          GenTable.live(spark, labelPath), "_applied")
        assert(mark.getFileSystem(hconf).delete(mark, false),
          s"no applied mark at $mark")
        in.addData(all(4)); q.processAllAvailable()  // 5 joins 2
      } finally q.stop()
      val want = closure(all)
      assert(labels(labelPath) == want, s"${labels(labelPath)} vs $want")
    }
  }

  test("driftMonitoringIngest: frozen reference, report ≡ batch categoricalDrift") {
    implicit val sqlCtx = spark.sqlContext
    val tag = System.nanoTime()
    val refPath = s"${sys.props("java.io.tmpdir")}/graft_drift_ref_$tag"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_drift_ck_$tag"
    val reports = scala.collection.mutable.Map[Long, Seq[
      (String, String, Long, Double, Double)]]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.driftMonitoringIngest(
      in.toDF().toDF("doc_id", "lang"), "lang", refPath,
      Map("checkpointLocation" -> ckpt)) { (report, id) =>
      reports.synchronized {
        reports(id) = report
          .orderBy("slice", "category").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSeq
      }
    }
    try {
      val ref = Seq.tabulate(30)(i => (i.toLong, if (i % 3 == 0) "en" else "de"))
      val drifted = Seq.tabulate(30)(i => (100L + i, if (i % 3 == 0) "de" else "en"))
      in.addData(ref: _*)
      q.processAllAvailable()
      assert(reports.isEmpty, "bootstrap batch must freeze, not report")
      in.addData(drifted: _*)
      q.processAllAvailable()
      // stream report ≡ batch categoricalDrift over the two slices
      val want = graft.operators.Features.categoricalDrift(
        (ref.map(t => ("reference", t._2)) ++
          drifted.map(t => ("batch", t._2))).toDF("slice", "lang"),
        "slice", "lang")
        .orderBy("slice", "category").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSeq
      assert(reports(1L) == want, s"${reports.get(1L)}\nvs\n$want")
      // batch 3 still compares against the FROZEN batch-1 reference
      in.addData(ref.map { case (i, l) => (200L + i, l) }: _*)
      q.processAllAvailable()
      val refN = reports(2L).filter(_._1 == "reference").map(_._3).sum
      assert(refN == 30L, s"reference must stay frozen at 30 rows: $refN")
      // an identical mix drifts ~zero: every chi2 term is 0 exactly
      // (same counts → observed == expected cellwise)
      assert(reports(2L).forall(_._5 == 0.0), reports(2L).toString)
    } finally q.stop()
  }

  test("trending-maintaining ingest: report ≡ batch trendingItems over all ingested") {
    implicit val sqlCtx = spark.sqlContext
    val tag = System.nanoTime()
    val path = s"${sys.props("java.io.tmpdir")}/graft_trend_ingest_$tag"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_trend_ckpt_$tag"
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    // steady A, B surging on the last days — split across two batches
    val b0 = (1 to 8).flatMap(d =>
      Seq.fill(10)((ts(d), "A")) ++ Seq.fill(1)((ts(d), "B")))
    val b1 = (9 to 12).flatMap(d =>
      Seq.fill(10)((ts(d), "A")) ++
        Seq.fill(if (d >= 10) 30 else 1)((ts(d), "B")))
    val reports = scala.collection.mutable.Map[Long, Seq[(String, String, Long)]]()
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.trendingMaintainingIngest(
      in.toDF().toDF("ts", "item"), "ts", "item", path,
      Map("checkpointLocation" -> ckpt)) { (report, id) =>
      reports.synchronized {
        reports(id) = report.orderBy("day", "rank").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(4))).toSeq
      }
    }
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      val all = reports.synchronized(reports(1L))
      // stream report after batch 1 ≡ batch operator over ALL events
      val want = graft.operators.Temporal.trendingItems(
        (b0 ++ b1).toDF("ts", "item")
          .select(to_date(col("ts")).as("day"), col("item"))
          .groupBy("day", "item").agg(count(lit(1)).as("n")),
        "item", "day", "n")
        .orderBy("day", "rank").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(4))).toSeq
      assert(all == want, s"stream:\n$all\nvs batch:\n$want")
      // the surge is visible: B tops 03-12
      assert(all.exists { case (d, i, _) => d == "2024-03-12" && i == "B" })
    } finally q.stop()
  }

  test("ams-maintaining ingest: merged sketch ≡ batch sketch; replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val tag = System.nanoTime()
    val path = s"${sys.props("java.io.tmpdir")}/graft_ams_ingest_$tag"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_ams_ckpt_$tag"
    val b0 = Seq(("g1", "x"), ("g1", "x"), ("g2", "y"))
    val b1 = Seq(("g1", "y"), ("g2", "x"), ("g2", "z"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .filter(_._2 != 0L).toMap
    val in = MemoryStream[(String, String)]
    val q = Streams.amsMaintainingIngest(
      in.toDF().toDF("g", "k"), "g", "k", path,
      Map("checkpointLocation" -> ckpt))
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      val direct = m(graft.operators.Sketches.amsSketch(
        (b0 ++ b1).toDF("g", "k"), "g", "k"))
      assert(m(Streams.readAmsSketch(spark, path, "g")) == direct,
        "merged partials must equal the one-shot sketch")
      // at-least-once replay of batch 1: its partition is OVERWRITTEN,
      // never summed twice (sketch adds are not idempotent)
      Streams.writeAmsPartial(b1.toDF("g", "k"), 1L, "g", "k", path)
      assert(m(Streams.readAmsSketch(spark, path, "g")) == direct,
        "replayed batch must not double-count")
    } finally q.stop()
  }

  test("viewMaintainingIngest: stream ≡ batch view, replay-safe, atomic compact") {
    import org.apache.spark.sql.types.DecimalType
    val dir = java.nio.file.Files
      .createTempDirectory("graft_view_ing_").toString
    val path = s"$dir/view"
    val ckpt = s"$dir/ckpt"
    def rows(xs: Seq[(String, Int)]) = xs.toDF("g", "m")
      .select(col("g"), col("m").cast(DecimalType(18, 2)).as("m"))
    // base view from a historical batch
    val hist = Seq(("a", 10), ("b", 5))
    graft.io.MaintainedAgg.write(
      rows(hist).groupBy("g").agg(sum("m").as("m"),
        count(lit(1)).as("n")),
      Seq("g"), path, Seq("m"), "n")
    val b0 = Seq(("a", 1), ("c", 7))
    val b1 = Seq(("b", 2), ("c", 3))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val q = Streams.viewMaintainingIngest(
      in.toDF().toDF("g", "m")
        .select(col("g"), col("m").cast(DecimalType(18, 2)).as("m")),
      Seq("g"), Seq("m"), "n", path,
      Map("checkpointLocation" -> ckpt))
    def served = graft.io.MaintainedAgg
      .readWithDeltas(spark, path, Seq("g"), Seq("m"), "n")
      .collect().map(r => (r.getString(0),
        r.getDecimal(1).doubleValue(), r.getLong(2))).toSet
    val expect = (hist ++ b0 ++ b1).groupBy(_._1).map { case (g, xs) =>
      (g, xs.map(_._2).sum.toDouble, xs.size.toLong) }.toSet
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(served == expect, s"stream view diverged: $served vs $expect")
      // at-least-once replay of batch 1: own-partition overwrite,
      // never summed twice (delta merge is SUM, not idempotent)
      graft.io.MaintainedAgg.writeDeltaPartial(rows(b1), 1L,
        Seq("g"), Seq("m"), "n", path)
      assert(served == expect, "replayed batch must not double-count")
      // compaction folds deltas into the base atomically and serves
      // the identical view; the deltas dir is gone, layout intact
      graft.io.MaintainedAgg.compactDeltas(spark, path,
        Seq("g"), Seq("m"), "n")
      assert(served == expect, s"compacted view diverged: $served")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_deltas")),
        "compaction must fold the deltas away")
      // crash between compaction and the stream's offset commit: the
      // restarted stream REPLAYS a batch the base already absorbed —
      // the _folded high-water mark makes the replay a no-op instead
      // of a double count
      graft.io.MaintainedAgg.writeDeltaPartial(rows(b1), 1L,
        Seq("g"), Seq("m"), "n", path)
      assert(served == expect,
        "a replayed already-folded batch must no-op against the mark")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_deltas")),
        "the folded batch's delta must not be recreated")
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .exists(_.getPath.getName.startsWith("agg_part=")),
        "compacted view must keep the hash-partitioned layout")
    } finally q.stop()
  }

  test("distinctMaintainingIngest: stream ≡ batch sketch, replay-safe, atomic compact") {
    import graft.operators.{MaintainedDistinct, Sketches}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dist_ing_").toString
    val path = s"$dir/view"
    def rows(xs: Seq[(String, String)]) = xs.toDF("g", "k")
    // base view from a historical batch
    val hist = Seq(("a", "x1"), ("a", "x2"), ("b", "y1"))
    MaintainedDistinct.write(rows(hist), Seq("g"), "k", path)
    val b0 = Seq(("a", "x3"), ("c", "z1"))
    val b1 = Seq(("b", "y2"), ("c", "z1")) // z1 repeats: distinct ignores
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = Streams.distinctMaintainingIngest(
      in.toDF().toDF("g", "k"), Seq("g"), "k", path,
      Map("checkpointLocation" -> s"$dir/ckpt"))
    def served = MaintainedDistinct
      .estimatesWithDeltas(spark, path, Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSet
    // ground truth: the direct sketch over everything ingested
    def direct(xs: Seq[(String, String)]) =
      Sketches.hllDistinct(rows(xs), "g", "k")
        .join(rows(xs).groupBy(col("g")).agg(count(lit(1)).as("n")), "g")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSet
    val expect = direct(hist ++ b0 ++ b1)
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(served == expect, s"stream sketch diverged: $served vs $expect")
      // at-least-once replay: own-partition overwrite, counts intact
      MaintainedDistinct.writeDeltaPartial(rows(b1), 1L, Seq("g"), "k",
        path)
      assert(served == expect, "replayed batch must not double-count")
      // atomic compaction folds deltas; serving identical after
      MaintainedDistinct.compactDeltas(spark, path, Seq("g"))
      assert(served == expect, s"compacted sketch diverged: $served")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_deltas")),
        "compaction must fold the deltas away")
      // a replay AFTER compaction no-ops against the _folded mark
      MaintainedDistinct.writeDeltaPartial(rows(b1), 1L, Seq("g"), "k",
        path)
      assert(served == expect, "folded batch must not be recreated")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_deltas")))
      // and the compacted table still refreshes through the CDC path
      MaintainedDistinct.deltaRefresh(spark, path,
        removed = rows(Seq()).limit(0), added = rows(Seq(("d", "w1"))),
        Seq("g"), "k", batchId = 100L) { d => fail("insert-only is clean") }
      assert(MaintainedDistinct.read(spark, path).count() == 4L)
    } finally q.stop()
  }

  test("sampleMaintainingIngest: stream ≡ batch sample, replay-safe, atomic compact") {
    import graft.operators.{MaintainedSample, Sketches}
    val m = 2
    val dir = java.nio.file.Files
      .createTempDirectory("graft_samp_ing_").toString
    val path = s"$dir/view"
    def rows(xs: Seq[(String, String, Double)]) = xs.toDF("g", "k", "v")
    val hist = Seq(("a", "x1", 1.0), ("a", "x2", 2.0), ("a", "x3", 3.0),
      ("b", "y1", 4.0))
    MaintainedSample.write(rows(hist), "g", "k", "v", path, m)
    val b0 = Seq(("a", "x4", 5.0), ("c", "z1", 6.0))
    val b1 = Seq(("b", "y2", 7.0), ("c", "z1", 6.0)) // repeat: set union
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double)]
    val q = Streams.sampleMaintainingIngest(
      in.toDF().toDF("g", "k", "v"), "g", "k", "v", m, path,
      Map("checkpointLocation" -> s"$dir/ckpt"))
    def served = MaintainedSample.readWithDeltas(spark, path, "g", m)
      .select("g", "key", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    def direct(xs: Seq[(String, String, Double)]) =
      Sketches.quantileSketch(rows(xs), "g", "k", "v", m)
        .select("g", "key", "v")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet
    val expect = direct(hist ++ b0 ++ b1)
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(served == expect, s"stream sample diverged: $served vs $expect")
      // replay before compaction: same bytes, same sample
      MaintainedSample.writeDeltaPartial(rows(b1), 1L, "g", "k", "v", m,
        path)
      assert(served == expect, "replayed batch must not change the sample")
      // set semantics at ROW level (a Set compare would mask it): the
      // key z1 arrived in two batches yet occupies ONE slot of c's
      // sample, pre- and post-compaction
      assert(MaintainedSample.readWithDeltas(spark, path, "g", m)
        .filter(col("g") === "c").count() == 1L,
        "a key in two deltas must occupy one sample slot")
      MaintainedSample.compactDeltas(spark, path, "g", m)
      assert(served == expect, s"compacted sample diverged: $served")
      assert(MaintainedSample.read(spark, path)
        .filter(col("g") === "c").count() == 1L,
        "compaction must persist the set-canonical sample")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_deltas")),
        "compaction must fold the deltas away")
      // replay AFTER compaction no-ops against the _folded mark
      MaintainedSample.writeDeltaPartial(rows(b1), 1L, "g", "k", "v", m,
        path)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_deltas")))
      assert(served == expect)
      // and the compacted table still refreshes through the CDC path
      MaintainedSample.deltaRefresh(spark, path,
        removed = rows(Seq()).limit(0),
        added = rows(Seq(("d", "w1", 8.0))),
        "g", "k", "v", m, batchId = 100L) { d =>
        fail("insert-only is clean")
      }
      assert(MaintainedSample.read(spark, path)
        .filter(col("g") === "d").count() == 1L)
    } finally q.stop()
  }

  test("termStatsMaintainingIngest: stream ≡ batch report, replay-safe, atomic compact") {
    import graft.operators.TextOps
    val dir0 = java.nio.file.Files
      .createTempDirectory("graft_tfidf_ing_").toString
    val dir = s"$dir0/state"
    def docs(xs: Seq[(Long, String, String)]) =
      xs.toDF("doc_id", "text", "source")
    val hist = Seq((1L, "alpha alpha beta", "s1"), (2L, "alpha gamma", "s1"))
    TextOps.writeTermStats(docs(hist), "doc_id", "text", "source", dir)
    val b0 = Seq((3L, "beta beta beta", "s2"))
    val b1 = Seq((4L, "alpha delta", "s2"))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.termStatsMaintainingIngest(
      in.toDF().toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", dir,
      Map("checkpointLocation" -> s"$dir0/ckpt"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5))).toSet
    def served = rows(TextOps.topTermsWithDeltas(spark, dir, "source", 3))
    def direct(xs: Seq[(Long, String, String)]) =
      rows(TextOps.topTerms(docs(xs), "doc_id", "text", "source", 3))
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      val expect = direct(hist ++ b0 ++ b1)
      assert(served == expect, s"stream report diverged: $served vs $expect")
      // replay of batch 1's delta before compaction: same bytes
      TextOps.writeTermStatsDeltaPartial(docs(b1), 1L,
        "doc_id", "text", "source", dir)
      assert(served == expect, "replayed batch must not change the report")
      TextOps.compactTermStats(spark, dir, "source")
      assert(served == expect, s"compacted report diverged: $served")
      assert(rows(TextOps.topTermsFromStats(spark, dir, "source", 3))
        == expect, "base-only serve must equal the folded report")
      // replay AFTER compaction no-ops against the _folded mark
      TextOps.writeTermStatsDeltaPartial(docs(b1), 1L,
        "doc_id", "text", "source", dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (v <- Seq("tf", "df", "n"))
        assert(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/$v/_deltas")),
          s"post-compaction replay must no-op on $v")
      // and the compacted state still refreshes through the CDC path
      TextOps.refreshTermStats(spark, dir,
        removedDocs = docs(Seq((3L, "beta beta beta", "s2"))),
        addedDocs = docs(Seq.empty),
        "doc_id", "text", "source", batchId = 100L)
      assert(served == direct(hist ++ b1),
        "CDC delete after compaction must repair the report")
    } finally q.stop()
  }
}
