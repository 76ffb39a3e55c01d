package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface (SURVEY.md §2.8 — absent in the
  * reference, provided as the engine's incremental path). Every batch
  * query in graft.queries.EventQueries has its streaming twin here:
  * the same logical shape over `readStream`, with watermarks bounding
  * state.
  *
  * Scale: state is keyed by (window, type) or user — partitioned by
  * the shuffle like any agg; the watermark is what keeps state finite,
  * so every stateful operator here REQUIRES one.
  */
object Streams {

  /** File-based event stream: the batch `events` table read
    * incrementally (one new parquet file per micro-batch at the 100 TB
    * ingest edge; `maxFilesPerTrigger` bounds batch size). `dir` must
    * be a DIRECTORY — the file stream source rejects a bare file path
    * ("Option 'basePath' must be a directory").
    */
  def fileEventStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 16): DataFrame = {
    // layout-adaptive ts normalization shared with the batch loader
    // (nanos-as-long legacy layouts AND native timestamp[us]); the
    // nanosAsLong conf is set once at session build (Sessions.tuned) —
    // see Tables.normalizeEventTs for why a per-read conf.set is
    // unacceptable
    val schema =
      graft.model.Tables.explainNanos(spark.read.parquet(dir).schema)
    graft.model.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
  }

  /** Tumbling-window counts/sums per event type, late data bounded by
    * the watermark (streaming twin of q_rollup's leaf level).
    */
  def windowedTypeCounts(events: DataFrame, windowLen: String = "1 hour",
                         watermark: String = "2 hours",
                         slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        // sliding when a slide < windowLen is given: each event then
        // contributes to windowLen/slide overlapping windows — the
        // moving-average shape; state grows by the same factor
        slide.map(s => window(col("ts"), windowLen, s))
          .getOrElse(window(col("ts"), windowLen)),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Built-in gap-based session windows (streaming twin of
    * q_sessionize): Spark's session_window merges events closer than
    * `gap` into one growing window per user.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  final case class BudgetDoc(source: String, doc_id: Long, n_tokens: Long)

  /** Streaming token-budget gate on the `transformWithState` API
    * (Spark 4's arbitrary-state operator — typed per-key state handles
    * with TTL support, RocksDB-backed): the stateful twin of
    * [[graft.operators.Curation.tokenBudgetCap]]. Per source, a single
    * ValueState long accumulates admitted tokens; a doc passes iff it
    * still fits the budget. Admission is ARRIVAL-ordered (a stream has
    * no hash-order to replay), so this is the enforcement half — the
    * batch op remains the reproducible-selection half.
    *
    * State per key is one long — no watermark needed, no growth.
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  def streamingTokenBudget(docs: Dataset[BudgetDoc], budget: Long)
      : Dataset[BudgetDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Enc}

    class BudgetProcessor
        extends StatefulProcessor[String, BudgetDoc, BudgetDoc] {
      @transient private var cum: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        cum = getHandle.getValueState[Long]("cum", Enc.scalaLong,
          TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[BudgetDoc],
                                   timerValues: org.apache.spark.sql.streaming.TimerValues)
          : Iterator[BudgetDoc] = {
        // eager: the returned iterator must not lazily touch state
        var c = if (cum.exists()) cum.get() else 0L
        val out = rows.filter { d =>
          val fits = c + d.n_tokens <= budget
          if (fits) { c += d.n_tokens; cum.update(c) }
          fits
        }.toVector
        out.iterator
      }
    }
    docs.groupByKey(_.source)
      .transformWithState(new BudgetProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Stream-stream interval join — click attribution: each click joins
    * the impressions of the same user in the preceding `attributionWindow`.
    * BOTH sides carry watermarks and the join condition bounds event
    * time in BOTH directions, which is what lets Spark expire buffered
    * state (an unbounded stream-stream join would hold both streams
    * forever). Inner join: unattributed clicks drop; state per side is
    * bounded by watermark + window.
    *
    * Column contract: impressions (user_id, ts, imp_id), clicks
    * (user_id, ts, click_id).
    */
  def streamStreamAttribution(impressions: DataFrame, clicks: DataFrame,
                              attributionWindow: String = "10 minutes",
                              watermark: String = "30 minutes"): DataFrame = {
    val imp = impressions.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("imp_ts"), col("imp_id"))
    val clk = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"),
        col("click_id"))
    imp.join(clk,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr(s"interval $attributionWindow"))
      .select(col("user_id"), col("imp_id"), col("click_id"),
        col("imp_ts"), col("click_ts"))
  }

  // ---- custom stateful sessionization ----

  final case class QuantileDoc(source: String, doc_key: String, v: Long)
  final case class QSketchEntry(hv: Long, k: String, v: Long)
  final case class QSketchState(entries: Seq[QSketchEntry])
  final case class QuantileEstimate(source: String, n_sample: Int,
                                    est_p50: Long, est_p90: Long,
                                    est_p99: Long)

  /** JVM twin of [[graft.functions.Portable.hash32]] (md5-prefix
    * long) so streaming state holds EXACTLY the hashes the batch
    * sketch computes — the equality the stream ≡ batch spec pins.
    */
  private def hash32Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => "%02x".format(b & 0xff)).mkString, 16)
  }

  /** Sketch-entry order: (hv, key) with the KEY tie broken on UTF-8
    * BYTES — exactly how Spark SQL (`UTF8String.compareTo`) and the
    * DuckDB oracle order strings. Scala's default String ordering
    * compares UTF-16 code units, which ranks supplementary-plane
    * characters (surrogate pairs, 0xD800–0xDFFF units) BELOW
    * U+E000–U+FFFF — the opposite of byte order — so a 32-bit hash
    * collision between such keys would silently break the
    * stream ≡ batch equality under the default ordering.
    */
  private[streaming] val sketchEntryOrder: Ordering[QSketchEntry] =
    (a: QSketchEntry, b: QSketchEntry) => {
      val c = java.lang.Long.compare(a.hv, b.hv)
      if (c != 0) c
      else java.util.Arrays.compareUnsigned(
        a.k.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Streaming QUANTILE SKETCH — the stateful twin of
    * [[graft.operators.Sketches.quantileSketch]]: per group, the
    * bottom-m rows by (hash32(key), key) are maintained as one
    * ValueState and the current p50/p90/p99 estimates are emitted
    * every micro-batch the group changes (update semantics).
    *
    * Because the batch sketch is a MERGEABLE bottom-m (merge ≡ direct,
    * exact set equality — SketchesSpec), the streaming state after any
    * prefix of batches IS the batch sketch of the rows seen so far, so
    * the final streamed estimates equal the batch estimates exactly
    * (spec-pinned on the documents table across two micro-batches).
    * State per group is m entries — bounded, independent of stream
    * volume; no watermark needed (the sketch never evicts by time).
    */
  def streamingQuantileSketch(docs: Dataset[QuantileDoc], m: Int = 64)
      : Dataset[QuantileEstimate] = {
    require(m >= 1, "sample size must be positive")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Enc}

    class QSketchProcessor
        extends StatefulProcessor[String, QuantileDoc, QuantileEstimate] {
      @transient private var st: ValueState[QSketchState] = _
      override def init(outputMode: OutputMode,
                        timeMode: TimeMode): Unit =
        st = getHandle.getValueState[QSketchState]("sketch",
          Enc.product[QSketchState], TTLConfig.NONE)
      override def handleInputRows(key: String,
                                   rows: Iterator[QuantileDoc],
                                   timerValues: org.apache.spark.sql.streaming.TimerValues)
          : Iterator[QuantileEstimate] = {
        val prev = if (st.exists()) st.get().entries else Seq.empty
        val merged = (prev ++ rows.map(d =>
            QSketchEntry(hash32Jvm(d.doc_key), d.doc_key, d.v)))
          .sorted(sketchEntryOrder)
          .take(m)
        st.update(QSketchState(merged))
        val byV = merged.map(e => (e.v, e.k)).sorted.map(_._1)
        val sm = byV.size
        def est(p: Int): Long =
          byV(((sm.toLong * p + 99) / 100).toInt.max(1) - 1)
        Iterator.single(
          QuantileEstimate(key, sm, est(50), est(90), est(99)))
      }
    }
    docs.groupByKey(_.source)
      .transformWithState(new QSketchProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  final case class CusumPoint(key: String, day: java.sql.Date, v: Long,
                              mu: Long)
  final case class CusumOut(key: String, day: java.sql.Date, v: Long,
                            cusum_pos: Long, cusum_neg: Long,
                            changepoint: Boolean)
  final case class CusumState(sp: Long, sn: Long, cp: Boolean)

  /** Streaming CUSUM — the stateful twin of
    * [[graft.operators.Temporal.cusumChangepoints]]: per key, a
    * `transformWithState` processor carries the two one-sided sums
    * (s⁺, s⁻) and the restart flag across micro-batches and emits one
    * row per arriving point with the same integer recurrence
    * (slack = μ·slackNum div slackDen, h = μ·hNum div hDen).
    *
    * μ arrives ON the point (the caller enriches from a FROZEN
    * reference level, e.g. the stored training-period mean — the
    * [[driftMonitoringIngest]] philosophy): a stream cannot know its
    * own series mean without seeing the future, so the batch
    * operator's self-mean is exactly the part that must become a
    * stored artifact in the streaming shape. Points are processed in
    * day order within each batch; across batches the feed must be
    * in order per key (the daily-aggregate replay shape), the same
    * in-order contract as [[streamingFunnel]].
    *
    * State per key is two longs + a flag — bounded, independent of
    * stream volume.
    */
  def streamingCusum(points: Dataset[CusumPoint],
                     slackNum: Long = 1L, slackDen: Long = 4L,
                     hNum: Long = 2L, hDen: Long = 1L)
      : Dataset[CusumOut] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Enc}

    class CusumProcessor
        extends StatefulProcessor[String, CusumPoint, CusumOut] {
      @transient private var st: ValueState[CusumState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[CusumState]("cusum",
          Enc.product[CusumState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[CusumPoint],
                                   timerValues: org.apache.spark.sql.streaming.TimerValues)
          : Iterator[CusumOut] = {
        var s = if (st.exists()) st.get() else CusumState(0L, 0L, false)
        val out = rows.toSeq.sortBy(_.day.getTime).map { p =>
          val slack = p.mu * slackNum / slackDen
          val h = p.mu * hNum / hDen
          val psp = if (s.cp) 0L else s.sp
          val psn = if (s.cp) 0L else s.sn
          val sp = math.max(0L, psp + (p.v * 1000000L - p.mu - slack))
          val sn = math.max(0L, psn + (p.mu - slack - p.v * 1000000L))
          s = CusumState(sp, sn, sp > h || sn > h)
          CusumOut(key, p.day, p.v, sp, sn, s.cp)
        }
        st.update(s)
        out.iterator
      }
    }
    points.groupByKey(_.key)
      .transformWithState(new CusumProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  final case class FunnelEvent(user_id: Long, event_type: String,
                               ts: Timestamp)
  final case class FunnelReach(user_id: Long, step: Int,
                               event_type: String, ts: Timestamp)
  final case class FunnelState(reach: Seq[Long])

  /** Streaming FUNNEL — the stateful twin of
    * [[graft.operators.Temporal.funnelSteps]]: per user, a
    * `transformWithState` processor tracks the earliest time each
    * ordered step was reached (strictly after the previous step's
    * reach time, within `maxGapSeconds` when gapped — the exact batch
    * chain condition) and EMITS one `FunnelReach` row per new step
    * completion. Step counts / conversion ratios are then a plain
    * downstream aggregation of the emitted rows.
    *
    * Equality contract (spec-pinned): for events delivered in
    * timestamp order, the emitted reaches aggregate to EXACTLY the
    * batch funnel's per-step counts — in-order delivery makes each
    * reach time final the moment it is set (a later event can never
    * lower an earlier min), which is the same argument the batch
    * min-chain rests on. Out-of-order events within the watermark are
    * still processed (sorted within each micro-batch) and may emit an
    * improved reach for a step; consumers needing batch-exact numbers
    * on disordered feeds should aggregate on min(ts) per (user, step).
    *
    * State per user is `|steps|` longs — bounded, independent of
    * event volume. Requires the RocksDB state store provider like the
    * other `transformWithState` operators.
    */
  def streamingFunnel(events: Dataset[FunnelEvent], steps: Seq[String],
                      maxGapSeconds: Long = 0L): Dataset[FunnelReach] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Enc}

    val stepIdx = steps.zipWithIndex.toMap
    val gapMicros = maxGapSeconds * 1000000L
    val Unreached = Long.MaxValue
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    class FunnelProcessor
        extends StatefulProcessor[Long, FunnelEvent, FunnelReach] {
      @transient private var st: ValueState[FunnelState] = _
      override def init(outputMode: OutputMode,
                        timeMode: TimeMode): Unit =
        st = getHandle.getValueState[FunnelState]("reach",
          Enc.product[FunnelState], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                                   timerValues: org.apache.spark.sql.streaming.TimerValues)
          : Iterator[FunnelReach] = {
        val reach: Array[Long] =
          if (st.exists()) st.get().reach.toArray
          else Array.fill(steps.size)(Unreached)
        val out = Vector.newBuilder[FunnelReach]
        // ts-sort within the batch: the chain condition is an
        // event-time statement, not an arrival-order one
        rows.toVector.sortBy(e => micros(e.ts)).foreach { e =>
          stepIdx.get(e.event_type).foreach { i =>
            val t = micros(e.ts)
            val qualifies =
              if (i == 0) t < reach(0)
              else reach(i - 1) != Unreached && t > reach(i - 1) &&
                (gapMicros == 0L || t <= reach(i - 1) + gapMicros) &&
                t < reach(i)
            if (qualifies) {
              reach(i) = t
              out += FunnelReach(key, i + 1, e.event_type, e.ts)
            }
          }
        }
        st.update(FunnelState(reach.toSeq)) // eager before returning
        out.result().iterator
      }
    }
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  final case class Ev(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Timestamp, last: Timestamp,
                                n: Long, total: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              session_end: Timestamp, n_events: Long,
                              total_value: Double)

  /** flatMapGroupsWithState sessionization: the custom-state form of
    * [[sessionWindowAgg]] for semantics session_window can't express
    * (e.g. emitting value totals with custom close conditions). A
    * session closes in-batch when a gap > `gapMs` appears, or via the
    * EVENT-time timeout once the watermark passes last+gap — event
    * time, not processing time, so batches only run when data arrives
    * (a processing-time timeout would micro-batch continuously and
    * burn the cluster on empty batches). State per user is O(1).
    */
  def statefulSessions(events: Dataset[Ev], gapMs: Long,
                       watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def fn(user: Long, rows: Iterator[Ev], state: GroupState[SessionState])
        : Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(user, s.start, s.last, s.n, s.total))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[SessionOut]
        var cur = state.getOption
        sorted.foreach { e =>
          cur match {
            case Some(s) if e.ts.getTime - s.last.getTime <= gapMs =>
              cur = Some(SessionState(s.start, e.ts, s.n + 1, s.total + e.value))
            case Some(s) =>
              closed ::= SessionOut(user, s.start, s.last, s.n, s.total)
              cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
            case None =>
              cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last.getTime + gapMs)
        }
        closed.reverseIterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming dedup twin of q_dedup_exact: first-seen wins within the
    * watermark horizon (`dropDuplicates` keyed on the content digest;
    * state bounded by the event-time watermark).
    */
  def streamingDedup(docs: DataFrame, idCol: String, textCol: String,
                     tsCol: String, watermark: String): DataFrame =
    docs
      .withColumn("content_md5", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("content_md5")

  /** Streaming INCREMENTAL near-dup gate: drop arriving docs that LSH-
    * collide with the maintained corpus signature table — the
    * streaming twin of [[graft.operators.Dedup.incrementalDedup]],
    * closing the loop with the signature-table lifecycle
    * (writeSignatures/appendSignatures): the static side is just
    * `Dedup.bandKeySet(readSignatures(...))`.
    *
    * Semantics are deliberately CONSERVATIVE (recall-oriented): any
    * shared band ⇒ drop, with no Jaccard verification step — a
    * streaming gate can't re-group its own output without stateful
    * aggregation, and a borderline false drop is the right tradeoff at
    * the ingest edge (the batch [[graft.operators.Dedup
    * .incrementalDedup]] does verified scoring for reconciliation).
    * Mechanics: the MinHash signature is computed ROW-LOCALLY
    * (`Dedup.minhashSigColumnsFromHashes` — bit-identical to the batch
    * signatures, no shuffle, append-mode safe), then one stream-static
    * LEFT ANTI join per band against the distinct corpus band-key set.
    * The static side joins on its single distinct key column, so rows
    * never multiply and no per-doc re-aggregation is needed. Intra-
    * batch (new-vs-new) dups are NOT dropped here — they fall to the
    * next signature-table refresh, as in any streaming/batch lambda
    * split.
    */
  def streamingNearDupGate(docs: DataFrame, textCol: String,
                           staticBandKeys: DataFrame, k: Int = 3)
      : DataFrame = {
    import graft.functions.Portable
    import graft.operators.Dedup
    val withHashes = docs
      .withColumn("__toks", Portable.tokens(col(textCol)))
      .withColumn("__hs",
        transform(Portable.shingles(col("__toks"), k),
          s => Portable.hash32(s)))
    val withSig = withHashes.select(col("*") +:
      Dedup.minhashSigColumnsFromHashes(col("__hs"))
        .zipWithIndex.map { case (c, j) => c.as(s"__mh$j") }: _*)
    val withBands = withSig.select(col("*") +:
      Dedup.bandKeyColumns("__mh").zipWithIndex
        .map { case (c, b) => c.as(s"__band$b") }: _*)
    val gated = (0 until Portable.NumBands).foldLeft(withBands) {
      (d, b) =>
        d.join(staticBandKeys.select(col("band_key").as(s"__band$b")),
          Seq(s"__band$b"), "left_anti")
    }
    gated.drop((Seq("__toks", "__hs") ++
      (0 until Portable.NumPerms).map(j => s"__mh$j") ++
      (0 until Portable.NumBands).map(b => s"__band$b")): _*)
  }

  /** Signature-MAINTAINING streaming ingest — the full lambda loop in
    * one stream: every micro-batch is deduped against the maintained
    * signature table with the verified BATCH path
    * ([[graft.operators.Dedup.incrementalDedupWithSigs]] — foreachBatch
    * hands us a plain DataFrame, so unlike [[streamingNearDupGate]]
    * nothing has to be approximated), survivors flow to `survivorSink`,
    * and their signatures are appended back to the table so the NEXT
    * batch dedups against them. Batch 1 bootstraps the table
    * (intra-batch dedup against an empty signature frame, then
    * `writeSignatures`).
    *
    * Exactly-once caveat: the sink call and the parquet append are not
    * one atomic commit, so ORDER matters. The sink runs FIRST: a crash
    * between sink and append replays the batch against a table that
    * does not yet contain its signatures, so the same survivors are
    * recomputed and re-delivered (at-least-once — the sink must be
    * idempotent, the normal foreachBatch contract). The reverse order
    * would be data LOSS: after an append-then-crash, the replayed batch
    * would LSH-match its own stored signatures and deliver zero
    * survivors. A crash after both steps replays to an empty survivor
    * set (self-match) — an empty re-delivery and an empty append, both
    * benign. A table format with batchId-conditional commits would
    * remove the duplicate-delivery case entirely.
    *
    * Returns the started query; caller sets checkpointLocation via
    * `options`.
    */
  def signatureMaintainingIngest(docs: DataFrame, idCol: String,
                                 textCol: String, sigPath: String,
                                 options: Map[String, String] = Map.empty,
                                 k: Int = 3, threshold: Double = 0.5)
                                (survivorSink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    docs.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val hPath = new org.apache.hadoop.fs.Path(sigPath)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bootstrap = !fs.exists(hPath)
        // the batch feeds the signature build AND the survivor
        // anti-join — materialize once, not per consumer
        val b = batch.localCheckpoint()
        val existing =
          if (bootstrap) // schema-correct empty signature frame
            Dedup.minhashSignatures(
              Dedup.docShingles(b.limit(0), idCol, textCol, k,
                dedup = false), idCol)
          else Dedup.readSignatures(spark, sigPath)
        val (survivors, survivorSigs) = Dedup.incrementalDedupWithSigs(
          b, idCol, textCol, existing, k, threshold)
        // Sink BEFORE append: see the exactly-once caveat above.
        survivorSink(survivors, batchId)
        if (bootstrap) Dedup.writeSignatures(survivorSigs, idCol, sigPath)
        else Dedup.appendSignatures(survivorSigs, idCol, sigPath)
      }
      .start()
  }

  /** Streaming component-labeling maintenance — the CLUSTERING
    * lifecycle twin of [[signatureMaintainingIngest]]: between
    * micro-batches the corpus's near-dup clustering lives as two
    * stored tables, the MinHash signature table (candidate
    * generation) and the component store at `labelPath`
    * ([[graft.operators.MaintainedComponents]]). Each batch
    *   1. builds the batch's signatures;
    *   2. derives its near-dup edges — batch–corpus via an LSH cross
    *      join against the STORED signatures, batch–batch via the
    *      banded self-join (the corpus text is never re-read);
    *   3. bootstraps the store from the batch's closure
    *      ([[graft.operators.MaintainedComponents.write]]) when none
    *      exists, else merges the edges into it
    *      ([[graft.operators.MaintainedComponents.merge]] — cost ∝
    *      batch + touched components, one O(batch) relabel overlay);
    *   4. appends the batch's signatures.
    * Unlike the dedup ingest no document is dropped: this maintains
    * the labeling OF every ingested doc — canonical-doc selection,
    * leakage-safe splits ([[graft.operators.Curation
    * .leakageSafeSplit]]) and cluster caps all read it between
    * batches, through [[graft.operators.MaintainedComponents.read]].
    *
    * Stream ≡ batch: by the star-contraction identity applied
    * inductively over batches, the stored labeling equals the
    * full-corpus closure REGARDLESS of how docs are batched
    * (spec-pinned, including a different batch order).
    *
    * Store batch ids: each merge carries the store's own next id
    * ([[graft.operators.MaintainedComponents.nextBatchId]]: one past
    * its applied mark and its committed overlays), never the
    * micro-batch id — the forget driver shares the store, and a fresh
    * checkpoint restarts micro-batch ids at 0. Labels commit before
    * the signatures: a micro-batch replayed after a crash between the
    * two re-merges its edges under the store's next id, a no-op on
    * the labels (merge is idempotent on labeled ids), then appends.
    */
  def componentMaintainingIngest(docs: DataFrame, idCol: String,
                                 textCol: String, sigPath: String,
                                 labelPath: String,
                                 options: Map[String, String] = Map.empty,
                                 k: Int = 3, threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Dedup, MaintainedComponents}
    docs.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint()
        // streaming can fire an empty batch (e.g. at start) — a no-op
        // here, and skipping it keeps bootstrap tied to REAL data
        if (!b.isEmpty) {
          val bootstrap = !exists(spark, sigPath)
          val newSigs = Dedup.minhashSignatures(
            Dedup.docShingles(b, idCol, textCol, k, dedup = false), idCol)
            .localCheckpoint()
          val intra = Dedup.estimatedJaccard(
            Dedup.lshCandidatePairs(newSigs, idCol), newSigs, idCol)
            .filter(col("est_jaccard") >= threshold).select("id_a", "id_b")
          val edges =
            if (bootstrap) intra
            else {
              val existing = Dedup.readSignatures(spark, sigPath)
              Dedup.estimatedJaccardAcross(
                Dedup.lshCrossPairs(newSigs, existing, idCol),
                newSigs, existing, idCol)
                .filter(col("est_jaccard") >= threshold)
                .select("id_a", "id_b")
                .unionByName(intra)
            }
          val verts = b.select(col(idCol))
          // store existence is decided independently of the signature
          // bootstrap: a crash between the two steps leaves the store
          // a batch ahead of the signatures
          if (!exists(spark, labelPath))
            MaintainedComponents.write(
              Dedup.connectedComponents(edges, verts, idCol), idCol,
              labelPath)
          else MaintainedComponents.merge(spark, labelPath, edges, verts,
            idCol, MaintainedComponents.nextBatchId(spark, labelPath))
          if (bootstrap) Dedup.writeSignatures(newSigs, idCol, sigPath)
          else Dedup.appendSignatures(newSigs, idCol, sigPath)
        }
      }
      .start()
  }

  /** Streaming deletion propagation — the right-to-be-forgotten twin
    * of [[componentMaintainingIngest]]: each micro-batch of delete
    * requests (rows of `idCol`) is applied to the SAME stored state
    * that ingest maintains, through
    * [[graft.operators.MaintainedComponents.forget]]: the deleted ids'
    * signatures are tombstoned first (an O(batch) merge-on-read
    * overlay, folded at [[graft.operators.Dedup.compactSignatures]]),
    * then the components they leave are repaired from the signatures
    * (bridge deletions SPLIT components) and committed as one relabel
    * overlay. Each batch carries the store's next id
    * ([[graft.operators.MaintainedComponents.nextBatchId]]), as in the
    * ingest driver. A replayed micro-batch re-applies under that id:
    * its tombstone is content-keyed, and forgetting ids already gone
    * from the labels touches no component, so re-delivery converges
    * to the same state. Missing tables (nothing ingested yet) make
    * the batch a no-op.
    */
  def forgetMaintainingIngest(deletes: DataFrame, idCol: String,
                              sigPath: String, labelPath: String,
                              options: Map[String, String] = Map.empty,
                              threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.MaintainedComponents
    deletes.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val del = batch.select(col(idCol)).distinct().localCheckpoint()
        if (!del.isEmpty && exists(spark, sigPath) &&
            exists(spark, labelPath))
          MaintainedComponents.forget(spark, labelPath, sigPath, del, idCol,
            MaintainedComponents.nextBatchId(spark, labelPath), threshold)
      }
      .start()
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Streaming distribution-drift monitor — the serving-time twin of
    * [[graft.operators.Features.categoricalDrift]]: the FIRST
    * non-empty micro-batch freezes the reference categorical
    * distribution at `refPath` (the "training mix"); every later
    * batch's mix is chi-squared against that frozen reference and the
    * per-cell report (slice ∈ {reference, batch}, category, n,
    * expected, chi2_term) is handed to `onReport` with the batch id —
    * the standard train/serve skew check, run continuously.
    *
    * The reference is FROZEN, not drifting: comparing each batch to
    * an accumulating history would let slow drift ratchet itself into
    * the baseline (each step insignificant vs the polluted mix).
    * Retrain = delete the table, next batch re-freezes. State is the
    * categories-sized count table on storage — no stream state store
    * at all; empty batches are skipped so the freeze binds to real
    * data.
    */
  def driftMonitoringIngest(docs: DataFrame, catCol: String,
                            refPath: String,
                            options: Map[String, String] = Map.empty)
                           (onReport: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val p = new org.apache.hadoop.fs.Path(refPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val b = batch.localCheckpoint()
        if (!b.isEmpty) {
          val counts = b.groupBy(col(catCol).as("category"))
            .agg(count(lit(1)).as("n"))
          if (!fs.exists(p)) counts.write.parquet(refPath)
          else {
            val ref = spark.read.parquet(refPath)
            val cells = ref
              .select(lit("reference").as("slice"), col("category"), col("n"))
              .unionByName(counts
                .select(lit("batch").as("slice"), col("category"), col("n")))
            onReport(
              graft.operators.Features.categoricalDriftFromCounts(cells), id)
          }
        }
      }
      .start()

  /** Streaming Fast-AGMS join-size sketch maintenance — the SKETCH
    * lifecycle twin of [[signatureMaintainingIngest]]: between
    * micro-batches the corpus's per-group join-size sketch
    * ([[graft.operators.Sketches.amsSketch]]) lives as a stored
    * partial-sketch table. Each batch sketches ITS OWN rows (one
    * map-side-combined agg, ≤ groups × 256 cells) and commits the
    * partial as this batch of the `_partials` log under the sketch
    * path ([[graft.io.Overlays]]) — REPLAY-IDEMPOTENT: sketch merge is
    * bucket-wise SUM, which unlike the signature appends is NOT
    * idempotent under at-least-once delivery, so a re-delivered batch
    * whose partial has committed no-ops rather than add again, and
    * one that crashed before its commit point writes it again.
    * Readers merge the committed partials with [[readAmsSketch]] (the
    * sketch's native ADD), so between batches a join-volume estimate
    * over everything ingested costs one scan of ≤ batches × groups ×
    * 256 rows — the corpus is never re-read.
    */
  def amsMaintainingIngest(rows: DataFrame, groupCol: String,
                           keyCol: String, sketchPath: String,
                           options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeAmsPartial(batch, id, groupCol, keyCol, sketchPath)
      }
      .start()

  /** Streaming twin of the STORED materialized aggregate
    * ([[graft.io.MaintainedAgg]], q_incr_joinagg's round-12 engine):
    * each micro-batch's rows — already projected to per-row measure
    * contributions — fold into a per-group delta committed as this
    * batch of the view's `_deltas` log (the partial-table discipline:
    * delta merge is SUM, not idempotent under at-least-once delivery,
    * so a replayed batch whose delta has committed no-ops, never adds
    * twice).
    * Serving reads base ⊎ deltas ([[graft.io.MaintainedAgg
    * .readWithDeltas]] — batches × groups rows, the facts are never
    * re-read); [[graft.io.MaintainedAgg.compactDeltas]] periodically
    * folds deltas into the hash-partitioned base ATOMICALLY
    * (one table swap — [[graft.io.ViewTable.compact]] — publishes
    * the folded view and the `_folded` batch-id high-water mark
    * together; a post-crash REPLAY of
    * a folded batch no-ops against the mark, so a crash can never
    * double-apply). Single-writer discipline: STOP this query before
    * compacting — a NEW batch landing mid-swap would be lost with
    * the old directory.
    */
  def viewMaintainingIngest(rows: DataFrame, groupCols: Seq[String],
                            measureCols: Seq[String], countCol: String,
                            viewPath: String,
                            options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.io.MaintainedAgg.writeDeltaPartial(batch.toDF(), id,
          groupCols, measureCols, countCol, viewPath)
      }
      .start()

  /** The distinct-count twin of [[viewMaintainingIngest]]: each
    * micro-batch's per-group HLL register block commits as its batch
    * of the [[graft.operators.MaintainedDistinct]] view's `_deltas`
    * log (a committed batch's replay no-ops; the register merge is
    * itself idempotent max, so only the row counts even need the
    * batch-id discipline);
    * serve with `MaintainedDistinct.estimatesWithDeltas`, fold with
    * `compactDeltas`.
    */
  def distinctMaintainingIngest(rows: DataFrame, groupCols: Seq[String],
                                keyCol: String, viewPath: String,
                                options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.MaintainedDistinct.writeDeltaPartial(
          batch.toDF(), id, groupCols, keyCol, viewPath)
      }
      .start()

  /** The quantile-sample twin: each micro-batch's bottom-m sketch
    * commits as its batch of the [[graft.operators.MaintainedSample]]
    * view's `_deltas` log; the sample merge (set union + keep-bottom-m)
    * is associative AND idempotent, so replay safety holds by algebra,
    * not bookkeeping. Serve with
    * `MaintainedSample.readWithDeltas`, fold with `compactDeltas`.
    */
  def sampleMaintainingIngest(rows: DataFrame, groupCol: String,
                              keyCol: String, valueCol: String, m: Int,
                              viewPath: String,
                              options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.MaintainedSample.writeDeltaPartial(
          batch.toDF(), id, groupCol, keyCol, valueCol, m, viewPath)
      }
      .start()

  /** The tf-idf twin: each micro-batch of NEW docs appends its term-
    * statistic deltas to all three [[graft.operators.TextOps]]
    * term-stat views (tf, df, corpus N — every one an additive
    * MaintainedAgg, so the shared delta protocol applies verbatim).
    * Serve with `TextOps.topTermsWithDeltas`, fold with
    * `compactTermStats`; deletes go through the CDC path
    * (`refreshTermStats`) AFTER a `compactTermStats` — a delete
    * cannot compose with unfolded deltas (the base-side group-
    * deletion clamp would drop the subtraction; the CDC entry point
    * fail-fasts on pending deltas).
    */
  def termStatsMaintainingIngest(docs: DataFrame, idCol: String,
                                 textCol: String, groupCol: String,
                                 dir: String,
                                 options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.TextOps.writeTermStatsDeltaPartial(
          batch.toDF(), id, idCol, textCol, groupCol, dir)
      }
      .start()

  private val Partials = graft.io.Overlays("_partials")
  private val Counts = graft.io.Overlays("_counts")

  /** One micro-batch's partial-sketch commit (factored out so the
    * replay-idempotence contract is testable without a stream): a
    * batch whose partial has committed, or an empty one, no-ops.
    */
  private[streaming] def writeAmsPartial(batch: Dataset[org.apache.spark.sql.Row],
                                         batchId: Long, groupCol: String,
                                         keyCol: String,
                                         sketchPath: String): Unit =
    Partials.commitBatch(batch.sparkSession, sketchPath, batchId)(
      batch.toDF())(graft.operators.Sketches.amsSketch(_, groupCol, keyCol))

  /** Streaming trending readout — the serving twin of
    * [[graft.operators.Temporal.trendingItems]]: each micro-batch's
    * (day, item) counts commit as this batch of the `_counts` log
    * under `countsPath` (the [[amsMaintainingIngest]] partial-table
    * discipline — counts ADD, so a replayed batch whose counts have
    * committed no-ops, never sums twice), and the per-day top-n surge
    * report over EVERYTHING ingested so far is handed to the caller
    * after each non-empty batch, a replayed one included. The stored
    * table is (batches × active day×item cells) rows — the report
    * never re-reads raw events.
    */
  def trendingMaintainingIngest(events: DataFrame, tsCol: String,
                                itemCol: String, countsPath: String,
                                options: Map[String, String] = Map.empty)
                               (onReport: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val cells = batch
          .select(to_date(col(tsCol)).as("day"), col(itemCol).as("item"))
          .filter(col("item").isNotNull)
        if (Counts.commitBatch(spark, countsPath, id)(cells)(
              _.groupBy("day", "item").agg(count(lit(1)).as("n")))) {
          val merged = Counts.read(spark, countsPath).get
            .groupBy("day", "item").agg(sum(col("n")).as("n"))
          onReport(graft.operators.Temporal
            .trendingItems(merged, "item", "day", "n"), id)
        }
      }
      .start()

  /** Merged view of a [[amsMaintainingIngest]] sketch table: bucket-
    * wise SUM over the committed per-batch partials. The result is
    * exactly [[graft.operators.Sketches.amsSketch]] of every row
    * ingested so far (spec-pinned), ready for the pair estimate in
    * [[graft.operators.Sketches.amsJoinSize]]'s shape.
    */
  def readAmsSketch(spark: SparkSession, sketchPath: String,
                    groupCol: String): DataFrame =
    Partials.read(spark, sketchPath)
      .getOrElse(throw new IllegalArgumentException(
        s"readAmsSketch($sketchPath): no committed sketch partial"))
      .groupBy(col(groupCol), col("b"))
      .agg(sum(col("xv")).as("xv"))

  /** Exactly-once streaming sink onto the [[graft.io.Versioned]] table
    * log: each micro-batch append-commits under the txn token
    * `stream-<batchId>`, so a batch REPLAYED after a restart (the
    * standard foreachBatch at-least-once delivery) is skipped at the
    * manifest — readers of the log see every batch exactly once, with
    * snapshot isolation and time travel for free. The idempotence
    * lives in the table, not the checkpoint, so it also survives
    * checkpoint loss as long as the log itself is intact.
    */
  def versionedSink(docs: DataFrame, tablePath: String,
                    options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.io.Versioned.commit(batch.sparkSession, tablePath, batch,
          mode = "append", txn = Some(s"stream-$batchId")): Unit
      }
      .start()

  /** The COMPOSED streaming curation pipeline — the streaming twin of
    * `Curation.curateCorpus`, wiring every ingest gate in the order a
    * production feed runs them:
    *   1. quality gate (row-local, stateless);
    *   2. benchmark decontamination (row-local bloom probe against a
    *      broadcast sketch — conservative: fp drops are acceptable
    *      losses, contamination never passes);
    *   3. incremental near-dup dedup vs the MAINTAINED signature table
    *      + signature append per micro-batch
    *      ([[signatureMaintainingIngest]] — batch 1 bootstraps the
    *      table, every batch dedups against all prior survivors).
    * Stages 1–2 prune rows BEFORE any signature work, so the expensive
    * stage only sees docs that could actually be admitted — the same
    * gate ordering (cheap row-local first) the batch pipeline uses.
    */
  def curatedIngest(docs: DataFrame, idCol: String, textCol: String,
                    sigPath: String, bloomBits: Array[Long], mBits: Int,
                    numHashes: Int,
                    options: Map[String, String] = Map.empty,
                    minTokens: Int = 20, k: Int = 3,
                    threshold: Double = 0.5)
                   (survivorSink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val gated = streamingDecontamGate(
      streamingQualityGate(docs, textCol, minTokens),
      textCol, bloomBits, mBits, numHashes, k)
    signatureMaintainingIngest(gated, idCol, textCol, sigPath, options,
      k, threshold)(survivorSink)
  }

  /** Streaming quality gate: the stateless curation front-door — drop
    * degenerate-repetition docs ([[graft.operators.TextOps
    * .repetitionPassLocal]], the row-local twin of the batch gate) and
    * under-length docs as they arrive. Pure projection+filter: no
    * state, no watermark, works in append mode at any rate.
    */
  def streamingQualityGate(docs: DataFrame, textCol: String,
                           minTokens: Int = 20): DataFrame =
    docs.filter(
      graft.operators.TextOps.repetitionPassLocal(col(textCol)) &&
        size(graft.functions.Portable.tokens(col(textCol))) >= minTokens)

  /** Streaming MODEL-quality gate: score each arriving doc with a
    * PRE-TRAINED weight table ([[graft.operators.Classify.trainedGate]]
    * — train on the batch corpus, serve the stream) and keep docs
    * whose margin clears the trained mean threshold
    * (`margin · n ≥ s`, the same integer-exact cross-multiply as the
    * batch gate). The ≤`buckets`-entry weight table rides the plan as
    * a LITERAL array, so scoring is stateless and row-local — no
    * stream-static join, no state store — exactly what an ingest
    * stream wants. Unscorable docs (null text / no tokens after
    * filtering) are refused, matching the batch gate's "a model must
    * not vouch for what it cannot score" contract.
    */
  def streamingModelGate(docs: DataFrame, textCol: String,
                         weights: Map[Long, Long], buckets: Int,
                         n: Long, s: Long): DataFrame = {
    import graft.functions.Portable
    val wArr = typedLit((0 until buckets)
      .map(b => weights.getOrElse(b.toLong, 0L)))
    val toks = filter(Portable.tokens(col(textCol)), t => length(t) > 0)
    val bks = array_distinct(
      transform(toks, t => Portable.hash32(t) % buckets))
    val margin = aggregate(bks, lit(0L),
      (acc, b) => acc + element_at(wArr, (b + 1).cast("int")))
    docs.filter(coalesce(
      size(bks) >= 1 &&
        margin.cast("decimal(38,0)") * lit(n) >=
          lit(s).cast("decimal(38,0)"),
      lit(false)))
  }

  /** Streaming DECONTAMINATION gate against a benchmark-set bloom
    * sketch: drop any arriving doc sharing a k-shingle that the bloom
    * reports as possibly-benchmark. Because the bitset rides the plan
    * as a literal, the probe is row-local — stateless, no stream-static
    * join, no state store — which is exactly what an ingest stream
    * wants. Tradeoff vs the batch [[graft.operators.Curation
    * .decontaminateBloom]]: no exact verification pass, so bloom FALSE
    * POSITIVES are dropped too — the conservative direction for
    * decontamination (never admits a contaminated doc; loses ~fp-rate
    * of clean ones). Size mBits accordingly.
    */
  def streamingDecontamGate(docs: DataFrame, textCol: String,
                            bloomBits: Array[Long], mBits: Int,
                            numHashes: Int, k: Int = 3): DataFrame =
    // null text → null probe → filter(null) would silently drop the
    // row; a null doc has no shingles and is provably clean, so it
    // passes — matching the batch decontaminate paths
    docs.filter(coalesce(
      !graft.expressions.BloomExpressions.bloomShingleContain(
        col(textCol), k, bloomBits, mBits, numHashes),
      lit(true)))

  // ---- streaming as-of enrichment ----

  /** One tagged row of the merged as-of stream: side 0 = reference
    * update (new "latest" value for the key), side 1 = query row to
    * enrich. Side 0 sorts first at equal timestamps, mirroring the
    * batch [[graft.operators.Temporal.asofJoin]]'s `<=` semantics.
    */
  final case class AsofEv(user_id: Long, ts: Timestamp, side: Int,
                          id: Long, value: Double)
  final case class AsofLatest(ts: Timestamp, value: Double)
  final case class AsofOut(id: Long, user_id: Long, ts: Timestamp,
                           value: Double, asof_value: Option[Double])

  /** Streaming twin of the batch as-of join: queries are enriched with
    * the latest update value per key seen SO FAR. State is O(1) per
    * key (just the newest (ts, value)), so cardinality — not history —
    * bounds memory; no timeout is needed. Within a micro-batch, rows
    * process in (ts, side) order, so an update and a query landing in
    * the same batch still enrich correctly; across batches the stream
    * is inherently arrival-ordered — late updates enrich only later
    * queries (document this divergence from the batch operator, which
    * sees all data).
    */
  def streamingAsofEnrich(tagged: Dataset[AsofEv]): Dataset[AsofOut] = {
    import tagged.sparkSession.implicits._

    def fn(user: Long, rows: Iterator[AsofEv], state: GroupState[AsofLatest])
        : Iterator[AsofOut] = {
      // Timestamp.compareTo, never getTime: getTime truncates to
      // milliseconds while the event data carries microseconds — a
      // same-millisecond update/query pair would otherwise let a
      // query see a value from the future
      val sorted = rows.toSeq.sortWith { (a, b) =>
        val c = a.ts.compareTo(b.ts)
        if (c != 0) c < 0
        else if (a.side != b.side) a.side < b.side
        else a.id < b.id
      }
      var latest = state.getOption
      val out = Seq.newBuilder[AsofOut]
      sorted.foreach { e =>
        if (e.side == 0) {
          if (latest.forall(_.ts.compareTo(e.ts) <= 0))
            latest = Some(AsofLatest(e.ts, e.value))
        } else {
          out += AsofOut(e.id, user, e.ts, e.value,
            latest.filter(_.ts.compareTo(e.ts) <= 0).map(_.value))
        }
      }
      latest.foreach(state.update)
      out.result().iterator
    }

    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming ROLLING ACTIVE USERS — the stateful twin of
    * [[graft.operators.Temporal.rollingActiveUsers]]: per covered
    * day, the exact distinct-user count over the trailing
    * `windowDays` window, emitted append-mode once the watermark
    * finalizes the day.
    *
    * Same scale shape as the batch operator, streamed: a ROW-LOCAL
    * fan-out of each event to the `windowDays` report days it
    * contributes to, ONE dedup on (report day, user) — state is
    * exactly the batch fan-out-distinct's cardinality, evicted by the
    * watermark — then a 1-day-window count. Chained stateful
    * operators in append mode under a single watermark (Spark
    * disallows redefining watermarks between stateful operators, so
    * the watermark rides the FANNED-OUT event time; it runs up to
    * `windowDays − 1` days ahead of source time, so the effective
    * lateness tolerance for a source event is
    * `watermark − (windowDays − 1) days` — size the delay with the
    * window length included).
    *
    * Contract difference vs batch: batch reports OBSERVED days only;
    * the stream emits every day a trailing window covers (a
    * superset). On observed days the counts are equal — spec-pinned;
    * `windowDays = 1` is exactly streaming DAU.
    */
  def streamingRollingActiveUsers(events: DataFrame, userCol: String,
                                  tsCol: String, windowDays: Int = 7,
                                  watermark: String = "10 days")
      : DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    events
      .select(to_date(col(tsCol)).as("__day"), col(userCol).as("__user"))
      .select(explode(sequence(col("__day"),
        date_add(col("__day"), windowDays - 1))).as("__tday"),
        col("__user"))
      .withColumn("__tday_ts", col("__tday").cast("timestamp"))
      .withWatermark("__tday_ts", watermark)
      .dropDuplicates("__tday_ts", "__user")
      .groupBy(window(col("__tday_ts"), "1 day"))
      .agg(count(lit(1)).as("rolling_users"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("rolling_users"))
  }

  final case class RetEvent(user_id: Long, ts: Timestamp)
  /** Per-user retention snapshot: the user's cohort week (Monday-
    * truncated week of their FIRST event) and the week offsets they
    * have been active in so far. `offsets` always contains 0.
    */
  final case class RetUserWeeks(user_id: Long, cohort_week: String,
                                offsets: Seq[Int])
  final case class RetState(cohortEpochDay: Long,
                            weekEpochDays: Seq[Long])

  /** Streaming RETENTION — the stateful twin of
    * [[graft.operators.Temporal.retentionCohorts]]: per user, a
    * transformWithState snapshot of (cohort week, active week
    * offsets), re-emitted (update semantics) whenever the user's
    * activity changes it. The cohort matrix is then a trivial
    * count over the latest snapshots — n_active(cohort, k) =
    * |users with offset k|, cohort_size = |users with offset 0| —
    * which the spec pins against the batch matrix exactly.
    *
    * Out-of-order robust: if an EARLIER first event arrives late, the
    * state re-bases (new cohort week, all seen offsets recomputed)
    * and the fresh snapshot supersedes prior emissions — the reason
    * this emits whole snapshots rather than per-activation deltas
    * (append deltas could never retract a mis-based cohort). State
    * per user is the cohort day plus one epoch-day per DISTINCT
    * active week — weeks-scale, not event-scale.
    */
  def streamingRetention(events: Dataset[RetEvent])
      : Dataset[RetUserWeeks] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Enc}

    // Monday-truncated week as epoch day — the JVM twin of
    // date_trunc("week", ts) under the engine's session convention
    // (UTC, set by Sessions.tuned; explicit here so a JVM running in
    // another zone cannot skew the twin)
    def weekEpochDay(t: Timestamp): Long = {
      val ld = t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      ld.minusDays((ld.getDayOfWeek.getValue + 6) % 7).toEpochDay
    }

    class RetentionProcessor
        extends StatefulProcessor[Long, RetEvent, RetUserWeeks] {
      @transient private var st: ValueState[RetState] = _
      override def init(outputMode: OutputMode,
                        timeMode: TimeMode): Unit =
        st = getHandle.getValueState[RetState]("ret",
          Enc.product[RetState], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[RetEvent],
                                   timerValues: org.apache.spark.sql.streaming.TimerValues)
          : Iterator[RetUserWeeks] = {
        val weeks = rows.map(e => weekEpochDay(e.ts)).toSet
        val prev = if (st.exists())
          Some(st.get()) else None
        val seen = prev.map(_.weekEpochDays.toSet).getOrElse(Set.empty)
        val all = seen ++ weeks
        if (all == seen && prev.nonEmpty) Iterator.empty // no change
        else {
          val cohort = all.min // re-bases if an earlier week arrived
          st.update(RetState(cohort, all.toSeq.sorted))
          val cw = java.time.LocalDate.ofEpochDay(cohort).toString
          Iterator.single(RetUserWeeks(key, cw,
            all.toSeq.sorted.map(w => ((w - cohort) / 7).toInt)))
        }
      }
    }
    events.groupByKey(_.user_id)
      .transformWithState(new RetentionProcessor, TimeMode.None(),
        OutputMode.Update())
  }
}
