package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for expensive DETERMINISTIC subtrees that more
  * than one operator in the same session consumes — the trained model
  * gate, the curation quality stage, the near-dup clustering prelude.
  * A pipeline and its audit twin are contractually the SAME decisions
  * over the same corpus; recomputing the training epochs or the
  * component loop for the twin doubles the dominant cost for zero
  * semantic gain. At 100 TB this is the difference between "audit is
  * a cheap verdict join" and "audit re-runs the pipeline".
  *
  * Keying: (session identity, CANONICALIZED analyzed plan of the input
  * frame, operator params). Canonicalized plans compare structurally
  * (expression ids normalized), so two reads of the same path with the
  * same transformations hit the same entry, while any differing
  * param or source misses — no hash-collision risk because the plan
  * itself is in the key, not a digest of it.
  *
  * Contract: within-session reuse of a MATERIALIZED result —
  * re-reading a path whose files were overwritten mid-session returns
  * the memoized (pre-overwrite) frame, the same snapshot semantics
  * every stabilized subtree in the engine already has. Entries are
  * LRU-bounded so evicted frames' checkpoint blocks can be GC'd.
  */
object Memo {
  /** Capacity knob: `spark.graft.memo.maxEntries` (default 16), read
    * from the calling session at [[dfKey]] time (same user surface as
    * `spark.graft.groupTopK.maxK`). The cache is JVM-global, so with
    * several concurrent sessions the most recently keying session's
    * setting wins — sizing is a resource bound, not a semantic knob.
    */
  @volatile private var maxEntries = 16

  private val cache =
    new java.util.LinkedHashMap[AnyRef, AnyRef](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, AnyRef]): Boolean =
        this.size > maxEntries
    }

  // stable per-session identity that cannot collide across GC'd
  // sessions (identityHashCode is reusable once a stopped session is
  // collected); weak keys let dead sessions drop out
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.UUID]())

  /** Evict entries whose session is gone: once a session is GC'd its
    * WeakHashMap row disappears, so its UUID can never be looked up
    * again — those entries would otherwise pin checkpointed RDD
    * lineage until 16 later entries happened to churn them out.
    * Called on every cache write; O(entries), entries ≤ maxEntries.
    */
  private def pruneDeadSessions(): Unit = {
    val live = {
      val s = new java.util.HashSet[java.util.UUID]()
      sessionIds.synchronized {
        sessionIds.values.forEach(u => { s.add(u); () })
      }
      s
    }
    val it = cache.entrySet().iterator()
    while (it.hasNext) it.next().getKey match {
      case (u: java.util.UUID, _, _) if !live.contains(u) => it.remove()
      case _ => ()
    }
  }

  /** Memo key for an operator over `df`: session + canonical plan +
    * params. Build it BEFORE any localCheckpoint of `df` (checkpoints
    * mint fresh RDD-backed plans that never compare equal).
    */
  def dfKey(df: DataFrame, parts: Any*): AnyRef = {
    maxEntries = df.sparkSession.conf
      .get("spark.graft.memo.maxEntries", "16").toInt.max(1)
    (sessionIds.computeIfAbsent(df.sparkSession,
      _ => java.util.UUID.randomUUID()),
      df.queryExecution.analyzed.canonicalized,
      parts.toList)
  }

  /** Return the memoized value for `key`, computing (and caching) it
    * on first use. `compute` should return a MATERIALIZED frame
    * (stabilized / localCheckpointed) so a hit never re-runs the
    * subtree.
    *
    * Concurrency: `compute` runs OUTSIDE the cache lock — a
    * multi-second training job must not serialize unrelated callers.
    * Two threads racing the SAME key may both compute; the first
    * writer wins and both results are equivalent (the contract is
    * deterministic subtrees), so the loser's frame is simply dropped.
    */
  def shared[T <: AnyRef](key: AnyRef)(compute: => T): T = {
    val hit = cache.synchronized(Option(cache.get(key)))
    hit.map(_.asInstanceOf[T]).getOrElse {
      val v = compute
      cache.synchronized {
        pruneDeadSessions()
        Option(cache.get(key)).map(_.asInstanceOf[T]).getOrElse {
          cache.put(key, v)
          v
        }
      }
    }
  }

  /** Drop every entry (tests; sessions that must re-read mutated
    * inputs).
    */
  def clear(): Unit = cache.synchronized(cache.clear())

  /** Between-query release for harness sweeps (Bench, Verify,
    * PlanDump): clear the session's cached plans, then unpersist
    * (non-blocking) every persisted RDD that [[liveRddIds]] does not
    * hold. localCheckpoint blocks otherwise free only at RDD GC, so a
    * 200+-query sweep accumulates gigabytes of dead storage blocks
    * whose eviction/GC pressure slows LATER queries 4× (q_forget
    * measured 14.8 s late in a full sweep vs 3.4 s isolated).
    */
  def releaseUnheld(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val live = liveRddIds
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => !live.contains(r.id))
      .foreach(_.unpersist(blocking = false))
  }

  /** Ids of every RDD reachable from a live memo entry's frames.
    * [[releaseUnheld]] must SPARE these: a memoized frame's lineage is
    * truncated at its checkpoint, so unpersisting its blocks strands
    * the entry — later memo hits die with missing-block errors instead
    * of recomputing.
    */
  def liveRddIds: Set[Int] = {
    val values = cache.synchronized {
      val b = List.newBuilder[AnyRef]
      cache.values().forEach(v => { b += v; () })
      b.result()
    }
    // Recursive value walk: a memo value of ANY shape (frame, tuple,
    // case class, Seq of frames, nested combinations) yields every
    // DataFrame inside it. A two-case pattern match here once meant a
    // novel memo shape silently lost block protection — the exact
    // stranded-entry failure this function exists to prevent.
    def frames(v: Any): Seq[DataFrame] = v match {
      case df: DataFrame     => Seq(df)
      case it: Iterable[_]   => it.iterator.flatMap(frames).toSeq
      case a: Array[_]       => a.iterator.flatMap(frames).toSeq
      case p: Product        => p.productIterator.flatMap(frames).toSeq
      case _                 => Seq.empty
    }
    val seen = scala.collection.mutable.Set[Int]()
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    values.flatMap(frames).foreach { df =>
      // Collect persisted lineage from the ANALYZED plan's LogicalRDD
      // nodes (localCheckpoint roots the frame in one). Never build
      // toRdd here: under AQE, planning a frame that was left lazy
      // (e.g. shareQualityBase=false) materializes its shuffle stages
      // — real jobs inside the between-query cleanup. A lazy frame
      // holds no checkpoint blocks, so there is nothing to protect.
      // A frame whose session died can throw — skip it (blocks gone).
      try df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => walk(l.rdd)
        case _ => ()
      } catch { case _: Throwable => () }
    }
    seen.toSet
  }

  /** Current entry count (tests pin eviction behavior). */
  private[graft] def size: Int = cache.synchronized(cache.size)
}
