package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.io.{PartCommit, SchemaFile}

/** The STORED component-label lifecycle — the disk-resident twin of
  * [[Dedup.mergeComponents]]/[[Dedup.forgetDocs]], which take the
  * previous labeling as an in-memory frame and return a new one (their
  * callers re-materialize the WHOLE table every batch). Between
  * ingests the corpus's near-dup clustering lives as its (id,
  * component) table — ~16 bytes/doc, the cheapest possible standing
  * representation — laid out hash-partitioned on the COMPONENT label:
  *
  *   comp_part = pmod(hash(component), CompParts)
  *
  * Component, not id, because every maintenance op is component-
  * granular: a batch touches the components its edges reach, and with
  * this layout (a) expanding a touched component to its members is a
  * partition-PRUNED read (its comp_part is recomputable from the label
  * alone — static filter, ≤ [[CompParts]] values), and (b) a batch's
  * label changes land as one O(batch) `_relabels` OVERLAY applied
  * merge-on-read and folded at [[compactLabels]] — the untouched
  * corpus labels are never read or written by maintenance. (The
  * overlay replaced a touched-partition rewrite: components hash
  * uniformly over comp_part, so any batch touching ≳ [[CompParts]]
  * components degenerated that rewrite to a full-table write — the
  * round-15 measured frontier, same shape and same cure as the
  * signature tombstones.) The one access this layout cannot prune is
  * the initial id→label probe (which components does the batch
  * touch?): that is a bloom-sidecar-pruned scan of the label table
  * with a broadcast semi-join — bounded by the table's 16 bytes/doc,
  * never by the corpus — and is the deliberate trade against an
  * id-hashed layout, whose probe would prune but whose maintenance
  * would need id-keyed state (a component's members hash everywhere
  * by id).
  *
  * Correctness contracts are inherited verbatim:
  *   - merge: CC(star edges ∪ new edges) ≡ CC(old pairs ∪ new pairs)
  *     (star-contraction identity, [[Dedup.mergeComponents]]);
  *   - forget: deletes can SPLIT components, so the repair re-derives
  *     touched components' edges from the maintained SIGNATURE table —
  *     via [[Dedup.readSignaturesFor]], itself a sig_part-pruned point
  *     read — and re-runs the closure over survivors only
  *     ([[Dedup.forgetDocs]]).
  *
  * Both maintenance ops commit as relabel overlays (see the overlay
  * section below): publish-then-`_done`-then-`_applied`, exactly-once
  * under retry keyed by the caller's monotone batch id, with every
  * entry point recovering a predecessor's crashed legacy PartCommit
  * first. Refresh ≡ full recompute is the oracle (q_comp_lifecycle)
  * and spec-pinned against the in-memory twins.
  */
object MaintainedComponents {

  /** Layout fan-out — same sizing logic as [[graft.io.MaintainedAgg
    * .AggParts]]: the rewrite unit is table/CompParts, and a batch
    * touching k components rewrites ≤ min(k, CompParts) partitions.
    */
  val CompParts = 64

  private def withCompPart(df: DataFrame): DataFrame =
    df.withColumn("comp_part",
      pmod(hash(col("component")), lit(CompParts)).cast("int"))

  /** Materialize a labeling (e.g. [[Dedup.connectedComponents]]
    * output) as the stored table. Columns: (`idCol`, component).
    *
    * On non-atomic-rename backends the table bootstraps GENERATION-
    * ROOTED ([[graft.io.GenTable]]) — a RE-bootstrap over an existing
    * table is a whole-dir overwrite, which on an object store would
    * otherwise give external readers a partial-table window; the gen
    * pointer makes it a zero-gap flip. Every entry point resolves the
    * live generation first, so callers always address the root path.
    */
  def write(labels: DataFrame, idCol: String, path: String): Unit = {
    val spark = labels.sparkSession
    if (graft.io.GenTable.shouldGen(spark, path))
      graft.io.GenTable.swapGen(spark, path)(st =>
        writeFlat(labels, idCol, st))
    else writeFlat(labels, idCol, path)
  }

  private def writeFlat(labels: DataFrame, idCol: String,
                        path: String): Unit = {
    val keyed = withCompPart(labels.select(col(idCol), col("component")))
    keyed.repartition(CompParts, col("comp_part"))
      .write.mode("overwrite").partitionBy("comp_part").parquet(path)
    // out-of-band schema: a forget that empties the table must leave
    // it readable (zero parquet files infer nothing)
    SchemaFile.write(labels.sparkSession, path, keyed.schema)
    // one extra pass over the new table, so the id→label probe can be
    // partition-pruned forever after (bootstrap is once; every
    // merge/forget pays only its touched partitions)
    writeBloomSidecars(labels.sparkSession, path, idCol)
  }

  // ---- per-partition member-id bloom sidecars ----
  //
  // The id→label probe (labelsFor) was this layout's one documented
  // un-prunable access: components hash to partitions by LABEL, so an
  // id could live anywhere and every merge/forget scanned the whole
  // label table once. Each partition dir now carries a `_bloom` file
  // (Spark's util.sketch.BloomFilter over the partition's member ids,
  // `_`-prefixed so data readers never list it): the probe tests the
  // batch ids against 64 small filters and scans only the partitions
  // that CAN contain a batch id. False positives cost an extra
  // partition read; false negatives are impossible for live data —
  // the bloom is built from the exact partition content inside the
  // SAME staged commit that publishes the content (the sidecar rides
  // the partition swap, so no crash window can publish rows without
  // their bloom). A partition without a sidecar (foreign writer) is
  // conservatively treated as a hit.

  private val BloomFpp = 0.01

  /** Build and write the `_bloom` sidecar for every `comp_part=N` dir
    * under `dir` (the live table at bootstrap, the STAGED dir during a
    * rewrite — before the commit marker, so data and sidecar publish
    * atomically together).
    *
    * EXECUTOR-SIDE by design (the r14 verdict's scale-killer): the
    * driver never holds a filter. One shuffle routes each row to the
    * task owning its comp_part (identity partitioner — RDD partition
    * index IS the comp_part value), and that task builds ONE filter in
    * memory — sized from its own partition's count, so skewed
    * partitions don't inflate every filter — and streams it straight
    * to the sidecar file through [[graft.io.AtomicIo.publishStream]]
    * (all-or-nothing on both backend worlds; a crashed write can
    * never leave a truncated sidecar for [[labelsFor]] to choke on).
    * Driver memory is the ≤ [[CompParts]]-row count map; peak executor
    * memory is one filter per running task. On a rewrite `dir` is the
    * STAGED tree — touched partitions only — so the shuffle is
    * touched-sized; only the bootstrap pays one corpus-table pass
    * (16 bytes/doc, the cheapest full pass the table admits).
    */
  private def writeBloomSidecars(spark: SparkSession, dir: String,
                                 idCol: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir))) return
    if (!fs.listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith("comp_part="))) return
    val rows = spark.read.parquet(dir)
      .select(col("comp_part").cast("int"), col(idCol).cast("string"))
    // partition-column-only scan: no data pages decode — one cheap job
    // sizes each partition's filter from its OWN count
    val counts = spark.read.parquet(dir).groupBy(col("comp_part"))
      .agg(count(lit(1L)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (counts.valuesIterator.sum == 0L) return
    val confB = spark.sparkContext.broadcast(
      new graft.io.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration))
    val (dirStr, fpp) = (dir, BloomFpp)
    rows.rdd
      .map(r => (r.getInt(0), r.getString(1)))
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = CompParts
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .foreachPartition { it =>
        if (it.hasNext) {
          val part = org.apache.spark.TaskContext.getPartitionId()
          val expected = math.max(counts.getOrElse(part, 0L), 64L)
          val bf = BloomFilter.create(expected, fpp)
          it.foreach { case (p, s) =>
            require(p == part, s"partitioner routed part $p to task $part")
            bf.putString(s)
          }
          val taskFs = new Path(dirStr).getFileSystem(confB.value.value)
          graft.io.AtomicIo.publishStream(taskFs,
            new Path(dirStr, s"comp_part=$part/_bloom"))(bf.writeTo)
        }
      }
  }

  // ---- relabel overlays (merge-on-read label maintenance) ----
  //
  // The partition-granular rewrite this replaces was the table's
  // measured scale frontier: components hash UNIFORMLY over comp_part,
  // so a batch touching ≳ CompParts components lands in every
  // partition and the "touched-partition rewrite" degenerates to a
  // full-table rewrite — at sf10 steady state the merge/forget rewrite
  // halves (6.0 s / 6.6 s) already cost ≈ a full label-table write
  // (4.8 s), and partition-count increases cannot fix it (touched
  // parts = min(#components, CompParts)). Same shape, same cure as the
  // signature tombstones: each batch appends its (touched-component
  // mask, relabeled rows) as ONE small overlay dir under `_relabels`
  // (underscore dir — invisible to base scans), committed by one
  // `_done` marker ([[graft.io.AtomicIo.publishFile]] — all-or-nothing
  // on both backend worlds). Readers apply committed overlays in
  // BATCH-ID ORDER (mask the touched components, union the relabeled
  // rows); [[compactLabels]] folds them into the base and rebuilds the
  // bloom sidecars in the same atomic swap.
  //
  // Contract mirrors the tombstones': overlay bulk is bounded by
  // batches-since-compaction (compact before it rivals the table);
  // single-writer per table; EXTERNAL raw-parquet readers see the base
  // only — compact before raw serving. UNLIKE the tombstones the
  // overlays are ORDERED (relabels do not commute), so the dirs are
  // keyed by batchId alone and exactly-once hangs on the table's
  // monotone `_applied` mark — the same era assumption the PartCommit
  // rewrite had — rather than on content keying (which buys nothing
  // when an era reset is already a contract violation for ordered
  // state). Crash windows: the overlay publishes (invisible until
  // `_done`), then `_done` (the commit point), then `_applied`
  // advances; a replay from any window finds either no committed
  // overlay (recompute — deterministic, the read excludes the
  // uncommitted dir) or the committed overlay (skip straight to the
  // mark). The bloom sidecars stay BASE-only: an id that lives only in
  // an overlay is found by the overlay union, so a probe can never
  // false-negative on it.

  private val RelabelDir = "_relabels"

  /** Pending-batch bound past which merge/forget fold their own
    * overlays ([[compactLabels]]) before returning — the compaction
    * cadence is CODE, not a caller contract: without it a long-running
    * ingest that never compacts degrades every read by one broadcast
    * anti-join + union per pending batch and, past the broadcast
    * threshold, quietly breaks the "batch-bounded ⇒ broadcastable"
    * assumption in [[applyRelabels]]. 8 bounds the read tax at ≤8
    * batch-sized joins while amortizing each fold (one table write)
    * over 8 O(batch) maintenance ops; production tables with larger
    * batch-to-table ratios can lower it (`spark.graft
    * .autoCompactPendingBatches`), streams with tiny batches raise it.
    * Shared with the signature tombstones ([[Dedup
    * .deleteSignaturesDeferred]]) — the same merge-on-read seam.
    */
  private[operators] def autoCompactPendingBatches(spark: SparkSession): Int =
    spark.conf.get("spark.graft.autoCompactPendingBatches", "8").toInt

  private def relabelBatchDir(live: String, batchId: Long): Path =
    new Path(s"$live/$RelabelDir", s"batch_id=$batchId")

  /** Committed overlay dirs in ascending batch order. Fails loudly on
    * a duplicated batch id — two committed dirs for one id would make
    * the apply order ambiguous, and the writer-side gate makes the
    * state unreachable short of a caller contract violation.
    */
  private def committedRelabels(spark: SparkSession,
                                live: String): Seq[(Long, String)] = {
    val d = new Path(s"$live/$RelabelDir")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) return Seq.empty
    val dirs = fs.listStatus(d).filter(_.isDirectory)
      .filter(st => fs.exists(new Path(st.getPath, "_done")))
      .map { st =>
        val id = st.getPath.getName.stripPrefix("batch_id=").toLong
        id -> st.getPath.toString
      }.toSeq.sortBy(_._1)
    require(dirs.map(_._1).distinct.size == dirs.size,
      s"relabel overlays at $live/$RelabelDir carry duplicated batch " +
        s"ids — apply order is ambiguous: ${dirs.map(_._1)}")
    dirs
  }

  /** Fold `base` (idCol, component — NO comp_part) through the pending
    * overlays in batch order. `restrict` post-filters each overlay's
    * relabeled rows (both restrictions commute with mask∘union, so
    * pre-restricted bases stay correct): the id-probe and member-
    * expansion callers keep their pruned scans and only pay
    * batch-sized overlay joins.
    */
  private def applyRelabels(spark: SparkSession, live: String,
                            base: DataFrame, idCol: String)
                           (restrict: DataFrame => DataFrame)
                           : DataFrame = {
    val folded = committedRelabels(spark, live)
      .foldLeft(base) { case (st, (_, dir)) =>
        val overlay = spark.read.parquet(dir)
        val touched = overlay.filter(col(idCol).isNull)
          .select("component").distinct()
        val rows = restrict(overlay.filter(col(idCol).isNotNull))
        st.join(broadcast(touched), Seq("component"), "left_anti")
          .unionByName(rows.select(st.columns.map(col): _*))
      }
    // a USING-key join hoists its key first — positional consumers of
    // read() must keep seeing the base's (id, component) order
    folded.select(base.columns.map(col): _*)
  }

  /** Publish one batch's (touched mask, relabeled rows) as a committed
    * overlay — O(batch) regardless of how many partitions the touched
    * components hash into. Null-id rows encode the mask (a fully-
    * forgotten component has no relabeled row to learn it from).
    */
  private def appendRelabel(spark: SparkSession, live: String,
                            idCol: String, batchId: Long,
                            touched: DataFrame,
                            relabeled: DataFrame): Unit = {
    val idType = relabeled.schema(idCol).dataType
    val payload = touched
      .select(lit(null).cast(idType).as(idCol), col("component"))
      .unionByName(relabeled.select(col(idCol), col("component")))
    val dir = relabelBatchDir(live, batchId)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // batch-bounded by contract → one small file, like the tombstones
    payload.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    graft.io.AtomicIo.publishFile(fs, new Path(dir, "_done"),
      batchId.toString.getBytes("UTF-8"))
  }

  /** Has `batchId`'s overlay already committed? (The crash window
    * between its `_done` and the `_applied` advance — the replay must
    * not recompute against a state that already contains the overlay.)
    */
  private def relabelCommitted(spark: SparkSession, live: String,
                               batchId: Long): Boolean = {
    val done = new Path(relabelBatchDir(live, batchId), "_done")
    done.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(done)
  }

  /** Fold pending relabel overlays into the base table, rebuilding the
    * schema file and bloom sidecars in the SAME atomic swap (gen-
    * pointer flip on object-store backends, staged rename swap on
    * atomic-rename ones) — so there is no window where a fold landed
    * but its overlays still apply. The `_applied` high-water mark is
    * carried into the new table (replay detection must survive
    * compaction). No-op when nothing is pending.
    */
  def compactLabels(spark: SparkSession, rootPath: String): Unit = {
    val live0 = graft.io.GenTable.live(spark, rootPath)
    if (committedRelabels(spark, live0).isEmpty) return
    val applied = PartCommit.lastApplied(spark, live0)
    val idCol = readKeyed(spark, live0).columns
      .filterNot(c => c == "component" || c == "comp_part").head
    def fold(stage: String): Unit = {
      val state = applyRelabels(spark, live0,
        readKeyed(spark, live0).drop("comp_part"), idCol)(identity)
      val keyed = withCompPart(state)
      keyed.repartition(CompParts, col("comp_part"))
        .write.mode("overwrite").partitionBy("comp_part").parquet(stage)
      SchemaFile.write(spark, stage, keyed.schema)
      writeBloomSidecars(spark, stage, idCol)
      graft.io.Marks.writeLong(spark, stage, "_applied", applied)
    }
    if (graft.io.GenTable.isGenRoot(spark, rootPath))
      graft.io.GenTable.swapGen(spark, rootPath)(fold)
    else graft.io.StagedSwap.swap(spark, live0)(fold)
  }

  /** The full labeling (layout column dropped), crash-recovered, with
    * pending relabel overlays applied merge-on-read.
    */
  def read(spark: SparkSession, rootPath: String): DataFrame = {
    val path = graft.io.GenTable.live(spark, rootPath)
    PartCommit.recover(spark, path)
    val idCol = readKeyed(spark, path).columns
      .filterNot(c => c == "component" || c == "comp_part").head
    applyRelabels(spark, path,
      readKeyed(spark, path).drop("comp_part"), idCol)(identity)
  }

  private def readKeyed(spark: SparkSession, path: String): DataFrame =
    SchemaFile.read(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }

  /** id→label probe, bloom-pruned: the batch ids (batch-bounded by
    * contract — the same bound that lets them broadcast) are tested
    * against each partition's `_bloom` sidecar, and only partitions
    * that CAN contain a batch id are scanned + semi-joined. The
    * sidecars stream through the driver one at a time (memory = ids +
    * one filter), so the driver never holds the whole sidecar set. A
    * partition without a sidecar is scanned unconditionally — no
    * false negatives by construction, so the probe result is
    * IDENTICAL to the full scan (spec-pinned), just cheaper: a
    * typical batch touches a handful of components, and the scan
    * drops from the whole table to the hit partitions.
    */
  def labelsFor(spark: SparkSession, rootPath: String, ids: DataFrame,
                idCol: String): DataFrame = {
    val path = graft.io.GenTable.live(spark, rootPath)
    val distinctIds = ids.select(col(idCol)).distinct().localCheckpoint()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDirs =
      if (!fs.exists(new Path(path))) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(new Path(path))
        .filter(_.getPath.getName.startsWith("comp_part="))
    val keyed = readKeyed(spark, path)
    val probe =
      if (partDirs.isEmpty) keyed
      else {
        val idStrs = distinctIds.select(col(idCol).cast("string"))
          .collect().map(_.getString(0)) // batch-bounded
        val hit = partDirs.flatMap { st =>
          val p = st.getPath.getName.stripPrefix("comp_part=").toInt
          val bp = new Path(st.getPath, "_bloom")
          if (!fs.exists(bp)) Some(p) // no sidecar: conservative hit
          else {
            // an UNREADABLE sidecar (foreign writer's torn file, codec
            // mismatch) degrades to the same conservative hit a missing
            // one gets — the probe must never hard-fail on an
            // optimization artifact
            scala.util.Try {
              val in = fs.open(bp)
              try BloomFilter.readFrom(in) finally in.close()
            }.toOption match {
              case Some(bf) =>
                if (idStrs.exists(bf.mightContainString)) Some(p) else None
              case None => Some(p)
            }
          }
        }.toSeq
        if (hit.isEmpty) keyed.limit(0)
        else keyed.filter(col("comp_part").isin(hit: _*))
      }
    val baseHits = probe.join(broadcast(distinctIds), Seq(idCol),
      "left_semi").drop("comp_part")
    // pending overlays: mask relabeled-away base rows, union overlay
    // rows for the batch ids (restriction to ids commutes with the
    // fold, so the bloom-pruned base stays pruned). An id living ONLY
    // in an overlay is invisible to the base-only sidecars by design —
    // this union is what keeps the probe free of false negatives.
    applyRelabels(spark, path, baseHits, idCol)(
      _.join(broadcast(distinctIds), Seq(idCol), "left_semi"))
  }

  /** Members of exactly the given components: static comp_part filter
    * (≤ [[CompParts]] distinct ints — bounded driver work) prunes the
    * scan to touched/CompParts of the table, then a broadcast
    * semi-join on (comp_part, component) finishes the exact cut.
    */
  def membersOf(spark: SparkSession, rootPath: String,
                components: DataFrame): DataFrame = {
    val path = graft.io.GenTable.live(spark, rootPath)
    val keyed = withCompPart(components.select("component").distinct())
      .localCheckpoint() // feeds the part list AND the semi-join once
    val idCol = readKeyed(spark, path).columns
      .filterNot(c => c == "component" || c == "comp_part").head
    val parts = keyed.select("comp_part").distinct()
      .collect().map(_.getInt(0)).toSeq
    val base =
      if (parts.isEmpty) readKeyed(spark, path).limit(0).drop("comp_part")
      else readKeyed(spark, path)
        .filter(col("comp_part").isin(parts: _*))
        .join(broadcast(keyed), Seq("comp_part", "component"), "left_semi")
        .drop("comp_part")
    // overlays: restriction to the component set commutes with the
    // fold, so the comp_part-pruned base scan stays pruned and each
    // overlay pays one batch-sized semi-join
    applyRelabels(spark, path, base, idCol)(
      _.join(broadcast(keyed.select("component").distinct()),
        Seq("component"), "left_semi"))
  }

  /** Merge a batch's near-dup edges (batch–batch and batch–corpus,
    * either orientation) plus its vertices into the stored labeling.
    * Semantics ≡ [[Dedup.mergeComponents]] over the stored table;
    * cost: one label-table scan (probe) + touched/CompParts read +
    * batch-sized closure + touched-partition rewrite.
    */
  def merge(spark: SparkSession, rootPath: String, newEdges: DataFrame,
            newVertices: DataFrame, idCol: String, batchId: Long): Unit = {
    val path = graft.io.GenTable.live(spark, rootPath)
    PartCommit.recover(spark, path)
    if (batchId <= PartCommit.lastApplied(spark, path)) return
    if (relabelCommitted(spark, path, batchId)) {
      // crashed between the overlay's `_done` and the applied mark:
      // the state already contains this batch — recomputing against
      // it would derive a DIFFERENT overlay for the same id
      PartCommit.markApplied(spark, path, batchId)
      return
    }
    val edges = newEdges.select(col("id_a"), col("id_b")).localCheckpoint()
    val verts = newVertices.select(col(idCol)).distinct().localCheckpoint()
    val probeIds = edges
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .union(verts.select(col(idCol)))
      .distinct()
    // one probe serves the touched set AND the fresh-vertex anti-join
    val probed = labelsFor(spark, path, probeIds, idCol).localCheckpoint()
    val touched = probed.select("component").distinct().localCheckpoint()
    val touchedLabels = membersOf(spark, path, touched).localCheckpoint()
    val starEdges = touchedLabels.filter(col(idCol) =!= col("component"))
      .select(col(idCol).as("id_a"), col("component").as("id_b"))
    val freshVerts = verts.join(probed.select(idCol), Seq(idCol), "left_anti")
    val subVerts = touchedLabels.select(idCol).union(freshVerts).distinct()
    val sub = Dedup.connectedComponents(starEdges.union(edges), subVerts,
      idCol)
    commitRelabel(spark, path, idCol, batchId, touched, sub)
    maybeAutoCompact(spark, rootPath)
  }

  /** Forget documents: drop them from the labeling and repair the
    * components they leave (deletes can SPLIT — the stars are not
    * sufficient evidence, so touched components' edges are re-derived
    * from the maintained signature table at `sigPath`, a
    * sig_part-PRUNED point read). Also removes the ids from the
    * signature table, keeping the two stores consistent — as an
    * O(batch) DEFERRED tombstone ([[Dedup.deleteSignaturesDeferred]]),
    * not the eager rewrite: a mixed forget batch hashes into every
    * sig_part, so the eager path rewrites the whole signature table
    * (O(corpus) at 100 TB); the tombstone is one small file + marker,
    * folded at the next [[Dedup.compactSignatures]].
    *
    * The tombstone publishes BEFORE the label rewrite. Both steps are
    * idempotent under this batchId (marker-keyed and
    * `_applied`-keyed), so a crash anywhere replays to completion —
    * including the window the previous eager ordering left open: with
    * the sig delete LAST, a crash after the label rewrite's apply mark
    * made the replay no-op before ever deleting the signatures, and
    * the forgotten docs' stale signatures could band-join future
    * batches into edges bridging live components through a ghost.
    * Semantics ≡ [[Dedup.forgetDocs]] over the stored tables.
    */
  def forget(spark: SparkSession, rootPath: String, sigPath: String,
             deleteIds: DataFrame, idCol: String, batchId: Long,
             threshold: Double = 0.5): Unit = {
    val path = graft.io.GenTable.live(spark, rootPath)
    PartCommit.recover(spark, path)
    if (batchId <= PartCommit.lastApplied(spark, path)) return
    val del = deleteIds.select(col(idCol)).distinct().localCheckpoint()
    // sig-store tombstone first (survivor reads below anti-join it,
    // and survivors are disjoint from `del` by construction); the
    // tombstone is content-keyed and idempotent, so re-publishing it
    // on an overlay-committed replay is safe
    Dedup.deleteSignaturesDeferred(spark, sigPath, del, idCol, batchId)
    if (relabelCommitted(spark, path, batchId)) {
      // crashed between the label overlay's `_done` and the applied
      // mark — see the merge twin
      PartCommit.markApplied(spark, path, batchId)
      return
    }
    val touched = labelsFor(spark, path, del, idCol)
      .select("component").distinct().localCheckpoint()
    val touchedLabels = membersOf(spark, path, touched).localCheckpoint()
    // survivors WITH their old component label: the label both
    // classifies repair work and keys the within-component band join
    val survivorsC = touchedLabels.join(del, Seq(idCol), "left_anti")
      .localCheckpoint()
    // A component with ≤1 survivor cannot split further: its survivor
    // relabels to itself (the closure's min-id convention over a
    // singleton), no signature fetch, no band join, no closure. In a
    // near-dup corpus most clusters are pairs and most touched
    // components land here, so the expensive path below runs over the
    // few MULTI-survivor components only (measured: the r14 verdict's
    // forget-vs-merge gap came almost entirely from banding+closure
    // over survivors that could never split).
    val multiComps = survivorsC.groupBy(col("component"))
      .agg(count(lit(1L)).as("__n")).filter(col("__n") >= 2)
      .select("component")
    val multiSurv = survivorsC.join(multiComps, Seq("component"),
      "left_semi").localCheckpoint()
    val singleLabels = survivorsC.join(multiComps, Seq("component"),
      "left_anti").select(col(idCol), col(idCol).as("component"))
    // survivor signatures: partition-pruned fetch over the MULTI
    // survivors only, materialized once (they feed the band join AND
    // the scoring join — the incrementalDedup caller contract)
    val survSigs = Dedup.readSignaturesFor(spark, sigPath,
        multiSurv.select(idCol), idCol)
      .join(multiSurv, Seq(idCol))
      .localCheckpoint()
    // deletes can only SPLIT components (no new edge appears), so
    // candidate pairs need only be sought WITHIN each old component —
    // exact under the labeling's banded-closure invariant
    // ([[Dedup.lshCandidatePairsWithin]] states the argument)
    val pairs = Dedup.estimatedJaccard(
      Dedup.lshCandidatePairsWithin(survSigs, idCol, "component"),
      survSigs.drop("component"), idCol)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b")
    val repaired = Dedup.connectedComponents(pairs,
      multiSurv.select(idCol), idCol)
    commitRelabel(spark, path, idCol, batchId, touched,
      repaired.select(col(idCol), col("component"))
        .unionByName(singleLabels))
    maybeAutoCompact(spark, rootPath)
  }

  /** Commit one batch's label maintenance: publish the (touched mask,
    * relabeled rows) overlay, then advance the applied mark. O(batch)
    * regardless of how many comp_parts the touched components hash
    * into — the rewrite this replaces degenerated to a full-table
    * write past ~CompParts touched components (the measured frontier).
    * The empty batch (nothing touched, nothing relabeled) skips the
    * overlay and only marks.
    */
  private def commitRelabel(spark: SparkSession, path: String,
                            idCol: String, batchId: Long,
                            touched: DataFrame,
                            relabeled: DataFrame): Unit = {
    val rel = relabeled.select(col(idCol), col("component"))
      .localCheckpoint()
    if (touched.isEmpty && rel.isEmpty) {
      PartCommit.markApplied(spark, path, batchId)
      return
    }
    appendRelabel(spark, path, idCol, batchId, touched, rel)
    PartCommit.markApplied(spark, path, batchId)
  }

  /** Self-triggering compaction: fold when the pending overlay count
    * reaches the bound. Runs AFTER the batch's applied mark, so a
    * crash mid-fold leaves a fully-committed batch plus pending
    * overlays — the next maintenance op (or an explicit
    * [[compactLabels]]) simply folds them then; no replay ambiguity,
    * the fold is content-preserving and atomic (gen flip / staged
    * swap). The count check is one directory listing, no Spark job.
    */
  private def maybeAutoCompact(spark: SparkSession,
                               rootPath: String): Unit = {
    val live = graft.io.GenTable.live(spark, rootPath)
    if (committedRelabels(spark, live).size >=
        autoCompactPendingBatches(spark))
      compactLabels(spark, rootPath)
  }
}
