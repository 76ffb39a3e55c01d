package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ViewTable

/** The DISTINCT-COUNT maintained view — the third member of the
  * stored-aggregate family ([[graft.io.MaintainedAgg]] sum/count,
  * `deltaRefreshMinMax` extrema, this): per-group approximate distinct
  * keys as a stored HLL register BLOCK (64 ints ≈ 300 bytes/group,
  * [[Sketches.HllB]]), laid out hash-partitioned on the group key
  * exactly like the other two (`agg_part = pmod(hash(group), 64)`).
  *
  * Maintenance decomposes by the sketch's algebra:
  *
  *   - INSERTS are self-maintaining: HLL registers fold by
  *     element-wise max (`new_regs = zip_with(old, batch, greatest)`),
  *     associative + idempotent, so ingest folds the BATCH's sketch
  *     into the stored one without re-reading a single fact — same
  *     merge the shard-≡-direct contract pins in
  *     [[Sketches.hllMergeRegisters]].
  *   - DELETES are not (a register max cannot be decremented), but the
  *     extrema insight of `deltaRefreshMinMax` applies PER BUCKET: a
  *     removed key can only lower the register it hashed into, and
  *     only if its rank TIES that register (rank < register ⇒ another
  *     key carries it; rank > register is impossible for data that was
  *     ever inserted — treated as dirty defensively). So a delete
  *     batch dirties a group only when some removed key's (bucket,
  *     rank) ties the stored register — every interior delete stays
  *     pure arithmetic on the view slice, and only DIRTY groups are
  *     recomputed through the caller's fact-side callback (the caller
  *     owns the fact layout, so the dirty-key semi-join pushes into
  *     its bucketing). At 100 TB a CDC batch re-reads facts for the
  *     handful of groups whose register witnesses it deleted, never
  *     the corpus.
  *
  * Register determinism makes the view ORACLE-exact despite the
  * estimate being approximate: registers are a max-fold of a
  * deterministic portable hash ([[graft.functions.Portable.hash32]]),
  * so build + folds + dirty recomputes ≡ one sketch over the new
  * snapshot, bit-equal (q_incr_distinct pins refresh ≡ DuckDB
  * recompute, the register/estimate SQL shared with q_hll_distinct).
  * Layout, refresh commit and delta protocol are [[graft.io
  * .ViewTable]]'s — staged touched partitions, atomic marker,
  * exactly-once under replay by batch id, the schema out of band so
  * an emptied view stays readable; this object keeps the register
  * algebra.
  *
  * Reference scope: the reference recomputes its distinct counts from
  * scratch each run (`steps/step4_filter_stations.py:122` `nunique()`
  * per filter pass); this is the maintained twin, sized for corpora
  * where the re-scan is the cost that matters.
  */
object MaintainedDistinct {

  import Sketches.{HllB, HllM, HllAlpha}

  /** Per-row (group…, bucket, rank) contributions; null keys carry the
    * (-1, -1) sentinel the register block ignores.
    */
  private def bucketed(rows: DataFrame, groupCols: Seq[String],
                       keyCol: String): DataFrame = {
    val h = graft.functions.Portable.hash32(col(keyCol))
    rows.select(groupCols.map(col) :+
      coalesce((h % HllM).cast("long"), lit(-1L)).as("bucket") :+
      coalesce(Sketches.rho(shiftright(h, HllB)), lit(-1)).as("r"): _*)
  }

  /** Per-group register block + row count from per-row input. */
  private def regsOf(rows: DataFrame, groupCols: Seq[String],
                     keyCol: String, regsName: String,
                     nName: String): DataFrame =
    bucketed(rows, groupCols, keyCol)
      .groupBy(groupCols.map(col): _*)
      .agg(Sketches.hllRegisterBlock(col("bucket"), col("r"))
          .as(regsName),
        count(lit(1)).as(nName))

  /** The raw-HLL estimate of a stored register array — the exact
    * column shape of [[Sketches.hllEstimateFromRegisters]] (shared
    * DuckDB SQL), over the array representation: absent buckets hold
    * 0, every present 2^−m term is a dyadic rational so the fold is
    * exact in double under any order.
    */
  def estimateCol(regs: Column): Column = {
    val present = size(filter(regs, _ > 0))
    val sPresent = aggregate(filter(regs, _ > 0),
      lit(0.0).cast("double"),
      // the same shiftleft-based 2^-m term as hllEstimateFromRegisters
      // (pow would round-trip through libm; the shift is integer-exact)
      (acc, m) => acc + lit(1.0) /
        call_function("shiftleft", lit(1L), m).cast("double"))
    round(lit(HllAlpha * HllM * HllM) /
      ((lit(HllM) - present).cast("double") + sPresent), 4)
  }

  /** Materialize the distinct view: one row per group —
    * (groupCols…, regs array<int>[64], `nCol` long row count).
    */
  def write(rows: DataFrame, groupCols: Seq[String], keyCol: String,
            path: String, nCol: String = "n"): Unit =
    ViewTable.bootstrap(rows.sparkSession, path, groupCols)(
      regsOf(rows, groupCols, keyCol, "regs", nCol))

  /** The stored rows (layout column dropped), crash-recovered. */
  def read(spark: SparkSession, rootPath: String): DataFrame =
    ViewTable.read(spark, rootPath)

  /** The served estimates: (groupCols…, hll_estimate, nCol). */
  def readEstimates(spark: SparkSession, path: String,
                    groupCols: Seq[String],
                    nCol: String = "n"): DataFrame =
    read(spark, path).select(groupCols.map(col) :+
      estimateCol(col("regs")).as("hll_estimate") :+ col(nCol): _*)

  /** Apply a CDC batch. `removed`/`added` carry per-row
    * (groupCols ++ keyCol) contributions — an UPDATE contributes its
    * old key to `removed` and its new key to `added`, exactly the
    * [[graft.io.MaintainedAgg.deltaRefresh]] shape. `recompute`
    * receives the distinct DIRTY group keys (batch-bounded, on the
    * driver — [[graft.io.ViewTable.collectKeys]]) and must return the
    * NEW snapshot's per-row rows for exactly those groups.
    * Exactly-once under retry keyed by `batchId`
    * ([[graft.io.ViewTable.refresh]]).
    *
    * Invariant (q_incr_distinct oracle, spec-pinned): after the
    * refresh the view ≡ [[write]] over the new snapshot, register
    * bit-equal.
    */
  def deltaRefresh(spark: SparkSession, rootPath: String,
                   removed: DataFrame, added: DataFrame,
                   groupCols: Seq[String], keyCol: String,
                   batchId: Long, nCol: String = "n")
                  (recompute: DataFrame => DataFrame): Unit =
    // pending streaming deltas are refused by the kernel: a register
    // max cannot subtract, so a delete whose key also lives in an
    // unfolded delta would be resurrected on read
    ViewTable.refresh(spark, rootPath, Some(batchId)) {
      val aAgg = regsOf(added, groupCols, keyCol, "__aregs", "__an")
      val rAgg = regsOf(removed, groupCols, keyCol, "__rregs", "__rn")
      val batch = aAgg.join(rAgg, groupCols, "full_outer")
        .localCheckpoint() // feeds the part list AND the merge once
      val parts = ViewTable.withAggPart(
        batch.select(groupCols.map(col): _*), groupCols)
        .select("agg_part").distinct().collect().map(_.getInt(0)).toSeq
      ViewTable.Batch(parts, { slice =>
        val joined = slice.drop("agg_part")
          .join(batch, groupCols, "full_outer")
          .localCheckpoint() // feeds carry, clean, dirty — one evaluation
        val untouchedInPart = col("__an").isNull && col("__rn").isNull
        val viewCols = groupCols ++ Seq("regs", nCol)
        val carry = joined.filter(untouchedInPart)
          .select(viewCols.map(col): _*)
        val touched = joined.filter(!untouchedInPart)
        val rn = coalesce(col("__rn"), lit(0L))
        val an = coalesce(col("__an"), lit(0L))
        // a removed key's rank can only drop the register it TIES
        // (rank < register ⇒ another key still carries it); a remove
        // against a missing stored row is defensively dirty
        val tiesStored = exists(
          zip_with(col("__rregs"), col("regs"),
            (rv, sv) => rv > 0 && rv >= sv),
          x => x)
        val dirtyCond = rn > 0 && (col(nCol).isNull || tiesStored)
        val foldedRegs = when(col("__aregs").isNull, col("regs"))
          .when(col("regs").isNull, col("__aregs"))
          .otherwise(zip_with(col("regs"), col("__aregs"),
            (a, b) => greatest(a, b)))
        val clean = touched.filter(!dirtyCond)
          .select(groupCols.map(col) :+ foldedRegs.as("regs") :+
            (coalesce(col(nCol), lit(0L)) + an - rn).as(nCol): _*)
          .filter(col(nCol) > 0)
        val dirty = ViewTable.collectKeys(
          touched.filter(dirtyCond).select(groupCols.map(col): _*))
        val dirtyAgg =
          if (dirty.isEmpty) clean.limit(0)
          else regsOf(recompute(dirty.frame), groupCols, keyCol, "regs",
            nCol)
        ViewTable.withAggPart(
          carry.unionByName(clean).unionByName(dirtyAgg), groupCols)
      })
    }

  // ---- streaming ingest: per-batch register-delta partitions ----
  //
  // The shared delta protocol ([[graft.io.ViewTable.writeDelta]]),
  // made SAFER by the sketch's algebra: because the register merge is
  // IDEMPOTENT (max), even a delta that somehow folded twice could not
  // corrupt the distinct registers — only the row counts need the
  // exactly-once marks, same as sums.

  /** One micro-batch's delta write: `added` rows carry
    * (groupCols ++ keyCol); the per-group register block + row count
    * land under this batch's own partition.
    */
  def writeDeltaPartial(added: DataFrame, batchId: Long,
                        groupCols: Seq[String], keyCol: String,
                        rootPath: String, nCol: String = "n"): Unit =
    ViewTable.writeDelta(added, batchId, rootPath)(
      regsOf(_, groupCols, keyCol, "regs", nCol))

  /** The served view: base registers merged with every pending batch
    * delta — element-wise max across blocks ([[Sketches
    * .hllBlockMerge]]), counts summed.
    */
  def readWithDeltas(spark: SparkSession, rootPath: String,
                     groupCols: Seq[String],
                     nCol: String = "n"): DataFrame =
    ViewTable.readWithDeltas(spark, rootPath,
      groupCols ++ Seq("regs", nCol))(
      _.groupBy(groupCols.map(col): _*)
        .agg(Sketches.hllBlockMerge(col("regs")).as("regs"),
          sum(col(nCol)).as(nCol)))

  /** Serve estimates over base ⊎ deltas. */
  def estimatesWithDeltas(spark: SparkSession, path: String,
                          groupCols: Seq[String],
                          nCol: String = "n"): DataFrame =
    readWithDeltas(spark, path, groupCols, nCol)
      .select(groupCols.map(col) :+
        estimateCol(col("regs")).as("hll_estimate") :+ col(nCol): _*)

  /** Fold pending deltas into the base ATOMICALLY — the
    * [[graft.io.ViewTable.compact]] contract (single-writer: stop the
    * ingest first).
    */
  def compactDeltas(spark: SparkSession, path: String,
                    groupCols: Seq[String],
                    nCol: String = "n"): Unit =
    ViewTable.compact(spark, path, groupCols)(
      readWithDeltas(spark, path, groupCols, nCol))
}
