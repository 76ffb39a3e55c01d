package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-based MERGE (upsert + delete) into a parquet table path — the
  * lake-maintenance primitive the reference's overwrite-only sinks
  * lack. Semantics per update row:
  *
  *   - key matches a base row   → REPLACE it (update)
  *   - key unmatched            → INSERT
  *   - `deleteCol` true         → REMOVE the base row, insert nothing
  *     (NULL flag = not deleted, like SQL `WHEN MATCHED AND <cond>`)
  *
  * The rewrite is staged-then-swap via [[GenTable.replace]] — see
  * [[StagedSwap]] for the reader-visibility and crash-recovery
  * contract.
  *
  * Scale shape: one left_anti join of base against the update KEYS
  * (shuffle carries the keys, not the update payloads) plus a union —
  * the merged table is written once. At 100 TB partition the base and
  * prune the anti-join to touched partitions before merging.
  */
object MergeTable {

  /** CALLER CONTRACT: `updates` must be unique per key — two update
    * rows with the same key would BOTH land in the table (SQL MERGE
    * raises "multiple source rows matched" here; checking distributed-
    * ly would cost an extra aggregation per merge, so the contract is
    * documented instead). Pre-aggregate with e.g.
    * [[graft.operators.Relational.dedupKeepFirst]] when the batch may
    * carry intra-batch key churn.
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keyCols: Seq[String], deleteCol: Option[String] = None): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(conf)

    // NULL delete flag means "keep": a bare !col(c) would be NULL and
    // filter the row out of upserts while touchedKeys still displaced
    // its base row — a silent delete
    val upserts = deleteCol
      .map(c => updates.filter(!coalesce(col(c), lit(false))).drop(c))
      .getOrElse(updates)
    // ALL update keys displace their base row — deletes by vanishing,
    // upserts by the fresh copy in the union
    val touchedKeys = updates.select(keyCols.map(col): _*).distinct()

    // a crashed swap leaves the table at path__old and nothing at
    // path — restore BEFORE the bootstrap check, or this branch would
    // silently replace the whole table with just the update batch
    StagedSwap.recover(spark, path)
    if (!fs.exists(target)) {
      upserts.write.mode("overwrite").parquet(path)
      return
    }
    GenTable.replace(spark, path) { stage =>
      spark.read.parquet(path)
        .join(touchedKeys, keyCols, "left_anti")
        .unionByName(upserts)
        .write.mode("overwrite").parquet(stage)
    }
  }

  /** Snapshot DIFF — extract change-data-capture rows between two
    * versions of a keyed table: every key is classified `insert`
    * (only in `newDf`), `delete` (only in `oldDf`) or `update` (in
    * both with any payload column differing, null-safely); unchanged
    * rows are dropped. The inverse of [[merge]] — `merge(old, diff)`
    * reproduces `new` — and the incremental-feed primitive when an
    * upstream republishes full snapshots instead of deltas.
    *
    * Output: key columns, `change_type`, then the payload columns —
    * the NEW row's values for insert/update, the OLD row's for delete
    * (exactly what a downstream merge or tombstone writer needs).
    *
    * Scale shape: ONE full-outer sort-merge join on the key — both
    * snapshots shuffle once on the same key, so bucketed/co-located
    * snapshots diff with no exchange at all. No collect, no window.
    */
  def diffSnapshots(oldDf: DataFrame, newDf: DataFrame,
                    keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs at least one key column")
    require(oldDf.columns.sameElements(newDf.columns),
      s"snapshot schemas differ: ${oldDf.columns.toSeq} vs ${newDf.columns.toSeq}")
    val payload = oldDf.columns.filterNot(keyCols.contains).toSeq
    // presence markers, not key-null checks: payload (even key-adjacent
    // columns) may be legitimately NULL
    val o = payload.foldLeft(
      oldDf.withColumn("__in_old", lit(true)))(
      (d, c) => d.withColumnRenamed(c, s"__old_$c"))
    val n = newDf.withColumn("__in_new", lit(true))
    val changed = payload
      .map(c => !(col(s"__old_$c") <=> col(c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, keyCols, "full_outer")
      .filter(col("__in_old").isNull || col("__in_new").isNull || changed)
      .select(keyCols.map(col) ++ Seq(
        when(col("__in_old").isNull, "insert")
          .when(col("__in_new").isNull, "delete")
          .otherwise("update").as("change_type")) ++
        payload.map(c =>
          when(col("__in_new").isNull, col(s"__old_$c"))
            .otherwise(col(c)).as(c)): _*)
  }

  /** Incremental refresh of a JOIN-aggregate materialized view (fact
    * ⋈ dims → group-by): the star-join sibling of
    * [[incrementalAggRefresh]], for views whose GROUP columns live on
    * the DIMENSION side (revenue by nation, tokens by source). The
    * agg-only form can't mark touched groups there — a fact diff row
    * carries no dim columns — so the changed keys' old AND new fact
    * rows are pushed through `enrich` (the dim join, typically
    * broadcast) first; both sides matter because a fact UPDATE can
    * migrate between groups (order re-keyed to another customer) and
    * the departed group must refresh too.
    *
    * Cost scales with the change volume: only changed-key facts are
    * enriched for touch-marking, the recompute semi-joins the
    * enriched facts down to touched groups before aggregating, and
    * untouched view rows carry over by anti-join. Invariant
    * (spec-pinned, oracle contract): result ≡ `aggOf(enrich(newFacts))`.
    */
  def incrementalJoinAggRefresh(aggOld: DataFrame, oldFacts: DataFrame,
                                newFacts: DataFrame, diff: DataFrame,
                                keyCols: Seq[String], groupCols: Seq[String])(
      enrich: DataFrame => DataFrame)(
      aggOf: DataFrame => DataFrame): DataFrame = {
    require(groupCols.nonEmpty && keyCols.nonEmpty,
      "refresh needs key and group columns")
    val changedKeys = diff.select(keyCols.map(col): _*)
    val touched = enrich(oldFacts.join(changedKeys, keyCols, "left_semi"))
      .select(groupCols.map(col): _*)
      .unionByName(
        enrich(newFacts.join(changedKeys, keyCols, "left_semi"))
          .select(groupCols.map(col): _*))
      .distinct()
      .localCheckpoint() // feeds the carry-over anti-join AND the prune
    val recomputed = aggOf(
      nullSafeGroupJoin(enrich(newFacts), touched, groupCols, "left_semi"))
    nullSafeGroupJoin(aggOld, touched, groupCols, "left_anti")
      .unionByName(recomputed)
  }

  /** Incremental AGGREGATE refresh — the materialized-view maintenance
    * pattern the daily 100 TB refresh needs: given the previous
    * per-group aggregate, the new fact snapshot, and the CDC diff
    * ([[diffSnapshots]]), recompute ONLY the groups whose facts
    * changed and splice them over the old aggregate rows. Groups the
    * diff never mentions are carried over untouched (zero fact reads);
    * touched groups recompute from the new snapshot — with the fact
    * table partitioned/clustered on the group key that read is
    * partition-pruned to the changed slice, so daily cost scales with
    * the CHANGE volume, not the table. A touched group whose facts all
    * vanished drops out (its old row is anti-joined away and the
    * recompute yields nothing) — the group-deletion case naive
    * implementations miss.
    *
    * `aggOf` must be a PER-GROUP aggregation over exactly `groupCols`
    * (the recompute substitutes a filtered fact set; anything
    * cross-group would see partial data). Invariant — spec-pinned and
    * the oracle contract: the result equals `aggOf(newSnapshot)`.
    *
    * Touched groups are taken from the diff rows AND from the OLD
    * snapshot rows of the diffed keys: an `update` diff row carries
    * only the NEW payload, so when a fact MIGRATES between groups the
    * departed group would otherwise never be marked touched and its
    * stale aggregate (counting the departed fact) would carry over —
    * the subtle wrongness that motivates needing `oldSnapshot` here.
    */
  def incrementalAggRefresh(aggOld: DataFrame, oldSnapshot: DataFrame,
                            newSnapshot: DataFrame, diff: DataFrame,
                            keyCols: Seq[String], groupCols: Seq[String])(
      aggOf: DataFrame => DataFrame): DataFrame = {
    require(groupCols.nonEmpty, "refresh needs at least one group column")
    require(keyCols.nonEmpty, "refresh needs the diff's key columns")
    val changedKeys = diff.select(keyCols.map(col): _*)
    val touched = diff.select(groupCols.map(col): _*)
      .unionByName(oldSnapshot
        .join(changedKeys, keyCols, "left_semi")
        .select(groupCols.map(col): _*))
      .distinct()
      .localCheckpoint() // feeds the carry-over anti-join AND the prune
    val recomputed = aggOf(
      nullSafeGroupJoin(newSnapshot, touched, groupCols, "left_semi"))
    nullSafeGroupJoin(aggOld, touched, groupCols, "left_anti")
      .unionByName(recomputed)
  }

  /** Semi/anti join on the group columns with NULL-SAFE equality: a
    * changed fact whose group is NULL (or whose dim enrich missed)
    * must mark the NULL group touched like any other — name-list
    * joins use null-unsafe equality, which would leave the NULL
    * group's aggregate permanently stale, breaking the
    * refresh ≡ full-recompute invariant exactly where it is hardest
    * to notice.
    */
  private def nullSafeGroupJoin(df: DataFrame, touched: DataFrame,
                                groupCols: Seq[String],
                                joinType: String): DataFrame = {
    val renamed = touched.toDF(groupCols.map("__t_" + _): _*)
    val cond = groupCols.map(g => col(g) <=> col("__t_" + g))
      .reduce(_ && _)
    df.join(renamed, cond, joinType)
  }
}
