package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Generic relational operators mirroring the reference's dataflow
  * surface (SURVEY.md §2), expressed as plain DataFrame combinators so
  * Catalyst keeps full optimization freedom (pushdown, pruning, join
  * strategy, AQE).
  *
  * Scale notes are per-operator; nothing here collects to the driver.
  */
object Relational {

  /** P1+P2 — drop fixed columns and prefix-matched columns, tolerant of
    * absence (reference drops `Flags`/`Flag Codes` variants and every
    * `DTI_`-prefixed column; steps/step3_remove_columns.py:25,
    * steps/step5_create_views.py:411-414). Pure projection: Catalyst
    * prunes the dropped columns out of the scan.
    */
  def dropColumns(df: DataFrame, fixed: Seq[String], prefixes: Seq[String] = Nil)
      : DataFrame = {
    val byPrefix = df.columns.filter(c => prefixes.exists(c.startsWith))
    df.drop(fixed ++ byPrefix: _*)
  }

  /** F1 — not-null and not-empty filter on a key column
    * (steps/step4_filter_stations.py:106-110).
    */
  def filterNonEmpty(df: DataFrame, colName: String): DataFrame =
    df.filter(col(colName).isNotNull && col(colName) =!= "")

  /** F3 — HAVING-style group threshold: groups of `keys` with at least
    * `minCount` non-null values of `valueCol`
    * (steps/step4_filter_stations.py:116-119; pandas count() is
    * non-null count, matched by Spark's count(col)).
    * One shuffle on the group keys; partial aggregation is map-side.
    */
  def groupsWithAtLeast(df: DataFrame, keys: Seq[String], valueCol: String,
                        minCount: Long): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n_obs"))
      .filter(col("n_obs") >= minCount)

  /** F2 — scalable anti-membership filter: drop rows whose key-group is
    * sparse (< minCount non-null observations). The reference collects
    * the sparse list to memory (steps/step4_filter_stations.py:142);
    * at scale this must be a join, and the aggregated side is small
    * relative to the fact table, so we let AQE/broadcast pick the
    * strategy rather than collecting.
    */
  def dropSparseGroups(df: DataFrame, keys: Seq[String], valueCol: String,
                       minCount: Long): DataFrame = {
    val sparse = df.groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n_obs"))
      .filter(col("n_obs") < minCount)
      .select(keys.map(col): _*)
    df.join(sparse, keys, "left_anti")
  }

  /** A4/U1/U2 — spine: distinct key tuples across member tables
    * (steps/step5_create_views.py:313-325). Union is free (no shuffle);
    * distinct is one shuffle on the keys.
    */
  def spine(members: Seq[DataFrame], keys: Seq[String]): DataFrame =
    members.map(_.select(keys.map(col): _*)).reduce(_ unionByName _).distinct()

  /** J1/J2 — attach labels from a small dimension: broadcast left join
    * (steps/step5_create_views.py:333-350). Caller broadcasts when the
    * dim is known-small; with AQE Spark will also switch at runtime.
    *
    * PRECONDITION: `dimKey` is unique in `dim` — a duplicate dim key
    * fans the fact table out, exactly like the SQL join the oracles
    * mirror (for a dedup-per-key label map, see Consolidate's
    * label-map assembly). The dim key is renamed internally so
    * `factKey == dimKey` is safe (no ambiguous self-reference).
    */
  def attachDim(factTable: DataFrame, dim: DataFrame, factKey: String,
                dimKey: String, dimCols: Seq[String]): DataFrame = {
    val dk = "__dim_" + dimKey
    factTable.join(
      broadcast(dim.select((dimKey +: dimCols).distinct.map(col): _*)
        .withColumnRenamed(dimKey, dk)),
      col(factKey) === col(dk), "left")
      .drop(dk)
  }

  /** J3/J4 — wide view via sequential left joins: the reference's exact
    * shape (steps/step5_create_views.py:352-375). Kept as the
    * differential cross-check for [[wideViewPivot]]; N joins = up to N
    * shuffles, so the pivot form is the scale path.
    */
  def wideViewJoin(spineDf: DataFrame, keys: Seq[String],
                   measures: Seq[(String, DataFrame)]): DataFrame =
    measures.foldLeft(spineDf) { case (acc, (name, m)) =>
      acc.join(m.withColumnRenamed(m.columns.last, name), keys, "left")
    }

  /** J4 (scale form) — wide view via single-shuffle pivot: union the
    * long members with a source tag, then groupBy(keys).pivot(tag).
    * Equivalent to [[wideViewJoin]] over the [[spine]] when (keys, tag)
    * is unique — asserted by tests; policy on duplicates: `first` wins
    * (SURVEY §2.10 / "What's hard"). The pivot's groups are the spine:
    * a member without `valueCol` adds its keys only (untagged, so it
    * gets no column), and a null key keeps its values.
    */
  def wideViewPivot(members: Seq[(String, DataFrame)], keys: Seq[String],
                    valueCol: String): DataFrame = {
    val valued = members.filter(_._2.columns.contains(valueCol))
    val tagged = members.map { case (name, df) =>
      val (value, tag) =
        if (df.columns.contains(valueCol)) (col(valueCol), lit(name))
        else (lit(null), lit(null).cast("string"))
      df.select(keys.map(col) :+ value.as("__value") :+ tag.as("__src"): _*)
    }.reduce(_ unionByName _)
    tagged.groupBy(keys.map(col): _*)
      .pivot("__src", valued.map(_._1))
      .agg(first(col("__value"), ignoreNulls = true))
  }

  /** U3 — dedup on a subset key, keeping the row with the smallest
    * `orderCol` (deterministic form of pandas drop_duplicates keep=
    * 'first', steps/step5_create_views.py:610). Window + filter: one
    * shuffle on the key; at scale prefer this over groupBy+join-back.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String)
      : DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** O2 — deterministic top-k: order by metric desc with explicit key
    * tie-break (steps/step4_filter_stations.py:291-295). Spark plans
    * this as TakeOrderedAndProject — no full sort at scale.
    */
  def topK(df: DataFrame, metric: String, tieBreak: String, k: Int): DataFrame =
    df.orderBy(col(metric).desc, col(tieBreak).asc).limit(k)

  /** X4 — best-effort numeric coercion: cast a string column to double
    * iff at least `threshold` of its non-null values parse
    * (steps/step6_upload_to_db.py:63-72, pandas to_numeric coerce with
    * 50% rule). Two Spark jobs: a tiny agg to measure the parse ratio,
    * then the conditional cast. The agg is a full scan of one column —
    * at 100 TB, sample instead (df.sample) if the exactness of the
    * ratio doesn't matter; kept exact here to match the reference.
    */
  def coerceNumeric(df: DataFrame, colName: String, threshold: Double = 0.5)
      : DataFrame = {
    val c = col(colName)
    val parsed = expr(s"try_cast(`$colName` as double)")
    // try_divide, not `/`: an all-null (or empty) column makes this
    // 0/0, which throws under Spark 4's default ANSI mode
    val ratioRow = df.agg(
      try_divide(count(parsed), count(c)).as("ratio")).collect()(0)
    val ratio = if (ratioRow.isNullAt(0)) 0.0 else ratioRow.getDouble(0)
    if (ratio >= threshold) df.withColumn(colName, parsed) else df
  }

  /** Exact money arithmetic for oracle parity and determinism at scale:
    * doubles summed in nondeterministic partition order drift in the
    * last ulp; decimal sums are exact and order-independent.
    */
  def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum of a per-row decimal product, e.g. revenue
    * extendedprice*(1-discount): both factors to decimal first so the
    * multiply and sum are exact, then one cast back to double.
    */
  def moneyProductSum(a: Column, b: Column): Column =
    sum(a.cast(DecimalType(18, 2)) * b.cast(DecimalType(18, 2))).cast("double")
}
