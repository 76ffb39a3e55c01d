package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Stage transformations mirroring reference steps 3–4 (the
  * reference materializes a CSV per step). Step 3 is a lazy plan
  * fragment; step 4 runs one aggregate action per table, whose result
  * is both its filter and its report, and returns the kept rows as a
  * lazy plan fragment Catalyst fuses into the views that read it.
  */
object Steps {

  /** Step 3 — remove flag columns, tolerant of absence
    * (steps/step3_remove_columns.py:25,56-59).
    */
  def removeFlagColumns(df: DataFrame): DataFrame =
    df.drop(Schemas.flagColumns: _*)

  /** Step-3 per-file metrics, mirroring the reference's report detail
    * (steps/step3_remove_columns.py:52-82: columnas_originales /
    * eliminadas / finales per file). Schema-only — costs zero Spark
    * jobs. The reference's byte-size fields (size_original/size_final)
    * are deliberately absent: they are properties of its CSV-per-step
    * materialization, which the fused lazy plan never creates.
    */
  final case class RemoveStats(table: String, colsOriginal: Seq[String],
                               colsRemoved: Seq[String]) {
    def colsFinal: Seq[String] = colsOriginal.diff(colsRemoved)
  }

  def removeFlagColumnsWithStats(df: DataFrame, table: String)
      : (DataFrame, RemoveStats) = {
    val before = df.columns.toSeq
    val out = removeFlagColumns(df)
    (out, RemoveStats(table, before, before.diff(out.columns.toSeq)))
  }

  /** Step-4 per-file metrics, mirroring the reference's report fields
    * (steps/step4_filter_stations.py:247-295: registros originales /
    * eliminados / null, estaciones antes / eliminadas).
    */
  final case class FilterStats(table: String, rowsBefore: Long,
                               nullStationRows: Long, rowsEliminated: Long,
                               rowsAfter: Long, stationsBefore: Long,
                               stationsEliminated: Long, stationsAfter: Long)

  val MinRecords = 3L

  /** Step 4 — eliminate sparse stations: a station is eliminated when
    * it has fewer than `minRecords` NON-NULL `Value` rows
    * (steps/step4_filter_stations.py:39-40,116-119; pandas count() is
    * the non-null count). Rows with null/empty station codes are
    * dropped first (:106-110). Returns (kept rows, eliminated station
    * codes, the file's report); a table with no station column passes
    * through with neither.
    *
    * One action: a `groupBy(station)` over every row, null and empty
    * codes included as their own groups, collected to the driver. The
    * collect holds one row per distinct station code of the table —
    * the same driver hop as the reference's sparse list (:142) — and
    * yields both the report and the list; the kept rows are then a
    * lazy `filterNonEmpty` + `NOT IN` over that list.
    */
  def filterSparseStations(df: DataFrame, minRecords: Long = MinRecords,
                           known: Seq[String] = Schemas.stationColumns,
                           table: String = "")
      : (DataFrame, Seq[String], Option[FilterStats]) =
    Schemas.findStationColumn(df, known) match {
      case None => (df, Nil, None)
      case Some(scol) =>
        // (code, rows, non-null values) per station code
        val groups = df.groupBy(col(scol))
          .agg(count(lit(1)), count(col(Schemas.valueColumn))).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val valid = groups.filter { case (s, _, _) => s != null && s.nonEmpty }
        val sparse = valid.filter(_._3 < minRecords)
        val rows = groups.map(_._2).sum
        val validRows = valid.map(_._2).sum
        val sparseRows = sparse.map(_._2).sum
        val codes = sparse.map(_._1).sorted.toSeq
        (Relational.filterNonEmpty(df, scol).filter(!col(scol).isin(codes: _*)),
          codes,
          Some(FilterStats(table, rows, rows - validRows, sparseRows,
            validRows - sparseRows, valid.length, sparse.length,
            valid.length - sparse.length)))
    }

  /** Step 6's type coercion (steps/step6_upload_to_db.py:63-72): every
    * string column is cast to double iff ≥ 50 % of its non-null values
    * parse. NaN→NULL is a no-op under Spark null semantics (X5).
    *
    * ONE scan for all columns: the parse ratios are computed in a
    * single aggregate (per-column `coerceNumeric` would scan the table
    * once per string column — a non-starter at scale).
    */
  def coerceAllNumeric(df: DataFrame, threshold: Double = 0.5): DataFrame = {
    val stringCols = df.schema.fields
      .filter(_.dataType.typeName == "string").map(_.name)
    if (stringCols.isEmpty) df
    else {
      val ratioExprs = stringCols.flatMap { c =>
        Seq(count(expr(s"try_cast(`$c` as double)")).as(s"__p_$c"),
          count(col(c)).as(s"__n_$c"))
      }
      val row = df.agg(ratioExprs.head, ratioExprs.tail.toIndexedSeq: _*).collect()(0)
      val toCast = stringCols.filter { c =>
        val parsed = row.getAs[Long](s"__p_$c")
        val total = row.getAs[Long](s"__n_$c")
        total > 0 && parsed.toDouble / total >= threshold
      }.toSet
      df.select(df.columns.toIndexedSeq.map { c =>
        if (toCast(c)) expr(s"try_cast(`$c` as double)").as(c) else col(c)
      }: _*)
    }
  }

  /** Entity-catalog assembly (steps/step5_create_views.py:550-642):
    * union of per-table distinct entity names tagged with (tipo,
    * descripcion), deduped on (nombre, tipo) keeping first, sorted,
    * with a 1-based surrogate id. row_number over a global sort — the
    * catalog is dimension-sized (≤ thousands), so the single-partition
    * window is fine; at scale switch to zipWithIndex-style assignment.
    */
  def entityCatalog(sources: Seq[(DataFrame, String, String, String)])
      : Option[DataFrame] = {
    val parts = sources.flatMap { case (df, colName, tipo, desc) =>
      if (!df.columns.contains(colName)) None
      else Some(df.select(col(colName).as("nombre"))
        .na.drop(Seq("nombre"))
        .distinct()
        .withColumn("tipo", lit(tipo))
        .withColumn("descripcion", lit(desc)))
    }
    if (parts.isEmpty) None
    else {
      val merged = parts.reduce(_ unionByName _)
        .dropDuplicates("nombre", "tipo")
      val w = Window.orderBy("tipo", "nombre")
      Some(merged
        .withColumn("id", row_number().over(w).cast("long"))
        .select("id", "nombre", "tipo", "descripcion")
        .orderBy("tipo", "nombre"))
    }
  }
}
