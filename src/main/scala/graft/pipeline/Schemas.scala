package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Schema-variant resolution for INE-shaped long measurement tables.
  *
  * The reference probes column variants at runtime: period columns
  * `DTI_CL_MES|DTI_CL_ANO|DTI_CL_DIA`
  * (steps/step5_create_views.py:295-311), label variants `Año` vs
  * `anio` (:277-282), six spellings of the flags columns
  * (steps/step3_remove_columns.py:25), and station-column lookup with
  * a fallback scan (steps/step4_filter_stations.py:42-66). This object
  * is that probing as pure functions over `df.columns` — plain Scala,
  * no Catalyst involvement (resolution happens before the plan is
  * built, so Catalyst still sees static projections).
  */
object Schemas {

  /** The six flag-column spellings the reference drops
    * (steps/step3_remove_columns.py:25).
    */
  val flagColumns: Seq[String] =
    Seq("Flag Codes", "Flags", "flag codes", "flags", "FLAG CODES", "FLAGS")

  /** Known period-code columns, in the reference's probe order
    * (steps/step5_create_views.py:295-311).
    */
  val periodColumns: Seq[String] = Seq("DTI_CL_MES", "DTI_CL_ANO", "DTI_CL_DIA")

  /** Readable-label variants per period column (the `Año`↔`anio`
    * probe, steps/step5_create_views.py:277-282).
    */
  val periodLabelVariants: Map[String, Seq[String]] = Map(
    "DTI_CL_MES" -> Seq("Mes", "mes"),
    "DTI_CL_ANO" -> Seq("Año", "anio", "Ano"),
    "DTI_CL_DIA" -> Seq("Día", "dia", "Dia"))

  /** Fallback station-code column list — a transcription of
    * dictionary/station_columns_mapping.json `station_column_types`
    * for dictionary-less use. When a dictionary directory is
    * available, load [[graft.model.Catalogs.load]] and pass
    * `catalog.stationColumns` to [[findStationColumn]] instead, so the
    * probe list is data-driven like the reference's
    * (steps/step4_filter_stations.py:28-31).
    */
  val stationColumns: Seq[String] = Seq(
    "DTI_CL_ESTACIONES_METEO", "DTI_CL_EST_MONITOREO_AIRE",
    "DTI_CL_T010EST_NIVO", "DTI_CL_T013EST_POAL",
    "DTI_CL_ESTACIONES_FLUVIOMETRICAS", "DTI_CL_AGUAS_CORRIENTES",
    "DTI_CL_ESTACIONES_SEDIMENTOMETRICAS", "DTI_CL_EST_CALIDAD_AGUAS",
    "DTI_CL_CUENCAS", "DTI_CL_T002A")

  val valueColumn = "Value"

  /** Station column: known list first, then fallback scan for any
    * other `DTI_`-prefixed column that isn't the period column
    * (mirrors steps/step4_filter_stations.py:42-66). `known` defaults
    * to the transcribed list; pass a
    * [[graft.model.TableCatalog]]'s `stationColumns` for the
    * dictionary-driven probe.
    */
  def findStationColumn(df: DataFrame,
                        known: Seq[String] = stationColumns): Option[String] =
    known.find(df.columns.contains).orElse(
      df.columns.find(c => c.startsWith("DTI_") && !periodColumns.contains(c)))
}
