package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** View consolidation — the reference's relational core
  * (steps/step5_create_views.py:232-444) re-expressed Spark-first.
  *
  * Shape: members are long tables (period, station, Value); the view
  * is the wide pivot of their tagged union on (period, station) — its
  * groups are the spine — with one column per member that has a
  * Value, labels attached from dimension mappings.
  *
  * Scale: the assembly is ONE shuffle — members union into a tagged
  * long table and pivot on the member tag (Relational.wideViewPivot),
  * instead of the reference's N sequential left joins (N shuffles)
  * onto a distinct spine. A null key keeps its member values, as
  * pandas' merge in the reference matches null keys.
  * Label maps are tiny → broadcast joins. Policy on duplicate
  * (period, station) rows within a member: pivot's `first` wins
  * (reference data has none; SURVEY.md §2.10).
  *
  * Quirks preserved (§2.10):
  * - period-label mapping comes from the FIRST member only
  *   (:333-336); station labels union across ALL members (:338-350).
  * - the period-label column name is re-probed per member with the
  *   `Año`↔`anio` variant mutation — last member with a variant wins
  *   (:277-282).
  * - missing members are skipped with a warning; a view with no
  *   members yields None (:266-271).
  * - water views drop any remaining `DTI_`-prefixed columns
  *   (:411-414).
  */
object Consolidate {

  /** One member table, normalized: its actual period column detected
    * and renamed to the view's real period column.
    */
  private final case class Member(name: String, df: DataFrame)

  def consolidate(view: ViewDef, load: String => Option[DataFrame])
      : Option[DataFrame] = {
    // load + drop flags; skip missing members (reference warns + skips)
    val members: Seq[Member] = view.tables.flatMap { t =>
      load(t).map(df => Member(t, df.drop(Schemas.flagColumns: _*)))
    }
    if (members.isEmpty) return None

    // period-label variant probe with last-wins mutation (§2.10),
    // driven by the SAME variant table Schemas declares — an inline
    // Año↔anio-only probe would silently miss 'Ano'/'mes'/'dia'
    // spellings that Schemas.periodLabelVariants knows about
    val labelVariants: Seq[String] =
      Schemas.periodLabelVariants.getOrElse(view.periodCol, Nil)
    val declaredLabel: Option[String] = labelVariants.headOption
    val periodLabelCol: Option[String] =
      members.foldLeft(declaredLabel) { (cur, m) =>
        cur match {
          case Some(c) if !m.df.columns.contains(c) =>
            labelVariants.find(m.df.columns.contains).orElse(cur)
          case other => other
        }
      }

    // real period column: first variant present in any member, member
    // order then variant order (reference :295-311)
    val variants = (view.periodCol +: Schemas.periodColumns).distinct
    val periodColReal: Option[String] = members.view
      .flatMap(m => variants.find(m.df.columns.contains))
      .headOption
    if (periodColReal.isEmpty) return None
    val pcol = periodColReal.get
    val scol = view.stationCol

    // normalize each member: rename its actual period variant to pcol
    def normalized(m: Member): Option[DataFrame] =
      variants.find(m.df.columns.contains).map { actual =>
        if (actual == pcol) m.df else m.df.withColumnRenamed(actual, pcol)
      }

    // the spine IS the pivot: the tagged union of every normalized
    // member with the station column, pivoted on the member tag in ONE
    // shuffle (scale form of the reference's N sequential left joins);
    // a member without a Value column adds its keys only
    val keyed = members.flatMap(m => normalized(m).map(m.name -> _))
      .filter(_._2.columns.contains(scol))
    if (keyed.isEmpty) return None
    val spine =
      Relational.wideViewPivot(keyed, Seq(pcol, scol), Schemas.valueColumn)

    // Label maps must be ONE row per key: the reference builds python
    // DICTS (later entries overwrite), so a conflicting label spelling
    // in another member must not fan the spine out through the join —
    // a pair-level distinct() would keep both spellings and duplicate
    // every affected view row.

    // period labels from the FIRST member only (§2.10); conflicting
    // duplicate labels within it resolve deterministically to max
    def onePerKey(df: DataFrame, key: String, lbl: String): DataFrame =
      df.groupBy(col(key)).agg(max(col(lbl)).as(lbl))
    val withPeriodLabel = periodLabelCol
      .filter(members.head.df.columns.contains)
      .flatMap(lbl => normalized(members.head).map(df =>
        spine.join(
          broadcast(onePerKey(df.select(col(pcol), col(lbl)), pcol, lbl)),
          Seq(pcol), "left")))
      .getOrElse(spine)

    // station labels from ALL members (§2.10): dict semantics — the
    // LAST member listing a station supplies its label (member index
    // carried through a max(struct) aggregation)
    val stationLabel = Some(view.stationName).filter(_.nonEmpty)
    val wide = stationLabel
      .map { lbl =>
        val maps = members.zipWithIndex
          .filter { case (m, _) =>
            m.df.columns.contains(lbl) && m.df.columns.contains(scol) }
          .map { case (m, i) =>
            m.df.select(col(scol), col(lbl), lit(i).as("__member_idx")) }
        if (maps.isEmpty) withPeriodLabel
        else {
          val lastWins = maps.reduce(_ unionByName _)
            .groupBy(col(scol))
            .agg(max(struct(col("__member_idx"), col(lbl))).as("__m"))
            .select(col(scol), col(s"__m.$lbl").as(lbl))
          withPeriodLabel.join(broadcast(lastWins), Seq(scol), "left")
        }
      }
      .getOrElse(withPeriodLabel)

    // final shape: [periodName, estacion, members...], existing only
    val renamed = (periodLabelCol.filter(wide.columns.contains) match {
      case Some(lbl) => wide.withColumnRenamed(lbl, view.periodName)
      case None => wide.withColumnRenamed(pcol, view.periodName)
    }) match {
      case w => stationLabel.filter(w.columns.contains) match {
        case Some(lbl) => w.withColumnRenamed(lbl, "estacion")
        case None => w.withColumnRenamed(scol, "estacion")
      }
    }
    val finalCols = (view.periodName +: "estacion" +: view.tables)
      .filter(renamed.columns.contains)
    val selected = renamed.select(finalCols.map(col): _*)
    val result =
      if (view.esAgua)
        selected.drop(selected.columns.toIndexedSeq.filter(_.startsWith("DTI_")): _*)
      else selected
    Some(result.orderBy(view.periodName, "estacion"))
  }

  /** Simple 1:1 water view: drop flags + every DTI_ column
    * (steps/step5_create_views.py:446-501).
    */
  def simpleWaterView(df: DataFrame): DataFrame =
    Relational.dropColumns(df.drop(Schemas.flagColumns: _*), Nil, Seq("DTI_"))
}
