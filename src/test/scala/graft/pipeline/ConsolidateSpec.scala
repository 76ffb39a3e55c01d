package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Golden test of the view-consolidation core over F1/F6-shaped
  * fixtures (FIXTURES.md): pins the §2.10 quirks — first-member-only
  * period labels, all-member station labels, sparse-station
  * non-null-count threshold, missing-member tolerance, Año↔anio
  * variant mutation.
  */
class ConsolidateSpec extends SparkSpec {
  import spark.implicits._

  private def f1(rows: Seq[(String, String, String, String, java.lang.Double)])
      : DataFrame =
    rows.toDF("DTI_CL_MES", "Mes", "DTI_CL_ESTACIONES_METEO",
      "Estaciones meteorológicas DMC", "Value")
      .withColumn("Flag Codes", org.apache.spark.sql.functions.lit("e"))
      .withColumn("Flags", org.apache.spark.sql.functions.lit("est"))

  private lazy val tempMax = f1(Seq(
    ("2021-01", "enero 2021", "S1", "Santiago", 30.0),
    ("2021-01", "enero 2021", "S2", "Valparaíso", 25.0),
    ("2021-02", "febrero 2021", "S1", "Santiago", 31.0)))

  // has a (period, station) pair absent from tempMax: 2021-03
  private lazy val tempMin = f1(Seq(
    ("2021-01", "enero 2021", "S1", "Santiago", 10.0),
    ("2021-03", "marzo 2021", "S1", "Santiago", 12.0),
    ("2021-03", "marzo 2021", "S3", "Concepción", 11.0)))

  private val view = ViewDef("v_test", Seq("tempMax", "tempMin", "missing"),
    "DTI_CL_MES", "mes", "DTI_CL_ESTACIONES_METEO",
    "Estaciones meteorológicas DMC", "mensual")

  private def tables: String => Option[DataFrame] = {
    case "tempMax" => Some(Steps.removeFlagColumns(tempMax))
    case "tempMin" => Some(Steps.removeFlagColumns(tempMin))
    case _ => None
  }

  test("wide view: spine, values, missing member skipped") {
    val out = Consolidate.consolidate(view, tables).get
    assert(out.columns.toSeq == Seq("mes", "estacion", "tempMax", "tempMin"),
      "missing member's column must be absent, order preserved")
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(rows.contains(("enero 2021", "Santiago", Some(30.0), Some(10.0))))
    assert(rows.contains(("febrero 2021", "Santiago", Some(31.0), None)))
    assert(rows.size == 5, "spine = distinct pairs across both members")
  }

  test("a null period key keeps its member values, as pandas' merge does") {
    val withNull = f1(Seq(
      ("2021-01", "enero 2021", "S1", "Santiago", 30.0),
      (null, null, "S1", "Santiago", 33.0)))
    val out = Consolidate.consolidate(view, {
      case "tempMax" => Some(Steps.removeFlagColumns(withNull))
      case "tempMin" => Some(Steps.removeFlagColumns(tempMin))
      case _ => None
    }).get
    val nullRows = out.filter(out("mes").isNull && out("tempMax") === 33.0)
    assert(nullRows.count() == 1, "the null-key row lost its value")
  }

  test("a member without a Value column adds its keys, not a column") {
    val keysOnly = Steps.removeFlagColumns(f1(Seq(
      ("2021-01", "enero 2021", "S1", "Santiago", null),
      ("2021-05", "mayo 2021", "S4", "Temuco", null)))).drop("Value")
    val v = ViewDef("v_keys", Seq("tempMax", "keysOnly"), "DTI_CL_MES",
      "mes", "DTI_CL_ESTACIONES_METEO", "Estaciones meteorológicas DMC",
      "mensual")
    val out = Consolidate.consolidate(v, {
      case "tempMax" => Some(Steps.removeFlagColumns(tempMax))
      case "keysOnly" => Some(keysOnly)
      case _ => None
    }).get
    assert(out.columns.toSeq == Seq("mes", "estacion", "tempMax"))
    val rows = out.collect().map(r =>
      (r.getString(1), Option(r.get(2)))).toSet
    assert(rows == Set(("Santiago", Some(30.0)), ("Valparaíso", Some(25.0)),
      ("Santiago", Some(31.0)), ("Temuco", None)), s"rows: $rows")
    // no member has a Value: the view is its spine
    val bare = Consolidate.consolidate(
      v.copy(tables = Seq("keysOnly")), {
        case "keysOnly" => Some(keysOnly)
        case _ => None
      }).get
    assert(bare.columns.toSeq == Seq("mes", "estacion"))
    assert(bare.count() == 2)
  }

  test("quirk: period labels only from the FIRST member") {
    val out = Consolidate.consolidate(view, tables).get
    // 2021-03 exists only in tempMin (2nd member) → NULL label; the
    // row survives with estacion label and value intact
    val marzo = out.filter(out("tempMin") === 12.0).collect()
    assert(marzo.length == 1)
    assert(marzo(0).isNullAt(0), "period label must be NULL for 2021-03")
    assert(marzo(0).getString(1) == "Santiago",
      "station label unions across ALL members")
  }

  test("quirk: station labels union across all members") {
    val out = Consolidate.consolidate(view, tables).get
    val conce = out.filter(out("estacion") === "Concepción").collect()
    assert(conce.length == 1, "S3 appears only in member 2 but keeps its label")
  }

  test("conflicting station labels: dict semantics, no spine fan-out") {
    // member 2 re-labels S1 'SANTIAGO CENTRO' — the reference builds a
    // python dict, so the later member OVERWRITES; a pair-distinct map
    // would keep both spellings and duplicate every S1 spine row
    val relabeled = f1(Seq(
      ("2021-01", "enero 2021", "S1", "SANTIAGO CENTRO", 10.0),
      ("2021-03", "marzo 2021", "S1", "SANTIAGO CENTRO", 12.0),
      ("2021-03", "marzo 2021", "S3", "Concepción", 11.0)))
    val out = Consolidate.consolidate(view, {
      case "tempMax" => Some(Steps.removeFlagColumns(tempMax))
      case "tempMin" => Some(Steps.removeFlagColumns(relabeled))
      case _ => None
    }).get
    val s1 = out.filter(out("tempMax") === 30.0 || out("tempMin") === 10.0)
      .collect()
    // 2021-01/S1 is ONE row (no fan-out), labeled by the LAST member
    assert(s1.map(r => (r.getString(0), r.getString(1))).distinct.length
      == s1.length, "no duplicated spine rows from label conflicts")
    assert(out.filter(out("estacion") === "SANTIAGO CENTRO").count() > 0)
    assert(out.filter(out("estacion") === "Santiago").count() == 0,
      "later member's label must overwrite, like the reference's dict")
  }

  test("quirk: Año↔anio variant mutation, last member wins") {
    val a = Seq(("2020", "año 2020", "S1", "st", 1.0))
      .toDF("DTI_CL_ANO", "Año", "DTI_CL_CUENCAS", "Cuencas", "Value")
    val b = Seq(("2020", "año 2020 v2", "S1", "st", 2.0),
      ("2021", "año 2021", "S1", "st", 3.0))
      .toDF("DTI_CL_ANO", "anio", "DTI_CL_CUENCAS", "Cuencas", "Value")
    val v = ViewDef("v_anual", Seq("a", "b"), "DTI_CL_ANO", "anio",
      "DTI_CL_CUENCAS", "Cuencas", "anual")
    val out = Consolidate.consolidate(v, {
      case "a" => Some(a); case "b" => Some(b); case _ => None
    }).get
    // label column resolves to "anio" (b's variant), but the MAPPING
    // still comes from the first member (a) — which lacks "anio", so
    // no label join happens and the code column is renamed instead
    assert(out.columns.contains("anio"))
    val codes = out.select("anio").as[String].collect().toSet
    assert(codes == Set("2020", "2021"),
      "first member lacks the mutated label col → code column carries through")
  }

  test("sparse-station filter counts non-null values only") {
    // S1: 3 non-null → kept; S2: 4 rows, 3 non-null → borderline keep
    val df = f1(Seq(
      ("m1", "l1", "S1", "a", 1.0), ("m2", "l2", "S1", "a", 2.0),
      ("m3", "l3", "S1", "a", 3.0),
      ("m1", "l1", "S2", "b", 4.0), ("m2", "l2", "S2", "b", null),
      ("m3", "l3", "S2", "b", 5.0),
      ("m1", "l1", "S2", "b", 6.0)))
    val (kept, sparse, _) = Steps.filterSparseStations(df)
    val stations = kept.select("DTI_CL_ESTACIONES_METEO")
      .distinct().as[String].collect().toSet
    assert(stations == Set("S1", "S2"), "S2 has 3 non-null → borderline keep")
    assert(sparse.isEmpty)
    // lower the data: S2 with only 2 non-null must go
    val df2 = f1(Seq(
      ("m1", "l1", "S1", "a", 1.0), ("m2", "l2", "S1", "a", 2.0),
      ("m3", "l3", "S1", "a", 3.0),
      ("m1", "l1", "S2", "b", 4.0), ("m2", "l2", "S2", "b", null),
      ("m3", "l3", "S2", "b", 5.0)))
    // S2: rows m1=4.0, m2=null, m3=5.0 → 2 non-null → eliminated
    val (kept2, sparse2, _) = Steps.filterSparseStations(df2, minRecords = 3L)
    val st2 = kept2.select("DTI_CL_ESTACIONES_METEO")
      .distinct().as[String].collect().toSet
    assert(st2 == Set("S1"))
    assert(sparse2 == Seq("S2"))
  }

  test("empty/null station codes dropped before counting") {
    val df = f1(Seq(
      ("m1", "l1", "", "x", 1.0), ("m1", "l1", null, "y", 2.0),
      ("m1", "l1", "S1", "a", 1.0), ("m2", "l2", "S1", "a", 2.0),
      ("m3", "l3", "S1", "a", 3.0)))
    val (kept, _, stats) = Steps.filterSparseStations(df)
    assert(kept.count() == 3)
    // the two code-less rows are reported as null-station rows
    assert(stats.map(s => (s.rowsBefore, s.nullStationRows, s.rowsAfter,
      s.stationsBefore)).contains((5L, 2L, 3L, 1L)))
  }

  test("a table with no station column passes step 4 unfiltered, unreported") {
    val df = Seq(("d1", "día 1", "Embalse Uno", 7.5), ("d2", "día 2", "", 1.0))
      .toDF("DTI_CL_DIA", "Día", "Embalse", "Value")
    val (kept, sparse, stats) = Steps.filterSparseStations(df)
    assert(kept eq df)
    assert(sparse.isEmpty && stats.isEmpty)
  }

  test("simple water view drops flags and DTI_ columns") {
    val df = Seq(("d1", "día 1", "E1", "Embalse Uno", 7.5))
      .toDF("DTI_CL_DIA", "Día", "DTI_CL_T002A", "Embalse", "Value")
      .withColumn("Flags", org.apache.spark.sql.functions.lit("x"))
    val out = Consolidate.simpleWaterView(df)
    assert(out.columns.toSeq == Seq("Día", "Embalse", "Value"))
  }

  // ---- §1.3 irregular schemas (SURVEY.md) ----

  /** metales_* shape: extra dimension column DTI_CL_T014PARAM_POAL
    * (dictionary/data_columns.txt:143-162) — (period, station) is NOT
    * unique; each (period, station, param) is its own observation.
    */
  private lazy val metales = Seq(
    ("d1", "día 1", "P1", "Quintero", "As", "Arsénico", 0.5),
    ("d1", "día 1", "P1", "Quintero", "Cu", "Cobre", 1.5),
    ("d1", "día 1", "P2", "Ventanas", "As", "Arsénico", 0.7),
    ("d2", "día 2", "P1", "Quintero", "As", "Arsénico", 0.6))
    .toDF("DTI_CL_DIA", "Día", "DTI_CL_T013EST_POAL", "Estaciones POAL",
      "DTI_CL_T014PARAM_POAL", "Parámetros POAL", "Value")
    .withColumn("Flags", org.apache.spark.sql.functions.lit("x"))

  test("extra-dim POAL table: simple water view keeps the param label") {
    val out = Consolidate.simpleWaterView(metales)
    // DTI_ code columns drop; BOTH label columns pass through — the
    // param dimension stays part of the row identity
    assert(out.columns.toSeq ==
      Seq("Día", "Estaciones POAL", "Parámetros POAL", "Value"))
    assert(out.count() == 4, "one row per (period, station, param)")
  }

  test("extra-dim POAL table: station filter counts across params") {
    // station P1 has 3 non-null values (2 params × d1 + d2) → kept;
    // P2 has 1 → eliminated. The param dim must not fragment the count.
    val (kept, sparse, _) = Steps.filterSparseStations(
      Steps.removeFlagColumns(metales))
    assert(kept.select("DTI_CL_T013EST_POAL").distinct()
      .as[String].collect().toSet == Set("P1"))
    assert(sparse == Seq("P2"))
  }

  test("extra-dim member in a consolidated view: pivot-duplicate policy") {
    // if an extra-dim table ever joins a consolidated view, the
    // (period, station) key is non-unique; DECLARED POLICY (SURVEY
    // §2.10 "What's hard"): the pivot collapses duplicates with
    // first(ignoreNulls) — one row per pair, value from the member's
    // candidate set (the reference's sequential left join would
    // instead fan out the spine; divergence documented)
    import graft.operators.Relational
    val dup = metales.select($"DTI_CL_DIA", $"DTI_CL_T013EST_POAL", $"Value")
    val wide = Relational.wideViewPivot(
      Seq("metales" -> dup), Seq("DTI_CL_DIA", "DTI_CL_T013EST_POAL"),
      "Value")
    assert(wide.count() == 3, "one row per distinct (period, station) pair")
    val p1d1 = wide.filter($"DTI_CL_DIA" === "d1" &&
      $"DTI_CL_T013EST_POAL" === "P1").collect()(0).getDouble(2)
    assert(Set(0.5, 1.5).contains(p1d1),
      "collapsed value comes from the duplicate candidate set")
  }

  /** caudal shape: TWO station-ish columns
    * (dictionary/data_columns.txt:25-34).
    */
  private lazy val caudal = Seq(
    ("2021-01", "enero", "AC1", "Río Maipo", "F1", "Estación Maipo", 10.0),
    ("2021-01", "enero", "AC1", "Río Maipo", "F2", "Estación Alta", 11.0),
    ("2021-02", "febrero", "AC1", "Río Maipo", "F1", "Estación Maipo", 12.0),
    ("2021-03", "marzo", "AC1", "Río Maipo", "F1", "Estación Maipo", 13.0))
    .toDF("DTI_CL_MES", "Mes", "DTI_CL_AGUAS_CORRIENTES", "Aguas Corrientes",
      "DTI_CL_ESTACIONES_FLUVIOMETRICAS", "Estaciones Fluviométricas", "Value")

  test("dual-station caudal: filter keys on the MAPPED fluviométricas col") {
    // probe order (dictionary mapping first) must pick
    // DTI_CL_ESTACIONES_FLUVIOMETRICAS, not DTI_CL_AGUAS_CORRIENTES:
    // F1 has 3 non-null → kept, F2 has 1 → eliminated. Keying on the
    // wrong column would keep everything (AC1 has 4).
    assert(Schemas.findStationColumn(caudal).contains(
      "DTI_CL_ESTACIONES_FLUVIOMETRICAS"))
    val (kept, sparse, _) = Steps.filterSparseStations(caudal)
    assert(sparse == Seq("F2"))
    assert(kept.count() == 3)
    // same answer through the dictionary-driven probe list
    val cat = graft.model.Catalogs.load("/root/reference/dictionary")
    assert(Schemas.findStationColumn(caudal,
      cat.stationProbeOrder("caudal_medio_de_aguas_corrientes"))
      .contains("DTI_CL_ESTACIONES_FLUVIOMETRICAS"))
  }

  test("dual-station caudal: simple water view keeps both label columns") {
    val out = Consolidate.simpleWaterView(caudal)
    assert(out.columns.toSeq ==
      Seq("Mes", "Aguas Corrientes", "Estaciones Fluviométricas", "Value"))
  }

  test("entity catalog: dedup on (nombre,tipo), sorted, 1-based ids") {
    val emb = Seq(("Embalse A", 1.0), ("Embalse B", 2.0), ("Embalse A", 3.0))
      .toDF("Embalse", "Value")
    val cuencas = Seq(("Cuenca Z", 1.0), ("Cuenca A", 2.0))
      .toDF("Cuencas", "Value")
    val out = Steps.entityCatalog(Seq(
      (cuencas, "Cuencas", "Cuenca Hidrográfica", "d1"),
      (emb, "Embalse", "Embalse", "d2"))).get
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      (1L, "Cuenca A", "Cuenca Hidrográfica"),
      (2L, "Cuenca Z", "Cuenca Hidrográfica"),
      (3L, "Embalse A", "Embalse"),
      (4L, "Embalse B", "Embalse")),
      s"got ${rows.toSeq}")
  }
}
