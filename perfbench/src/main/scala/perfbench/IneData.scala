package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import graft.pipeline.Orchestrator
import graft.pipeline.Views

/** Generated stand-in for one INE weekly drop: the 87 long-format CSVs
  * the 33 views read, plus the four reference-layout dictionary files.
  *
  * Shapes follow the repository's FIXTURES.md:
  *  - F1 monthly/annual measurement tables, UTF-8 BOM on the header,
  *    annual members of some views spelling the label `anio`;
  *  - F2 POAL tables, daily, with a parameter dimension on the metals;
  *  - F3 the dual-station-column caudal table;
  *  - F4 the cuenca glacier tables;
  *  - F5 a 98-row station catalog;
  *  - F6 one row per (period, station) per member, spines that overlap
  *    only partly across a view's members, about 10 % empty `Value`
  *    cells, and in every table a few stations with fewer than 3
  *    non-null values plus a few rows without a station code.
  *
  * [[expectedViewRows]] counts every view's rows from the generated
  * rows in plain Scala — no Spark — so the pipeline's output can be
  * checked against an independent count.
  */
object IneData {

  /** One generated CSV. `filterCol` is the station column the step-4
    * filter keys on, resolved here the way the dictionary says
    * (mapped column, else the registry order, else the first other
    * `DTI_` column).
    */
  final case class Table(name: String, header: IndexedSeq[String],
                         rows: IndexedSeq[Array[String]], filterCol: String)

  final case class Drop(tables: IndexedSeq[Table])

  private final case class Shape(periodCol: String, periodLabel: String,
                                 stationCol: String, stationLabel: String,
                                 periodKind: String, pool: String,
                                 extra: Seq[(String, String)] = Nil)

  private val Meteo = ("DTI_CL_ESTACIONES_METEO", "Estaciones meteorológicas DMC")

  /** Station registry in dictionary order: the step-4 fallback probe. */
  val stationRegistry: Seq[(String, String)] = Seq(
    Meteo,
    "DTI_CL_EST_MONITOREO_AIRE" -> "Estaciones de monitoreo del aire",
    "DTI_CL_T010EST_NIVO" -> "Estaciones nivométricas",
    "DTI_CL_T013EST_POAL" -> "Estaciones POAL",
    "DTI_CL_ESTACIONES_FLUVIOMETRICAS" -> "Estaciones Fluviométricas",
    "DTI_CL_AGUAS_CORRIENTES" -> "Aguas Corrientes",
    "DTI_CL_CUENCAS" -> "Cuencas")

  /** Tables left out of the dictionary's per-table mapping, so their
    * station column is found by the registry probe instead.
    */
  private val unmapped = Set("caudal_medio_de_aguas_corrientes",
    "altura_nieve_equivalente_en_agua", "nivel_estatico_de_aguas_subterraneas")

  private def periodLabelFor(col: String): String = col match {
    case "DTI_CL_ANO" => "Año"
    case "DTI_CL_DIA" => "Día"
    case _ => "Mes"
  }

  private def kindOf(col: String): String = col match {
    case "DTI_CL_ANO" => "anual"
    case "DTI_CL_DIA" => "diario"
    case _ => "mensual"
  }

  private val simpleShapes: Map[String, Shape] = {
    val poal = Shape("DTI_CL_DIA", "Día", "DTI_CL_T013EST_POAL",
      "Estaciones POAL", "diario", "poal")
    val param = Seq("DTI_CL_T014PARAM_POAL" -> "Parámetros POAL")
    Map(
      "coliformes_fecales_en_matriz_biologica" -> poal,
      "coliformes_fecales_en_matriz_acuosa" -> poal,
      "metales_totales_en_la_matriz_sedimentaria" -> poal.copy(extra = param),
      "metales_disueltos_en_la_matriz_acuosa" -> poal.copy(extra = param),
      // F3: the river columns come first, the station columns second
      "caudal_medio_de_aguas_corrientes" -> Shape("DTI_CL_MES", "Mes",
        "DTI_CL_ESTACIONES_FLUVIOMETRICAS", "Estaciones Fluviométricas",
        "mensual", "fluvio",
        extra = Seq("DTI_CL_AGUAS_CORRIENTES" -> "Aguas Corrientes")),
      "cantidad_de_agua_caida" -> Shape("DTI_CL_MES", "Mes", Meteo._1,
        Meteo._2, "mensual", "lluvia"),
      "evaporacion_real_por_estacion" -> Shape("DTI_CL_MES", "Mes",
        "DTI_CL_T021ESTACION_EVAP", "Estación", "mensual", "evap"),
      "volumen_del_embalse_por_embalse" -> Shape("DTI_CL_MES", "Mes",
        "DTI_CL_T022EMBALSE", "Embalse", "mensual", "embalse"),
      "altura_nieve_equivalente_en_agua" -> Shape("DTI_CL_DIA", "Día",
        "DTI_CL_T010EST_NIVO", "Estaciones nivométricas", "diario", "nivo"),
      "nivel_estatico_de_aguas_subterraneas" -> Shape("DTI_CL_MES", "Mes",
        "DTI_CL_T023EST_POZO", "Estaciones Pozo", "mensual", "pozo"))
  }

  /** Every table in view order, with its shape. In annual views every
    * third member (starting with the second) spells its label `anio`.
    */
  private def shapes: IndexedSeq[(String, Shape)] = {
    val fromViews = Views.all.flatMap { v =>
      v.tables.zipWithIndex.map { case (t, i) =>
        val label =
          if (v.periodCol == "DTI_CL_ANO" && i % 3 == 1) "anio"
          else periodLabelFor(v.periodCol)
        t -> Shape(v.periodCol, label, v.stationCol, v.stationName,
          kindOf(v.periodCol), v.name)
      }
    }
    (fromViews ++ Views.waterSimpleTables.map(t => t -> simpleShapes(t)))
      .toIndexedSeq
  }

  private def periods(kind: String): IndexedSeq[(String, String)] = kind match {
    case "anual" => (2000 to 2023).map(y => (y.toString, y.toString))
    case "diario" => (1 to 20).map(d => (f"2023-03-$d%02d", f"$d%02d-03-2023"))
    case _ =>
      val meses = Seq("enero", "febrero", "marzo", "abril", "mayo", "junio",
        "julio", "agosto", "septiembre", "octubre", "noviembre", "diciembre")
      for (y <- 2022 to 2023; m <- 1 to 12)
        yield (f"$y-$m%02d", s"${meses(m - 1)} $y")
  }

  /** Station pool sizes: about 2,000 (period, station) cells per
    * member for the 24-period shapes, the POAL metals multiplied out
    * by their parameter dimension.
    */
  private def poolSize(s: Shape): Int = s.pool match {
    case "poal" => if (s.extra.nonEmpty) 25 else 100
    case _ if s.periodKind == "diario" => 100
    case _ => 92
  }

  def generate(seed: Long): Drop = {
    val tables = shapes.zipWithIndex.map { case ((name, shape), ti) =>
      table(name, shape, new Random(seed * 1000003L + ti))
    }
    Drop(tables)
  }

  private def table(name: String, s: Shape, rnd: Random): Table = {
    val header = (Seq(s.periodCol, s.periodLabel) ++
      s.extra.flatMap { case (c, l) => Seq(c, l) } ++
      Seq(s.stationCol, s.stationLabel, "Value", "Flag Codes", "Flags"))
      .toIndexedSeq
    val params = if (s.pool == "poal" && s.extra.nonEmpty)
      Seq("Cu", "Pb", "Zn", "Hg") else Seq("")
    val prefix = s.pool.filter(_.isLetterOrDigit).take(6).toUpperCase
    def station(i: Int) = (f"$prefix$i%03d", s"Estación ${s.pool} $i")
    def value(): String =
      if (rnd.nextDouble() < 0.10) ""
      else "%.2f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 100)
    def flags(): (String, String) =
      if (rnd.nextDouble() < 0.05) ("E", "estimado") else ("", "")
    def row(p: (String, String), st: (String, String), param: String,
            v: String): Array[String] = {
      val extra = s.extra.flatMap { case (c, _) =>
        if (c.contains("PARAM")) Seq(param, s"Parámetro $param")
        else {
          // caudal: the river is a function of the station
          val river = st._1.takeRight(1)
          Seq(s"RIO$river", s"Río $river")
        }
      }
      val (fc, fl) = flags()
      (Seq(p._1, p._2) ++ extra ++ Seq(st._1, st._2, v, fc, fl)).toArray
    }
    val ps = periods(s.periodKind)
    // each member keeps a random 88 % of the grid, so the members of
    // one view share only part of their (period, station) spine
    val dense = for {
      p <- ps; i <- 1 to poolSize(s); param <- params
      if rnd.nextDouble() < 0.88
    } yield row(p, station(i), param, value())
    // sparse stations: 2 rows, and 5 rows with only 2 values
    val sparse =
      ps.take(2).map(p => row(p, station(900), params.head, "1.00")) ++
        ps.take(5).zipWithIndex.map { case (p, k) =>
          row(p, station(901), params.head, if (k < 2) "2.00" else "")
        }
    // rows without a station code
    val noStation = ps.take(3).map(p => row(p, ("", ""), params.head, value()))
    Table(name, header, rnd.shuffle(dense ++ sparse ++ noStation).toIndexedSeq,
      filterColumn(name, header))
  }

  private def filterColumn(name: String, header: Seq[String]): String = {
    val mapped = if (unmapped(name)) None else shapeOf(name).map(_.stationCol)
    (mapped.toSeq ++ stationRegistry.map(_._1)).find(header.contains)
      .orElse(header.find(c => c.startsWith("DTI_") &&
        !Seq("DTI_CL_MES", "DTI_CL_ANO", "DTI_CL_DIA").contains(c)))
      .get
  }

  private def shapeOf(name: String): Option[Shape] =
    shapes.find(_._1 == name).map(_._2)

  // ---- files -------------------------------------------------------

  def writeCsvs(drop: Drop, dir: Path): Unit = {
    Files.createDirectories(dir)
    drop.tables.foreach { t =>
      val sb = new StringBuilder
      sb.append('﻿').append(t.header.mkString(",")).append('\n')
      t.rows.foreach(r => sb.append(r.mkString(",")).append('\n'))
      Files.write(dir.resolve(s"${t.name}.csv"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  val StationCatalogSize = 98

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  } + "\""

  /** The four dictionary files, in the reference's layout. */
  def writeDictionary(dir: Path, seed: Long): Unit = {
    Files.createDirectories(dir)
    def put(file: String, body: String): Unit =
      Files.write(dir.resolve(file), body.getBytes(StandardCharsets.UTF_8))
    val ids = shapes.map(_._1).zipWithIndex.map { case (t, i) =>
      f"DF_${i + 1}%03d" -> t }
    val categoria = (t: String) =>
      if (Views.waterSimpleTables.contains(t) ||
        Views.waterConsolidatedViews.exists(_.tables.contains(t))) "agua"
      else "aire"
    put("ine_catalog.json", ids.map { case (id, t) =>
      s"${q(id)}:{${q("nombre")}:${q(t.replace('_', ' '))}," +
        s"${q("categoria")}:${q(categoria(t))}," +
        s"${q("url")}:${q(s"https://stat.ine.cl/?dataset=$id")}}"
    }.mkString("{", ",", "}"))
    put("dataset_name_mapping.json", ids.map { case (id, t) =>
      s"${q(id)}:{${q("nombre_original")}:${q(t.replace('_', ' '))}," +
        s"${q("nombre_estandarizado")}:${q(t)}," +
        s"${q("categoria")}:${q(categoria(t))}}"
    }.mkString(s"{${q("mappings")}:{", ",", "}}"))
    val types = stationRegistry.map { case (c, l) =>
      s"${q(c)}:{${q("nombre_legible")}:${q(l)}}" }.mkString("{", ",", "}")
    val mapped = shapes.filterNot(t => unmapped(t._1)).map { case (t, sh) =>
      s"${q(t)}:{${q("station_column")}:${q(sh.stationCol)}}"
    }.mkString("{", ",", "}")
    put("station_columns_mapping.json",
      s"{${q("station_column_types")}:$types,${q("mappings")}:$mapped}")
    val rnd = new Random(seed)
    val regiones = Seq("Arica y Parinacota", "Tarapacá", "Antofagasta",
      "Atacama", "Coquimbo", "Valparaíso", "Metropolitana", "O'Higgins",
      "Maule", "Ñuble", "Biobío", "Araucanía", "Los Ríos", "Los Lagos",
      "Aysén", "Magallanes")
    put("estaciones_aire_data.json", (1 to StationCatalogSize).map { i =>
      val r = rnd.nextInt(regiones.size)
      val lat = "%.4f".formatLocal(java.util.Locale.ROOT, -18.0 - rnd.nextDouble() * 35)
      val lon = "%.4f".formatLocal(java.util.Locale.ROOT, -70.0 - rnd.nextDouble() * 3)
      s"{${q("nombre")}:${q(f"Estación aire $i%03d")},${q("latitud")}:$lat," +
        s"${q("longitud")}:$lon,${q("numero_region")}:${r + 1}," +
        s"${q("nombre_region")}:${q(regiones(r))}," +
        s"${q("descripcion")}:${q(s"Estación de monitoreo de calidad del aire $i")}}"
    }.mkString("[\n", ",\n", "\n]\n"))
  }

  // ---- independent expected counts ---------------------------------

  /** Rows the step-4 filter keeps: a station code present, and at
    * least 3 non-null values for that station.
    */
  private def kept(t: Table): IndexedSeq[Array[String]] = {
    val si = t.header.indexOf(t.filterCol)
    val vi = t.header.indexOf("Value")
    val valid = t.rows.filter(_(si).nonEmpty)
    val nonNull = valid.groupBy(_(si)).map { case (st, rs) =>
      st -> rs.count(_(vi).nonEmpty) }
    valid.filter(r => nonNull(r(si)) >= 3)
  }

  /** Expected row count of each of the 33 views. */
  def expectedViewRows(drop: Drop): Map[String, Long] = {
    val byName = drop.tables.map(t => t.name -> t).toMap
    val consolidated = Views.all.map { v =>
      val cells = v.tables.flatMap(byName.get).flatMap { t =>
        val pi = t.header.indexOf(v.periodCol)
        val si = t.header.indexOf(v.stationCol)
        kept(t).map(r => (r(pi), r(si)))
      }
      v.name -> cells.distinct.size.toLong
    }
    val simple = Views.waterSimpleTables.map(t =>
      s"v_$t" -> kept(byName(t)).size.toLong)
    val entities = Orchestrator.entitySources.flatMap {
      case (table, colName, tipo, _) =>
        byName.get(table).toSeq.flatMap { t =>
          val ci = t.header.indexOf(colName)
          if (ci < 0) Nil else kept(t).map(_(ci)).filter(_.nonEmpty).map(_ -> tipo)
        }
    }.distinct.size.toLong
    (consolidated ++ simple ++ Seq(
      "v_estaciones" -> StationCatalogSize.toLong,
      "v_entidades_agua" -> entities)).toMap
  }
}
