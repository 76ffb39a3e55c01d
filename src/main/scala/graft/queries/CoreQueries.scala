package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.Relational._

/** SURVEY.md §2.9 declared-query inventory: one oracle-checked query per
  * reference operator class, over the TPC-H-ish testdata. Every query is
  * fully deterministic (explicit ORDER BY, exact decimal money sums,
  * dates rendered as strings) so the driver's hash compare against
  * DuckDB is stable.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  private val datePivot = "1998-01-01"

  /** Per-sfDir suffix for scratch locations (tmp files, warehouse
    * tables): two Verify/Bench processes on different scale factors
    * must not clobber each other's round-trip artifacts.
    */
  private def scratchTag(d: String): String =
    java.lang.Integer.toHexString(d.hashCode)

  /** A4/U1/U2 spine of distinct (ship_date, l_suppkey) built from two
    * date-sliced scans (mirrors the reference's union of member tables,
    * steps/step5_create_views.py:313-325).
    */
  private def spineDf(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
              col("l_suppkey"))
    val before = li.filter(col("ship_date") < datePivot)
    val after  = li.filter(col("ship_date") >= datePivot)
    spine(Seq(before, after), Seq("ship_date", "l_suppkey"))
  }

  private def monthAgg(s: SparkSession, d: String, status: String,
                       alias: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_linestatus") === status)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
               col("l_suppkey"))
      .agg(sum(col("l_quantity")).as(alias))

  /** Temp views for the SQL-text TPC-H shapes (Q17/Q20/Q21) — these
    * run through `spark.sql` so CATALYST performs the subquery
    * decorrelation being exercised (a hand-decorrelated DataFrame
    * would test nothing).
    */
  private[queries] def registerTpchViews(s: SparkSession,
                                         d: String): Unit = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.region(s, d).createOrReplaceTempView("region")
    // stored on ScaleUp dirs, memoized-derived elsewhere — the five
    // partsupp-shaped TPC-H queries read this ONE relation
    Tables.partsupp(s, d).createOrReplaceTempView("partsupp")
  }

  /** The partsupp relation as INLINE SQL — the oracle/catalog twin of
    * [[Tables.partsupp]]'s derivation (DuckDB sees only the harness
    * parquet dirs, which carry no partsupp file, and the catalog
    * namespace lists only materialized tables). Column-for-column the
    * same values as the stored/memoized relation the Spark path reads;
    * see [[Tables.partsupp]] for the exactness argument.
    */
  private[queries] def psDerivedSql(t: String => String): String =
    s"""(SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |    min(l_extendedprice / l_quantity) AS ps_supplycost,
       |    CAST(min(floor(l_extendedprice * 1000000 / l_quantity))
       |      AS BIGINT) AS ps_supplycost_mils,
       |    CAST(sum(l_quantity) AS BIGINT) AS ps_availqty
       |  FROM ${t("lineitem")} GROUP BY 1, 2)""".stripMargin

  /** Dialect-shared TPC-H SQL texts, parameterized on a table-name
    * renderer so ONE string serves three consumers: the Spark query
    * (bare temp-view names), the DuckDB oracle (same bare names), and
    * the catalog-parity path (`graft.data.*` —
    * [[SqlQueries]]). Runs verbatim on both engines.
    */
  /** Q2's SCALE form, same results as the correlated text (hash-equal,
    * SqlParitySpec-pinned): the part-supplier relation is CORPUS-sized
    * (~51M rows at the sf10 leg), and Catalyst inlines the
    * twice-referenced CTE of the correlated text into both the outer
    * query and the correlated MIN subquery — two full fact
    * aggregations, the worst measured TPC-H shape (materializing the
    * CTE was no better: a corpus-sized localCheckpoint measured 39 s
    * vs 13 s at sf10). The shape that scales reads the ONE `partsupp`
    * relation ([[graft.model.Tables.partsupp]] — a STORED table on
    * ScaleUp dirs, the true TPC-H shape; memoized-derived on the
    * harness dirs, so a sweep pays its single fact aggregation once)
    * and computes min-cost-per-part with ONE window pass over the
    * EUROPE-restricted slice: no per-query fact aggregation, single
    * partkey shuffle, no per-query materialization. The ORIGINAL
    * correlated text still runs through Catalyst's decorrelation on
    * the catalog-parity path ([[SqlQueries]]) and is the DuckDB
    * oracle.
    */
  private[queries] def tpchQ2WindowSql(t: String => String,
                                       ps: String = null): String = {
    val psRel = Option(ps).getOrElse(psDerivedSql(t))
    s"""WITH ps AS (
       |  SELECT ps_partkey, p_name, ps_suppkey, ps_supplycost
       |  FROM $psRel ps0 JOIN ${t("part")} ON p_partkey = ps_partkey
       |  WHERE p_size <= 15 AND p_type = 'LARGE'),
       |win AS (
       |  SELECT ps_partkey, p_name, ps_supplycost,
       |    s_acctbal, s_name, n_name,
       |    min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
       |  FROM ps, ${t("supplier")}, ${t("nation")}, ${t("region")}
       |  WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
       |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
       |SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey, p_name
       |FROM win
       |WHERE ps_supplycost = min_cost
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin
  }

  private[queries] def tpchTextSql(name: String, t: String => String,
                                   ps: String = null): String = {
    // the partsupp relation: the registered view on the Spark query
    // path (stored or memoized-derived), the inline derivation on the
    // oracle/catalog paths — identical values either way
    val psRel = Option(ps).getOrElse(psDerivedSql(t))
    name match {
    case "q_tpch_q17" =>
      s"""SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
         |    AS DOUBLE) / 7.0, 2) AS avg_yearly
         |FROM ${t("lineitem")} l1 JOIN ${t("part")} p
         |  ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#16'
         |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
         |    FROM ${t("lineitem")} l2
         |    WHERE l2.l_partkey = p.p_partkey)""".stripMargin

    // Q20 (potential part promotion): the TRUE driving table is
    // partsupp — candidate (part, supplier) pairs come from the stored
    // relation, with the year's shipment volumes as correlated
    // aggregates over lineitem. Adapted predicate: the pair shipped
    // more than half its part's 1996 volume (the literal ps_availqty
    // comparison degenerates on a lineitem-derived partsupp, where
    // availqty IS total shipped quantity — every pair would qualify).
    case "q_tpch_q20" =>
      s"""SELECT s_suppkey, s_name FROM ${t("supplier")}
         |WHERE s_suppkey IN (
         |  SELECT ps_suppkey FROM $psRel ps0
         |  WHERE ps_partkey IN
         |      (SELECT p_partkey FROM ${t("part")}
         |       WHERE p_name LIKE 'small%')
         |    AND 2 * (SELECT sum(CAST(l1.l_quantity AS BIGINT))
         |     FROM ${t("lineitem")} l1
         |     WHERE l1.l_partkey = ps_partkey
         |       AND l1.l_suppkey = ps_suppkey
         |       AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
         |       AND l1.l_shipdate < TIMESTAMP '1997-01-01') >
         |    (SELECT sum(CAST(l2.l_quantity AS BIGINT))
         |     FROM ${t("lineitem")} l2
         |     WHERE l2.l_partkey = ps_partkey
         |       AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
         |       AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
         |ORDER BY s_suppkey""".stripMargin

    case "q_tpch_q21" =>
      s"""SELECT s_name, count(*) AS numwait FROM ${t("supplier")}
         |JOIN ${t("lineitem")} l1 ON s_suppkey = l1.l_suppkey
         |JOIN ${t("orders")} ON o_orderkey = l1.l_orderkey
         |JOIN ${t("nation")} ON s_nationkey = n_nationkey
         |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
         |  AND EXISTS (SELECT 1 FROM ${t("lineitem")} l2
         |    WHERE l2.l_orderkey = l1.l_orderkey
         |      AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM ${t("lineitem")} l3
         |    WHERE l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey
         |      AND l3.l_returnflag = 'R')
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name
         |LIMIT 100""".stripMargin

    // Q4 (order-priority checking): the plain EXISTS semi-join shape.
    // Adapted late-line predicate: l_returnflag = 'R' (no
    // commit/receipt dates in the harness lineitem).
    case "q_tpch_q4" =>
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM ${t("orders")}
         |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
         |  AND o_orderdate < TIMESTAMP '1996-10-01'
         |  AND EXISTS (SELECT 1 FROM ${t("lineitem")}
         |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin

    // Q13 (customer distribution): LEFT OUTER join with a filtered ON
    // clause + two stacked aggregations — the outer-join-then-
    // histogram shape.
    case "q_tpch_q13" =>
      s"""SELECT c_count, count(*) AS custdist
         |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM ${t("customer")} LEFT OUTER JOIN ${t("orders")}
         |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         |  GROUP BY c_custkey) c_orders
         |GROUP BY c_count
         |ORDER BY custdist DESC, c_count DESC""".stripMargin

    // Q16 (parts/supplier relationship): the TRUE driving table is
    // partsupp (distinct pairs — same values as the former
    // lineitem-join form, one row per pair instead of per shipment).
    // NOT IN subquery (null-aware anti join) + COUNT(DISTINCT) over
    // the join. Adapted complaint predicate: s_acctbal < 0 (no
    // s_comment in the harness supplier).
    case "q_tpch_q16" =>
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM $psRel ps0 JOIN ${t("part")} ON p_partkey = ps_partkey
         |WHERE p_brand <> 'Brand#16'
         |  AND p_size IN (1, 7, 14, 21, 28, 35, 42, 49)
         |  AND ps_suppkey NOT IN
         |    (SELECT s_suppkey FROM ${t("supplier")} WHERE s_acctbal < 0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
         |LIMIT 50""".stripMargin

    // Q2 (minimum-cost supplier): correlated scalar MIN over a 4-way
    // dimension join, with the partsupp relation referenced from BOTH
    // the outer query and the subquery (CTE reuse; min of an IEEE
    // division is exact on both engines — no float-sum order risk).
    // This correlated text is the oracle and the catalog-parity run
    // (Catalyst's decorrelation is exercised there); the Spark bench
    // path runs [[tpchQ2WindowSql]] — identical results, one pass
    // over the relation instead of two (see its doc).
    case "q_tpch_q2" =>
      s"""WITH ps AS (
         |  SELECT ps_partkey, ps_suppkey, ps_supplycost FROM $psRel ps0)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
         |FROM ${t("part")}, ps, ${t("supplier")}, ${t("nation")},
         |  ${t("region")}
         |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         |  AND p_size <= 15 AND p_type = 'LARGE'
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'EUROPE'
         |  AND ps_supplycost = (
         |    SELECT min(ps2.ps_supplycost)
         |    FROM ps ps2, ${t("supplier")} s2, ${t("nation")} n2,
         |      ${t("region")} r2
         |    WHERE ps2.ps_partkey = p_partkey
         |      AND s2.s_suppkey = ps2.ps_suppkey
         |      AND s2.s_nationkey = n2.n_nationkey
         |      AND n2.n_regionkey = r2.r_regionkey
         |      AND r2.r_name = 'EUROPE')
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin

    // Q8 (national market share): the 8-way star with nation in DUAL
    // roles — once through the customer side (region-restricted) and
    // once through the supplier side (the share dimension) — plus a
    // conditional-ratio aggregate. The share is a division of two
    // EXACT decimal sums cast to double, so both engines compute the
    // identical quotient bit-for-bit (the Q9/Q15 money pattern).
    // NATION_8 as the share nation: populated at every harness sf
    // including the sf0.001 smoke leg (the Q11 lesson).
    case "q_tpch_q8" =>
      s"""SELECT o_year,
         |  CAST(sum(CASE WHEN nation = 'NATION_8' THEN volume
         |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |    / CAST(sum(volume) AS DOUBLE) AS mkt_share
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |    CAST(l_extendedprice AS DECIMAL(18,2))
         |      * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
         |    n2.n_name AS nation
         |  FROM ${t("part")}, ${t("supplier")}, ${t("lineitem")},
         |    ${t("orders")}, ${t("customer")},
         |    ${t("nation")} n1, ${t("nation")} n2, ${t("region")}
         |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
         |    AND c_nationkey = n1.n_nationkey
         |    AND n1.n_regionkey = r_regionkey
         |    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
         |    AND o_orderdate >= TIMESTAMP '1995-01-01'
         |    AND o_orderdate < TIMESTAMP '1997-01-01'
         |    AND p_type = 'ECONOMY') all_nations
         |GROUP BY o_year
         |ORDER BY o_year""".stripMargin

    // Q9 (product-type profit): the multi-FACT join-agg with
    // EXPRESSION group keys (nation name x extracted year) — TRUE
    // shape: profit = revenue − ps_supplycost · quantity, with the
    // cost joined in from the partsupp relation on the composite
    // (part, supplier) key. Exactness: revenue sums in decimals; the
    // cost side sums the integer-millionths twin (ps_supplycost_mils ·
    // qty, DECIMAL(38,0) — exact at any scale), and the two exact
    // totals combine in ONE double expression, bit-identical on both
    // engines.
    case "q_tpch_q9" =>
      s"""SELECT n_name AS nation,
         |  CAST(year(o_orderdate) AS INT) AS o_year,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
         |        * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
         |    - CAST(sum(CAST(ps_supplycost_mils
         |        * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)))
         |        AS DOUBLE) / 1000000.0 AS sum_profit
         |FROM ${t("lineitem")}
         |JOIN ${t("orders")} ON o_orderkey = l_orderkey
         |JOIN ${t("part")} ON p_partkey = l_partkey
         |JOIN $psRel ps0
         |  ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |JOIN ${t("supplier")} ON s_suppkey = l_suppkey
         |JOIN ${t("nation")} ON n_nationkey = s_nationkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2
         |ORDER BY nation, o_year DESC""".stripMargin

    // Q11 (important stock): per-group aggregate compared against a
    // GLOBAL aggregate of the same derived table (scalar subquery over
    // a reused CTE) — TRUE shape: part value = ps_supplycost ·
    // ps_availqty summed over the nation's partsupp rows. The
    // comparison stays exact (integer-millionths in DECIMAL(38,0),
    // v * 1000 > sum(v)) — no float threshold edge; the output value
    // converts to money-units double only at the end. NATION_8 is the
    // nation with supplier presence at every harness sf including the
    // sf0.001 smoke leg.
    case "q_tpch_q11" =>
      s"""WITH val AS (
         |  SELECT ps_partkey AS l_partkey,
         |    sum(CAST(ps_supplycost_mils * ps_availqty
         |      AS DECIMAL(38,0))) AS v
         |  FROM $psRel ps0
         |  JOIN ${t("supplier")} ON ps_suppkey = s_suppkey
         |  JOIN ${t("nation")} ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_8'
         |  GROUP BY 1)
         |SELECT l_partkey,
         |  CAST(v AS DOUBLE) / 1000000.0 AS part_value
         |FROM val
         |WHERE v * 1000 > (SELECT sum(v) FROM val)
         |ORDER BY part_value DESC, l_partkey""".stripMargin

    // Q15 (top supplier): max-over-view self-comparison — the revenue
    // view feeds both the join and the scalar MAX subquery; decimal
    // revenue so the equality is exact on both engines.
    case "q_tpch_q15" =>
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
         |      * CAST(1 - l_discount AS DECIMAL(18,2))) AS total_revenue
         |  FROM ${t("lineitem")}
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name,
         |  CAST(total_revenue AS DOUBLE) AS total_revenue
         |FROM ${t("supplier")} JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin

    // Q22 (global sales opportunity): scalar avg subquery + NOT EXISTS
    // anti join inside a derived table. Adapted: country code from
    // c_nationkey (no phone column), "never ordered" narrowed to
    // "never placed an URGENT order" so the shape stays populated.
    case "q_tpch_q22" =>
      s"""SELECT cntrycode, count(*) AS numcust,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |    AS totacctbal
         |FROM (SELECT CAST(c_nationkey % 10 AS STRING) AS cntrycode,
         |    c_acctbal
         |  FROM ${t("customer")}
         |  WHERE CAST(c_nationkey % 10 AS STRING)
         |      IN ('1', '2', '3', '4', '5')
         |    AND c_acctbal > (SELECT avg(c_acctbal) FROM ${t("customer")}
         |      WHERE c_acctbal > 0
         |        AND CAST(c_nationkey % 10 AS STRING)
         |          IN ('1', '2', '3', '4', '5'))
         |    AND NOT EXISTS (SELECT 1 FROM ${t("orders")}
         |      WHERE o_custkey = c_custkey
         |        AND o_orderpriority = '1-URGENT')) custsale
         |GROUP BY cntrycode
         |ORDER BY cntrycode""".stripMargin
    }
  }

  private[queries] val tpchTextNames: Seq[String] = Seq(
    "q_tpch_q2", "q_tpch_q4", "q_tpch_q8", "q_tpch_q9", "q_tpch_q11", "q_tpch_q13",
    "q_tpch_q15", "q_tpch_q16", "q_tpch_q17", "q_tpch_q20",
    "q_tpch_q21", "q_tpch_q22")

  val queries: Map[String, Q] = Map[String, Q](
    // S1 — scan + projection; pushed to the parquet reader.
    "q_scan" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // P1/P2 — fixed + prefix column drop.
    "q_drop" -> ((s, d) =>
      dropColumns(Tables.part(s, d), Seq("p_brand"), Seq("p_ret"))
        .orderBy("p_partkey")),

    // F1 — not-null/not-empty filter.
    "q_filter_null" -> ((s, d) =>
      filterNonEmpty(Tables.customer(s, d), "c_mktsegment")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    // F3 — HAVING-style threshold on non-null counts.
    "q_having" -> ((s, d) =>
      groupsWithAtLeast(Tables.lineitem(s, d),
        Seq("l_suppkey", "l_partkey"), "l_quantity", 3L)
        .orderBy("l_suppkey", "l_partkey")),

    // F2 — anti-join against sparse groups.
    "q_anti" -> ((s, d) =>
      dropSparseGroups(Tables.lineitem(s, d),
        Seq("l_suppkey", "l_partkey"), "l_quantity", 3L)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey")
        .orderBy("l_orderkey", "l_linenumber")),

    // A1 — non-null group counts vs row counts.
    "q_groupcount" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(count(col("l_extendedprice")).as("n_price"),
             count(lit(1)).as("n_rows"))
        .orderBy("l_suppkey")),

    // A2 — exact distinct counts.
    "q_distinctcount" -> ((s, d) =>
      Tables.lineitem(s, d)
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
             countDistinct(col("l_partkey")).as("n_part"))),

    // A4/U1/U2 — spine via union + distinct.
    "q_spine" -> ((s, d) =>
      spineDf(s, d).orderBy("ship_date", "l_suppkey")),

    // J1/J2 — label attach: spine left-joined to a broadcast dimension.
    "q_leftjoin" -> ((s, d) =>
      attachDim(spineDf(s, d), Tables.supplier(s, d),
        "l_suppkey", "s_suppkey", Seq("s_name"))
        .select("ship_date", "l_suppkey", "s_name")
        .orderBy("ship_date", "l_suppkey")),

    // J3/J4 — N-way sequential left join (reference's view shape).
    "q_multijoin" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sp = li.select(
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_suppkey")).distinct()
      wideViewJoin(sp, Seq("ship_month", "l_suppkey"),
        Seq("qty_o" -> monthAgg(s, d, "O", "qty_o"),
            "qty_f" -> monthAgg(s, d, "F", "qty_f")))
        .orderBy("ship_month", "l_suppkey")
    }),

    // J4 scale form — same result via single-shuffle pivot.
    "q_pivot" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_suppkey"), col("l_linestatus"), col("l_quantity"))
      li.groupBy("ship_month", "l_suppkey")
        .pivot("l_linestatus", Seq("O", "F"))
        .agg(sum(col("l_quantity")))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
        .orderBy("ship_month", "l_suppkey")
    }),

    // U3 — keyed dedup keeping the smallest orderkey.
    "q_dedupkey" -> ((s, d) =>
      dedupKeepFirst(Tables.orders(s, d),
        Seq("o_custkey", "o_orderstatus"), "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")),

    // O1/O2 — deterministic top-5 suppliers by rows in sparse groups.
    // ONE scan: the per-pair aggregate carries both the sparseness
    // count (non-null) and the total row count, so eliminated rows per
    // supplier are a re-aggregation of the pair aggregate — no
    // semi-join back into the fact table (the reference's join-back
    // form stays exercised by q_anti).
    "q_topk" -> ((s, d) => {
      val perPair = Tables.lineitem(s, d)
        .groupBy("l_suppkey", "l_partkey")
        .agg(count(col("l_quantity")).as("n_obs"),
          count(lit(1)).as("n_rows"))
      val eliminated = perPair.filter(col("n_obs") < 3)
        .groupBy("l_suppkey")
        .agg(sum(col("n_rows")).as("n_eliminated"))
      topK(eliminated, "n_eliminated", "l_suppkey", 5)
    }),

    // F4/U1/U3/X6 composite — the reference's entity-catalog assembly
    // (union of per-table distinct names + dedup + surrogate ids)
    // exercised over harness dimensions, giving the pipeline operator
    // itself an oracle row (ConsolidateSpec pins the quirk details).
    "q_entity_catalog" -> ((s, d) =>
      graft.pipeline.Steps.entityCatalog(Seq(
        (Tables.supplier(s, d), "s_name", "Proveedor",
          "Proveedores del sistema"),
        (Tables.customer(s, d), "c_name", "Cliente",
          "Clientes del sistema"))).get),

    // X6 — global row numbering over a joined dimension.
    "q_rownum" -> ((s, d) => {
      val j = Tables.supplier(s, d).join(
        Tables.nation(s, d),
        col("s_nationkey") === col("n_nationkey"), "left")
      j.select(
        row_number().over(Window.orderBy("n_name", "s_name")).as("rn"),
        col("s_name"), col("n_name"))
        .orderBy("rn")
    }),

    // X4 — threshold-gated numeric coercion of a mixed string column.
    "q_coerce" -> ((s, d) => {
      val mixed = Tables.orders(s, d).withColumn("val_coerced",
        when(col("o_orderkey") % 10 === 0, lit("n/a"))
          .otherwise(col("o_custkey").cast("string")))
      coerceNumeric(mixed, "val_coerced")
        .select("o_orderkey", "val_coerced")
        .orderBy("o_orderkey")
    }),

    // S4 — sink round-trip: write parquet, re-read, re-sort.
    "q_roundtrip" -> ((s, d) => {
      val out = Scratch.fresh(s"roundtrip_${scratchTag(d)}")
      attachDim(spineDf(s, d), Tables.supplier(s, d),
        "l_suppkey", "s_suppkey", Seq("s_name"))
        .select("ship_date", "l_suppkey", "s_name")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("ship_date", "l_suppkey")
    }),

    // S4 — JSONL round-trip: newline-delimited JSON, the interchange
    // format of every LLM data pipeline. Written by the json sink,
    // re-read with an EXPLICIT schema (inference would re-order fields
    // and widen types), values must survive identically.
    "q_jsonl_roundtrip" -> ((s, d) => {
      val out = Scratch.fresh(s"jsonl_${scratchTag(d)}")
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").json(out)
      s.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"))
        .json(out)
        .orderBy("doc_id")
    }),

    // date/time scalar-function surface: truncation, month-end,
    // day-of-week (normalized to Spark's 1=Sunday convention on the
    // oracle side), day arithmetic, clamped month addition
    "q_date_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
          date_format(trunc(col("l_shipdate"), "MM"), "yyyy-MM-dd")
            .as("month_start"),
          date_format(last_day(col("l_shipdate")), "yyyy-MM-dd")
            .as("month_end"),
          dayofweek(col("l_shipdate")).as("dow"),
          datediff(col("l_shipdate"), lit("1995-01-01").cast("date"))
            .as("days_since_95"),
          date_format(add_months(col("l_shipdate"), 2), "yyyy-MM-dd")
            .as("plus_2m"))
        .orderBy("l_orderkey", "l_linenumber")),

    // keyed pseudonymization: joinable, irreversible, engine-portable
    "q_pseudonymize" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          graft.functions.Scalars.pseudonymize(col("user_id"), "r3salt")
            .as("user_pseudo"))
        .orderBy("event_id")),

    // string scalar-function surface incl. edit distance
    "q_string_funcs" -> ((s, d) =>
      Tables.supplier(s, d)
        .select(col("s_suppkey"),
          upper(col("s_name")).as("upper_name"),
          length(col("s_name")).as("name_len"),
          lpad(col("s_name"), 25, "*").as("padded"),
          reverse(col("s_name")).as("reversed"),
          substring(col("s_name"), 10, 5).as("mid"),
          regexp_replace(col("s_name"), "#", "-").as("dashed"),
          levenshtein(col("s_name"), lit("Supplier#000000001"))
            .as("edit_dist"))
        .orderBy("s_suppkey")),

    // custom DataSourceV2 read: the synthetic-corpus TableProvider
    // with column pruning + doc_id-range partition pushdown; the
    // oracle regenerates every cell from the same integer arithmetic
    // via generate_series
    "q_synthetic_source" -> ((s, _) =>
      s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "100000").option("parts", "8").load()
        .filter(col("doc_id") >= 1000 && col("doc_id") < 2000)
        .select("doc_id", "source", "n_chars", "text")
        .orderBy("doc_id")),

    // the writable catalog namespace end to end in PURE SQL: create a
    // versioned table, land two INSERT INTO ... SELECT batches on the
    // manifest log, read the snapshot back — the oracle is the source
    // selection itself, so the whole DDL/DML/commit/scan loop is
    // hash-checked
    "q_versioned_sql" -> ((s, d) => {
      // the catalog's options pin at FIRST use (CatalogManager caches
      // per name), so the catalog NAME carries the scale tag —
      // concurrent Verify/Bench processes on different sf dirs get
      // disjoint catalogs AND disjoint roots (the scratch-isolation
      // contract above); DROP-first keeps same-session re-runs
      // deterministic
      val cat = s"graftvq_${scratchTag(d)}"
      val root = Scratch.fresh(s"vsql_${scratchTag(d)}")
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.versionedDir", root)
      s.sql(s"DROP TABLE IF EXISTS $cat.versioned.sales")
      s.sql(s"CREATE TABLE $cat.versioned.sales " +
        "(o_orderkey BIGINT, o_totalprice DOUBLE)")
      Tables.orders(s, d).filter(col("o_orderkey") % 100 === 0)
        .createOrReplaceTempView("__vsql_src")
      s.sql(s"INSERT INTO $cat.versioned.sales " +
        "SELECT o_orderkey, o_totalprice FROM __vsql_src " +
        "WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $cat.versioned.sales " +
        "SELECT o_orderkey, o_totalprice FROM __vsql_src " +
        "WHERE o_orderkey % 2 = 1")
      s.table(s"$cat.versioned.sales").orderBy("o_orderkey")
    }),

    // the DSv2 complete-aggregate pushdown: COUNT/MIN/MAX answered
    // arithmetically from the pruned id range (footer-statistics
    // analogue) — zero rows generated; SyntheticDocsSpec pins the
    // MetaScan plan shape, this pins the values vs the mirror
    "q_synth_agg" -> ((s, _) =>
      s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "100000").option("parts", "8").load()
        .filter(col("doc_id") >= 1000 && col("doc_id") < 2000)
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))),

    // MERGE upsert+delete into a keyed parquet table: bootstrap with a
    // subset, then one merge batch that updates (%5), deletes (%10),
    // and inserts (%5 keys missing from the base) — read back and
    // oracle-check the final table state
    "q_merge_upsert" -> ((s, d) => {
      // fresh bootstrap per run — merge is stateful by design
      val out = Scratch.fresh(s"merge_${scratchTag(d)}")
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      graft.io.MergeTable.merge(s, out,
        orders.filter(col("o_orderkey") % 7 =!= 0), Seq("o_orderkey"))
      val batch = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("__del", col("o_orderkey") % 10 === 0)
      graft.io.MergeTable.merge(s, out, batch, Seq("o_orderkey"),
        deleteCol = Some("__del"))
      s.read.parquet(out).orderBy("o_orderkey")
    }),

    // Deequ-style column profile in ONE scan (int/string columns —
    // min/max stringification of those is engine-portable)
    "q_validate_profile" -> ((s, d) =>
      graft.operators.Validate.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .orderBy("column_name")),

    // constraint suite in one scan: the range and membership checks
    // are deliberately violated (totalprice cap below max, status set
    // missing 'P') so non-zero violation counts get oracle-checked
    "q_validate_check" -> ((s, d) =>
      graft.operators.Validate.check(Tables.orders(s, d), Seq(
        graft.operators.Validate.NotNull("o_custkey"),
        graft.operators.Validate.Unique(Seq("o_orderkey")),
        graft.operators.Validate.InRange("o_totalprice", 1000.0, 400000.0),
        graft.operators.Validate.OneOf("o_orderstatus", Seq("F", "O"))))
        .orderBy("constraint")),

    // one-pass sketch profile next to the exact per-column-pass
    // profile: C columns' null counts, HLL distinct estimates (64
    // register aggs per column), and min/max from a SINGLE scan —
    // the 100 TB form of q_validate_profile
    "q_profile_sketch" -> ((s, d) => {
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus")
      val li = Tables.lineitem(s, d)
      graft.operators.Validate.profileSketch(li, cols)
        .join(graft.operators.Validate.profile(li, cols)
          .select(col("column_name"),
            col("n_distinct").as("exact_distinct")), "column_name")
        .select("column_name", "null_count", "exact_distinct",
          "distinct_est", "min_val", "max_val")
        .orderBy("column_name")
    }),

    // Benford first-digit audit of order totals per priority class:
    // observed vs expected-per-mille counts, integer ‰ deviation —
    // the fabricated-feed detector that fires before range checks do
    "q_benford" -> ((s, d) =>
      graft.operators.Validate.benford(Tables.orders(s, d),
        "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority", "digit")),

    // schema evolution diff: write two snapshot variants (drop a
    // column, add one, narrow a type), diff their parquet FOOTER
    // schemas, report per-column status + reader-compat verdict —
    // the lake pre-flight before swapping a batch in. The expected
    // diff is fully determined by the constructed mutation, so the
    // oracle pins it as a constant — the query's job is proving the
    // write→footer→read round trip reports it faithfully
    "q_schema_diff" -> ((s, d) => {
      val out = Scratch.fresh(s"schemadiff_${scratchTag(d)}")
      val docs = Tables.documents(s, d)
      docs.write.mode("overwrite").parquet(s"$out/v1")
      docs
        .withColumn("n_tokens",
          size(graft.functions.Portable.tokens(col("text"))).cast("long"))
        .drop("lang")
        .withColumn("n_chars", col("n_chars").cast("int"))
        .write.mode("overwrite").parquet(s"$out/v2")
      graft.operators.Validate.schemaDiff(s, s"$out/v1", s"$out/v2")
        .orderBy("column")
    }),

    // snapshot CDC: diff two deterministic versions of orders — keys
    // %10∈{8,9} exist only in "new" (insert), %10∈{0,1} only in "old"
    // (delete), and %3=0 overlap keys get a price bump (update);
    // everything else is unchanged and must NOT appear
    "q_snapshot_diff" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val oldSnap = base.filter(col("o_orderkey") % 10 < 8)
      val newSnap = base.filter(col("o_orderkey") % 10 >= 2)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      graft.io.MergeTable.diffSnapshots(oldSnap, newSnap, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // incremental aggregate refresh (materialized-view maintenance):
    // old agg + CDC diff → only groups 0,1,5,8,9 (by key%10) recompute,
    // groups 2,3,4,6,7 carry over untouched; the oracle is the FULL
    // recompute of the new snapshot — the refresh invariant
    "q_incr_agg" -> ((s, d) => {
      val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .withColumn("grp", (col("o_orderkey") % 10).cast("int"))
      val oldSnap = base.filter(col("o_orderkey") % 10 < 8)
      val newSnap = base.filter(col("o_orderkey") % 10 >= 2)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 5, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aggOf = (df: org.apache.spark.sql.DataFrame) => df.groupBy("grp")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
      val diff = graft.io.MergeTable.diffSnapshots(oldSnap, newSnap,
        Seq("o_orderkey"))
      graft.io.MergeTable.incrementalAggRefresh(
        aggOf(oldSnap), oldSnap, newSnap, diff, Seq("o_orderkey"),
        Seq("grp"))(aggOf)
        .orderBy("grp")
    }),

    // S4 — ORC round-trip: the columnar alternative when the lake
    // standardizes on ORC (Hive shops). Same month-slice shape as the
    // CSV path; values must survive the ORC writer/reader identically.
    "q_orc_roundtrip" -> ((s, d) => {
      val out = Scratch.fresh(s"orc_${scratchTag(d)}")
      attachDim(
        spineDf(s, d).filter(col("ship_date").startsWith("1997-06")),
        Tables.supplier(s, d), "l_suppkey", "s_suppkey", Seq("s_name"))
        .select("ship_date", "l_suppkey", "s_name")
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("ship_date", "l_suppkey")
    }),

    // S4 — CSV round-trip through the exact single-file sink (the
    // reference's {view}.csv layout): write via the rename-based
    // single-file path, re-read with an explicit schema (the CSV
    // carries no types; inferSchema would turn ship_date into a DATE
    // and break hash parity with the string-typed oracle). One month
    // of the spine: single-file CSV is the small-view layout — the
    // full fact path stays multi-part parquet (q_roundtrip).
    "q_csv_roundtrip" -> ((s, d) => {
      val out = Scratch.fresh(s"rt_${scratchTag(d)}.csv")
      graft.io.Csv.write(
        attachDim(
          spineDf(s, d).filter(col("ship_date").startsWith("1997-03")),
          Tables.supplier(s, d), "l_suppkey", "s_suppkey", Seq("s_name"))
          .select("ship_date", "l_suppkey", "s_name"),
        out, singleFile = true)
      graft.io.Csv.read(s, out, Some(
        org.apache.spark.sql.types.StructType.fromDDL(
          "ship_date STRING, l_suppkey BIGINT, s_name STRING")))
        .orderBy("ship_date", "l_suppkey")
    }),

    // Scale-path layout — bucketed co-located join: both sides written
    // bucketed+sorted on the join key, so the SortMergeJoin reads
    // co-located buckets with NO shuffle on either side (ScaleSpec
    // asserts the plan; this row oracle-checks the VALUES through the
    // bucketed write+read+join path).
    "q_bucketed_join" -> ((s, d) => {
      import graft.operators.Scale
      Scale.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_custkey",
          "o_orderstatus"),
        s"bq_orders_${scratchTag(d)}", Seq("o_orderkey"), 8)
      Scale.writeBucketed(
        Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(sum(col("l_quantity")).as("qty")),
        s"bq_liagg_${scratchTag(d)}", Seq("o_orderkey"), 8)
      Scale.bucketedJoin(s, s"bq_orders_${scratchTag(d)}",
        s"bq_liagg_${scratchTag(d)}",
        Seq("o_orderkey"), "inner")
        .select(col("o_orderkey"), col("o_orderstatus"), col("qty"))
        .orderBy("o_orderkey")
    }),

    // bloom-pruned join: lineitem filtered ROW-LOCALLY by a bloom
    // sketch of the urgent orders' keys before any shuffle; false
    // positives die in the join, so the oracle is the PLAIN join —
    // the pruning is invisible to correctness by construction
    "q_bloom_semijoin" -> ((s, d) => {
      import graft.operators.Scale
      Scale.bloomPrunedJoin(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_returnflag", "l_quantity"),
        Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey"),
        "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Per-group top-k through the custom bounded-heap operator: the
    // query is written in the STOCK row_number+filter form; the
    // GroupedTopKRule/Strategy (GraftExtensions) swap in
    // graft.plans.GroupedTopKExec — same rows, same ranks, no
    // per-group sort (GroupedTopKSpec asserts the plan)
    "q_group_topk" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      Tables.lineitem(s, d)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("rn").cast("long").as("rn"))
        .orderBy("l_suppkey", "rn")
    }),

    // Scale-path diagnostic — top heavy keys + suggested salt factor,
    // the pre-flight a 100 TB join runs before picking saltedJoin's
    // replication (or trusting AQE skew split)
    "q_skew_report" -> ((s, d) =>
      graft.operators.Scale.skewReport(Tables.events(s, d), "user_id", 10)),

    // global dense ids via sort + zipWithIndex — the distributed
    // replacement for the single-partition global window
    "q_dense_ids" -> ((s, d) =>
      graft.operators.Scale.denseIds(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        Seq(col("source"), col("n_chars").desc, col("doc_id")), "rid")
        .orderBy("rid")),

    // range-shard layout plan: the explicit, auditable form of what
    // repartitionByRange samples — integer-arithmetic shard cutoffs
    // over the length-key histogram, per-shard row/key/token stats
    "q_shard_plan" -> ((s, d) =>
      graft.operators.Scale.shardPlan(
        Tables.documents(s, d).withColumn("n_tokens",
          size(graft.functions.Portable.tokens(col("text")))),
        "n_chars", "n_tokens", 8)),

    // S5 — JDBC round-trip through an embedded Derby database (the
    // derby jars ship with Spark): overwrite-mode write with the
    // reference's 1000-row batching, then spark.read.jdbc back. The
    // oracle recomputes the aggregate directly, so a hash match proves
    // the sink+source preserve values (decimal money sums stay
    // bit-exact through Derby's DOUBLE).
    "q_jdbc_roundtrip" -> ((s, d) => {
      val agg = Tables.supplier(s, d)
        .join(Tables.nation(s, d),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          moneySum(col("s_acctbal")).as("total_acctbal"))
      // the PRODUCTION distributed sink/source under EVERY master:
      // the remote-JDBC bridge fronts embedded Derby over TCP, so
      // executor JVMs (in-process or real, under local-cluster) run
      // Spark's own JDBC write/read against a network endpoint —
      // retiring the former driver-local embedded fallback
      graft.io.RemoteJdbc.registerDialect()
      val server = new graft.io.RemoteJdbc.Server(
        s"jdbc:derby:memory:graftverify_${scratchTag(d)};create=true")
      val port = server.start()
      try {
        val cfg = graft.io.Jdbc.JdbcConfig(
          url = s"jdbc:graftremote://localhost:$port/",
          user = "", password = "",
          driver = classOf[graft.io.RemoteJdbcDriver].getName,
          numPartitions = 2)
        graft.io.Jdbc.write(agg, "jdbc_rt", cfg)
        // materialize the read-back BEFORE the server stops: the
        // returned frame must not capture a dead endpoint
        val back = graft.io.Jdbc.read(s, "jdbc_rt", cfg)
          .orderBy("n_name").localCheckpoint()
        back
      } finally server.stop()
    }),

    // Flagship — pricing summary (TPC-H Q1 shape), exact decimal money.
    "q_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneyProductSum(col("l_extendedprice"), lit(1) - col("l_discount"))
            .as("sum_disc_price"),
          count(col("l_quantity")).as("count_order"),
          (sum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")),

    // incremental JOIN-agg view maintenance against a STORED view:
    // revenue by (nation, customer) — fine-grained groups on the DIM
    // side — built once from the old snapshot, laid out
    // hash-partitioned on the group key (ViewTable.AggParts), then
    // refreshed from a small CDC batch (updates %499, deletes %701) by
    // SELF-MAINTAINING deltas: only changed-key rows are enriched, the
    // stored view is read/rewritten on touched partitions only — no
    // untouched fact or view row is ever re-read. Oracle = full
    // recompute over the new snapshot (the MV-maintenance invariant).
    "q_incr_joinagg" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(18, 2)
      def rev(price: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        (price.cast(dec) * (lit(1) - col("l_discount")).cast(dec))
          .as("revenue")
      val li = Tables.lineitem(s, d)
      def enrich(f: DataFrame): DataFrame = f
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
      val groupCols = Seq("n_name", "c_name")
      // FIXED per-(process, sf) scratch path, cleared per invocation:
      // bench/verify sweeps run this query repeatedly (one live copy,
      // no accumulation), and the PID-keyed root means two concurrent
      // harness processes on the SAME sf never interleave stateful
      // write/refresh cycles on one view (the r12 advice scenario)
      val path = Scratch.fresh(s"mv_${scratchTag(d)}/view")
      // view build: ONE honest pass over the old snapshot
      val oldView = enrich(li)
        .select(col("n_name"), col("c_name"), rev(col("l_extendedprice")))
        .groupBy(groupCols.map(col): _*)
        .agg(sum("revenue").as("revenue"), count(lit(1)).as("n_lines"))
      graft.io.MaintainedAgg.write(oldView, groupCols, path,
        Seq("revenue"), "n_lines")
      // CDC batch: changed keys only — enriched ONCE, materialized
      val changed = enrich(li.filter(
        col("l_orderkey") % 499 === 0 || col("l_orderkey") % 701 === 0))
        .select(col("n_name"), col("c_name"), col("l_orderkey"),
          col("l_extendedprice"), col("l_discount"))
        .localCheckpoint()
      val removed = changed
        .select(col("n_name"), col("c_name"), rev(col("l_extendedprice")))
      val added = changed
        .filter(col("l_orderkey") % 701 =!= 0)
        .select(col("n_name"), col("c_name"),
          rev(col("l_extendedprice") + 1.0))
      graft.io.MaintainedAgg.deltaRefresh(s, path, removed, added,
        groupCols, Seq("revenue"), "n_lines")
      graft.io.MaintainedAgg.read(s, path)
        .select(col("n_name"), col("c_name"),
          col("revenue").cast("double").as("revenue"), col("n_lines"))
        .orderBy("n_name", "c_name")
    }),

    // extrema-maintained view (min/max are NOT self-maintainable under
    // deletes): per-nation min/max price + count stored hash-
    // partitioned, then one CDC batch — deletes that REMOVE several
    // nations' extremes (dirty → recompute from the new snapshot's
    // touched groups only), an update wave, and inserts. The refresh
    // must land bit-equal to the full recompute the oracle runs.
    "q_incr_minmax" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(18, 2)
      val li = Tables.lineitem(s, d)
      def rows(f: DataFrame): DataFrame = f
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").as("nk"),
          col("l_extendedprice").cast(dec).as("price"))
      val path = Scratch.fresh(s"mmv_${scratchTag(d)}/view")
      val oldF = li.filter(col("l_orderkey") % 13 =!= 0)
      graft.io.MaintainedAgg.writeMinMax(rows(oldF), Seq("nk"), path,
        Seq("price"), "n")
      val removed = rows(oldF.filter(
        col("l_orderkey") % 7 === 0 || col("l_orderkey") % 11 === 0))
      val added = rows(oldF.filter(col("l_orderkey") % 7 === 0 &&
          col("l_orderkey") % 11 =!= 0))
        .select(col("nk"),
          (col("price") + lit(1).cast(dec)).cast(dec).as("price"))
        .unionByName(rows(li.filter(col("l_orderkey") % 13 === 0)))
      val newRows = rows(li.filter(col("l_orderkey") % 11 =!= 0 ||
          col("l_orderkey") % 13 === 0)
        .withColumn("l_extendedprice",
          when(col("l_orderkey") % 7 === 0 && col("l_orderkey") % 11 =!= 0
              && col("l_orderkey") % 13 =!= 0,
            col("l_extendedprice") + 1.0)
            .otherwise(col("l_extendedprice"))))
      graft.io.MaintainedAgg.deltaRefreshMinMax(s, path, removed, added,
        Seq("nk"), Seq("price"), "n", batchId = 1L) { dirty =>
        // fact-side recompute of exactly the dirty groups: the semi-
        // join pushes into the (broadcast) supplier-joined scan
        newRows.join(broadcast(dirty), Seq("nk"), "left_semi")
      }
      graft.io.MaintainedAgg.read(s, path)
        .select(col("nk"),
          col("min_price").cast("double").as("min_price"),
          col("max_price").cast("double").as("max_price"), col("n"))
        .orderBy("nk")
    }),

    // versioned-log time travel: three commits (overwrite, append,
    // overwrite), every historical snapshot read back and aggregated —
    // the q_sig_lifecycle of the manifest table log
    "q_time_travel" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val path = Scratch.fresh(s"tt_${scratchTag(d)}/t")
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.io.Versioned.commit(s, path,
        o.filter(col("o_orderkey") % 10 < 5))
      graft.io.Versioned.commit(s, path,
        o.filter(col("o_orderkey") % 10 >= 5), mode = "append")
      graft.io.Versioned.commit(s, path,
        o.filter(col("o_orderstatus") === "F"), mode = "overwrite")
      graft.io.Versioned.versions(s, path).map { v =>
        graft.io.Versioned.read(s, path, Some(v))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select("version", "n", "total")
        .orderBy("version")
    }),

    // TPC-H Q3 shape (shipping priority): the classic sel-join-agg-topk
    // — date filters push to both scans, the filtered BUILDING
    // customer dim broadcasts, top-10 is TakeOrdered (no global sort)
    "q_tpch_q3" -> ((s, d) => {
      val cutoff = lit("1996-03-15").cast("timestamp")
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(moneyProductSum(col("l_extendedprice"),
          lit(1) - col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc,
          col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc,
          col("l_orderkey").asc)
    }),

    // TPC-H Q5 shape (local supplier volume): the 6-way star join —
    // region/nation broadcast; customer and supplier stay shuffle
    // joins (at 100 TB those dims are 1e8+ rows, not broadcastable),
    // with the c_nationkey = s_nationkey locality predicate applied on
    // co-located rows
    "q_tpch_q5" -> ((s, d) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      Tables.lineitem(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(moneyProductSum(col("l_extendedprice"),
          lit(1) - col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // TPC-H Q7 shape (volume shipping): revenue between two nation
    // PAIRS by ship year — the dual-role dimension join (nation joins
    // once through customer, once through supplier) with a pair
    // predicate; both nation legs broadcast, supplier/customer stay
    // shuffle joins like Q5
    "q_tpch_q7" -> ((s, d) => {
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("cust_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("supp_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("cust_nk"))
        .filter((col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(moneyProductSum(col("l_extendedprice"),
          lit(1) - col("l_discount")).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q18 shape (large-volume customers): aggregate-then-semi-
    // join-back — the HAVING subquery becomes a map-side-combined
    // groupBy whose survivors (a tiny frame) semi-join the fact before
    // the customer join; decimal sums so the threshold cut is
    // partition-order-free
    "q_tpch_q18" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.lineitem(s, d)
      val big = li.groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 6))).as("__q"))
        .filter(col("__q") > 300)
        .select(col("l_orderkey").as("o_orderkey"),
          col("__q").cast("double").as("sum_qty"))
      Tables.orders(s, d).join(big, "o_orderkey")
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
        .limit(100)
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
    }),

    // TPC-H Q1 shape (pricing summary): the canonical full-scan
    // agg — 4 decimal money sums + 3 averages + count over 2 group
    // keys; averages computed as exact-decimal-sum ÷ count in DOUBLE
    // (identical operands on both engines → identical IEEE result),
    // never a float running sum. Map-side partial agg does ~all the
    // work; the exchange carries ≤ |flag×status| rows per partition.
    "q_tpch_q1" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      val dq = col("l_quantity").cast(DecimalType(18, 6))
      val dp = col("l_extendedprice").cast(DecimalType(18, 2))
      val dd = (lit(1) - col("l_discount")).cast(DecimalType(18, 2))
      val dt = (lit(1) + col("l_tax")).cast(DecimalType(18, 2))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(dq).as("__sq"), sum(dp).as("__sp"),
          sum(dp * dd).as("__sdp"), sum(dp * dd * dt).as("__sc"),
          sum(col("l_discount").cast(DecimalType(18, 2))).as("__sd"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("__sq").cast("double").as("sum_qty"),
          col("__sp").cast("double").as("sum_base_price"),
          col("__sdp").cast("double").as("sum_disc_price"),
          col("__sc").cast("double").as("sum_charge"),
          (col("__sq").cast("double") / col("count_order")).as("avg_qty"),
          (col("__sp").cast("double") / col("count_order")).as("avg_price"),
          (col("__sd").cast("double") / col("count_order")).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q6 shape (forecast revenue): pure scan-filter-agg; all
    // three predicates push to the parquet reader, the agg is one
    // decimal product sum — the cheapest possible full-table shape.
    "q_tpch_q6" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(moneyProductSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))),

    // TPC-H Q10 shape (returned items): fact-side filters first, one
    // quarter of orders, returnflag'd lineitem, customer stays a
    // shuffle join (1e8+ rows at scale), nation broadcasts; top-20 by
    // lost revenue is TakeOrdered.
    "q_tpch_q10" -> ((s, d) => {
      val lo = lit("1996-10-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(moneyProductSum(col("l_extendedprice"),
          lit(1) - col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
    }),

    // TPC-H Q12 shape (shipping priority histogram): join + dual
    // conditional counts. Adapted: no ship mode / commit dates in the
    // harness — "late" is shipdate > orderdate + 90 days, split by
    // line status.
    "q_tpch_q12" -> ((s, d) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") +
          expr("INTERVAL 90 DAYS"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_linestatus")
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q14 shape (promotion effect): join + ratio of two
    // conditional decimal sums; the division happens once in DOUBLE
    // on two exact operands (same values both engines).
    "q_tpch_q14" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dp = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(18, 2))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", dp)
            .otherwise(lit(0).cast(DecimalType(18, 2)))).as("__promo"),
          sum(dp).as("__total"))
        .select((lit(100.0) * col("__promo").cast("double") /
          col("__total").cast("double")).as("promo_revenue"))
    }),

    // TPC-H Q19 shape (discounted revenue): the OR-of-ANDs join
    // predicate across both sides — Catalyst extracts the common
    // l_partkey = p_partkey equi-key so this stays an equi-join with
    // a residual filter, never a cartesian (PlanAuditSpec pins it).
    "q_tpch_q19" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val cond = col("l_partkey") === col("p_partkey") && (
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 20) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#20" && col("p_size").between(1, 30) &&
          col("l_quantity").between(20, 30)))
      li.join(broadcast(p), cond)
        .agg(moneyProductSum(col("l_extendedprice"),
          lit(1) - col("l_discount")).as("revenue"))
    }),

    // The SQL-TEXT TPC-H family (Q2/Q4/Q9/Q11/Q13/Q15/Q16/Q17/Q20/
    // Q21/Q22) is appended programmatically below the Map literal:
    // each runs
    // through `spark.sql` so CATALYST performs the subquery
    // decorrelation being exercised (correlated scalar avg → agg+join,
    // IN/EXISTS → semi joins, NOT IN → null-aware anti join, NOT
    // EXISTS → anti join; PlanAuditSpec pins the plans), and the
    // oracle runs the SAME string.

    // Headline join-agg — revenue by nation (broadcast dims over fact).
    "q_joinagg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(moneyProductSum(col("l_extendedprice"),
               lit(1) - col("l_discount")).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    }),
  ) ++ tpchTextNames.map { n =>
    n -> ((s: SparkSession, d: String) => {
      registerTpchViews(s, d)
      // the Spark path reads the registered `partsupp` view (stored on
      // ScaleUp dirs — the true TPC-H shapes; memoized-derived on the
      // harness dirs); Q2 additionally runs its scale form (one
      // relation pass, window min) — the correlated original remains
      // the oracle and the catalog-parity text, hash-equal results
      if (n == "q_tpch_q2") s.sql(tpchQ2WindowSql(identity, "partsupp"))
      else s.sql(tpchTextSql(n, identity, "partsupp"))
    })
  }.toMap

  val oracleSql: Map[String, String] = Map(
    "q_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_drop" ->
      """SELECT p_partkey, p_name, p_type, p_size FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q_filter_null" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment IS NOT NULL AND c_mktsegment <> ''
        |ORDER BY c_custkey""".stripMargin,

    "q_having" ->
      """SELECT l_suppkey, l_partkey, COUNT(l_quantity) AS n_obs
        |FROM lineitem GROUP BY 1, 2 HAVING COUNT(l_quantity) >= 3
        |ORDER BY l_suppkey, l_partkey""".stripMargin,

    "q_anti" ->
      """WITH sparse AS (
        |  SELECT l_suppkey, l_partkey FROM lineitem
        |  GROUP BY 1, 2 HAVING COUNT(l_quantity) < 3)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_partkey
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM sparse s
        |  WHERE s.l_suppkey = l.l_suppkey AND s.l_partkey = l.l_partkey)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,

    "q_groupcount" ->
      """SELECT l_suppkey, COUNT(l_extendedprice) AS n_price,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY l_suppkey""".stripMargin,

    "q_distinctcount" ->
      """SELECT COUNT(DISTINCT l_suppkey) AS n_supp,
        |       COUNT(DISTINCT l_partkey) AS n_part
        |FROM lineitem""".stripMargin,

    "q_spine" ->
      """SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |       l_suppkey
        |FROM (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |      UNION ALL
        |      SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01')
        |ORDER BY ship_date, l_suppkey""".stripMargin,

    "q_leftjoin" ->
      """SELECT sp.ship_date, sp.l_suppkey, s.s_name
        |FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |             l_suppkey FROM lineitem) sp
        |LEFT JOIN supplier s ON sp.l_suppkey = s.s_suppkey
        |ORDER BY sp.ship_date, sp.l_suppkey""".stripMargin,

    "q_multijoin" ->
      """SELECT sp.ship_month, sp.l_suppkey, o.qty_o, f.qty_f
        |FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |             l_suppkey FROM lineitem) sp
        |LEFT JOIN (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |                  l_suppkey, SUM(l_quantity) AS qty_o
        |           FROM lineitem WHERE l_linestatus = 'O'
        |           GROUP BY 1, 2) o USING (ship_month, l_suppkey)
        |LEFT JOIN (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |                  l_suppkey, SUM(l_quantity) AS qty_f
        |           FROM lineitem WHERE l_linestatus = 'F'
        |           GROUP BY 1, 2) f USING (ship_month, l_suppkey)
        |ORDER BY sp.ship_month, sp.l_suppkey""".stripMargin,

    "q_pivot" ->
      """SELECT sp.ship_month, sp.l_suppkey, o.qty_o, f.qty_f
        |FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |             l_suppkey FROM lineitem) sp
        |LEFT JOIN (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |                  l_suppkey, SUM(l_quantity) AS qty_o
        |           FROM lineitem WHERE l_linestatus = 'O'
        |           GROUP BY 1, 2) o USING (ship_month, l_suppkey)
        |LEFT JOIN (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |                  l_suppkey, SUM(l_quantity) AS qty_f
        |           FROM lineitem WHERE l_linestatus = 'F'
        |           GROUP BY 1, 2) f USING (ship_month, l_suppkey)
        |ORDER BY sp.ship_month, sp.l_suppkey""".stripMargin,

    "q_dedupkey" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY o_custkey, o_orderstatus ORDER BY o_orderkey) = 1
        |ORDER BY o_orderkey""".stripMargin,

    "q_topk" ->
      """WITH sparse AS (
        |  SELECT l_suppkey, l_partkey FROM lineitem
        |  GROUP BY 1, 2 HAVING COUNT(l_quantity) < 3)
        |SELECT l.l_suppkey, COUNT(*) AS n_eliminated FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM sparse s
        |  WHERE s.l_suppkey = l.l_suppkey AND s.l_partkey = l.l_partkey)
        |GROUP BY 1 ORDER BY n_eliminated DESC, l.l_suppkey LIMIT 5""".stripMargin,

    "q_entity_catalog" ->
      """WITH merged AS (
        |  SELECT DISTINCT s_name AS nombre, 'Proveedor' AS tipo,
        |         'Proveedores del sistema' AS descripcion
        |  FROM supplier WHERE s_name IS NOT NULL
        |  UNION ALL
        |  SELECT DISTINCT c_name, 'Cliente', 'Clientes del sistema'
        |  FROM customer WHERE c_name IS NOT NULL)
        |SELECT CAST(row_number() OVER (ORDER BY tipo, nombre) AS BIGINT)
        |    AS id, nombre, tipo, descripcion
        |FROM merged ORDER BY tipo, nombre""".stripMargin,

    "q_rownum" ->
      """SELECT ROW_NUMBER() OVER (
        |    ORDER BY n_name NULLS FIRST, s_name NULLS FIRST) AS rn,
        |       s_name, n_name
        |FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY rn""".stripMargin,

    "q_coerce" ->
      """SELECT o_orderkey,
        |       TRY_CAST(CASE WHEN o_orderkey % 10 = 0 THEN 'n/a'
        |                     ELSE CAST(o_custkey AS VARCHAR) END
        |                AS DOUBLE) AS val_coerced
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_roundtrip" ->
      """SELECT sp.ship_date, sp.l_suppkey, s.s_name
        |FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |             l_suppkey FROM lineitem) sp
        |LEFT JOIN supplier s ON sp.l_suppkey = s.s_suppkey
        |ORDER BY sp.ship_date, sp.l_suppkey""".stripMargin,

    "q_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_date_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |  strftime(date_trunc('month', l_shipdate), '%Y-%m-%d')
        |    AS month_start,
        |  strftime(last_day(CAST(l_shipdate AS DATE)), '%Y-%m-%d')
        |    AS month_end,
        |  CAST(dayofweek(l_shipdate) + 1 AS INT) AS dow,
        |  CAST(CAST(l_shipdate AS DATE) - DATE '1995-01-01' AS INT)
        |    AS days_since_95,
        |  strftime(CAST(l_shipdate AS DATE) + INTERVAL 2 MONTH,
        |           '%Y-%m-%d') AS plus_2m
        |FROM lineitem WHERE l_orderkey % 50 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_pseudonymize" ->
      """SELECT event_id,
        |  substr(sha256('r3salt' || '|' || CAST(user_id AS VARCHAR)),
        |    1, 16) AS user_pseudo
        |FROM events ORDER BY event_id""".stripMargin,

    "q_string_funcs" ->
      """SELECT s_suppkey,
        |  upper(s_name) AS upper_name,
        |  CAST(length(s_name) AS INT) AS name_len,
        |  lpad(s_name, 25, '*') AS padded,
        |  reverse(s_name) AS reversed,
        |  substr(s_name, 10, 5) AS mid,
        |  regexp_replace(s_name, '#', '-', 'g') AS dashed,
        |  CAST(levenshtein(s_name, 'Supplier#000000001') AS INT)
        |    AS edit_dist
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_synthetic_source" ->
      s"""SELECT ${graft.sources.SyntheticDocs.oracleSelectList}
         |FROM generate_series(1000, 1999) t(id)
         |ORDER BY doc_id""".stripMargin,

    "q_versioned_sql" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "q_synth_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM generate_series(1000, 1999) t(id)""".stripMargin,

    // final table = (base keys not touched) ∪ (non-deleted updates):
    // kept iff (%7≠0 OR %5=0) AND %10≠0; status 'U' on every %5 key
    "q_merge_upsert" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 5 = 0 THEN 'U'
        |       ELSE o_orderstatus END AS o_orderstatus
        |FROM orders
        |WHERE (o_orderkey % 7 <> 0 OR o_orderkey % 5 = 0)
        |  AND o_orderkey % 10 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    "q_validate_profile" -> {
      def row(c: String) =
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS null_count,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .map(row).mkString("", "\nUNION ALL\n",
          "\nORDER BY column_name")
    },

    "q_schema_diff" ->
      """SELECT * FROM (VALUES
        |  ('doc_id', 'unchanged', 'bigint', 'bigint', 'ok'),
        |  ('lang', 'removed', 'string', CAST(NULL AS VARCHAR), 'break'),
        |  ('n_chars', 'retyped', 'bigint', 'int', 'break'),
        |  ('n_tokens', 'added', CAST(NULL AS VARCHAR), 'bigint', 'ok'),
        |  ('source', 'unchanged', 'string', 'string', 'ok'),
        |  ('text', 'unchanged', 'string', 'string', 'ok'))
        |  AS t("column", status, old_type, new_type, compat)
        |ORDER BY "column"""".stripMargin,

    "q_validate_check" ->
      """WITH a AS (SELECT
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v_notnull,
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |    AS v_unique,
        |  CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 1000.0 OR o_totalprice > 400000.0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |  CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_oneof
        |FROM orders)
        |SELECT t.* FROM a, LATERAL (VALUES
        |  ('not_null(o_custkey)', a.v_notnull, a.v_notnull = 0),
        |  ('unique(o_orderkey)', a.v_unique, a.v_unique = 0),
        |  ('in_range(o_totalprice,1000.0,400000.0)', a.v_range,
        |   a.v_range = 0),
        |  ('one_of(o_orderstatus)', a.v_oneof, a.v_oneof = 0))
        |  t("constraint", violations, passed)
        |ORDER BY "constraint"""".stripMargin,

    "q_profile_sketch" -> {
      import graft.operators.Sketches
      val m = Sketches.HllM
      val rhoMax = 32 - Sketches.HllB + 1
      val alphaM2 = Sketches.HllAlpha * m * m
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus")
      val ctes = cols.map { c =>
        val hv = graft.functions.Portable.hash32Sql(s"CAST($c AS VARCHAR)")
        s"""p_$c AS (SELECT
           |    CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS null_count,
           |    CAST(count(DISTINCT $c) AS BIGINT) AS exact_distinct,
           |    CAST(min($c) AS VARCHAR) AS min_val,
           |    CAST(max($c) AS VARCHAR) AS max_val
           |  FROM lineitem),
           |r_$c AS (SELECT hv % $m AS bucket,
           |    max(CASE WHEN hv // $m > 0
           |        THEN $rhoMax - length(bin(hv // $m)) ELSE $rhoMax END) AS m
           |  FROM (SELECT $hv AS hv FROM lineitem WHERE $c IS NOT NULL)
           |  GROUP BY 1),
           |e_$c AS (SELECT count(*) AS present,
           |    sum(1.0 / CAST(1::BIGINT << m AS DOUBLE)) AS s_present
           |  FROM r_$c)""".stripMargin
      }.mkString(",\n")
      val selects = cols.map { c =>
        s"""SELECT '$c' AS column_name, p.null_count, p.exact_distinct,
           |  round($alphaM2 / (($m - coalesce(e.present, 0))
           |    + coalesce(e.s_present, 0.0)), 4) AS distinct_est,
           |  p.min_val, p.max_val
           |FROM p_$c p CROSS JOIN e_$c e""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $ctes
         |$selects
         |ORDER BY column_name""".stripMargin
    },

    "q_benford" -> {
      val vals = graft.operators.Validate.BenfordPermille.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH v AS (SELECT o_orderpriority,
         |    CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM orders
         |  WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0),
         |obs AS (SELECT o_orderpriority, digit, count(*) AS obs
         |  FROM v GROUP BY 1, 2),
         |n AS (SELECT o_orderpriority, count(*) AS n FROM v GROUP BY 1),
         |e(digit, exp_permille) AS (VALUES $vals)
         |SELECT obs.o_orderpriority, obs.digit, obs.obs, n.n,
         |  e.exp_permille,
         |  abs(1000 * obs.obs - n.n * e.exp_permille) AS dev
         |FROM obs
         |JOIN n USING (o_orderpriority)
         |JOIN e USING (digit)
         |ORDER BY obs.o_orderpriority, obs.digit""".stripMargin
    },

    // mirror of diffSnapshots: full-outer on the key, unchanged rows
    // filtered with IS DISTINCT FROM (the SQL spelling of non-<=>)
    "q_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 < 8),
        |n AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 >= 2)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN n.o_orderkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS change_type,
        |  CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
        |       ELSE n.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice
        |       ELSE n.o_totalprice END AS o_totalprice
        |FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |ORDER BY o_orderkey""".stripMargin,

    // the refresh invariant IS the oracle: incremental splice must
    // equal the full recompute over the new snapshot
    "q_incr_agg" ->
      """WITH n AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS p,
        |    CAST(o_orderkey % 10 AS INT) AS grp
        |  FROM orders WHERE o_orderkey % 10 >= 2)
        |SELECT grp, count(*) AS n,
        |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM n GROUP BY grp ORDER BY grp""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT sp.ship_date, sp.l_suppkey, s.s_name
        |FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |             l_suppkey FROM lineitem
        |      WHERE strftime(l_shipdate, '%Y-%m') = '1997-06') sp
        |LEFT JOIN supplier s ON sp.l_suppkey = s.s_suppkey
        |ORDER BY sp.ship_date, sp.l_suppkey""".stripMargin,

    // CSV round-trip is value-identical to the parquet one on its
    // month slice: the sink serializes and the explicit-schema re-read
    // restores the same (string, bigint, string) row set
    "q_csv_roundtrip" ->
      """SELECT sp.ship_date, sp.l_suppkey, s.s_name
        |FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |             l_suppkey FROM lineitem
        |      WHERE strftime(l_shipdate, '%Y-%m') = '1997-03') sp
        |LEFT JOIN supplier s ON sp.l_suppkey = s.s_suppkey
        |ORDER BY sp.ship_date, sp.l_suppkey""".stripMargin,

    // the oracle recomputes the join directly — equality proves the
    // bucketed write+read+join path preserves values
    "q_bucketed_join" ->
      """SELECT o.o_orderkey, o.o_orderstatus, li.qty
        |FROM orders o
        |JOIN (SELECT l_orderkey, SUM(l_quantity) AS qty
        |      FROM lineitem GROUP BY 1) li
        |  ON o.o_orderkey = li.l_orderkey
        |ORDER BY o.o_orderkey""".stripMargin,

    "q_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n_items, SUM(l_quantity) AS sum_qty
        |FROM lineitem li
        |JOIN (SELECT o_orderkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT') o
        |  ON li.l_orderkey = o.o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_group_topk" ->
      """WITH r AS (SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_suppkey, l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity,
        |  CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,

    // explicit NULLS placement: Spark sorts NULLS FIRST on ASC and
    // NULLS LAST on DESC; DuckDB's defaults differ, so spell it out
    "q_dense_ids" ->
      """SELECT doc_id, source, n_chars,
        |  row_number() OVER (ORDER BY source ASC NULLS FIRST,
        |    n_chars DESC NULLS LAST, doc_id ASC NULLS FIRST) AS rid
        |FROM documents ORDER BY rid""".stripMargin,

    "q_shard_plan" -> {
      val n = 8
      s"""WITH base AS (SELECT n_chars AS key,
         |    len(${graft.functions.Portable.tokensSql("text")}) AS w
         |  FROM documents WHERE n_chars IS NOT NULL),
         |hist AS (SELECT key, count(*) AS cnt,
         |    CAST(sum(w) AS BIGINT) AS wsum
         |  FROM base GROUP BY key),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM hist),
         |cum AS (SELECT key, cnt, wsum,
         |    CAST(sum(cnt) OVER (ORDER BY key) AS BIGINT) AS cum
         |  FROM hist),
         |sh AS (SELECT key, cnt, wsum,
         |    CAST(((cum - cnt) * $n) // total AS INT) AS shard
         |  FROM cum, tot)
         |SELECT shard, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  count(*) AS n_keys, min(key) AS min_key, max(key) AS max_key,
         |  CAST(sum(wsum) AS BIGINT) AS total_weight
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    },

    "q_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |s AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM c)
        |SELECT c.user_id, c.cnt,
        |  round(CAST(c.cnt AS DOUBLE) / s.total, 6) AS row_share,
        |  CAST(ceil(CAST(c.cnt AS DOUBLE) * s.n_keys / s.total) AS BIGINT)
        |    AS suggested_salt
        |FROM c, s ORDER BY c.cnt DESC, c.user_id ASC LIMIT 10""".stripMargin,

    // the oracle recomputes the aggregate the Spark side pushed
    // through Derby — equality proves sink+source value fidelity
    "q_jdbc_roundtrip" ->
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_disc_price,
        |  COUNT(l_quantity) AS count_order,
        |  SUM(l_quantity) / COUNT(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // the oracle IS the invariant: maintained view ≡ full recompute
    // over the new snapshot (updates %499 price-bumped, deletes %701)
    "q_incr_joinagg" ->
      """WITH newf AS (SELECT l_orderkey, l_discount,
        |    CASE WHEN l_orderkey % 499 = 0 THEN l_extendedprice + 1.0
        |         ELSE l_extendedprice END AS l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 701 <> 0)
        |SELECT n_name, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_lines
        |FROM newf
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY n_name, c_name""".stripMargin,

    "q_incr_minmax" ->
      """WITH newf AS (SELECT l_suppkey,
        |    CASE WHEN l_orderkey % 7 = 0 AND l_orderkey % 11 <> 0
        |              AND l_orderkey % 13 <> 0
        |         THEN l_extendedprice + 1.0
        |         ELSE l_extendedprice END AS price
        |  FROM lineitem WHERE l_orderkey % 11 <> 0 OR l_orderkey % 13 = 0)
        |SELECT s_nationkey AS nk,
        |  CAST(min(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
        |  CAST(max(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
        |  COUNT(*) AS n
        |FROM newf JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY nk""".stripMargin,

    "q_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 10 < 5
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY version""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-03-15'
        |  AND l_shipdate > TIMESTAMP '1996-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
        |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey AS o_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |      AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  round(o_totalprice, 2) AS o_totalprice, sum_qty
        |FROM orders
        |JOIN big USING (o_orderkey)
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(18,2))
        |    * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY l_linestatus""".stripMargin,

    "q_tpch_q14" ->
      """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1 - l_discount AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,

    "q_tpch_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |  * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 20
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 30
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q_joinagg" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin,
  ) ++ tpchTextNames.map(n => n -> tpchTextSql(n, identity)).toMap
}
