package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-data scale-up: replicate an sf directory `factor`× with
  * entity-key offsetting, so the bench can run at sf1.0-equivalent
  * volume (10× sf0.1) — past the page cache, into real shuffle spill
  * and AQE coalescing — without inventing new generators. Replica r's
  * foreign keys are offset by r·(max_key+1) consistently across
  * tables, so join fan-outs per key are IDENTICAL to the source sf:
  * the data gets bigger, not weirder. Dimension tables with fixed
  * cardinality (region, nation) are copied as-is, exactly like TPC-H
  * scaling.
  *
  * Document TEXT gets a per-replica token prefix (`r3_word`), which
  * disjoins the replicas' token/shingle spaces: each replica carries
  * the source corpus's near-dup structure but NO cross-replica
  * similarity, so dedup/pair queries scale linearly in data volume
  * instead of quadratically in clone-cluster size (verbatim
  * replication would make every doc a factor-sized exact-dup cluster
  * and conflate output explosion with plan regressions). EMBEDDINGS
  * are replicated verbatim (no text to disjoin) — embedding-pair and
  * brute-force-ANN queries therefore scale superlinearly BY
  * CONSTRUCTION at this leg (queries × corpus both grow), which the
  * bench table calls out rather than hides.
  *
  * Bench-tooling only: correctness always runs against the
  * driver-generated sf directories.
  *
  * SKEW MODE (4th arg `skew`): real corpora are zipfian, not uniform —
  * replication alone cannot surface the stragglers a mega-cluster or
  * head-token distribution causes. Skew mode reshapes DOCUMENTS while
  * scaling:
  *   - MEGA-CLUSTER: docs with `doc_id % 100 == 0` get one SHARED
  *     text across all docs and replicas — a single exact-dup cluster
  *     of (ndocs/100)·factor members (500 at the sf1-skew leg), the worst case for band-bucket
  *     fan-out (every member lands in the SAME LSH buckets).
  *   - CLONE HEAD: docs with `doc_id % 50 == 0` keep their text
  *     VERBATIM across replicas (no per-replica token prefix) —
  *     factor-sized exact-dup clusters, a zipf head of cluster sizes.
  *   - HEAD TOKENS: a third of docs (`doc_id % 3 == 0`) get three
  *     constant head tokens prepended — token/shingle frequency gets
  *     the heavy head that breaks uniform-frequency assumptions in
  *     tf/shingle aggregations.
  * Everything else scales exactly as the uniform mode, so a skew-leg
  * regression isolates to the skew machinery (band-bucket caps,
  * AQE skew joins), not data volume.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> <factor> [skew]
  */
object ScaleUp {

  /** Tables replicated with these key columns offset; absent = copy. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
  )
  private val copyAsIs = Seq("region", "nation")

  /** Offsets must be consistent ACROSS tables (orders.o_custkey and
    * customer.c_custkey must shift by the same stride), so the stride
    * for each key family comes from its owning table.
    */
  private def stride(spark: SparkSession, src: String, table: String,
                     col0: String): Long = {
    val df = spark.read.parquet(s"$src/$table.parquet")
    // key columns are integral but not necessarily LongType
    df.agg(max(col(col0))).head().getAs[Number](0).longValue() + 1L
  }

  def scaleTable(df: DataFrame, cols: Map[String, Long], factor: Int,
                 dropReplica: Boolean = true): DataFrame = {
    val rep = df.sparkSession.range(factor.toLong)
      .withColumnRenamed("id", "__r")
    val crossed = df.crossJoin(broadcast(rep))
    val keyed = cols.foldLeft(crossed) { case (acc, (c, s)) =>
      acc.withColumn(c, col(c) + col("__r") * s)
    }
    if (dropReplica) keyed.drop("__r") else keyed
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val skew = args.length > 3 && args(3) == "skew"
    val cores = Sessions.defaultCores
    val spark = Sessions.local(cores)

    // key-family strides from the owning tables
    val strides = Map(
      "c_custkey" -> stride(spark, src, "customer", "c_custkey"),
      "s_suppkey" -> stride(spark, src, "supplier", "s_suppkey"),
      "p_partkey" -> stride(spark, src, "part", "p_partkey"),
      "o_orderkey" -> stride(spark, src, "orders", "o_orderkey"),
      "event_id" -> stride(spark, src, "events", "event_id"),
      "user_id" -> stride(spark, src, "events", "user_id"),
      "doc_id" -> stride(spark, src, "documents", "doc_id"),
      "vec_id" -> stride(spark, src, "embeddings", "vec_id"),
    )
    def strideFor(c: String): Long = c match {
      case "o_custkey" => strides("c_custkey")
      case "l_orderkey" => strides("o_orderkey")
      case "l_partkey" => strides("p_partkey")
      case "l_suppkey" => strides("s_suppkey")
      case other => strides(other)
    }

    copyAsIs.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    keyCols.foreach { case (t, cols0) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val scaled0 = scaleTable(df, cols0.map(c => c -> strideFor(c)).toMap,
        factor, dropReplica = t != "documents")
      // disjoin replica token spaces (see scaladoc); keep n_chars
      // consistent with the rewritten text
      val scaled = if (t == "documents") {
        // the replica-local doc id BEFORE offsetting decides skew
        // membership, so the same source docs skew in every replica
        val srcId = col("doc_id") - col("__r") * strideFor("doc_id")
        val disjoined = regexp_replace(col("text"), lit("(^|\\s)"),
          concat(lit("$1r"), col("__r"), lit("_")))
        val MegaText = "graft mega cluster shared body with enough " +
          "tokens to shingle repeatably across every member of the " +
          "single heaviest duplicate cluster in the skewed corpus"
        val newText =
          if (!skew) disjoined
          else when(srcId % 100 === 0, lit(MegaText))           // mega
            .when(srcId % 50 === 0, col("text"))                // clones
            .when(srcId % 3 === 0,
              concat(lit("zzhead zzthe zzof "), disjoined))     // head
            .otherwise(disjoined)
        scaled0
          .withColumn("text", when(col("text").isNull, col("text"))
            .otherwise(newText))
          // null text is left null by the rewrite — keep its ORIGINAL
          // n_chars (possibly null) instead of coercing to 0
          .withColumn("n_chars", when(col("text").isNull, col("n_chars"))
            .otherwise(length(col("text"))
              .cast(df.schema("n_chars").dataType)))
          .drop("__r")
      } else scaled0
      scaled
        // spread replicas across output files so downstream scans see
        // balanced splits, not one file per replica of the source order
        .repartition(cores * 2)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t x$factor done")
    }
    // materialize the partsupp relation over the SCALED lineitem (the
    // one canonical derivation — graft.model.Tables.partsupp), so the
    // scale legs run Q2/Q9/Q11/Q16/Q20 in their true stored-table
    // shapes instead of re-deriving a corpus-sized relation per sweep
    graft.model.Tables.derivePartsupp(
      spark.read.parquet(s"$out/lineitem.parquet"))
      .repartition(cores * 2)
      .write.mode("overwrite").parquet(s"$out/partsupp.parquet")
    println(s"[scaleup] partsupp derived+stored")
    spark.stop()
  }
}
