package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Graph}

/** Opt-in scaling smoke for the ITERATIVE paths (transitive dedup and
  * the composed curation pipeline): runs each at N and 10N generated
  * docs and reports the wall-clock ratio. The iterative operators are
  * the ones where a quadratic tail would hide at a single test scale —
  * a pair-graph blowup or a lineage-growth bug shows up here as a
  * ratio far above the data growth, long before a cluster bench would
  * catch it. Exits non-zero when the 10× ratio exceeds
  * `GRAFT_SMOKE_MAX_RATIO` (default 40; quadratic would be ~100).
  *
  * Docs are generated distributively (spark.range + hash arithmetic,
  * no driver-side data): clusters of 5 near-dups sharing a 28-token
  * base with one distinguishing suffix token each, so the near-dup
  * pair graph grows LINEARLY with the corpus (10 intra-cluster pairs
  * per 5 docs) — the shape a real corpus has, and the precondition
  * for the connected-components loop being cheap.
  */
object ScaleSmoke {

  private def gen(spark: SparkSession, n: Long): DataFrame = {
    val group = col("id") - pmod(col("id"), lit(5))
    val tokens = (0 until 28).map(j =>
      concat(lit("w"), pmod(hash(group * lit(131 + j)), lit(5000)))) :+
      concat(lit("x"), pmod(col("id"), lit(5)))
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", tokens: _*).as("text"),
      pmod(col("id"), lit(7)).cast("string").as("source"))
  }

  private def best2(f: => Long): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAFT_SMOKE_N", "5000").toLong
    val maxRatio = sys.env.getOrElse("GRAFT_SMOKE_MAX_RATIO", "40").toDouble
    val spark = Sessions.local()
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup

    def pagerank(rows: Long): Long = {
      val docs = gen(spark, rows)
      val sigs = Dedup.minhashSignatures(
        Dedup.docShingles(docs, "doc_id", "text", 3, dedup = false),
        "doc_id").localCheckpoint()
      val pairs = Dedup.estimatedJaccard(
        Dedup.lshCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5).select(col("id_a"), col("id_b"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      Graph.pageRank(docs.select("doc_id"), edges, "doc_id", "src", "dst", 3)
        .count()
    }

    def runTier(rows: Long): Seq[Double] = Seq(
      best2(
        Dedup.dedupCorpusTransitive(gen(spark, rows), "doc_id", "text")
          .count()),
      best2(
        Curation.curateCorpus(gen(spark, rows), "doc_id", "text", "source")
          .count()),
      // model-gated pipeline: adds the perceptron epochs (model-sized
      // joins) in front — ratio must stay data-linear, not epoch-bound
      best2(
        Curation.curateCorpusModel(gen(spark, rows), "doc_id", "text",
          "source").count()),
      best2(pagerank(rows)),
      // span-level dedup: shingle-keyed, must scale with token count
      best2(
        Dedup.substringDedup(gen(spark, rows), "doc_id", "text", k = 6)
          .count()),
      // inverted-index similarity join: df cap bounds the self-join
      best2(
        graft.operators.Similarity.sparseCosinePairs(
          gen(spark, rows), "doc_id", "text", dfCap = 100).count()))

    val names = Seq("transitive", "pipeline", "pipeline_model", "pagerank",
      "substring", "sparse_sim")
    val tier1 = runTier(n)
    val tier10 = runTier(n * 10)
    val ratios = tier1.zip(tier10).map { case (a, b) => b / a }
    val body = names.indices.map { i =>
      f""""${names(i)}_1x":${tier1(i)}%.2f,"${names(i)}_10x":${tier10(i)}%.2f,"${names(i)}_ratio":${ratios(i)}%.1f"""
    }.mkString(",")
    println(s"""{"metric":"scale_smoke","n":$n,$body,"max_ratio":$maxRatio}""")
    spark.stop()
    if (ratios.exists(_ > maxRatio)) {
      System.err.println("[scale-smoke] FAIL: " + names.zip(ratios)
        .map { case (nm, r) => f"$nm=$r%.1f" }.mkString(" ") +
        s" vs max $maxRatio")
      sys.exit(1)
    }
  }
}
