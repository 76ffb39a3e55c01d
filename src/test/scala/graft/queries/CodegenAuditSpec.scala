package graft.queries

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.SparkSpec

/** Sweep-wide codegen-fallback audit. The >100-aggregate codegen
  * cliff (README perf trap) was found BY HAND once; this makes the
  * check structural: every declared query executes at sf0.001 and its
  * FINAL adaptive plan is walked — any codegen-capable operator
  * (extends CodegenSupport, supportCodegen=true, non-leaf) sitting
  * OUTSIDE a WholeStageCodegen region means Catalyst declined to
  * compile it (too many fields, a CodegenFallback expression in the
  * hot path, an unsupported shape) and the operator runs interpreted
  * (~5× on the agg cliff measurement). Known-legitimate cases are
  * pinned BY NAME with the reason; anything else fails the suite.
  */
class CodegenAuditSpec extends SparkSpec {

  /** Queries where an interpreted capable operator is EXPECTED, with
    * the audited reason. Keep this list justified — an entry without a
    * real reason is a masked regression.
    */
  private val pinned: Map[String, String] = Map(
  )

  /** Two interpreted-operator causes are ALLOWED structurally rather
    * than pinned per query, because they are Spark limitations/design,
    * not regressions:
    *   - HIGHER-ORDER FUNCTIONS (`aggregate`/`transform`/`zip_with`/…)
    *     are `CodegenFallback` in Spark itself — no codegen exists for
    *     them. The engine already rewrites the HOT float dot-product
    *     HOF to a native codegen'd expression (PlanAuditSpec "HOF dot
    *     is rewritten native"); the remaining HOFs are cold-path
    *     per-row array math where interpreted eval is not the
    *     bottleneck. A node whose ONLY fallback expressions are HOFs
    *     (or live inside one) passes; any other CodegenFallback — a
    *     custom expression missing doGenCode, a UDF — still flags.
    *   - OBJECT-MODE boundaries (DeserializeToObject/MapElements/…)
    *     are the typed `mapPartitions` codec surface (multimodal byte
    *     decoding) — inherently row-object code, never codegen.
    */
  private def allowedInterpreted(p: SparkPlan): Boolean = p match {
    case _: DeserializeToObjectExec | _: SerializeFromObjectExec |
         _: MapElementsExec | _: MapPartitionsExec => true
    case _ =>
      import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
      import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
      val falls = p.expressions.flatMap(_.collect {
        case e: CodegenFallback => e
      })
      // the node fell out BECAUSE of fallback expressions, and every
      // one of them is a HOF (or nested inside one — a HOF's lambda
      // body is interpreted wholesale)
      falls.nonEmpty && p.expressions.forall { root =>
        root.collect { case e: CodegenFallback => e }.forall { e =>
          e.isInstanceOf[HigherOrderFunction] ||
            root.exists {
              case h: HigherOrderFunction =>
                h.exists(_ eq e)
              case _ => false
            }
        }
      }
  }

  /** Capable-but-outside-codegen operators in the FINAL plan.
    * `inside` tracks whether the walk is under a WholeStageCodegenExec
    * (InputAdapter re-opens interpreted territory: its subtree feeds
    * the region through an iterator, and any capable non-leaf node
    * there should head its OWN region).
    */
  private def offenders(plan: SparkPlan,
                        inside: Boolean = false): Seq[String] = plan match {
    case a: AdaptiveSparkPlanExec => offenders(a.executedPlan, false)
    case q: QueryStageExec        => offenders(q.plan, false)
    case r: ReusedExchangeExec    => offenders(r.child, false)
    case w: WholeStageCodegenExec =>
      w.children.flatMap(offenders(_, inside = true))
    case i: InputAdapter          =>
      i.children.flatMap(offenders(_, inside = false))
    case c: CodegenSupport =>
      // a region extends only through CodegenSupport chains: children
      // inherit `inside`; a capable non-leaf node OUTSIDE a region is
      // the fallback signal
      val flag =
        if (!inside && c.supportCodegen && c.children.nonEmpty &&
            !allowedInterpreted(c))
          Seq(c.nodeName)
        else Seq.empty
      flag ++ c.children.flatMap(offenders(_, inside))
    case other =>
      // a non-codegen node (exchange, window, object agg, …) breaks
      // the region; its subtree starts outside
      other.children.flatMap(offenders(_, inside = false))
  }

  test("no declared query silently falls out of whole-stage codegen") {
    val bad = scala.collection.mutable.SortedMap[String, Seq[String]]()
    for ((name, q) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = q(spark, sf)
      df.queryExecution.toRdd.foreach(_ => ()) // finalize AQE
      val main = offenders(df.queryExecution.executedPlan)
      // subquery plans (scalar/IN) are their own compilation units
      val subs = df.queryExecution.executedPlan.subqueriesAll
        .flatMap(s => offenders(s))
      val all = (main ++ subs).distinct
      if (all.nonEmpty && !pinned.contains(name)) bad(name) = all
      // the Verify-style between-query cleanup: cached plans and dead
      // localCheckpoint blocks must not pressure later queries
      graft.Memo.releaseUnheld(spark)
    }
    assert(bad.isEmpty,
      s"${bad.size} queries run capable operators interpreted " +
        s"(pin with a reason or fix):\n" +
        bad.map { case (n, ops) => s"  $n: ${ops.mkString(", ")}" }
          .mkString("\n"))
    // pins must stay honest: drop entries whose query went green
    val stale = pinned.keySet.filterNot(graft.SparkEntry.queries.contains)
    assert(stale.isEmpty, s"pinned queries no longer declared: $stale")
  }
}
