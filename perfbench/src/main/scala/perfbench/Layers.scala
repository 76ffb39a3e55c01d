package perfbench

/** The per-layer metrics, `<module>.<measure>`, named after the engine's
  * modules. Every traced run prints all of them; a layer the workload
  * bypasses reads 0. Values come from the trace's spans, except the
  * ones a workload counts itself (`counted`).
  */
object Layers {

  val stores: Seq[String] = Seq("MaintainedComponents", "MaintainedSample",
    "MaintainedDistinct", "Dedup", "TextOps", "Similarity")
    .map("operators." + _)

  val queryModules: Seq[String] = Seq("CoreQueries", "TextQueries",
    "DedupQueries", "SimilarityQueries", "EventQueries", "MultimodalQueries",
    "CatalogQueries", "TemporalQueries", "CurationQueries", "SketchQueries",
    "MiningQueries").map("queries." + _)

  private def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("core_util")) "ratio"
    else "count"

  def metrics(trace: Trace, counted: Map[String, Double])
      : Seq[(String, Double, String)] = {
    def t(layer: String, phase: String = "") = trace.totals(layer, phase)
    val orch = t("pipeline.Orchestrator")
    val cons = t("pipeline.Consolidate")
    val steps = t("pipeline.Steps")
    val csvR = t("io.Csv", "read")
    val csvW = t("io.Csv", "write")
    val jdbc = t("io.Jdbc")
    val fromSpans: Seq[(String, Double)] = Seq(
      "pipeline.Orchestrator.jobs" -> orch.jobs.toDouble,
      "pipeline.Orchestrator.stages" -> orch.stages.toDouble,
      "pipeline.Orchestrator.tasks" -> orch.tasks.toDouble,
      "pipeline.Orchestrator.core_util" ->
        (if (orch.busyS > 0) orch.taskS / (Main.nproc * orch.busyS) else 0.0),
      "pipeline.Orchestrator.views_failed" -> 0.0,
      "pipeline.Consolidate.busy_s" -> cons.busyS,
      "pipeline.Consolidate.driver_s" -> cons.driverS,
      "pipeline.Consolidate.jobs" -> cons.jobs.toDouble,
      "pipeline.Consolidate.task_s" -> cons.taskS,
      "pipeline.Consolidate.wait_s" -> cons.waitS,
      "pipeline.Consolidate.shuffle_mb" -> cons.shuffleMb,
      "pipeline.Steps.busy_s" -> steps.busyS,
      "pipeline.Steps.driver_s" -> steps.driverS,
      "pipeline.Steps.jobs" -> steps.jobs.toDouble,
      "pipeline.Steps.task_s" -> steps.taskS,
      "pipeline.Steps.shuffle_mb" -> steps.shuffleMb,
      "io.Csv.read_busy_s" -> csvR.busyS,
      "io.Csv.read_jobs" -> csvR.jobs.toDouble,
      "io.Csv.write_busy_s" -> csvW.busyS,
      "io.Csv.write_jobs" -> csvW.jobs.toDouble,
      "io.Csv.out_mb" -> csvW.outMb,
      "io.Jdbc.busy_s" -> jdbc.busyS,
      "io.Jdbc.jobs" -> jdbc.jobs.toDouble,
      "io.Jdbc.rows" -> 0.0) ++
      stores.flatMap { s =>
        val boot = t(s, "bootstrap")
        val ref = t(s, "refresh")
        val serve = t(s, "serve")
        Seq(
          s"$s.bootstrap_s" -> boot.busyS,
          s"$s.refresh_busy_s" -> ref.busyS,
          s"$s.refresh_driver_s" -> ref.driverS,
          s"$s.refresh_jobs" -> ref.jobs.toDouble,
          s"$s.out_mb" -> (boot.outMb + ref.outMb + serve.outMb),
          s"$s.serve_busy_s" -> serve.busyS,
          s"$s.store_mb" -> 0.0,
          s"$s.store_files" -> 0.0)
      } ++
      queryModules.flatMap { q =>
        val tq = t(q)
        Seq(s"$q.busy_s" -> tq.busyS, s"$q.driver_s" -> tq.driverS,
          s"$q.jobs" -> tq.jobs.toDouble, s"$q.failed" -> 0.0)
      } ++ Seq("jvm.gc_s" -> 0.0, "trace.run_s" -> 0.0)
    val unknown = counted.keySet -- fromSpans.map(_._1)
    require(unknown.isEmpty, s"not a per-layer metric: $unknown")
    fromSpans.map { case (n, v) => (n, counted.getOrElse(n, v), unit(n)) }
  }
}
