package graftbench

/** The per-layer metrics of a traced run. Every workload reports every
  * metric; a layer the workload does not reach reads 0. Span names follow
  * one scheme: `op.<kind>` for a workload op, `<layer>.<Class>.<method>`
  * for a call into a layer, `spark.job <program frames>` for a job. */
object Layers {
  private val counterSuffixes = Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_skew_max", "executor_cpu_s", "gc_s",
    "sched_delay_s")

  private def unitOf(suffix: String): String = suffix match {
    case s if s.endsWith("_bytes") => "B"
    case s if s.endsWith("_s") => "s"
    case "task_skew_max" => "ratio"
    case _ => "count"
  }

  private def counter(c: Counters, suffix: String, per: Double): Double = suffix match {
    case "jobs" => c.jobs / per
    case "stages" => c.stages / per
    case "tasks" => c.tasks / per
    case "shuffle_read_bytes" => c.shuffleReadBytes / per
    case "shuffle_write_bytes" => c.shuffleWriteBytes / per
    case "spill_bytes" => c.spillBytes / per
    case "task_skew_max" => c.taskSkewMax
    case "executor_cpu_s" => c.executorCpuNs / 1e9 / per
    case "gc_s" => c.gcMs / 1e3 / per
    case "sched_delay_s" => c.schedDelayMs / 1e3 / per
  }

  /** Metric name → unit, in report order. Values a workload measured
    * itself come from [[Outcome.layer]]; the rest come from the trace. */
  val names: Seq[(String, String)] = Seq(
    "jvm.peak_rss_mb" -> "MB",
    "ingest.fetch_calls" -> "count",
    "ingest.fetch_hit_ratio" -> "ratio",
    "ingest.catchup_rounds" -> "count",
    "ingest.catchup.jobs" -> "count",
    "store.merge_ms" -> "ms",
    "store.merge.jobs" -> "count",
    "store.merge.shuffle_write_bytes" -> "B",
    "store.compactions" -> "count",
    "store.compact_ms" -> "ms",
    "store.write_amp" -> "ratio",
    "store.bytes_per_item" -> "B/item",
    "store.commit_tail_ms" -> "ms",
    "streaming.commits" -> "count",
    "streaming.latest_id_ms" -> "ms",
    "store.deltas_pending" -> "count",
    "store.recrawl_ids_ms" -> "ms",
    "store.recrawl_ms" -> "ms",
    "store.recrawl_rows" -> "count",
    "render.build_tree_ms" -> "ms",
    "render.page_ms" -> "ms",
    "render.nodes" -> "count",
    "render.jobs" -> "count",
    "render.input_rows" -> "rows",
    "render.useful_ratio" -> "ratio") ++
    Analytics.modules.flatMap { case (m, _) =>
      Seq(s"queries.${m}_s" -> "s", s"queries.$m.jobs" -> "count") } ++
    counterSuffixes.map(s => s"battery.$s" -> unitOf(s)) ++ Seq(
    "battery.passes" -> "count",
    "pipeline.curate_ms" -> "ms",
    "pipeline.curate.jobs" -> "count",
    "pipeline.forget_cascade_ms" -> "ms",
    "pipeline.forget_verify_ms" -> "ms",
    "pipeline.forget.jobs" -> "count",
    "pipeline.forget_files_touched" -> "count") ++
    Seq("input", "url_gate", "quality", "classifier", "exact", "boilerplate",
      "near_dup", "decontam", "domain_cap", "mixed")
      .map(s => s"pipeline.curate_rows.$s" -> "rows") ++ Seq(
    "multimodal.media_ms" -> "ms",
    "multimodal.media.jobs" -> "count",
    "multimodal.decoded" -> "count",
    "trace.op_p50_ms" -> "ms",
    "trace.spans" -> "count")

  def metrics(t: Trace, out: Outcome): Map[String, (Double, String)] = {
    val fromTrace = scala.collection.mutable.LinkedHashMap[String, Double]()
    def jobsUnder(op: Span, frame: String): Seq[Span] = {
      val under = t.descendants(op.id)
      under.filter(s => s.name.startsWith("spark.job ") && s.name.contains(frame))
    }
    def jobMs(op: Span, frame: String): Double = jobsUnder(op, frame).map(s => s.end - s.start).sum
    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val commits = t.named("op.commit")
    if (commits.nonEmpty) {
      // merge jobs minus the compaction they contain
      fromTrace("store.merge_ms") = p50(commits.map(c =>
        jobMs(c, "ItemStore.merge") - jobMs(c, "Snapshots.replace")))
      val mergeJobs = commits.flatMap(c => jobsUnder(c, "ItemStore.merge"))
      fromTrace("store.merge.jobs") = mergeJobs.size.toDouble / commits.size
      fromTrace("store.merge.shuffle_write_bytes") =
        mergeJobs.map(j => t.subtree(j.id).shuffleWriteBytes).sum.toDouble / commits.size
      fromTrace("store.compact_ms") = p50(commits.map(c => jobMs(c, "Snapshots.replace")).filter(_ > 0))
      fromTrace("streaming.latest_id_ms") = p50(commits.map(c => jobMs(c, "ItemStore.latestId")))
    }
    fromTrace("ingest.catchup.jobs") = t.total("ingest.Update.catchUp").jobs.toDouble
    val recrawl = t.named("op.recrawl")
    if (recrawl.nonEmpty) fromTrace("store.recrawl_ids_ms") =
      recrawl.map(r => jobMs(r, "ItemStore.recrawlIds")).sum

    val renders = t.named("op.render")
    if (renders.nonEmpty) {
      fromTrace("render.build_tree_ms") = p50(t.named("render.Render.buildTree").map(s => s.end - s.start))
      fromTrace("render.page_ms") = p50(t.named("render.Render.renderPage").map(s => s.end - s.start))
      val c = t.total("op.render")
      fromTrace("render.jobs") = c.jobs.toDouble / renders.size
      fromTrace("render.input_rows") = c.inputRows.toDouble / renders.size
      val nodes = out.layer.get("render.nodes").map(_._1).getOrElse(0.0)
      fromTrace("render.useful_ratio") =
        if (c.inputRows == 0) 0.0 else nodes * renders.size / c.inputRows
    }

    val passes = out.layer.get("battery.passes").map(_._1).getOrElse(0.0)
    if (passes > 0) {
      Analytics.modules.foreach { case (m, _) =>
        fromTrace(s"queries.$m.jobs") = t.total(s"queries.$m").jobs / (2 * passes)
      }
      val all = t.total("op.query")
      // two sweeps of the subset per pass
      counterSuffixes.foreach(s => fromTrace(s"battery.$s") = counter(all, s, 2 * passes))
    }
    val curations = t.named("op.curate").size.toDouble
    if (curations > 0) {
      fromTrace("pipeline.curate.jobs") = t.total("op.curate").jobs / curations
      fromTrace("pipeline.forget.jobs") = t.total("op.forget").jobs / curations
      fromTrace("multimodal.media.jobs") = t.total("op.media").jobs / curations
    }
    fromTrace("trace.op_p50_ms") = out.e2e("op_p50_ms")._1
    fromTrace("trace.spans") = t.spans.size.toDouble

    names.map { case (n, u) =>
      n -> (out.layer.get(n).map(_._1).orElse(fromTrace.get(n)).getOrElse(0.0), u)
    }.toMap
  }
}
