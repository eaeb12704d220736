package perfbench

/** Per-layer metrics of a traced run, from the tracer's spans and Spark
  * counts plus a workload's own observations. Every workload reports every
  * name; a layer the workload does not call reads 0. */
object Layers {
  /** Median duration of each span name, reported as `<metric>` in ms. */
  val SpanMedians: Seq[(String, String)] = Seq(
    "search.plan_ms" -> "search.plan",
    "search.exec_ms" -> "search.exec",
    "embed.ms" -> "embed",
    "serving.ivf.exec_ms" -> "serving.ivf",
    "serving.lsh.exec_ms" -> "serving.lsh",
    "serving.verified.exec_ms" -> "serving.verified",
    "serving.compile_ms" -> "serving.compile",
    "ivf.select_ms" -> "ivf.select",
    "ingest.batch_ms" -> "ingest.batch",
    "ingest.validate_ms" -> "ingest.validate",
    "ingest.chunk_ms" -> "ingest.chunk",
    "ingest.extract_ms" -> "ingest.extract",
    "ingest.resolve_ms" -> "ingest.resolve",
    "sinks.index_append_ms" -> "sinks.index_append",
    "sinks.lsh_append_ms" -> "sinks.lsh_append",
    "sinks.verified_upsert_ms" -> "sinks.verified_upsert",
    "sinks.lsh_retract_ms" -> "sinks.lsh_retract",
    "sinks.lsh_delete_ms" -> "sinks.lsh_delete",
    "sinks.index_delete_ms" -> "sinks.index_delete",
    "sinks.maintenance_ms" -> "sinks.maintenance",
    "gdpr.delete_ms" -> "gdpr.delete",
    "writers.upsert_ms" -> "writers.upsert",
    "writers.delete_ms" -> "writers.delete",
    "readers.snapshot_ms" -> "readers.snapshot",
    "graph.cc_ms" -> "graph.cc",
    "text.curate_ms" -> "text.curate",
    "retrieval.decay_ms" -> "retrieval.decay",
    "similarity.knn_batch_ms" -> "similarity.knn_batch")

  /** Workload observations, reported under their own names (0 if absent). */
  val Observed: Seq[(String, String)] = Seq(
    "serving.recompiles" -> "count",
    "writers.generation_bumps" -> "count",
    "serving.novel_fallback_frac" -> "ratio",
    "ivf.drift" -> "ratio",
    "ivf.rebuilds" -> "count",
    "ingest.chunks_per_mem" -> "count",
    "ingest.resolve.exact_frac" -> "ratio",
    "ingest.resolve.semantic_frac" -> "ratio",
    "ingest.resolve.fuzzy_frac" -> "ratio",
    "ingest.resolve.create_frac" -> "ratio",
    "sinks.cand_pairs" -> "count",
    "sinks.verified_frac" -> "ratio",
    "writers.partitions_rewritten" -> "count",
    "writers.files_written" -> "count",
    "writers.files_per_partition" -> "count",
    "dedup.recall" -> "ratio",
    "sinks.stale_verified_pairs" -> "count",
    "text.kept_frac" -> "ratio",
    "gen.near_dup_frac" -> "ratio",
    "gen.novel_probe_frac" -> "ratio",
    "gen.top_tenant_frac" -> "ratio")

  /** Engine layers whose self time is reported (`self.<layer>_ms` per op). */
  val SelfLayers = Seq("search", "embed", "serving", "ivf", "ingest", "sinks", "writers",
    "readers", "graph", "text", "retrieval", "similarity")

  def metrics(t: Tracer, ops: Seq[Op], windowStart: Long, gcMs: Double,
              obs: Map[String, Double]): Seq[(String, Double, String)] = {
    val all = t.spans
    val inWindow = all.filter(_.start >= windowStart)
    def med(name: String, spans: Seq[Tracer.Span]) = {
      val xs = spans.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val spanMetrics = SpanMedians.map { case (m, n) =>
      // sessions compile during set-up; everything else is timed in the window
      (m, med(n, if (n == "serving.compile") all else inWindow), "ms")
    }
    val nOps = math.max(1, ops.size).toDouble
    val self = t.selfNanos
    val selfMetrics = SelfLayers.map { l =>
      (s"self.${l}_ms", inWindow.filter(_.name.takeWhile(_ != '.') == l)
        .map(s => self(s.id)).sum / 1e6 / nOps, "ms")
    }
    val ids = inWindow.map(_.id).toSet
    val cs = new Tracer.Counts
    t.counts.forEach((id, c) => if (ids.contains(id)) cs.add(c))
    val wall = (ops.map(_.end).maxOption.getOrElse(windowStart) - windowStart) / 1e9
    val cores = Runtime.getRuntime.availableProcessors
    val userBytes = obs.getOrElse("ingest.user_bytes", 0.0)
    val written = inWindow.filter(_.name == "ingest.batch").map(s => t.inclusiveCounts
      .get(s.id).map(_.outputBytes.get).getOrElse(0L)).sum
    // search plans that scan the chunk table, and the share of those the
    // ANN rewrite pruned to a centroid IN-list
    val searchIds = inWindow.filter(_.name.startsWith("search.")).map(_.id).toSet
    val chunkScans = t.plans.filter { case (s, p) => searchIds.contains(s) && p.contains("/chunks") }
    val fired = chunkScans.count { case (_, p) => p.contains("centroid_id") &&
      (p.contains("In(centroid_id") || p.contains("centroid_id#") && (p.contains(" IN (") || p.contains("INSET")))
    }
    spanMetrics ++ selfMetrics ++ Observed.map { case (m, u) => (m, obs.getOrElse(m, 0.0), u) } ++ Seq(
      ("ann_rewrite.fire_frac", if (chunkScans.isEmpty) 0.0 else fired.toDouble / chunkScans.size, "ratio"),
      ("writers.write_amp", if (userBytes > 0) written / userBytes else 0.0, "ratio"),
      ("spark.jobs", cs.jobs.get / nOps, "count"),
      ("spark.stages", cs.stages.get / nOps, "count"),
      ("spark.tasks", cs.tasks.get / nOps, "count"),
      ("spark.task_busy_frac", if (wall > 0) cs.busyNanos.get / 1e9 / (wall * cores) else 0.0, "ratio"),
      ("spark.shuffle_write_bytes", cs.shuffleWriteBytes.get / nOps, "bytes"),
      ("spark.input_bytes", cs.inputBytes.get / nOps, "bytes"),
      ("spark.sched_delay_ms", cs.schedDelayMs.get / nOps, "ms"),
      ("jvm.gc_ms", gcMs / nOps, "ms"))
  }
}
