package graft.perfbench

/** Per-layer metrics of a traced run, computed from the recorded spans
  * and the Spark accounting. Every workload reports every name; a layer
  * the workload leaves idle reads 0. */
object Layers {
  val ServeOps: Seq[String] = ServeRead.Ops.toSeq
  val WriteOps = Seq("append", "tombstone", "update", "compact")
  val Queries: Seq[String] = Analytics.QueryNames
  val ExecCounters = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes")
  val LayerNames = Seq("meta", "serve", "write", "exec")

  /** Every per-layer metric, in report order, with its unit. */
  val All: Seq[(String, String)] =
    Seq("meta.manifest_ms.p50" -> "ms", "meta.manifest_entries.max" -> "count",
      "meta.warm_serving_ms" -> "ms", "meta.current_version_ms.p50" -> "ms") ++
    ServeOps.flatMap(op => Seq(s"serve.$op.p50_ms" -> "ms", s"serve.$op.calls" -> "count",
      s"serve.$op.rows_per_call" -> "rows", s"serve.refused.$op" -> "count")) ++
    Seq("serve.spark_jobs" -> "count", "serve.first_read_after_commit_ms.p50" -> "ms") ++
    WriteOps.map(op => s"write.${op}_ms.p50" -> "ms") ++
    Seq("write.compactions" -> "count", "write.spark_jobs_per_commit" -> "count",
      "write.task_ms_per_commit" -> "ms", "write.bytes_per_user_byte" -> "ratio",
      "write.files_per_commit" -> "count", "write.delta_rows_pending.max" -> "rows",
      "write.tomb_rows_pending.max" -> "rows", "write.vacuum_reclaimed_bytes" -> "bytes") ++
    Queries.flatMap(q => ExecCounters.map(c => s"exec.$q.$c" -> (if (c == "task_ms") "ms"
      else if (c.endsWith("bytes")) "bytes" else "count")) ++
      Seq(s"exec.$q.driver_ms" -> "ms", s"exec.$q.parallelism" -> "ratio")) ++
    LayerNames.map(l => s"$l.self_ms" -> "ms") ++
    Seq("jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
      "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  /** Fill the span-derived metrics. Drains the listener bus first. */
  def fromSpans(ctx: Ctx): Unit = {
    val rep = ctx.report
    val acct = ctx.acct.get
    acct.drain(ctx.spark.sparkContext)
    val spans = SpanStats.all(ctx.tracer)
    val self = SpanStats.selfNs(spans)
    val by = spans.groupBy(s => (s.layer, s.name))
    def durs(l: String, n: String) = by.getOrElse((l, n), Nil).map(_.durNs).toArray
    def ids(l: String) = spans.filter(_.layer == l).map(_.id)

    rep.layer("meta.manifest_ms.p50") = (Stats.pctMs(durs("meta", "manifest"), 0.5), "ms")
    rep.layer("meta.current_version_ms.p50") = (Stats.pctMs(durs("meta", "current_version"), 0.5), "ms")
    rep.layer("meta.manifest_entries.max") = (MetaStats.maxEntries.get.toDouble, "count")
    ServeOps.foreach(op => rep.layer(s"serve.$op.p50_ms") = (Stats.pctMs(durs("serve", op), 0.5), "ms"))
    rep.layer("serve.spark_jobs") = (acct.total(ids("serve"))("jobs").toDouble, "count")

    // write.compact_ms.p50 covers the calls that compacted; IngestMixed sets it
    WriteOps.filter(_ != "compact").foreach(op =>
      rep.layer(s"write.${op}_ms.p50") = (Stats.pctMs(durs("write", op), 0.5), "ms"))
    val commits = Seq("append", "tombstone", "update").map(durs("write", _).length).sum
    val w = acct.total(ids("write"))
    rep.layer("write.spark_jobs_per_commit") = (w("jobs").toDouble / math.max(1, commits), "count")
    rep.layer("write.task_ms_per_commit") = (w("task_ms").toDouble / math.max(1, commits), "ms")

    Queries.foreach { q =>
      val qs = by.getOrElse(("exec", q), Nil)
      val n = math.max(1, qs.size)
      val c = acct.total(qs.map(_.id))
      ExecCounters.foreach(k => rep.layer(s"exec.$q.$k") = (c(k).toDouble / n, Layers.unit(s"exec.$q.$k")))
      val wallMs = qs.map(_.durNs).sum / 1e6
      rep.layer(s"exec.$q.driver_ms") = (qs.map(s => self(s.id)).sum / 1e6 / n, "ms")
      rep.layer(s"exec.$q.parallelism") =
        (if (wallMs > 0) c("task_ms") / (wallMs * ctx.cores) else 0.0, "ratio")
    }
    LayerNames.foreach { l =>
      rep.layer(s"$l.self_ms") = (spans.filter(_.layer == l).map(s => self(s.id)).sum / 1e6, "ms")
    }
  }

  /** Tracing overhead: traced minus untraced median of the workload's
    * operation, as a percentage of the untraced one. */
  def overhead(ctx: Ctx, untracedMs: Double, tracedMs: Double): Unit =
    ctx.report.layer("trace.overhead_pct") =
      (if (untracedMs > 0 && !tracedMs.isNaN) (tracedMs - untracedMs) / untracedMs * 100 else 0.0, "%")

  def unit(name: String): String = All.find(_._1 == name).map(_._2).getOrElse("count")
}
