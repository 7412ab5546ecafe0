package perfbench

import Main.{median, quantile}

/** The per-layer metrics of a traced run, each aggregated over the
  * operations of the workload that exercise it. A layer that does no
  * work on a workload reports 0, which is itself the expected
  * no-change row. See perfbench/README.md for which end-to-end metric
  * each one should move.
  *
  * Operations per workload: `etl_refresh` — one refresh (the
  * [[graft.ingest.EtlCli.run]] call), medians over cycles; `dashboard` —
  * one selection request, medians over requests; `weekly_upsert` — one
  * week without its benchmark-side feed write and check, means over
  * whole maintenance cycles, so compaction weeks count at their share.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.shuffle_write_bytes" -> "B", "spark.driver_gap_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_live_mb" -> "MB", "setup.warm_s" -> "s",
    "ingest.csv_scans" -> "count", "ingest.infer_ms" -> "ms", "ingest.raw_write_ms" -> "ms",
    "ingest.fact_write_ms" -> "ms",
    "analysis.series_ms" -> "ms", "analysis.stats_ms" -> "ms", "analysis.landing_ms" -> "ms",
    "report.render_ms" -> "ms",
    "txtable.read_ms" -> "ms", "txtable.log_reads" -> "count", "txtable.log_lists" -> "count",
    "txtable.files_scanned" -> "count", "txtable.dv_refs" -> "count",
    "txtable.live_files" -> "count", "txtable.merge_ms" -> "ms", "txtable.maintain_ms" -> "ms",
    "txtable.log_writes" -> "count", "txtable.bytes_written" -> "B",
    "txtable.publish_conflicts" -> "count",
    "streaming.start_ms" -> "ms", "streaming.trigger_overhead_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "trace.overhead_pct" -> "%", "trace.unexplained_pct" -> "%")

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)

  /** Per-key aggregate of per-operation maps. */
  private def agg(rows: Seq[Map[String, Double]], f: Seq[Double] => Double): Map[String, Double] =
    rows.flatMap(_.keys).distinct.map(k => k -> f(rows.map(_.getOrElse(k, 0.0)))).toMap

  /** `t` holds the latencies of the run's traced and untraced operations;
    * `extra` the whole-run metrics measured outside the trace. */
  def report(an: Analysis, tr: Tracer, workload: String, t: Tally, extra: Map[String, Double])
      : Seq[(String, Double, String)] = {
    val requests = an.named("request")
    def spanMs(name: String) = med(an.named(name).map(_.durMs))
    val reads = an.named("txtable.read").filter(s => requests.exists(_.id == s.parent))
    val common = Map(
      "analysis.series_ms" -> spanMs("analysis.series"),
      "analysis.stats_ms" -> spanMs("analysis.stats"),
      "analysis.landing_ms" -> spanMs("analysis.landing"),
      "txtable.read_ms" -> med(reads.map(_.durMs)),
      "txtable.log_reads" -> med(reads.map(r => an.logCalls(an.tree(r)).count(_.kind == "read").toDouble)),
      "txtable.log_lists" -> med(reads.map(r => an.logCalls(an.tree(r)).count(_.kind == "list").toDouble)),
      "txtable.files_scanned" -> med(requests.map(r => an.files(an.tree(r)))))

    val (perOp, overhead) = workload match {
      case "etl_refresh" =>
        val ops = an.named("refresh")
        (agg(ops.map(o => an.spark(o) ++ an.refresh(o)), med),
          pct(med(t.tracedWriteMs.toSeq), med(t.writeMs.toSeq)))
      case "dashboard" =>
        (agg(requests.map(an.spark), med) ++ tableState(tr),
          pct(med(t.tracedReadMs.toSeq), med(t.readMs.toSeq)))
      case _ =>
        val weeks = an.named("week")
        val rows = weeks.map { wk =>
          val m = an.tree(wk).find(_.name == "merge")
          val (files, dvs) = Option(tr.tableState.get(wk.id)).getOrElse((0, 0))
          an.spark(wk) ++ m.map(s => an.merge(s, an.maintainMs(s))).getOrElse(Map.empty) ++
            Map("txtable.live_files" -> files.toDouble, "txtable.dv_refs" -> dvs.toDouble)
        }
        (agg(rows, mean), pct(mean(t.tracedWriteMs.toSeq), mean(t.writeMs.toSeq)))
    }
    val all = common ++ perOp ++ extra ++ Map("trace.overhead_pct" -> overhead,
      "trace.unexplained_pct" -> med(requests.map(an.unexplainedPct)))
    breakdown(an, workload, requests, all)
    Units.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
  }

  private def pct(traced: Double, plain: Double): Double =
    if (plain > 0 && traced > 0) (traced / plain - 1) * 100 else 0.0

  /** The dashboard reads one fixed snapshot: its layout, once. */
  private def tableState(tr: Tracer): Map[String, Double] =
    Option(tr.tableState.get(0L)).map { case (f, d) =>
      Map("txtable.live_files" -> f.toDouble, "txtable.dv_refs" -> d.toDouble)
    }.getOrElse(Map.empty)

  /** Where a request's time goes, on stderr: self time per span name
    * and job time, which together add up to the request. */
  private def breakdown(an: Analysis, workload: String, requests: Seq[Tracer.Span],
      all: Map[String, Double]): Unit = {
    val err = System.err
    if (requests.nonEmpty) {
      val wall = med(requests.map(_.durMs))
      val self = requests.flatMap(r => r +: an.tree(r).tail).groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(an.selfMs).sum / requests.size }
      val jobs = requests.map(r => an.tree(r).map(an.jobOnlyMs).sum).sum / requests.size
      err.println(f"[perfbench] $workload request: median wall $wall%.1f ms over ${requests.size} requests")
      self.toSeq.sortBy(-_._2).foreach { case (n, ms) =>
        err.println(f"[perfbench]   self $n%-18s $ms%8.1f ms") }
      err.println(f"[perfbench]   jobs               $jobs%8.1f ms")
    }
    all.toSeq.sortBy(_._1).foreach { case (n, v) => err.println(f"[perfbench]   $n%-32s $v%12.2f") }
  }
}
