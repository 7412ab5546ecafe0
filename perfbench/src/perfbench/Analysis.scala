package perfbench

import scala.jdk.CollectionConverters._

import Tracer._

/** Per-layer metrics from a traced phase.
  *
  * An operation is a span tree: `refresh` (one [[graft.ingest.EtlCli.run]]
  * call), `request` (a dashboard selection), `request.landing`, or `week`
  * (feed write, merge, check, reads). Spans named `bench.*` are the
  * benchmark's own work (writing inputs, checking outputs) and are left
  * out of every layer metric. A span's self time is its duration minus
  * the part covered by its child spans and by the jobs it started.
  */
final class Analysis(tr: Tracer) {
  val spans: Map[Long, Span] = tr.spans.asScala.map(s => s.id -> s).toMap
  private val children: Map[Long, Seq[Span]] = spans.values.toSeq.groupBy(_.parent)
  private val jobsBySpan: Map[Long, Seq[Job]] =
    tr.jobs.values.asScala.toSeq.filter(j => j.span != 0L && j.endMs >= 0).groupBy(_.span)
  private val stagesById: Map[Int, StageRec] = tr.stages.asScala.map(s => s.id -> s).toMap
  private val stagesBySpan: Map[Long, Seq[StageRec]] = tr.stages.asScala.toSeq.groupBy(_.span)
  private val execsBySpan: Map[Long, Seq[Exec]] = tr.execs.values.asScala.toSeq.groupBy(_.span)
  private val logBySpan: Map[Long, Seq[LogCall]] = tr.logCalls.asScala.toSeq.groupBy(_.span)
  private val execsById: Map[Long, Exec] = tr.execs.asScala.map { case (k, v) => k.longValue -> v }.toMap

  def named(name: String): Seq[Span] = spans.values.filter(_.name == name).toSeq.sortBy(_.startNs)

  /** The span and its descendants, without the benchmark's own work. */
  def tree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).filterNot(_.name.startsWith("bench.")).flatMap(tree)

  private def startMs(s: Span) = tr.wallMs(s.startNs)
  private def endMs(s: Span) = tr.wallMs(s.endNs)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val cl = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1)
    var tot = 0.0; var curA = Double.NaN; var curB = Double.NaN
    cl.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) { if (!curA.isNaN) tot += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curA.isNaN) tot += curB - curA
    tot
  }

  def jobsIn(t: Seq[Span]): Seq[Job] = t.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
  private def jobIv(j: Job) = (j.startMs.toDouble, j.endMs.toDouble)

  def selfMs(s: Span): Double = {
    val ivs = children.getOrElse(s.id, Nil).map(c => (startMs(c), endMs(c))) ++
      jobsBySpan.getOrElse(s.id, Nil).map(jobIv)
    s.durMs - unionMs(ivs, startMs(s), endMs(s))
  }

  /** Time covered by a span's own jobs and by none of its child spans. */
  def jobOnlyMs(s: Span): Double = {
    val lo = startMs(s); val hi = endMs(s)
    val kids = children.getOrElse(s.id, Nil).map(c => (startMs(c), endMs(c)))
    val own = jobsBySpan.getOrElse(s.id, Nil).map(jobIv)
    unionMs(kids ++ own, lo, hi) - unionMs(kids, lo, hi)
  }

  /** The benchmark's own work directly under an operation. */
  private def ownIvs(root: Span): Seq[(Double, Double)] =
    children.getOrElse(root.id, Nil).filter(_.name.startsWith("bench."))
      .map(c => (startMs(c), endMs(c)))

  /** Share of an operation's wall time, in percent, in which no job ran,
    * no tracked planning phase of its SQL executions ran, and the
    * benchmark did none of its own work: driver time that neither
    * `spark.task_ms` nor `spark.plan_ms` explains. (Self times plus job
    * times always add up to the whole operation, since spans on one
    * thread nest; this share is what is left once the known parts are
    * named.) */
  def unexplainedPct(root: Span): Double = {
    val t = tree(root)
    val ivs = jobsIn(t).map(jobIv) ++
      t.flatMap(s => execsBySpan.getOrElse(s.id, Nil)).flatMap(_.planIvs) ++ ownIvs(root)
    (root.durMs - unionMs(ivs, startMs(root), endMs(root))) / root.durMs * 100
  }

  /** The Spark and JVM counters of one operation. Its driver gap is the
    * wall time in which neither a job nor the benchmark's own work ran. */
  def spark(root: Span): Map[String, Double] = {
    val t = tree(root)
    val ids = t.map(_.id).toSet
    val js = jobsIn(t)
    val own = ownIvs(root)
    val st = ids.toSeq.flatMap(id => stagesBySpan.getOrElse(id, Nil))
    Map(
      "spark.plan_ms" -> ids.toSeq.flatMap(id => execsBySpan.getOrElse(id, Nil)).map(_.planMs).sum,
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_ms" -> st.map(_.taskMs).sum.toDouble,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.driver_gap_ms" ->
        (root.durMs - unionMs(js.map(jobIv) ++ own, startMs(root), endMs(root))),
      "jvm.gc_ms" -> (root.gcEnd - root.gcStart).toDouble)
  }

  def logCalls(t: Seq[Span]): Seq[LogCall] = t.flatMap(s => logBySpan.getOrElse(s.id, Nil))

  def files(t: Seq[Span]): Double =
    t.flatMap(s => execsBySpan.getOrElse(s.id, Nil)).map(_.filesScanned).sum.toDouble

  /** Output bytes of the stages an operation ran, plus the log bytes it wrote. */
  def bytesWritten(t: Seq[Span]): Double =
    t.flatMap(s => stagesBySpan.getOrElse(s.id, Nil)).map(_.bytesOut).sum.toDouble +
      logCalls(t).filter(_.kind == "write").map(_.bytes).sum

  /** A job's call site followed by its SQL execution's: a job submitted
    * off the calling thread (an adaptive query stage) has only the latter. */
  private def callSite(j: Job): String =
    j.site + "\n" + execsById.get(j.exec).map(_.details).getOrElse("")

  /** The first `graft.` frame of a job's call site: which engine call
    * started it. */
  def site(j: Job): String =
    callSite(j).linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")

  /** Jobs that ran a stage scanning the CSV (its parse is `Scan csv`,
    * schema inference reads it as `Scan text`). */
  def csvScans(js: Seq[Job]): Int = js.count(j => j.stageIds.exists(id =>
    stagesById.get(id).exists(_.scopes.exists(n => n.startsWith("Scan csv") || n.startsWith("Scan text")))))

  /** Wall time of the jobs started from `frame`. */
  def jobMsFrom(js: Seq[Job], frame: String, lo: Double, hi: Double): Double =
    unionMs(js.filter(j => site(j).startsWith(frame)).map(jobIv), lo, hi)

  /** Ingest and report counters of one refresh. */
  def refresh(root: Span): Map[String, Double] = {
    val js = jobsIn(tree(root))
    val lo = startMs(root); val hi = endMs(root)
    val writes = js.filter(j => site(j).startsWith("graft.ingest.EtlCli$.run(") &&
      callSite(j).contains("DataFrameWriter.parquet"))
    Map(
      "ingest.csv_scans" -> csvScans(js).toDouble,
      "ingest.infer_ms" -> jobMsFrom(js, "graft.ingest.WideCsvIngest$.readWideCsv", lo, hi),
      "ingest.raw_write_ms" -> unionMs(writes.map(jobIv), lo, hi),
      "ingest.fact_write_ms" -> jobMsFrom(js, "graft.ingest.WideCsvIngest$.writeFact", lo, hi),
      "report.render_ms" -> (hi - js.map(_.endMs.toDouble).maxOption.getOrElse(lo)))
  }

  /** Streaming and table-write counters of one week's merge. */
  def merge(m: Span, maintainMs: Double): Map[String, Double] = {
    val lo = startMs(m); val hi = endMs(m)
    val ps = tr.progress.asScala.toSeq.filter(p => p.startMs >= lo - 1 && p.startMs <= hi)
      .sortBy(_.startMs)
    def d(k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val t = tree(m)
    val calls = logCalls(t)
    Map(
      "txtable.merge_ms" -> (d("addBatch") - maintainMs),
      "txtable.maintain_ms" -> maintainMs,
      "txtable.log_writes" -> calls.count(_.kind == "write").toDouble,
      "txtable.bytes_written" -> bytesWritten(t),
      "txtable.publish_conflicts" -> calls.count(c => c.kind == "write" && !c.ok).toDouble,
      "streaming.start_ms" -> ps.headOption.map(_.startMs - lo).getOrElse(0.0),
      "streaming.trigger_overhead_ms" -> (d("triggerExecution") - d("addBatch")),
      "streaming.latest_offset_ms" -> d("latestOffset"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.wal_commit_ms" -> d("walCommit"))
  }

  /** Maintenance inside a week's merge: the log calls after the merge's
    * own publish (and the checkpoint written with it) belong to the
    * stream's maintenance pass; it runs from the end of that publish to
    * the end of its last call. Zero on weeks without a pass. */
  def maintainMs(m: Span): Double = {
    val calls = logCalls(tree(m)).sortBy(_.startNs)
    val publish = calls.indexWhere(c => c.kind == "write" && c.ok && c.op.startsWith("merge"))
    if (publish < 0) return 0.0
    val ckpt = calls.lift(publish + 1).filter(_.op == "checkpoint")
    val after = calls.drop(publish + 1 + ckpt.size)
    if (after.isEmpty) 0.0
    else (after.map(_.endNs).max - ckpt.getOrElse(calls(publish)).endNs) / 1e6
  }
}
