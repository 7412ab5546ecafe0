package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ext.{LogStore, TxTable}

/** The traced run: spans around every public call the benchmark makes,
  * and Spark's own events tagged with the span open on the thread that
  * caused them.
  *
  * A span sets the local property [[SpanProp]] (read back from job and
  * stage properties, and by the log-store decorator on whatever thread
  * does the I/O, since stream threads inherit local properties) and a job
  * tag (SQL execution start events carry tags, not properties). Both are
  * per-thread, so attribution stays exact with two client threads.
  * Everything is kept in memory and analysed after the listener bus has
  * drained.
  *
  * A traced run alternates traced and untraced operations
  * ([[traced]]), so both sides see the same warm-up and the same host;
  * the listeners and the log-store decorator record only events that
  * carry a span, so an untraced operation pays next to nothing for them.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0L)
  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis().toDouble
  /** Set for a traced run: [[traced]] can then switch spans on. */
  @volatile var active = false
  private val enabled = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Whether spans are recorded on the calling thread. */
  def on: Boolean = enabled.get

  /** Runs one operation, with its spans recorded if `trace` is set and
    * this is a traced run; untraced operations pay a flag check per call. */
  def traced[T](trace: Boolean)(body: => T): T = {
    val prev = enabled.get
    enabled.set(active && trace)
    try body finally enabled.set(prev)
  }

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  val logCalls = new ConcurrentLinkedQueue[LogCall]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  def wallMs(nanos: Long): Double = wallBase + (nanos - nanoBase) / 1e6

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `body` inside a span named `name`; a span opened inside it on
    * the same thread becomes its child. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled.get) return body
    val parentProp = sc.getLocalProperty(SpanProp)
    val parent = Option(parentProp).map(_.toLong).getOrElse(0L)
    val s = new Span(nextId.incrementAndGet(), parent, name, System.nanoTime(), gcMs)
    val tag = TagPrefix + s.id
    sc.setLocalProperty(SpanProp, s.id.toString)
    sc.addJobTag(tag)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.gcEnd = gcMs
      sc.removeJobTag(tag)
      sc.setLocalProperty(SpanProp, parentProp)
      spans.add(s)
    }
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  /** Registers the listeners. Events of untraced operations carry no
    * span and are not recorded. */
  def install(): Unit = {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = spanOf(e.properties)
        if (span != 0L) {
          val exec = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .map(_.toLong).getOrElse(-1L)
          jobs.put(e.jobId, new Job(e.jobId, span, exec, e.time,
            e.stageInfos.headOption.map(_.details).getOrElse(""), e.stageIds))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val span = spanOf(e.properties)
        if (span != 0L) stageSpans.put(e.stageInfo.stageId -> e.stageInfo.attemptNumber(), span)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        Option(stageSpans.remove(i.stageId -> i.attemptNumber())).foreach(span => stages.add(
          StageRec(i.stageId, span.longValue, i.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.outputMetrics.bytesWritten,
          i.rddInfos.map(PerfbenchAccess.scopeName))))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobTags.filter(_.startsWith(TagPrefix))
            .map(_.stripPrefix(TagPrefix).toLong).maxOption
            .foreach(span => execs.put(s.executionId, new Exec(s.executionId, span, s.details)))
        case e: SparkListenerSQLExecutionEnd =>
          for (x <- Option(execs.get(e.executionId)); qe <- PerfbenchAccess.queryExecution(e)) {
            val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
            x.planMs = phases.map(_.durationMs).sum.toDouble
            x.planIvs = phases.map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
            x.filesScanned = ScanCollector.scans(qe).sum
          }
        case _ => ()
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
  }

  private val stageSpans = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  /** A [[LogStore]] that records every call made inside a span, with
    * that span; installed through [[TxTable.withLogStore]]. */
  final class CountingLogStore(inner: LogStore) extends LogStore {
    private def timed[T](kind: String, path: Path, op: String, bytes: Int)(f: => T)(ok: T => Boolean): T = {
      val span = Option(sc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L)
      val t0 = System.nanoTime()
      val r = f
      if (span != 0L)
        logCalls.add(LogCall(span, kind, path.getName, t0, System.nanoTime(), ok(r), op, bytes))
      r
    }
    override def list(dir: Path): Seq[String] = timed("list", dir, "", 0)(inner.list(dir))(_ => true)
    override def read(path: Path): String = timed("read", path, "", 0)(inner.read(path))(_ => true)
    override def writeIfAbsent(path: Path, content: String): Boolean =
      timed("write", path, opOf(content), content.length)(inner.writeIfAbsent(path, content))(identity)
    override def delete(path: Path): Unit = timed("delete", path, "", 0)(inner.delete(path))(_ => true)
  }

  def withCountingLogStore[T](body: => T): T = {
    val prev = TxTable.logStoreFactory
    TxTable.withLogStore((fs: FileSystem) => new CountingLogStore(prev(fs)))(body)
  }

  def drain(): Unit = PerfbenchAccess.drainListenerBus(sc)

  /** Live files and deletion-vector references of `table`, keyed by the
    * span open on the calling thread (0 outside spans); read with the
    * span cleared so the inspection is not counted as that span's log I/O. */
  val tableState = new ConcurrentHashMap[Long, (Int, Int)]()
  def inspect(table: String): Unit = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, null)
    try {
      val m = TxTable.readManifest(spark, table, TxTable.latestVersion(spark, table).get)
      tableState.put(Option(prev).map(_.toLong).getOrElse(0L),
        (m.files.size, m.files.map(_.dvs.size).sum))
    } finally sc.setLocalProperty(SpanProp, prev)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val TagPrefix = "perfbench-span-"

  final class Span(val id: Long, val parent: Long, val name: String,
      val startNs: Long, val gcStart: Long) {
    @volatile var endNs: Long = 0L
    @volatile var gcEnd: Long = 0L
    def durMs: Double = (endNs - startNs) / 1e6
  }
  final class Job(val id: Int, val span: Long, val exec: Long, val startMs: Long, val site: String,
      val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final case class StageRec(id: Int, span: Long, tasks: Int, taskMs: Long,
      shuffleWrite: Long, bytesOut: Long, scopes: Seq[String])
  /** A SQL execution started inside a span; `details` is the call site
    * of the action that started it. */
  final class Exec(val id: Long, val span: Long, val details: String) {
    @volatile var planMs: Double = 0.0
    /** Wall-clock intervals of its tracked planning phases. */
    @volatile var planIvs: Seq[(Double, Double)] = Nil
    @volatile var filesScanned: Long = 0L
  }
  final case class LogCall(span: Long, kind: String, name: String, startNs: Long, endNs: Long,
      ok: Boolean, op: String, bytes: Int)
  final case class Progress(startMs: Double, durations: Map[String, Long])

  private val OpPattern = "\"op\":\"([^\"]*)\"".r
  def opOf(manifest: String): String =
    OpPattern.findFirstMatchIn(manifest.takeWhile(_ != '\n')).map(_.group(1)).getOrElse("")
}

/** Files read by each file scan of an executed plan, adaptive stages
  * and subqueries included. */
object ScanCollector extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[Long] =
    try collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
}
