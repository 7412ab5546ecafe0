package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analysis.CoverageQueries
import graft.ext.TxTable
import graft.ingest.EtlCli
import graft.model.CampaignWindow
import graft.streaming.MergeStream

/** What one measured phase produced. Writes are refresh cycles,
  * snapshot publishes or weekly merges; reads are dashboard requests.
  * Latencies of traced operations are kept apart, for the tracing
  * overhead; an untraced run has none. */
final class Tally {
  val writeMs = ArrayBuffer.empty[Double]
  val readMs = ArrayBuffer.empty[Double]
  val tracedWriteMs = ArrayBuffer.empty[Double]
  val tracedReadMs = ArrayBuffer.empty[Double]
  def write(ms: Double, traced: Boolean): Unit = (if (traced) tracedWriteMs else writeMs) += ms
  def read(ms: Double, traced: Boolean): Unit = (if (traced) tracedReadMs else readMs) += ms
  /** Wall time of the phases that issued reads. */
  var readPhaseMs = 0.0
  var attempted = 0L
  var failed = 0L
  var storedBytes = 0L
  var liveRows = 0L
  def merge(o: Tally): Unit = synchronized {
    writeMs ++= o.writeMs; readMs ++= o.readMs; readPhaseMs += o.readPhaseMs
    tracedWriteMs ++= o.tracedWriteMs; tracedReadMs ++= o.tracedReadMs
    attempted += o.attempted; failed += o.failed
  }
}

/** Shared plumbing of the three workloads. */
abstract class Workload(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  def name: String
  /** Generates inputs and publishes the initial state in the fresh
    * directory `dir`; repeated once per set-up repetition, and the run
    * measures the state the last one built. */
  def setUp(dir: Path): Unit
  /** Unmeasured operations of every kind the run times, once, after the
    * first set-up: the JVM loads and compiles those paths before they
    * are timed. Later repetitions skip it; its warm cost is what the
    * measured phase reports. */
  def warmUp(): Unit
  /** Runs closed-loop operations until `deadlineNs` (a workload may
    * finish its current unit of work past it). In a traced run every
    * other operation is traced. */
  def run(deadlineNs: Long, t: Tally): Unit
  /** Records what the run left on disk: stored bytes and live rows. */
  def finish(t: Tally): Unit

  val window = CampaignWindow(2000, 5, 5)
  /** Operations and checks of set-up and warm-up: they count as attempted
    * and failed like the measured ones. */
  val setupTally = new Tally

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs one check; a failure or an exception is counted, not thrown. */
  protected def check(t: Tally, what: String)(ok: => Boolean): Unit = {
    t.attempted += 1
    val pass = try ok catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] check '$what' threw: $e"); false
    }
    if (!pass) { t.failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  /** Runs one operation; an exception fails it and is reported. */
  protected def op(t: Tally, what: String)(body: => Unit): Unit = {
    t.attempted += 1
    try body catch {
      case scala.util.control.NonFatal(e) =>
        t.failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
    }
  }

  protected def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** count and order-independent checksum of a tidy frame, in one job;
    * [[Gen.Fact.checksum]] is the model side. */
  protected def countAndChecksum(df: DataFrame): (Long, Long) = {
    val crc = crc32(concat_ws("|", col("country"), col("antigen"), col("year").cast("string"),
      round(col("coverage_pct") * 10).cast("long").cast("string")))
    val r = df.agg(count(lit(1)), coalesce(sum(crc), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  protected def seriesRows(rows: Array[Row]): Vector[(Int, Double)] =
    rows.map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).doubleValue)).toVector

  /** The dashboard's selection view over a snapshot: the series and the
    * before/after statistics of one (country, antigen). */
  protected def selection(fact: => DataFrame, country: String, antigen: String,
      readSpan: String = "txtable.read"): (Vector[(Int, Double)], Row) = {
    val f = tracer.span(readSpan)(fact)
    val pts = tracer.span("analysis.series")(
      seriesRows(CoverageQueries.seriesOf(f, country, antigen).collect()))
    val stats = tracer.span("analysis.stats")(CoverageQueries.beforeAfterFull(f, window)
      .filter(col("country") === country && col("antigen") === antigen).collect())
    (pts, stats.headOption.orNull)
  }

  /** Exact before/after means as the engine defines them (sum of
    * floor(x·1e6), then divide), recomputed on the driver. */
  protected def modelStats(pts: Seq[(Int, Double)]): (Long, Long, Option[Double], Option[Double]) = {
    def side(lo: Int, hi: Int) = {
      val xs = pts.filter { case (y, _) => y >= lo && y <= hi }.map(_._2)
      val mean = if (xs.isEmpty) None
        else Some(BigDecimal(xs.map(x => math.floor(x * 1e6).toLong).sum).toDouble / xs.size / 1e6)
      (xs.size.toLong, mean)
    }
    val (nb, mb) = side(window.beforeLo, window.beforeHi)
    val (na, ma) = side(window.afterLo, window.afterHi)
    (nb, na, mb, ma)
  }

  protected def statsMatch(row: Row, pts: Seq[(Int, Double)]): Boolean = row != null && {
    val (nb, na, mb, ma) = modelStats(pts)
    def opt(c: String) = if (row.isNullAt(row.fieldIndex(c))) None else Some(row.getAs[Double](c))
    def same(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case (None, None) => true
      case _ => false
    }
    row.getAs[Long]("n_before") == nb && row.getAs[Long]("n_after") == na &&
      same(opt("mean_before"), mb) && same(opt("mean_after"), ma)
  }
}

object Workloads {
  val Names: Seq[String] = Seq("etl_refresh", "dashboard", "weekly_upsert")

  def apply(name: String, spark: SparkSession, seed: Long, tracer: Tracer,
      entities: Int): Workload = name match {
    case "etl_refresh" => new EtlRefresh(spark, seed, tracer, entities)
    case "dashboard" => new Dashboard(spark, seed, tracer, entities)
    case "weekly_upsert" => new WeeklyUpsert(spark, seed, tracer, entities)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  val TidySchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("country", StringType, nullable = false),
    StructField("antigen", StringType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("coverage_pct", DoubleType, nullable = false)))

  val ChangeSchema: StructType = StructType(
    TidySchema.fields.take(1) ++ Seq(StructField("op", StringType, nullable = false)) ++
      TidySchema.fields.drop(1))
}

/** `etl_refresh`: the reference's weekly cron. Each cycle stages a fresh
  * snapshot and calls [[EtlCli.run]] with a selection; a few dashboard
  * reads of the freshly published output follow. */
final class EtlRefresh(spark: SparkSession, seed: Long, tracer: Tracer, entities: Int)
    extends Workload(spark, seed, tracer) {
  val name = "etl_refresh"
  val ReadsPerCycle = 1
  private var dir: Path = _
  private var cycle = 0
  private val readRng = Gen.rng(seed, 20, 0L)
  private val zipf = new Gen.Zipf(entities * Gen.Antigens.size, 1.1, seed)
  /** The refresh's own selection is fixed per run, so the output holds
    * one set of artifacts and its size does not grow with cycles. */
  private val (selE, selA) = {
    val r = Gen.rng(seed, 21, 0L); (r.nextInt(entities), r.nextInt(Gen.Antigens.size))
  }

  /** The initial load: the first refresh into an empty output. */
  def setUp(d: Path): Unit = { dir = d; cycle = 0; refresh(setupTally, measured = false, reads = 0) }

  def warmUp(): Unit = refresh(setupTally, measured = false, reads = 1)

  def run(deadlineNs: Long, t: Tally): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      tracer.traced(i % 2 == 1)(refresh(t, measured = true, ReadsPerCycle))
      i += 1
    }
  }

  def finish(t: Tally): Unit = {
    t.storedBytes = dirBytes(dir.resolve("out"))
  }

  private def refresh(t: Tally, measured: Boolean, reads: Int): Unit = {
    val k = cycle; cycle += 1
    val snap = Gen.snapshotFact(seed, entities, k)
    val staged = dir.resolve(s"staging/owid_wide_$k.csv")
    Gen.writeFile(staged)(out => Gen.writeWideCsv(seed, snap, k, out))
    val model = Gen.publishedModel(snap)
    val out = dir.resolve("out")
    val country = Gen.entityName(selE)
    val antigen = Gen.Antigens(selA)
    val cfg = EtlCli.Config(source = staged.toString, out = out.toString,
      country = Some(country), antigen = Some(antigen),
      startYear = window.startYear, preYears = window.preYears, postYears = window.postYears)
    op(t, s"refresh $k") {
      val (row, ms) = timed(tracer.span("refresh")(EtlCli.run(spark, cfg)))
      if (measured) t.write(ms, tracer.on)
      tracer.span("bench.check") {
        val (n, crc) = countAndChecksum(spark.read.parquet(out.resolve("immunization").toString))
        check(t, s"refresh $k published rows")(n == model.rows && crc == model.checksum)
        check(t, s"refresh $k selection stats")(statsMatch(row.orNull, model.series(selE, selA)))
        val stem = s"${country.replace(" ", "_")}_$antigen"
        check(t, s"refresh $k png")(Files.size(out.resolve(s"plot_$stem.png")) > 0)
        check(t, s"refresh $k pdf") {
          val b = Files.readAllBytes(out.resolve(s"report_$stem.pdf"))
          new String(b.take(4), "ISO-8859-1") == "%PDF"
        }
      }
      val phase0 = System.nanoTime()
      for (_ <- 0 until reads) {
        val i = zipf.draw(readRng)
        val (e, a) = (i / Gen.Antigens.size, i % Gen.Antigens.size)
        op(t, "read") {
          val ((pts, stats), ms) = timed(tracer.span("request")(selection(
            spark.read.parquet(out.resolve("immunization").toString),
            Gen.entityName(e), Gen.Antigens(a), readSpan = "parquet.read")))
          if (measured) t.read(ms, tracer.on)
          val want = model.series(e, a)
          check(t, "series read")(pts == want && (want.isEmpty || statsMatch(stats, want)))
        }
      }
      if (measured) t.readPhaseMs += (System.nanoTime() - phase0) / 1e6
      t.liveRows = model.rows
    }
    Files.deleteIfExists(staged)
  }
}

/** `dashboard`: the Streamlit app's traffic against one published
  * snapshot, two closed-loop clients. 19 of 20 requests are a selection
  * (Zipf-skewed series), 1 of 20 the landing view over the whole table. */
final class Dashboard(spark: SparkSession, seed: Long, tracer: Tracer, entities: Int)
    extends Workload(spark, seed, tracer) {
  val name = "dashboard"
  val Clients = 2
  val LandingEvery = 20
  /** Where in each block of [[LandingEvery]] requests the landing view
    * falls: any measured phase of more than this many requests times one. */
  val LandingAt = 10
  private var table: String = _
  private val model = Gen.publishedModel(Gen.snapshotFact(seed, entities, 0))
  private val zipf = new Gen.Zipf(entities * Gen.Antigens.size, 1.1, seed)
  private val seriesCount = (for (e <- 0 until entities; a <- Gen.Antigens.indices)
    yield model.series(e, a).nonEmpty).count(identity)
  /** Request numbers, shared by the clients; each measured phase starts at 0. */
  private val nextReq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val landingsTimed = new java.util.concurrent.atomic.AtomicInteger(0)
  private val publishMs = ArrayBuffer.empty[Double]

  def setUp(d: Path): Unit = {
    val csv = d.resolve("fact.csv")
    Gen.writeFile(csv)(out => Gen.writeTidyCsv(model, out))
    table = d.resolve("table").toString
    val (_, ms) = timed(TxTable.commitReplace(spark, table,
      spark.read.schema(Workloads.TidySchema).csv(csv.toString).drop("key"),
      partitionCol = Some("antigen"), statsCols = Seq("year")))
    publishMs += ms
  }

  def warmUp(): Unit = {
    for (k <- 0 until 3 * Clients) selectionRequest(setupTally, Gen.rng(seed, 31, k), warm = true)
    landing(setupTally, warm = true)
  }

  def run(deadlineNs: Long, t: Tally): Unit = {
    nextReq.set(0L)
    val phase0 = System.nanoTime()
    val clients = (0 until Clients).map { c =>
      val own = new Tally
      val th = new Thread(() => while (System.nanoTime() < deadlineNs) request(own),
        s"dashboard-client-$c")
      th.start(); (th, own)
    }
    clients.foreach { case (th, own) => th.join(); t.merge(own) }
    t.readPhaseMs += (System.nanoTime() - phase0) / 1e6
  }

  def finish(t: Tally): Unit = {
    t.writeMs ++= publishMs
    t.storedBytes = dirBytes(java.nio.file.Paths.get(table))
    t.liveRows = model.rows
    tracer.inspect(table)
    System.err.println(s"[perfbench] ${landingsTimed.get} landing views timed")
  }

  /** The next request, whichever client asks. A traced run traces every
    * landing view and every other selection. */
  private def request(t: Tally): Unit = {
    val n = nextReq.getAndIncrement()
    if (n % LandingEvery == LandingAt) tracer.traced(true)(landing(t, warm = false))
    else tracer.traced(n % 2 == 1)(selectionRequest(t, Gen.rng(seed, 30, n), warm = false))
  }

  private def selectionRequest(t: Tally, r: java.util.SplittableRandom, warm: Boolean): Unit = {
    val s = zipf.draw(r)
    val (e, a) = (s / Gen.Antigens.size, s % Gen.Antigens.size)
    op(t, "selection") {
      val ((pts, stats), ms) = timed(tracer.span("request")(
        selection(TxTable.read(spark, table), Gen.entityName(e), Gen.Antigens(a))))
      if (!warm) t.read(ms, tracer.on)
      val want = model.series(e, a)
      check(t, "series read")(pts == want && (want.isEmpty || statsMatch(stats, want)))
    }
  }

  private def landing(t: Tally, warm: Boolean): Unit = op(t, "landing") {
    val ((idx, kp), ms) = timed(tracer.span("request.landing") {
      val f = tracer.span("txtable.read")(TxTable.read(spark, table))
      tracer.span("analysis.landing")(
        (CoverageQueries.index(f).collect(), CoverageQueries.kpis(f).collect()))
    })
    // a traced run compares selections only: its landing views are all traced
    if (!warm && !tracer.active) { t.read(ms, traced = false); landingsTimed.incrementAndGet() }
    check(t, "landing view")(idx.length == seriesCount &&
      kp.map(_.getAs[Long]("n_points")).sum == model.rows)
  }
}

/** `weekly_upsert`: one client alternating writes and reads on one
  * table. Each week appends one change file to a persistent feed and
  * drains it with the merge-on-read stream (maintenance every 4th
  * batch), then issues a fixed batch of uniformly chosen selections. */
final class WeeklyUpsert(spark: SparkSession, seed: Long, tracer: Tracer, entities: Int)
    extends Workload(spark, seed, tracer) {
  val name = "weekly_upsert"
  val MaintainEvery = 4
  val ReadsPerWeek = 2
  /** Model capacity in inserted years; a run stops before it would pass it. */
  val MaxWeeks = 64
  private var dir: Path = _
  private var week = 0
  private var model: Gen.Fact = _
  private var touched: java.util.BitSet = _
  private var modelRows = 0L
  private var modelChecksum = 0L
  private val readRng = Gen.rng(seed, 40, 0L)

  private def table = dir.resolve("table").toString

  def setUp(d: Path): Unit = {
    dir = d; week = 0
    model = Gen.tableModel(Gen.snapshotFact(seed, entities, 0), MaxWeeks)
    touched = new java.util.BitSet(model.cells.length)
    modelRows = model.rows
    modelChecksum = model.checksum
    val csv = d.resolve("fact.csv")
    Gen.writeFile(csv)(out => Gen.writeTidyCsv(model, out))
    TxTable.commitReplace(spark, table,
      spark.read.schema(Workloads.TidySchema).csv(csv.toString),
      partitionCol = Some("antigen"), statsCols = Seq("year"))
  }

  /** One merge with maintenance on a small side table, and one read of
    * the real one. */
  def warmUp(): Unit = {
    val d = dir.resolve("warm")
    val small = Gen.tableModel(Gen.snapshotFact(seed + 1, 50, 0), 1)
    val csv = d.resolve("fact.csv")
    Gen.writeFile(csv)(out => Gen.writeTidyCsv(small, out))
    val t = d.resolve("table").toString
    TxTable.commitReplace(spark, t, spark.read.schema(Workloads.TidySchema).csv(csv.toString),
      partitionCol = Some("antigen"), statsCols = Seq("year"))
    writeFeed(d.resolve("feed"), Gen.weekChanges(seed + 1, 0, small,
      new java.util.BitSet(small.cells.length)))
    merge(t, d, maintainEvery = 1)
    selection(TxTable.read(spark, table), Gen.entityName(0), Gen.Antigens(0))
  }

  private def writeFeed(feed: Path, changes: Vector[Gen.Change]): Unit = {
    val rows = changes.map(c => Row(Gen.key(c.e, c.a, c.year), c.op, Gen.entityName(c.e),
      Gen.Antigens(c.a), c.year, c.tenths / 10.0))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Workloads.ChangeSchema)
      .coalesce(1).write.mode("append").parquet(feed.toString)
  }

  private def merge(t: String, d: Path, maintainEvery: Int): Long =
    MergeStream.mergeAvailableVersioned(spark, t, d.resolve("feed").toString,
      Workloads.ChangeSchema, d.resolve("checkpoint").toString,
      keyCol = "key", opCol = "op", partitionCol = "antigen",
      moR = true, maintainEvery = maintainEvery)

  /** Whole maintenance cycles; a traced run covers two, and traces two
    * weeks of each so that every position in the cycle, compaction week
    * included, is traced once and untraced once. */
  def run(deadlineNs: Long, t: Tally): Unit = {
    val cycle = if (tracer.active) 2 * MaintainEvery else MaintainEvery
    while ((System.nanoTime() < deadlineNs || week % cycle != 0) && week < MaxWeeks)
      tracer.traced((week + week / MaintainEvery) % 2 == 1)(oneWeek(t))
  }

  def finish(t: Tally): Unit = {
    t.storedBytes = dirBytes(dir.resolve("table"))
    t.liveRows = modelRows
  }

  private def oneWeek(t: Tally): Unit = tracer.span("week") {
    val w = week; week += 1
    op(t, s"week $w") {
      tracer.span("bench.feed") {
        val changes = Gen.weekChanges(seed, w, model, touched)
        modelRows += changes.count(_.op == "insert") - changes.count(_.op == "delete")
        modelChecksum += changes.map(_.checksumDelta).sum
        writeFeed(dir.resolve("feed"), changes)
      }
      val (n, ms) = timed(tracer.span("merge")(merge(table, dir, MaintainEvery)))
      t.write(ms, tracer.on)
      check(t, s"week $w applied one batch")(n == 1L)
      tracer.span("bench.check") {
        val (rows, crc) = countAndChecksum(TxTable.read(spark, table))
        check(t, s"week $w snapshot")(rows == modelRows && crc == modelChecksum)
      }
      if (tracer.on) tracer.inspect(table)
      val phase0 = System.nanoTime()
      for (_ <- 0 until ReadsPerWeek) {
        val (e, a) = (readRng.nextInt(entities), readRng.nextInt(Gen.Antigens.size))
        op(t, "read") {
          val ((pts, stats), ms) = timed(tracer.span("request")(selection(
            TxTable.read(spark, table), Gen.entityName(e), Gen.Antigens(a))))
          t.read(ms, tracer.on)
          val want = model.series(e, a)
          check(t, "series read")(pts == want && (want.isEmpty || statsMatch(stats, want)))
        }
      }
      t.readPhaseMs += (System.nanoTime() - phase0) / 1e6
    }
  }
}
