package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, measure for `--seconds`, check outputs,
  * write the result object to `--result`.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --work DIR --result FILE
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics. With
  * `--trace 1` every other operation is traced; the result holds the
  * per-layer metrics of the traced operations and the difference between
  * traced and untraced ones as tracing overhead.
  */
object Main {
  val SetupReps = 3
  /** Entities in every generated snapshot: 100 × 46 in-range years × 16
    * antigens ≈ 65k tidy rows. Small enough that a run of each workload,
    * with its cold start and set-up, fits the benchmark's time budget;
    * at this size every layer is orchestration-bound, as the engine's
    * own lanes are at sf0.1. */
  val Entities = 100

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", result: String = "")

  def parse(a: List[String], c: Args = Args()): Args = a match {
    case "--workload" :: v :: r => parse(r, c.copy(workload = v))
    case "--seed" :: v :: r => parse(r, c.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, c.copy(seconds = v.toInt))
    case "--trace" :: v :: r => parse(r, c.copy(trace = v == "1"))
    case "--work" :: v :: r => parse(r, c.copy(work = v))
    case "--result" :: v :: r => parse(r, c.copy(result = v))
    case Nil => c
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workloads.Names.contains(a.workload), s"unknown workload '${a.workload}'")
    require(a.work.nonEmpty && a.result.nonEmpty, "--work and --result are required")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(a.work).toAbsolutePath
    val spark = session(work)
    try {
      val tracer = new Tracer(spark)
      val w = Workloads(a.workload, spark, a.seed, tracer, Entities)
      // set-up repeats in fresh directories; the first repetition counts
      // from JVM start and includes the warm-up: it is the cold start that
      // setup_s reports. The warm repetitions show work moved into set-up.
      val setupS = (1 to SetupReps).map { rep =>
        val n0 = System.nanoTime()
        w.setUp(work.resolve(s"setup$rep"))
        if (rep == 1) w.warmUp()
        val ms = if (rep == 1) System.currentTimeMillis() - jvmStart
          else (System.nanoTime() - n0) / 1e6
        System.err.println(f"[perfbench] set-up $rep: ${ms / 1000}%.3f s")
        ms / 1000.0
      }
      val (metrics, t) =
        if (!a.trace) endToEnd(w, a.seconds, setupS)
        else perLayer(w, tracer, a.seconds, a.workload, median(setupS.tail))
      val json = new StringBuilder("{")
      json.append(s""""correct": ${t.failed == 0}, "attempted": ${t.attempted}, """)
      json.append(s""""failed": ${t.failed}, "metrics": {""")
      json.append(metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", "))
      json.append("}}")
      Files.write(Paths.get(a.result), json.toString.getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** One local session with as many task slots (and shuffle partitions)
    * as the machine has cores; everything it writes stays under `work`. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Heap in use after a full collection: what the engine (and Spark's
    * bookkeeping of the jobs it ran) keeps live, independent of the
    * fixed heap size. */
  private def liveHeapMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def measure(w: Workload, seconds: Double): Tally = {
    val t = new Tally
    w.run(System.nanoTime() + (seconds * 1e9).toLong, t)
    t
  }

  /** Operations and checks of the whole run, set-up included. */
  private def counted(w: Workload, ts: Tally*): Tally = {
    val all = new Tally
    (w.setupTally +: ts).foreach { t => all.attempted += t.attempted; all.failed += t.failed }
    all
  }

  type Metrics = Seq[(String, Double, String)]

  def endToEnd(w: Workload, seconds: Int, setupS: Seq[Double]): (Metrics, Tally) = {
    val t = measure(w, seconds)
    w.finish(t)
    val c = counted(w, t)
    System.err.println(s"[perfbench] ${t.writeMs.size} writes, ${t.readMs.size} reads, " +
      s"${c.attempted} operations and checks, ${c.failed} failed; " +
      f"warm set-up median ${median(setupS.tail)}%.3f s")
    (Seq(
      ("setup_s", setupS.head, "s"),
      ("refresh_s", median(t.writeMs.toSeq) / 1000, "s"),
      ("query_p50_ms", median(t.readMs.toSeq), "ms"),
      ("query_p90_ms", quantile(t.readMs.toSeq, 0.9), "ms"),
      ("queries_per_s", t.readMs.size / (t.readPhaseMs / 1000), "1/s"),
      ("upsert_s_per_week", t.writeMs.sum / t.writeMs.size / 1000, "s"),
      ("stored_bytes_per_row", t.storedBytes.toDouble / t.liveRows, "B"),
      ("peak_rss_mb", peakRssMb, "MB"),
      ("ops_ok_frac", (c.attempted - c.failed).toDouble / c.attempted, "ratio")), c)
  }

  def perLayer(w: Workload, tr: Tracer, seconds: Int, workload: String,
      warmSetupS: Double): (Metrics, Tally) = {
    tr.install()
    tr.active = true
    val t = tr.withCountingLogStore(measure(w, seconds))
    tr.active = false
    tr.drain()
    w.finish(t)
    val extra = Map("setup.warm_s" -> warmSetupS, "jvm.heap_live_mb" -> liveHeapMb)
    (Layers.report(new Analysis(tr), tr, workload, t, extra), counted(w, t))
  }
}
