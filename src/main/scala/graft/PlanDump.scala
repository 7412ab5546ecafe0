package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round instrumentation: run named queries from the
  * bench pool, write each one's `.explain("formatted")` to
  * plans/<tag>/<name>.txt, and print a per-JOB wall-time breakdown so a
  * multi-action lane (tx setup + DML + requires + final read) shows
  * WHERE its seconds go — the final frame's plan alone can't. The
  * driver-side gap between jobs has no breakdown here: profile it with
  * the JDK's Flight Recorder (start the JVM with `JDK_JAVA_OPTIONS=
  * "-XX:StartFlightRecording=settings=profile,filename=<dir>/"`, read
  * `jfr print --json --stack-depth 512 --events jdk.ExecutionSample`)
  * and bucket each sample by its innermost `QueryExecution` frame. Usage:
  *   sbt "runMain graft.PlanDump <tag> q133_mad q108_pagerank"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  * the core count). Each query runs once cold-ish (after the shared lineitem warm
  * probe), then once more timed — the second run's jobs are reported so
  * one-time session costs don't pollute the attribution.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = args.headOption.getOrElse(sys.error("usage: PlanDump <tag> <query>..."))
    val names = args.drop(1).toSeq
    val builder = GraftExtensions.builder(GraftExtensions.localSlots)
    // diagnostic-only conf overrides: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    final case class JobRec(id: Int, desc: String, var ms: Double,
        var started: Long, var stages: List[String])
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
            .mkString(" | "))
        jobs.put(e.jobId, JobRec(e.jobId, d, 0.0, e.time,
          e.stageInfos.map(si => s"${si.stageId}:${si.numTasks}t").toList))
        order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(r => r.ms = (e.time - r.started).toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = ()
    })

    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    for (name <- names) {
      val fn = Bench.pool.getOrElse(name, sys.error(s"unknown query '$name'"))
      // pass 1: plan capture (also warms codegen/caches for this lane)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), plan)
      df.queryExecution.toRdd.count()
      // pass 2: timed, with per-job attribution; the gap (wall time −
      // job time) is driver-side work, profiled with Flight Recorder
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.streams.active.foreach(_.stop())
      Thread.sleep(200) // let listener events drain
      println(f"[plandump] $name%-32s total $sec%6.2f s, ${order.size()} jobs")
      val recs = scala.jdk.CollectionConverters.IteratorHasAsScala(
        order.iterator()).asScala.toSeq.flatMap(id => Option(jobs.get(id)))
      recs.sortBy(-_.ms).take(18).foreach { r =>
        println(f"[plandump]   job ${r.id}%4d ${r.ms / 1000.0}%7.3f s  " +
          f"[${r.stages.mkString(",").take(40)}] ${r.desc.take(100)}")
      }
      val accounted = recs.map(_.ms).sum / 1000.0
      println(f"[plandump]   jobs account for $accounted%6.2f s of $sec%6.2f s (gap = driver/planning/fs)")
    }
    spark.stop()
  }
}
