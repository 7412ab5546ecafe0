package perfbench

import java.nio.file.Paths

/** The class-data training run of the build: sets up every workload
  * once on tiny inputs, traced, so the JVM's archive holds the classes a
  * real run loads. Its timings are not used. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(Main.parse(args.toList).work).toAbsolutePath
    val spark = Main.session(work)
    try {
      val tracer = new Tracer(spark)
      tracer.install()
      tracer.active = true
      tracer.withCountingLogStore(tracer.traced(true)(Workloads.Names.foreach { name =>
        val w = Workloads(name, spark, 1L, tracer, 20)
        w.setUp(work.resolve(name))
        w.warmUp()
      }))
      tracer.active = false
      tracer.drain()
      Workloads.Names.foreach(n => Layers.report(new Analysis(tracer), tracer, n, new Tally, Map.empty))
    } finally spark.stop()
  }
}
