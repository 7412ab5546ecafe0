package graft

/** Focused micro-bench: run a subset of [[SparkEntry.queries]] several
  * times in one JVM to get steady-state numbers without full-suite
  * noise. Usage:
  *   sbt "runMain graft.BenchFocus q57_decontamination q79_bloom_decontamination"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  * the core count), SPARK_GRAFT_REPS (default 3). Prints per-rep seconds so
  * warm-up effects are visible instead of averaged away.
  */
object BenchFocus {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftExtensions.builder(GraftExtensions.localSlots).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    val names = if (args.nonEmpty) args.toSeq else Bench.pool.keys.toSeq.sorted
    for (name <- names) {
      val fn = Bench.pool.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // execute the query's OWN physical plan (projections and sorts
        // intact) — a `.count()` wrapper would let Catalyst prune the
        // projections and eliminate the top sort, timing a bare scan
        // for projection-shaped queries (NOTES lesson #4). Bench.scala
        // deliberately keeps count() for comparability with the
        // recorded r1 baseline methodology.
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[focus] $name%-32s ${times.map(t => f"$t%6.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
