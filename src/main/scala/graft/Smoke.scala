package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry on
  * sf0.001 and asserts rows > 0, printing the result head + plan. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions.builder(GraftExtensions.localSlots).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows=$n (expect > 0)")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
