package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The at-rest layouts must show up in the physical plan: directory
  * partitioning as PartitionFilters pruning, bucketing as a
  * shuffle-free join. */
class LayoutSpec extends SparkSpec {

  test("partitioned layout prunes directories at planning time") {
    val dir = tempDir("graft_layout").toString + "/fact"
    val fact = graft.analysis.EventsFact.fact(spark, sf())
    Layout.writePartitioned(fact, dir, Seq("country"))
    val scan = spark.read.parquet(dir).filter(col("country") === "cohort_1")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { scan.explain("formatted") }
    val plan = out.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cohort_1"),
      s"no partition pruning:\n$plan")
    // pruned read must touch exactly one of the 10 cohort directories
    assert(scan.select("country").distinct().count() == 1)
  }

  test("co-bucketed tables join with no exchange") {
    val dir = tempDir("graft_bucketed").toString
    val o = spark.read.parquet(s"${sf()}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    Layout.writeBucketed(o, "orders_b", s"$dir/orders_b", "o_orderkey", 4)
    Layout.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", s"$dir/lineitem_b", "o_orderkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
