package graft.plans

import graft.SparkSpec
import graft.ext.Layout
import org.apache.spark.sql.functions._

/** At-rest layout as a scale lever: bucketed tables joining with NO
  * exchange, and Z-ordered files whose per-file min/max stats are
  * tight on both dimensions. These are the two layout tools that turn
  * "every join shuffles 100 TB" into "the shuffle happened once, at
  * write time".
  */
class BucketedLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed tables sort-merge join with zero shuffle exchanges") {
    val dir = tempDir("graft-bucketed").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force SMJ so the assertion is about bucketing, not broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      docs.select("doc_id", "lang").write
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/t1").mode("overwrite").saveAsTable("graft_bl_t1")
      docs.select("doc_id", "n_chars").write
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/t2").mode("overwrite").saveAsTable("graft_bl_t2")
      val joined = spark.table("graft_bl_t1")
        .join(spark.table("graft_bl_t2"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      assert(joined.count() == docs.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bl_t1")
      spark.sql("DROP TABLE IF EXISTS graft_bl_t2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("zOrderBy files carry tight min/max boxes on BOTH dims vs a random layout") {
    val dir = tempDir("graft-zorder").toString
    // a 64x64 grid: every (x, y) cell once, arriving in hash order
    val grid = (0 until 4096).map(i => (i % 64, i / 64)).toDF("x", "y")
      .repartition(8)
    grid.write.mode("overwrite").parquet(s"$dir/random")
    Layout.zOrderBy(grid, col("x"), col("y"), numPartitions = 8)
      .write.mode("overwrite").parquet(s"$dir/zorder")
    // per-FILE bounding-box area of (x, y) — what parquet min/max
    // pruning sees when a reader filters on either dimension
    def meanArea(path: String): Double = {
      val rows = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).as("area"))
        .select(avg("area")).head().getDouble(0)
      rows
    }
    val (rand, zord) = (meanArea(s"$dir/random"), meanArea(s"$dir/zorder"))
    // hash layout: every file spans ~the whole grid (area ~4096);
    // z-order: each file is a contiguous curve segment (area ~512)
    assert(zord < rand / 2,
      s"z-ordered files must be tighter: zorder=$zord vs random=$rand")
  }
}
