package graft

import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {

  private def inTempDir[T](f: String => T): T =
    QueryUtil.inTempDir("graft_maint_spec")(f)

  test("compaction collapses 64 fragments to the byte-targeted count " +
      "and preserves content exactly") {
    import spark.implicits._
    inTempDir { tmp =>
      val df = (1 to 20000).map(i => (i.toLong, s"row_$i", i * 1.5))
        .toDF("id", "tag", "v")
      df.repartition(64).write.parquet(s"$tmp/small")
      val (nIn, nOut) = graft.ingest.Compaction.compactTo(
        spark, s"$tmp/small", s"$tmp/out", targetBytes = 512L * 1024)
      assert(nIn == 64, s"fragmented input expected, got $nIn")
      assert(nOut < 8, s"compaction must collapse the file count, got $nOut")
      val a = spark.read.parquet(s"$tmp/small").orderBy("id").collect().toSeq
      val b = spark.read.parquet(s"$tmp/out").orderBy("id").collect().toSeq
      assert(a == b, "content must be byte-identical after compaction")
    }
  }

  test("compaction of an already-compact input is a no-op in count") {
    import spark.implicits._
    inTempDir { tmp =>
      Seq((1L, "a")).toDF("id", "tag").coalesce(1).write.parquet(s"$tmp/one")
      val (_, nOut) = graft.ingest.Compaction.compactTo(
        spark, s"$tmp/one", s"$tmp/out", targetBytes = 128L * 1024 * 1024)
      assert(nOut == 1)
    }
  }

  test("left-outer stream join emits unmatched purchases with -1 after " +
      "the watermark drain (the sentinel recipe)") {
    val out = SparkEntry.queries("q139_stream_outer_join")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    val unmatched = out.filter(_._2 == -1L)
    assert(unmatched.nonEmpty,
      "without the watermark drain, unmatched purchases never emit — " +
        "their presence IS the semantics under test")
    // and every purchase appears at least once (outer totality)
    val ev = graft.analysis.EventsFact.events(spark, sf())
    val purchases = ev.where(col("event_type") === "purchase").count()
    assert(out.map(_._1).distinct.length == purchases)
  }
}
