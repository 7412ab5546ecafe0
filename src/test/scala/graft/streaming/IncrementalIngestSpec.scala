package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Exactly-once incremental ETL: two drops land at different times;
  * each ingest run processes only unseen files (checkpointed offsets),
  * the final fact equals the batch ETL over both drops, and re-running
  * with nothing staged appends nothing. */
class IncrementalIngestSpec extends SparkSpec {

  test("two drops, three runs: no reprocessing, batch parity") {
    val base = tempDir("graft_incr")
    val staging = base.resolve("staging"); Files.createDirectories(staging)
    val out = base.resolve("fact").toString
    val ckpt = base.resolve("ckpt").toString

    def drop(name: String, rows: String): Unit =
      Files.writeString(staging.resolve(name),
        s"entity,year,coverage__dtp3,coverage__mcv1\n$rows\n")

    drop("week1.csv", "India,2000,85.5,70.0\nGhana,2000,60.0,55.0")
    val schema = graft.ingest.WideCsvIngest
      .readWideCsv(spark, staging.toString).schema
    def ingest(): Unit = IncrementalIngest.ingestAvailable(
      spark, staging.toString, schema,
      Seq("coverage__dtp3", "coverage__mcv1"), "entity", "year", out, ckpt)

    ingest()
    assert(spark.read.parquet(out).count() == 4)

    // second drop: only the new file is processed
    drop("week2.csv", "India,2001,86.0,71.0")
    ingest()
    val after2 = spark.read.parquet(out)
    assert(after2.count() == 6)
    // exactly-once: week1 rows were NOT re-appended
    assert(after2.filter(col("country") === "India" && col("year") === 2000).count() == 2)

    // idle run: nothing staged, nothing appended
    ingest()
    assert(spark.read.parquet(out).count() == 6)

    // parity with the batch ETL over the same files (sorted-rows
    // compare; exceptAll over an unpivot plan trips SPARK internal
    // attribute binding)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("country", "antigen", "year", "coverage_pct")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
      .sorted.toSeq
    val batch = graft.ingest.WideCsvIngest.tidy(
      graft.ingest.WideCsvIngest.readWideCsv(spark, staging.toString))
    assert(rows(spark.read.parquet(out)) == rows(batch))
  }
}
