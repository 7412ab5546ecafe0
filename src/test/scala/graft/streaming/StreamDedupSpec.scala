package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming exact-dedup: `dropDuplicates` with a watermark over a
  * file stream — the incremental-ingest guard against re-delivered
  * documents (at-least-once sources make duplicates normal). The spec
  * feeds the same file twice; the streamed distinct count must equal
  * the batch distinct. */
class StreamDedupSpec extends SparkSpec {

  test("streamed dropDuplicates over a doubled source equals batch distinct") {
    val src = tempDir("graft_stream_dup")
    val orig = Paths.get(s"${sf()}/events.parquet")
    Files.copy(orig, src.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(orig, src.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val eventsRawSchema = graft.analysis.EventsFact.eventsSchema(spark, sf())
    val streamed = graft.analysis.EventsFact.canonicalTs(spark.readStream
      .schema(eventsRawSchema)
      .parquet(src.toString))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy()
      .count()
    val q = streamed.writeStream.format("memory").queryName("dedup_count")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_count").head().getLong(0)
    val want = spark.read.schema(eventsRawSchema).parquet(src.toString)
      .select("event_id").distinct().count()
    val doubled = spark.read.schema(eventsRawSchema).parquet(src.toString).count()
    assert(doubled == 2 * want, "precondition: source really is doubled")
    assert(got == want, s"stream deduped to $got, batch distinct is $want")
  }
}
