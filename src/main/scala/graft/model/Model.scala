package graft.model

import org.apache.spark.sql.types._

/** One row of the tidy fact table — the engine's central relation.
  *
  * Mirrors the reference's clean table DDL
  * (`/root/reference/etl_pipeline.py:84-94`):
  * `CREATE TABLE immunization (country TEXT, antigen TEXT, year INTEGER,
  *  coverage_pct REAL, PRIMARY KEY (country, antigen, year))`.
  * Spark has no constraints, so the composite PK becomes a
  * `dropDuplicates` convention enforced by [[graft.ingest.WideCsvIngest]].
  */
final case class Coverage(country: String, antigen: String, year: Int, coverage_pct: Double)

/** Before/after campaign window spec.
  *
  * Encodes the reference's asymmetric slice semantics exactly once
  * (`/root/reference/etl_pipeline.py:124-131`): the "before" window is
  * `[start-pre, start-1]` and the "after" window *includes* the start year,
  * `[start, start+post]` — both bounds inclusive on both sides.
  */
final case class CampaignWindow(startYear: Int, preYears: Int, postYears: Int) {
  require(preYears >= 0 && postYears >= 0, "window sizes must be non-negative")
  def beforeLo: Int = startYear - preYears
  def beforeHi: Int = startYear - 1
  def afterLo: Int = startYear
  def afterHi: Int = startYear + postYears
}

object Schemas {
  /** Explicit schema of the tidy fact table (never inferred). */
  val coverage: StructType = StructType(Seq(
    StructField("country", StringType, nullable = false),
    StructField("antigen", StringType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("coverage_pct", DoubleType, nullable = false),
  ))

  /** Schema of the driver's `events` table (see TESTDATA.md) — used for
    * the streaming source, which cannot infer schemas. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))
}
