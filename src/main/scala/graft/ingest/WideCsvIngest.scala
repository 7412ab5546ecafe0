package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryUtil.isTiny

/** Wide-CSV → tidy fact-table ETL, the reference's `run_etl`
  * (`/root/reference/etl_pipeline.py:49-100`) re-expressed as a lazy
  * Catalyst plan.
  *
  * Stages: schema resolution/validation (fail fast, driver-side on
  * `df.columns` — `etl_pipeline.py:56-66`), wide→long unpivot of the
  * dynamic `coverage__*` column set (`df.melt`, `etl_pipeline.py:68-73`),
  * clean + year-range filter (`etl_pipeline.py:73-75`), and a
  * deduplicated, sorted Parquet write standing in for the SQLite table
  * with composite PK (`etl_pipeline.py:84-95`).
  *
  * Scale notes: the unpivot multiplies rows ×N(antigens) but is a
  * narrow (no-shuffle) transform. [[writeFact]] lays the tidy rows out
  * before the dedup: a tiny raw CSV ([[graft.QueryUtil.isTiny]]) is
  * coalesced to one partition, so unpivot, dedup, sort and write run as
  * ONE stage with no `Exchange`; anything larger is hash-repartitioned
  * on `country`, which already clusters every (country, antigen, year)
  * key, so the dedup aggregate adds no second shuffle. That one shuffle
  * also gives the published layout: hash-distributed on country, each
  * file sorted within by (country, antigen, year) so parquet row-group
  * min/max stats serve point lookups the way the reference's PK index
  * does (SURVEY §4.2).
  */
object WideCsvIngest {

  val CoveragePrefix = "coverage__"

  /** The plausible year range, inclusive on both sides (`etl_pipeline.py:75`). */
  private val MinYear = 1980
  private val MaxYear = 2100

  final case class ResolvedColumns(entity: String, year: String, coverage: Seq[String])

  /** Case-insensitive resolution of the entity/year columns plus
    * data-driven discovery of the `coverage__*` value columns; raises
    * with a schema sample otherwise ("OWID schema changed" guard,
    * `etl_pipeline.py:56-66`). Never hard-code the antigen set — it
    * drifts weekly upstream (SURVEY §7.4 #3). */
  def resolveColumns(df: DataFrame): ResolvedColumns = {
    // Locale.ROOT: default-locale lowercasing breaks the match for any
    // header containing an I under tr_TR/az (dotted/dotless i) — same
    // rule as Iso3166.normalize
    val byLower = df.columns.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    def need(name: String): String = byLower.getOrElse(name,
      throw new IllegalArgumentException(
        s"required column '$name' missing (schema: ${df.columns.mkString(", ")})"))
    val cov = df.columns
      .filter(_.toLowerCase(java.util.Locale.ROOT).startsWith(CoveragePrefix)).toSeq
    if (cov.isEmpty) throw new IllegalArgumentException(
      s"no '$CoveragePrefix*' columns found (schema: ${df.columns.mkString(", ")})")
    ResolvedColumns(need("entity"), need("year"), cov)
  }

  /** Read the raw wide CSV with header; schema inferred by design — the
    * upstream column set is dynamic (`etl_pipeline.py:53`). */
  def readWideCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** Wide → tidy: [[tidyRows]] deduplicated on the composite PK. */
  def tidy(raw: DataFrame, yearLo: Int = MinYear, yearHi: Int = MaxYear): DataFrame =
    dedup(tidyRows(raw, yearLo, yearHi))

  /** Unpivot, strip the `coverage__` prefix into the antigen key,
    * coerce-or-null the numeric columns, drop missing, filter to
    * [yearLo, yearHi]. */
  private def tidyRows(raw: DataFrame, yearLo: Int, yearHi: Int): DataFrame = {
    val cols = resolveColumns(raw)
    tidyColumns(
      raw.unpivot(
        Array(col(cols.entity).as("country"), col(cols.year).as("year")),
        cols.coverage.map(col).toArray,
        "antigen", "coverage_pct"),
      yearLo, yearHi)
      .select("country", "antigen", "year", "coverage_pct")
  }

  /** SQLite's PK would reject duplicate (country, antigen, year) keys;
    * Spark enforces nothing, so make the convention explicit (S5). */
  private def dedup(rows: DataFrame): DataFrame =
    rows.dropDuplicates("country", "antigen", "year")

  /** The shared unpivoted→tidy column pipeline — ONE definition for the
    * batch ([[tidy]]) and streaming ([[graft.streaming.IncrementalIngest]])
    * ingests, so the semantics cannot fork.
    *
    * pandas melt keeps NaN then the explicit dropna removes them
    * (etl_pipeline.py:73); Spark unpivot already drops NULL values, but
    * entity/year NULLs still need the drop for parity. The prefix strip
    * is case-INsensitive to match [[resolveColumns]]'s case-insensitive
    * discovery (a `Coverage__MCV1` header must yield antigen `MCV1`,
    * not leak the prefix). */
  private[graft] def tidyColumns(unpivoted: DataFrame, yearLo: Int, yearHi: Int): DataFrame =
    unpivoted
      .withColumn("year", col("year").cast("int"))
      .withColumn("coverage_pct", col("coverage_pct").cast("double"))
      .na.drop("any")
      .filter(col("year").between(yearLo, yearHi))
      .withColumn("antigen", regexp_replace(col("antigen"), "(?i)^" + CoveragePrefix, ""))

  /** Publish the raw wide frame as the tidy fact table: [[tidy]]'s
    * rows laid out for point lookups (see "Scale notes"), deduplicated
    * within that layout, sorted by the full PK within each file. The
    * size rule reads the raw frame, not the tidy rows: the unpivot
    * multiplies the estimate by the number of coverage columns. */
  def writeFact(raw: DataFrame, path: String): Unit = {
    val rows = tidyRows(raw, MinYear, MaxYear)
    val laidOut = if (isTiny(raw)) rows.coalesce(1) else rows.repartition(col("country"))
    dedup(laidOut)
      .sortWithinPartitions("country", "antigen", "year")
      .write.mode("overwrite").parquet(path)
  }

  /** Filename sanitization for artifact names (`etl_pipeline.py:152`):
    * spaces → underscores, slashes → dashes. Driver-side scalar. */
  def sanitizeName(s: String): String = s.replace(" ", "_").replace("/", "-")
}
