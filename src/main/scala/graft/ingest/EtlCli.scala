package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analysis.CoverageQueries
import graft.model.CampaignWindow

/** The reference's CLI entry point (`python etl_pipeline.py [--country
  * --antigen --start-year --pre-years --post-years]`,
  * `/root/reference/etl_pipeline.py:183-195`) as a spark-submit main:
  * ETL always runs (staged wide CSV → tidy fact published as sorted
  * parquet, replacing the SQLite db); the before/after analysis runs
  * when a country+antigen selection is given, emitting the series CSV
  * artifact and the stats summary the reference prints/plots.
  *
  * Usage:
  * {{{
  * spark-submit --class graft.ingest.EtlCli <jar> \
  *   --source /staging/owid_wide.csv --out /warehouse/vaccination \
  *   [--country India --antigen dtp3 \
  *    --start-year 2000 --pre-years 5 --post-years 5]
  * }}}
  */
object EtlCli {

  final case class Config(
      source: String = "",
      out: String = "",
      country: Option[String] = None,
      antigen: Option[String] = None,
      startYear: Int = 2000,
      preYears: Int = 5,
      postYears: Int = 5,
      url: Option[String] = None)

  def parse(args: List[String], c: Config = Config()): Config = args match {
    case "--source" :: v :: rest => parse(rest, c.copy(source = v))
    case "--url" :: v :: rest => parse(rest, c.copy(url = Some(v)))
    case "--out" :: v :: rest => parse(rest, c.copy(out = v))
    case "--country" :: v :: rest => parse(rest, c.copy(country = Some(v)))
    case "--antigen" :: v :: rest => parse(rest, c.copy(antigen = Some(v)))
    case "--start-year" :: v :: rest => parse(rest, c.copy(startYear = v.toInt))
    case "--pre-years" :: v :: rest => parse(rest, c.copy(preYears = v.toInt))
    case "--post-years" :: v :: rest => parse(rest, c.copy(postYears = v.toInt))
    case Nil => c
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args.toList)
    require((c.source.nonEmpty || c.url.nonEmpty) && c.out.nonEmpty,
      "--source or --url, and --out, are required")
    require(c.source.isEmpty || c.url.isEmpty,
      "--source and --url are mutually exclusive (a fetch would overwrite the pre-staged file)")
    val spark = SparkSession.builder()
      .appName("graft-etl")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    run(spark, c)
  }

  /** Separated from main for tests; returns the analysis row (if any). */
  def run(spark: SparkSession, c: Config): Option[org.apache.spark.sql.Row] = {
    // E1 step 1: extract. With --url this is the reference's network GET
    // (60 s timeout, raise on non-2xx — etl_pipeline.py:28-31,51-52)
    // into `<out>/staging/owid_wide.csv`; --source reads a pre-staged file.
    val source = c.url match {
      case Some(u) => HttpStaging.fetchToStaging(u, s"${c.out}/staging/owid_wide.csv")
      case None => c.source
    }
    // E1 steps 2-5: validate, transform, load.
    val raw = WideCsvIngest.readWideCsv(spark, source)
    raw.write.mode("overwrite").parquet(s"${c.out}/owid_raw")
    val fact = WideCsvIngest.tidy(raw)
    WideCsvIngest.writeFact(fact, s"${c.out}/immunization")
    println(s"[etl] published ${c.out}/immunization")

    // E1 steps 6-9 when a selection is given.
    for (country <- c.country; antigen <- c.antigen) yield {
      val published = spark.read.parquet(s"${c.out}/immunization")
      val series = CoverageQueries.seriesOf(published, country, antigen)
      val pts = series.collect()
        .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).doubleValue)).toSeq
      if (pts.isEmpty)
        throw new IllegalArgumentException(
          s"no data for country=$country antigen=$antigen")
      val stem = s"${WideCsvIngest.sanitizeName(country)}_" +
        WideCsvIngest.sanitizeName(antigen)
      WideCsvIngest.writeCsv(series, s"${c.out}/coverage_$stem")
      val w = CampaignWindow(c.startYear, c.preYears, c.postYears)
      val row = CoverageQueries.beforeAfterFull(published, w)
        .filter(col("country") === country && col("antigen") === antigen)
        .collect().head
      println(f"[analysis] $country/$antigen n=${row.getAs[Long]("n_before")}+" +
        f"${row.getAs[Long]("n_after")} diff=${row.getAs[Double]("diff")}%.3f " +
        f"verdict=${row.getAs[String]("verdict")}")

      // E1 step 10: presentation artifacts (S7) — the reference's PNG
      // plot (etl_pipeline.py:156-172) and 2-page PDF policy report
      // (report_generator.py). Driver-side rendering of the bounded,
      // already-aggregated series + stats row.
      def opt(name: String): Option[Double] =
        if (row.isNullAt(row.fieldIndex(name))) None else Some(row.getAs[Double](name))
      graft.report.PngChart.writeCoveragePlot(pts, country, antigen,
        c.startYear, c.preYears, c.postYears, s"${c.out}/plot_$stem.png")
      graft.report.PdfReport.writeReport(pts, country, antigen,
        c.startYear, c.preYears, c.postYears,
        graft.report.PdfReport.Stats(opt("mean_before"), opt("mean_after"), opt("p_value")),
        s"${c.out}/report_$stem.pdf")
      println(s"[artifacts] ${c.out}/plot_$stem.png ${c.out}/report_$stem.pdf")
      row
    }
  }
}
