package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analysis.CoverageQueries
import graft.model.{CampaignWindow, Schemas}

/** The reference's CLI entry point (`python etl_pipeline.py [--country
  * --antigen --start-year --pre-years --post-years]`,
  * `/root/reference/etl_pipeline.py:183-195`) as a spark-submit main.
  * ETL always runs: the staged wide CSV is published under `--out` as
  * `owid_raw/` (the raw frame) and `immunization/` (the tidy fact,
  * sorted parquet, replacing the SQLite db). With a country+antigen
  * selection the before/after analysis runs too: it prints the stats
  * summary and writes three driver-side artifacts beside the tables,
  * `<stem>` being `<country>_<antigen>` with [[WideCsvIngest.sanitizeName]]:
  *   - `coverage_<stem>.csv`: the series, header `year,coverage_pct`;
  *   - `plot_<stem>.png`: the coverage plot;
  *   - `report_<stem>.pdf`: the 2-page policy report.
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
    case Nil => c
    case flag :: rest =>
      val set: String => Config = flag match {
        case "--source" => v => c.copy(source = v)
        case "--url" => v => c.copy(url = Some(v))
        case "--out" => v => c.copy(out = v)
        case "--country" => v => c.copy(country = Some(v))
        case "--antigen" => v => c.copy(antigen = Some(v))
        case "--start-year" => v => c.copy(startYear = v.toInt)
        case "--pre-years" => v => c.copy(preYears = v.toInt)
        case "--post-years" => v => c.copy(postYears = v.toInt)
        case _ => throw new IllegalArgumentException(s"unknown argument: $flag")
      }
      rest match {
        case v :: tail => parse(tail, set(v))
        case Nil => throw new IllegalArgumentException(s"missing value for $flag")
      }
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args.toList)
    require((c.source.nonEmpty || c.url.nonEmpty) && c.out.nonEmpty,
      "--source or --url, and --out, are required")
    require(c.source.isEmpty || c.url.isEmpty,
      "--source and --url are mutually exclusive (a fetch would overwrite the pre-staged file)")
    val spark = graft.GraftExtensions.builder().appName("graft-etl").getOrCreate()
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
    WideCsvIngest.writeFact(raw, s"${c.out}/immunization")
    println(s"[etl] published ${c.out}/immunization")

    // E1 steps 6-9 when a selection is given.
    for (country <- c.country; antigen <- c.antigen) yield {
      // the schema is known: no footer-reading inference job
      val published = spark.read.schema(Schemas.coverage).parquet(s"${c.out}/immunization")
      val pts = CoverageQueries.seriesOf(published, country, antigen).collect()
        .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).doubleValue)).toSeq
      if (pts.isEmpty)
        throw new IllegalArgumentException(
          s"no data for country=$country antigen=$antigen")
      val stem = s"${WideCsvIngest.sanitizeName(country)}_" +
        WideCsvIngest.sanitizeName(antigen)
      writeSeriesCsv(pts, s"${c.out}/coverage_$stem.csv")
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
      println(s"[artifacts] ${c.out}/coverage_$stem.csv ${c.out}/plot_$stem.png " +
        s"${c.out}/report_$stem.pdf")
      row
    }
  }

  /** The series artifact, `coverage_<country>_<antigen>.csv`
    * (`etl_pipeline.py:152-154`), written on the driver from the points
    * already collected for the plot: header `year,coverage_pct`, then
    * one `year,value` line per point (`Double.toString`, `\n` line ends,
    * the text Spark's CSV writer gives the same rows). */
  private def writeSeriesCsv(pts: Seq[(Int, Double)], path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      pts.map { case (year, pct) => s"$year,$pct\n" }.mkString("year,coverage_pct\n", "", ""))
}
