package graft.ingest

import graft.SparkSpec
import graft.model.CampaignWindow
import java.nio.file.Files

/** Golden-path + edge-case tests for the wide-CSV ETL, reproducing the
  * reference's behaviors exactly (SURVEY §4.3): case-insensitive column
  * resolution, dynamic coverage__* discovery with fail-fast, inclusive
  * year bounds, NaN drops, PK dedup. */
class IngestSpec extends SparkSpec {

  private def writeCsv(content: String): String =
    IngestSpec.writeCsv(tempDir("graft_csv"), content)

  private val golden = writeCsv(IngestSpec.GoldenWideCsv)

  test("tidy: unpivot + clean + year filter + dedup") {
    val raw = WideCsvIngest.readWideCsv(spark, golden)
    val tidy = WideCsvIngest.tidy(raw).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    assert(tidy == Set(
      ("India", "dtp3", 1999, 85.5),
      ("India", "dtp3", 2000, 86.0),
      ("India", "mcv1", 2000, 70.0),
      ("World", "dtp3", 2000, 90.0),
      ("World", "mcv1", 2000, 80.0),
    ))
  }

  test("column resolution is case-insensitive and data-driven") {
    val raw = WideCsvIngest.readWideCsv(spark, golden)
    val cols = WideCsvIngest.resolveColumns(raw)
    assert(cols.entity == "Entity" && cols.year == "Year")
    assert(cols.coverage.toSet == Set("coverage__dtp3", "coverage__mcv1"))
  }

  test("missing coverage__ columns fail fast with schema sample") {
    val bad = writeCsv("Entity,Year,value\nIndia,2000,1\n")
    val raw = WideCsvIngest.readWideCsv(spark, bad)
    val e = intercept[IllegalArgumentException](WideCsvIngest.tidy(raw))
    assert(e.getMessage.contains("coverage__"))
    assert(e.getMessage.contains("Entity")) // schema sample included
  }

  test("missing entity column fails fast") {
    val bad = writeCsv("Country,Year,coverage__x\nIndia,2000,1\n")
    val raw = WideCsvIngest.readWideCsv(spark, bad)
    val e = intercept[IllegalArgumentException](WideCsvIngest.tidy(raw))
    assert(e.getMessage.contains("entity"))
  }

  test("year bounds are inclusive on both sides (P3)") {
    val edge = writeCsv(
      """entity,year,coverage__x
        |A,1980,1.0
        |A,2100,2.0
        |A,1979,3.0
        |A,2101,4.0
        |""".stripMargin)
    val tidy = WideCsvIngest.tidy(WideCsvIngest.readWideCsv(spark, edge))
    assert(tidy.collect().map(_.getInt(2)).toSet == Set(1980, 2100))
  }

  test("mixed-case coverage prefix strips like discovery resolves (case-insensitive)") {
    val dir = tempDir("graft_case")
    val csv = dir.resolve("mixed.csv")
    java.nio.file.Files.writeString(csv,
      "Entity,Year,Coverage__MCV1,COVERAGE__dtp3\nIndia,2000,70.0,85.0\n")
    val tidy = WideCsvIngest.tidy(WideCsvIngest.readWideCsv(spark, csv.toString))
      .collect().map(_.getString(1)).toSet
    // discovery accepted the mixed-case headers, so the strip must too —
    // no 'Coverage__'/'COVERAGE__' prefix may leak into the antigen key
    assert(tidy == Set("MCV1", "dtp3"), s"got $tidy")
  }

  test("write/read round trip preserves the fact table") {
    val out = tempDir("graft_fact").toString + "/fact"
    WideCsvIngest.writeFact(WideCsvIngest.readWideCsv(spark, golden), out)
    val back = spark.read.parquet(out)
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("country", "antigen", "year", "coverage_pct"))
  }

  test("campaign window semantics: before excludes start, after includes it") {
    val w = CampaignWindow(2000, 5, 3)
    assert(w.beforeLo == 1995 && w.beforeHi == 1999)
    assert(w.afterLo == 2000 && w.afterHi == 2003)
  }

  test("artifact names sanitize: spaces and slashes") {
    assert(WideCsvIngest.sanitizeName("Congo / Kinshasa x") == "Congo_-_Kinshasa_x")
  }

  test("end-to-end golden: wide CSV through ETL to before/after stats") {
    // 4 points before year 2000, 4 at/after — means 10.5 and 20.5
    val rows = (1996 to 2003).map { y =>
      val v = if (y < 2000) 10.0 + (y - 1996) * 0.25 else 20.0 + (y - 2000) * 0.25
      s"S,$y,$v"
    }.mkString("\n")
    val csv = writeCsv(s"entity,year,coverage__x\n$rows\n")
    val fact = WideCsvIngest.tidy(WideCsvIngest.readWideCsv(spark, csv))
    val w = CampaignWindow(2000, 4, 3)
    val r = graft.analysis.CoverageQueries
      .beforeAfterFull(fact, w).collect().head
    assert(r.getAs[Long]("n_before") == 4 && r.getAs[Long]("n_after") == 4)
    assert(math.abs(r.getAs[Double]("mean_before") - 10.375) < 1e-9)
    assert(math.abs(r.getAs[Double]("mean_after") - 20.375) < 1e-9)
    assert(math.abs(r.getAs[Double]("diff") - 10.0) < 1e-9)
    // Welch by hand: var_samp = 0.3125/3 each side, se = sqrt(2v/4),
    // t = -10/0.2282177... = -43.8178046...; df = 6 (equal sides)
    assert(math.abs(r.getAs[Double]("t_stat") - -43.81780460041329) < 1e-9)
    assert(r.getAs[Double]("p_value") < 1e-6)
    assert(r.getAs[String]("verdict") == "significant_increase")
  }
}

object IngestSpec {

  /** FIXTURES.md §A1 replica: mixed-case headers, extra column, out-of-
    * range years, NaN holes, an exact-duplicate row. */
  val GoldenWideCsv: String =
    """Entity,Code,Year,coverage__dtp3,coverage__mcv1,notes
      |India,IN,1999,85.5,,x
      |India,IN,2000,86.0,70.0,x
      |India,IN,2000,86.0,70.0,dup
      |Ghana,GH,1979,50.0,50.0,too-early
      |Ghana,GH,2101,60.0,60.0,too-late
      |Ghana,GH,1995,,,all-nan
      |World,,2000,90.0,80.0,x
      |""".stripMargin

  /** `content` as `wide.csv` in `dir`; returns its path. */
  def writeCsv(dir: java.nio.file.Path, content: String): String = {
    val f = dir.resolve("wide.csv")
    Files.writeString(f, content)
    f.toString
  }
}
