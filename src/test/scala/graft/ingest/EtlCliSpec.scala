package graft.ingest

import graft.SparkSpec
import java.nio.file.Files

class EtlCliSpec extends SparkSpec {

  test("arg parsing mirrors the reference CLI") {
    val c = EtlCli.parse(List("--source", "s.csv", "--out", "/tmp/o",
      "--country", "India", "--antigen", "dtp3",
      "--start-year", "2001", "--pre-years", "4", "--post-years", "3"))
    assert(c == EtlCli.Config("s.csv", "/tmp/o", Some("India"), Some("dtp3"), 2001, 4, 3))
    intercept[IllegalArgumentException](EtlCli.parse(List("--nope")))
    val missing = intercept[IllegalArgumentException](
      EtlCli.parse(List("--source", "s.csv", "--country")))
    assert(missing.getMessage == "missing value for --country")
  }

  test("etl-only run publishes raw + fact; analysis run adds artifact + stats") {
    val dir = tempDir("graft_cli")
    val csv = dir.resolve("wide.csv")
    val rows = (1996 to 2003).map(y => s"S,$y,${10.0 + y - 1996}").mkString("\n")
    Files.writeString(csv, s"entity,year,coverage__x\n$rows\n")
    val out = dir.resolve("warehouse").toString

    // ETL only (no selection) — the reference's bare `python etl_pipeline.py`
    val none = EtlCli.run(spark, EtlCli.Config(csv.toString, out))
    assert(none.isEmpty)
    assert(spark.read.parquet(s"$out/immunization").count() == 8)
    assert(spark.read.parquet(s"$out/owid_raw").columns.contains("coverage__x"))

    // with a selection — analysis path
    val row = EtlCli.run(spark, EtlCli.Config(csv.toString, out,
      Some("S"), Some("x"), startYear = 2000, preYears = 4, postYears = 3)).get
    assert(row.getAs[String]("verdict") == "significant_increase")
    // the series artifact is one file: the header plus the 8 points
    assert(Files.readString(dir.resolve("warehouse/coverage_S_x.csv")) ==
      """year,coverage_pct
        |1996,10.0
        |1997,11.0
        |1998,12.0
        |1999,13.0
        |2000,14.0
        |2001,15.0
        |2002,16.0
        |2003,17.0
        |""".stripMargin)
    // S7 presentation artifacts: the reference's plot + 2-page report
    assert(Files.exists(dir.resolve("warehouse/plot_S_x.png")))
    val pdf = Files.readAllBytes(dir.resolve("warehouse/report_S_x.pdf"))
    assert(new String(pdf, 0, 8, "ISO-8859-1").startsWith("%PDF-"))

    // unknown selection aborts like the reference's empty-series guard
    intercept[IllegalArgumentException](
      EtlCli.run(spark, EtlCli.Config(csv.toString, out, Some("Nowhere"), Some("x"))))
  }

  test("--url fetches to staging then runs the full pipeline; non-2xx aborts") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val body = {
      val rows = (1996 to 2003).map(y => s"S,$y,${10.0 + y - 1996}").mkString("\n")
      s"entity,year,coverage__x\n$rows\n".getBytes("UTF-8")
    }
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/wide.csv", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        x.sendResponseHeaders(200, body.length.toLong)
        x.getResponseBody.write(body); x.close()
      }
    })
    server.createContext("/missing.csv", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        x.sendResponseHeaders(404, -1); x.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val out = tempDir("graft_cli_http").resolve("warehouse").toString

      // E1/E4 entry parity: extract is a real GET, then validate/transform/load.
      val row = EtlCli.run(spark, EtlCli.Config(out = out,
        url = Some(s"$base/wide.csv"),
        country = Some("S"), antigen = Some("x"),
        startYear = 2000, preYears = 4, postYears = 3)).get
      assert(row.getAs[String]("verdict") == "significant_increase")
      assert(Files.exists(java.nio.file.Path.of(s"$out/staging/owid_wide.csv")))
      assert(spark.read.parquet(s"$out/immunization").count() == 8)

      // raise_for_status parity: non-2xx throws, no partial staging file left
      val out2 = tempDir("graft_cli_http404").resolve("w").toString
      intercept[java.io.IOException](
        EtlCli.run(spark, EtlCli.Config(out = out2, url = Some(s"$base/missing.csv"))))
      assert(!Files.exists(java.nio.file.Path.of(s"$out2/staging/owid_wide.csv")))

      // re-fetch truncates: a shorter upstream body must not leave the
      // previous download's tail bytes behind
      val staged = tempDir("graft_restage").resolve("s.csv").toString
      Files.writeString(java.nio.file.Path.of(
        HttpStaging.fetchToStaging(s"$base/wide.csv", staged)), "") // warm path exists
      Files.writeString(java.nio.file.Path.of(staged),
        "x" * 100000) // simulate a previous, much larger download
      HttpStaging.fetchToStaging(s"$base/wide.csv", staged)
      val refetched = Files.readString(java.nio.file.Path.of(staged))
      assert(refetched.startsWith("entity,year,") && !refetched.endsWith("x"),
        "stale tail bytes must be truncated on re-fetch")
    } finally server.stop(0)
  }
}
