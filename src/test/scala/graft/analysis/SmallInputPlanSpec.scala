package graft.analysis

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.{QueryUtil, SparkSpec}
import graft.ext.TxTable
import graft.model.CampaignWindow

/** Both plan shapes of the [[CoverageQueries]] entry points: a fact at
  * most `spark.sql.files.openCostInBytes` plans as one stage (no
  * `Exchange`), a larger one keeps its distributed plan, and both give
  * the same rows. The fact is a tiny `TxTable` snapshot partitioned by
  * antigen, the dashboard's published shape. */
class SmallInputPlanSpec extends SparkSpec {

  private val OpenCost = "spark.sql.files.openCostInBytes"
  private val W = CampaignWindow(startYear = 2006, preYears = 4, postYears = 4)

  /** (country, antigen, year, coverage_pct): 4 countries × 3 antigens
    * over 2000–2012 with gaps, so series rise, fall, stay flat or are
    * too short to test. */
  private def tinyFact(): DataFrame = {
    val s = spark
    import s.implicits._
    (for {
      c <- 0 until 4; a <- 0 until 3; y <- 2000 to 2012
      if (c + a + y) % 5 != 0 && !(c == 3 && a == 2 && y > 2002)
    } yield (s"c$c", s"a$a", y,
      50.0 + (c - 1) * (a - 1) * (y - 2006) * 1.5 + ((c * 7 + a * 3 + y) % 4) * 0.25))
      .toDF("country", "antigen", "year", "coverage_pct")
  }

  private def withSnapshot[T](f: DataFrame => T): T =
    QueryUtil.inTempDir("graft_small_input") { dir =>
      TxTable.commitReplace(spark, s"$dir/fact", tinyFact().repartition(4),
        partitionCol = Some("antigen"), statsCols = Seq("year"))
      f(TxTable.read(spark, s"$dir/fact"))
    }

  private def withOpenCost[T](bytes: Long)(f: => T): T = {
    val prev = spark.conf.get(OpenCost)
    spark.conf.set(OpenCost, bytes.toString)
    try f finally spark.conf.set(OpenCost, prev)
  }

  /** Every entry point, built fresh under the session's current conf. */
  private def entryPoints(f: DataFrame): Seq[(String, DataFrame)] = Seq(
    "seriesOf" -> CoverageQueries.seriesOf(f, "c1", "a0"),
    "seriesHead" -> CoverageQueries.seriesHead(f, "c1", "a0", 5),
    "index" -> CoverageQueries.index(f),
    "antigensFor" -> CoverageQueries.antigensFor(f, "c2"),
    "kpis" -> CoverageQueries.kpis(f),
    "beforeAfterMeans" -> CoverageQueries.beforeAfterMeans(f, W),
    "welchRelational" -> CoverageQueries.welchRelational(f, W).orderBy("country", "antigen"),
    "beforeAfterFull" -> CoverageQueries.beforeAfterFull(f, W).orderBy("country", "antigen"))

  /** Each entry point's plan (before execution) and rows. */
  private def run(f: DataFrame): Seq[(String, String, Seq[Row])] =
    entryPoints(f).map { case (name, df) =>
      (name, df.queryExecution.executedPlan.toString, df.collect().toSeq)
    }

  test("tiny and large facts give identical rows; only the large plan shuffles") {
    withSnapshot { f =>
      val size = f.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      assert(size <= spark.sessionState.conf.filesOpenCostInBytes,
        s"the fixture must be tiny under the default open cost ($size B)")
      val tiny = run(f)
      val large = withOpenCost(size - 1)(run(f))
      tiny.zip(large).foreach { case ((name, tinyPlan, tinyRows), (_, largePlan, largeRows)) =>
        assert(tinyRows.nonEmpty, s"$name: empty result")
        assert(tinyRows === largeRows, s"$name: rows differ between plan shapes")
        assert(tinyPlan.contains("Coalesce 1") && !tinyPlan.contains("Exchange"),
          s"$name: tiny input must plan as one stage:\n$tinyPlan")
        assert(!largePlan.contains("Coalesce 1"), s"$name: large input coalesced:\n$largePlan")
        // TakeOrderedAndProject merges its per-partition top-k without
        // an Exchange node; every other entry point shuffles
        if (name != "seriesHead")
          assert(largePlan.contains("Exchange"), s"$name: large input lost its shuffle:\n$largePlan")
      }
      // the pushed-down selection still reaches the scan below the coalesce
      val series = CoverageQueries.seriesOf(f, "c1", "a0").queryExecution.executedPlan.toString
      assert(series.contains("PushedFilters: [IsNotNull(country), EqualTo(country,c1)"), series)
      assert(series.contains("PartitionFilters: [isnotnull(antigen"), series)
    }
  }

  test("a dashboard selection over a tiny TxTable snapshot starts exactly 2 Spark jobs") {
    withSnapshot { f =>
      val pair = col("country") === "c1" && col("antigen") === "a0"
      def selection(): Unit = {
        CoverageQueries.seriesOf(f, "c1", "a0").collect()
        CoverageQueries.beforeAfterFull(f, W).filter(pair).collect()
      }
      selection() // warm: first use may resolve and cache file metadata
      assert(jobsStarted(selection()) === 2)
      val large = withOpenCost(1)(jobsStarted(selection()))
      assert(large > 2, s"the distributed plan should need more jobs, ran $large")
    }
  }
}
