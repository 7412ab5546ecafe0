package graft.analysis

import org.apache.commons.math3.distribution.TDistribution
import org.apache.spark.sql.Row
import graft.SparkSpec
import graft.model.CampaignWindow

/** [[CoverageQueries.beforeAfterFull]]'s four verdicts and its NULL
  * semantics, each column checked against a plain-Scala two-pass
  * computation of the same statistics (scipy's `sem`/`t.ppf`/
  * `ttest_ind(equal_var=False)` recipe, `etl_pipeline.py:36-43,124-145`,
  * and the narrative of `streamlit_app.py:331-342`). */
class BeforeAfterFullSpec extends SparkSpec {

  /** Before = 2002..2005, after = 2006..2010. */
  private val W = CampaignWindow(startYear = 2006, preYears = 4, postYears = 4)

  /** One series per case: (country, before values, after values). Each
    * series also has a 1999 and a 2012 point, outside both windows. */
  private val series: Seq[(String, Seq[Double], Seq[Double])] = Seq(
    ("fall", Seq(80.25, 81.0, 79.5, 80.0), Seq(60.0, 61.5, 59.25, 60.0, 60.5)),
    ("rise", Seq(50.0, 51.25, 49.0, 50.5), Seq(70.0, 71.0, 69.5, 70.25, 70.0)),
    ("flat", Seq(50.0, 53.5, 47.0, 51.0), Seq(49.0, 52.25, 48.0, 50.0, 51.5)),
    ("one", Seq(70.0), Seq(72.0, 74.5, 71.0, 73.0, 75.25)),
    ("none", Nil, Seq(40.0, 41.5, 42.0)))

  private val columns = Seq("country", "antigen", "n_before", "n_after",
    "mean_before", "mean_after", "var_before", "var_after", "sem_before", "sem_after",
    "ci_before", "ci_after", "diff", "t_stat", "welch_df", "p_value", "verdict")

  private def fact() = {
    val s = spark
    import s.implicits._
    series.flatMap { case (c, before, after) =>
      val years = before.indices.map(W.beforeHi - before.size + 1 + _) ++
        after.indices.map(W.afterLo + _)
      val points = Seq(1999 -> 5.0) ++ years.zip(before ++ after) ++ Seq(2012 -> 99.0)
      points.map { case (y, v) => (c, "mcv1", y, v) }
    }.toDF("country", "antigen", "year", "coverage_pct")
  }

  /** The expected row, two-pass in doubles, NULL (None) where the
    * reference leaves a statistic undefined. */
  private def expected(c: String, before: Seq[Double], after: Seq[Double]): Seq[Any] = {
    def mean(x: Seq[Double]) = if (x.isEmpty) None else Some(x.sum / x.size)
    def variance(x: Seq[Double]) =
      if (x.size < 2) None
      else mean(x).map(m => x.map(v => (v - m) * (v - m)).sum / (x.size - 1))
    def sem(x: Seq[Double]) = variance(x).map(v => math.sqrt(v) / math.sqrt(x.size))
    def ci(x: Seq[Double]) =
      sem(x).map(_ * new TDistribution(x.size - 1.0).inverseCumulativeProbability(0.975))
    val (nb, na) = (before.size.toDouble, after.size.toDouble)
    val test = for { mb <- mean(before); ma <- mean(after); vb <- variance(before); va <- variance(after) }
    yield {
      val se2 = vb / nb + va / na
      val t = (mb - ma) / math.sqrt(se2)
      val df = se2 * se2 / ((vb / nb) * (vb / nb) / (nb - 1) + (va / na) * (va / na) / (na - 1))
      (t, df, 2.0 * (1.0 - new TDistribution(df).cumulativeProbability(math.abs(t))))
    }
    val diff = for { mb <- mean(before); ma <- mean(after) } yield ma - mb
    val verdict = test.map(_._3) match {
      case None => "insufficient_data"
      case Some(p) if p < 0.05 && diff.exists(_ > 0) => "significant_increase"
      case Some(p) if p < 0.05 && diff.exists(_ < 0) => "significant_decrease"
      case _ => "no_significant_change"
    }
    Seq(c, "mcv1", before.size.toLong, after.size.toLong,
      mean(before), mean(after), variance(before), variance(after), sem(before), sem(after),
      ci(before), ci(after), diff, test.map(_._1), test.map(_._2), test.map(_._3), verdict)
  }

  private def same(got: Any, want: Any): Boolean = (got, want) match {
    case (null, None) => true
    case (g: Double, Some(w: Double)) => math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w))
    case (g, w) => g == w
  }

  test("verdict branches and NULL semantics, every column") {
    val out = CoverageQueries.beforeAfterFull(fact(), W)
    assert(out.columns.toSeq === columns)
    val rows: Map[String, Row] = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === series.map(_._1).toSet)
    series.foreach { case (c, before, after) =>
      val got = rows(c).toSeq
      expected(c, before, after).zip(got).zip(columns).foreach { case ((want, g), name) =>
        assert(same(g, want), s"$c.$name: got $g, want $want")
      }
    }
    assert(rows.map { case (c, r) => c -> r.getAs[String]("verdict") } === Map(
      "fall" -> "significant_decrease",
      "rise" -> "significant_increase",
      "flat" -> "no_significant_change",
      "one" -> "insufficient_data",
      "none" -> "insufficient_data"))
    // a one-point side keeps its mean; every spread statistic is NULL
    val one = rows("one")
    assert(one.getAs[Double]("mean_before") == 70.0)
    Seq("var_before", "sem_before", "ci_before", "t_stat", "welch_df", "p_value")
      .foreach(k => assert(one.isNullAt(one.fieldIndex(k)), s"one.$k"))
    // an empty side has n = 0 and no mean
    val none = rows("none")
    assert(none.getAs[Long]("n_before") == 0L && none.isNullAt(none.fieldIndex("mean_before")))
  }
}
