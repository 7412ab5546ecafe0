package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.QueryUtil.singleStageIfTiny
import graft.model.CampaignWindow
import graft.stats.{ExactMoments, StudentT}

/** The reference's query + stats surface, generalized from per-selection
  * scalars to grouped aggregates over (country, antigen).
  *
  * The reference computes every statistic on one collected series at a
  * time (`/root/reference/streamlit_app.py:199-234,316-372`); here each
  * becomes ONE distributed plan keyed by (country, antigen), so the same
  * job serves a single series or the whole globe at 100 TB — the
  * reference's single-selection flow is the degenerate `filter` of it
  * (SURVEY §7.0). All inputs are a "fact" DataFrame with columns
  * (country, antigen, year, coverage_pct).
  *
  * Small inputs: every entry point first passes its fact through
  * [[graft.QueryUtil.singleStageIfTiny]]. A fact whose size estimate is
  * at most `spark.sql.files.openCostInBytes` (the dashboard's one
  * published snapshot, a CLI selection) is planned as ONE stage:
  * `Coalesce 1` under the aggregate or sort, so no `Exchange`, no
  * shuffle and no range-sampling job — `seriesOf(..).collect()` runs
  * one Spark job instead of three, `beforeAfterFull` one instead of
  * two. Filters and projections still push into the scan below the
  * coalesce. Larger facts keep the distributed plan unchanged.
  *
  * Before/after statistics: [[beforeAfterMeans]], [[welchRelational]]
  * and [[beforeAfterFull]] read ONE per-side aggregate of base sums,
  * (n, Σq, Σq²) with q = floor(x·1e6), and derive every statistic —
  * mean, var, SEM, CI, diff, t, df, p, verdict — as projections over
  * those six columns, so the planner sees each CASE and sum once.
  */
object CoverageQueries {

  /** Exact (order-independent) mean of a double column: quantize each
    * value at 1e-6 via `floor(x·1e6)` into a long, sum exactly, divide
    * back. Bitwise-reproducible across engines and partitionings — a
    * plain double `avg` is not (FP addition is non-associative), and a
    * DECIMAL *cast* is not either when the input is a derived quotient:
    * x = S/n lands exactly on .5e-7 rounding boundaries whenever n is
    * even, and engines disagree on half-way rounding (Spark HALF_UP on
    * the exact binary expansion, DuckDB nearest-even on the scaled
    * double). `floor` has no half-way case: the product x·1e6 is one
    * IEEE op (identical everywhere), floor of it is exact. NULL (not an
    * error) on empty input: sum is NULL iff count is 0, and NULL/0 is
    * NULL even under ANSI. Domain: |x| < 2^53/1e6 ≈ 9e9 per value; the
    * SUM accumulates in DECIMAL(38,0) (a long sum would overflow 2^63
    * around n·x̄·1e6 ≈ 9e18 — a few hundred million price-scale rows —
    * where the DuckDB mirror's HUGEINT would not; the decimal→double
    * cast is correctly-rounded like long→double, so values are
    * unchanged where both fit). The before/after means use the same
    * finish ([[graft.stats.ExactMoments.meanOf]]) over the Σq they share
    * with the variance: DECIMAL(18,0) quanta summed in DECIMAL(28,0),
    * exact while |Σq| < 1e28, and the same double wherever both fit. */
  def exactAvg(c: Column): Column =
    ExactMoments.meanOf(count(c), sum(floor(c * lit(1e6)).cast("decimal(38,0)")))

  /** Filtered ordered series — S2/P1/P2/L1
    * (`/root/reference/etl_pipeline.py:109-118`). Catalyst pushes both
    * equality predicates and the 2-column projection into the scan. */
  def seriesOf(fact: DataFrame, country: String, antigen: String): DataFrame =
    singleStageIfTiny(fact)
      .filter(col("country") === country && col("antigen") === antigen)
      .select("year", "coverage_pct")
      .orderBy("year")

  /** Distinct (country, antigen) index — S3/A1/L2
    * (`/root/reference/streamlit_app.py:103-105`). */
  def index(fact: DataFrame): DataFrame =
    singleStageIfTiny(fact).select("country", "antigen").distinct().orderBy("country", "antigen")

  /** Antigens available for one country — P8 (dependent dropdown). */
  def antigensFor(fact: DataFrame, country: String): DataFrame =
    singleStageIfTiny(fact).filter(col("country") === country)
      .select("antigen").distinct().orderBy("antigen")

  /** Per-series KPIs — A4/A5/A9/A10: span, point count, earliest/latest
    * coverage (order-independent min_by/max_by rather than a sorted
    * window — no sort, plain hash aggregate), net change
    * (`/root/reference/streamlit_app.py:199-234`). */
  def kpis(fact: DataFrame): DataFrame =
    singleStageIfTiny(fact).groupBy("country", "antigen").agg(
      min("year").as("year_min"),
      max("year").as("year_max"),
      count("coverage_pct").as("n_points"),
      min_by(col("coverage_pct"), col("year")).as("earliest"),
      max_by(col("coverage_pct"), col("year")).as("latest"),
      exactAvg(col("coverage_pct")).as("mean_coverage"),
    ).select(col("*"), (col("latest") - col("earliest")).as("delta"))
      .orderBy("country", "antigen")

  private val Sides = Seq("before", "after")
  private def n(side: String): Column = col(s"n_$side")
  private def mean(side: String): Column = ExactMoments.meanOf(n(side), col(s"s1_$side"))
  private def variance(side: String): Column =
    ExactMoments.varOf(n(side), col(s"s1_$side"), col(s"s2_$side"))

  /** The one before/after aggregate and the moments over it. Per side,
    * over the masked value x and its quantum q = floor(x·1e6) as
    * DECIMAL(18,0), it sums only n = count(x), Σq and (with `spread`)
    * Σq² — the state [[graft.stats.WelchExactTTest]] keeps — then
    * projects country, antigen, n_*, mean_* and, with `spread`, var_*. */
  private def sideMoments(fact: DataFrame, w: CampaignWindow, spread: Boolean): DataFrame = {
    val x = Map(
      "before" -> when(col("year").between(w.beforeLo, w.beforeHi), col("coverage_pct")),
      "after" -> when(col("year").between(w.afterLo, w.afterHi), col("coverage_pct")))
    def q(side: String) = ExactMoments.qd(x(side))
    val sums = Sides.map(s => count(x(s)).as(s"n_$s")) ++ Sides.map(s => sum(q(s)).as(s"s1_$s")) ++
      (if (spread) Sides.map(s => sum(q(s) * q(s)).as(s"s2_$s")) else Nil)
    val moments = Sides.map(n) ++ Sides.map(s => mean(s).as(s"mean_$s")) ++
      (if (spread) Sides.map(s => variance(s).as(s"var_$s")) else Nil)
    singleStageIfTiny(fact).groupBy("country", "antigen").agg(sums.head, sums.tail: _*)
      .select(Seq(col("country"), col("antigen")) ++ moments: _*)
  }

  /** Welch t and Welch–Satterthwaite df over the side moments: t_stat,
    * welch_df. Null where either side has n<2 — the reference's guard
    * (`etl_pipeline.py:136`). */
  private def welchTDf: Seq[Column] = {
    val testable = col("n_before") > 1 && col("n_after") > 1
    Seq(
      when(testable,
        StudentT.welchT(col("mean_before"), col("var_before"), col("n_before"),
          col("mean_after"), col("var_after"), col("n_after"))).as("t_stat"),
      when(testable,
        StudentT.welchDf(col("var_before"), col("n_before"),
          col("var_after"), col("n_after"))).as("welch_df"))
  }

  private val diff: Column = (col("mean_after") - col("mean_before")).as("diff")

  /** Before/after window means + diff, single-pass conditional aggregate
    * — P4/A3/A6/A10 (`/root/reference/etl_pipeline.py:124-145`). One
    * scan instead of the reference's two boolean-mask slices; only
    * (n, Σq) are aggregated. */
  def beforeAfterMeans(fact: DataFrame, w: CampaignWindow): DataFrame =
    sideMoments(fact, w, spread = false)
      .select(col("*"), diff)
      .orderBy("country", "antigen")

  /** Welch t-test expressed relationally — A8. Same math as the
    * [[graft.stats.WelchTTest]] aggregator but built purely from
    * Catalyst built-ins (count and exact decimal sums with conditional
    * inputs), so it stays inside whole-stage codegen AND is
    * DuckDB-oracle-checkable. The p-value needs the t CDF
    * (commons-math3) and is added by [[beforeAfterFull]]. */
  def welchRelational(fact: DataFrame, w: CampaignWindow): DataFrame =
    sideMoments(fact, w, spread = true).select(col("*") +: welchTDf: _*)

  /** Full before/after analysis: means, 95% CIs (A7 — scipy
    * `sem * t.ppf`, ddof=1 ⇒ sample stddev), Welch t/df/p (A8), and the
    * reference's tri-state significance narrative (F8,
    * `/root/reference/streamlit_app.py:331-342`).
    *
    * Moment discipline: ONE aggregate of base sums per side, (n, Σq,
    * Σq²) with q = floor(x·1e6) ([[sideMoments]]); every statistic is a
    * projection over them — mean and var via
    * [[graft.stats.ExactMoments.meanOf]]/[[graft.stats.ExactMoments.varOf]],
    * sem = sqrt(var)/sqrt(n). Exact integer sums make every column UP
    * TO the Student-t factor (n, mean, SEM, diff, t, df) order-independent
    * AND bitwise-mirrorable SQL (q05 covers t/df, q101 the SEM lane);
    * only the t-quantile/CDF multiplication itself (ci_*, p_value,
    * verdict) rides on spec-carried commons-math3 constants
    * ([[graft.stats.StudentT]]).
    *
    * Derived columns are added one `select` per dependency level
    * (moments, then SEM/CIs/diff/t/df, then p, then the verdict):
    * each `select` analyses its new plan eagerly, so fewer, smaller
    * levels plan faster. */
  def beforeAfterFull(fact: DataFrame, w: CampaignWindow, conf: Double = 0.95): DataFrame = {
    def sem(side: String) = sqrt(col(s"var_$side")) / sqrt(n(side))
    sideMoments(fact, w, spread = true)
      .select(Seq(col("*")) ++ Sides.map(s => sem(s).as(s"sem_$s")) ++
        Sides.map(s => StudentT.ciHalfWidth(sem(s), n(s), conf).as(s"ci_$s")) ++
        (diff +: welchTDf): _*)
      .select(col("*"), StudentT.tPValue2(col("t_stat"), col("welch_df")).as("p_value"))
      // Tri-state narrative label (streamlit_app.py:331-342): significant
      // rise / significant fall / no significant change / not enough data.
      .select(col("*"),
        when(col("p_value").isNull, lit("insufficient_data"))
          .when(col("p_value") < 0.05 && col("diff") > 0, lit("significant_increase"))
          .when(col("p_value") < 0.05 && col("diff") < 0, lit("significant_decrease"))
          .otherwise(lit("no_significant_change")).as("verdict"))
  }

  /** Top-k head of the ordered series — L3 (`report_generator.py:77-78`).
    * Spark plans orderBy+limit as TakeOrderedAndProject: a per-partition
    * top-k then a k-row merge on the driver, never a full sort. */
  def seriesHead(fact: DataFrame, country: String, antigen: String, k: Int = 20): DataFrame =
    seriesOf(fact, country, antigen).limit(k)
}
