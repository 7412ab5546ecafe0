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
    * unchanged where both fit). */
  def exactAvg(c: Column): Column =
    sum(floor(c * lit(1e6)).cast("decimal(38,0)")).cast("double") / count(c) / lit(1e6)

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

  private def inBefore(w: CampaignWindow): Column =
    col("year").between(w.beforeLo, w.beforeHi)
  private def inAfter(w: CampaignWindow): Column =
    col("year").between(w.afterLo, w.afterHi)

  /** Per-side point counts and exact means: n_before, n_after,
    * mean_before, mean_after. */
  private def sideMeans(w: CampaignWindow): Seq[Column] = {
    val v = col("coverage_pct")
    Seq(
      count(when(inBefore(w), v)).as("n_before"),
      count(when(inAfter(w), v)).as("n_after"),
      exactAvg(when(inBefore(w), v)).as("mean_before"),
      exactAvg(when(inAfter(w), v)).as("mean_after"))
  }

  /** Per-side exact sample variances (NULL at n<2): var_before,
    * var_after. With exact means AND vars, t/df are fixed IEEE op
    * chains over identical inputs — bitwise-mirrorable, no rounding
    * bridge needed. */
  private def sideVars(w: CampaignWindow): Seq[Column] = {
    val v = col("coverage_pct")
    Seq(
      ExactMoments.exactVar(when(inBefore(w), v)).as("var_before"),
      ExactMoments.exactVar(when(inAfter(w), v)).as("var_after"))
  }

  /** Welch t and Welch–Satterthwaite df over [[sideMeans]] +
    * [[sideVars]]: t_stat, welch_df. Null where either side has n<2 —
    * the reference's guard (`etl_pipeline.py:136`). */
  private def welchCols: Seq[Column] = {
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
    * scan instead of the reference's two boolean-mask slices. */
  def beforeAfterMeans(fact: DataFrame, w: CampaignWindow): DataFrame = {
    val aggs = sideMeans(w)
    singleStageIfTiny(fact).groupBy("country", "antigen").agg(aggs.head, aggs.tail: _*)
      .select(col("*"), diff)
      .orderBy("country", "antigen")
  }

  /** Welch t-test expressed relationally — A8. Same math as the
    * [[graft.stats.WelchTTest]] aggregator but built purely from
    * Catalyst built-ins (count and exact decimal moments with
    * conditional inputs), so it stays inside whole-stage codegen AND is
    * DuckDB-oracle-checkable. The p-value needs the t CDF
    * (commons-math3) and is added by [[beforeAfterFull]]. */
  def welchRelational(fact: DataFrame, w: CampaignWindow): DataFrame = {
    val aggs = sideMeans(w) ++ sideVars(w)
    singleStageIfTiny(fact).groupBy("country", "antigen").agg(aggs.head, aggs.tail: _*)
      .select(col("*") +: welchCols: _*)
  }

  /** Full before/after analysis: means, 95% CIs (A7 — scipy
    * `sem * t.ppf`, ddof=1 ⇒ sample stddev), Welch t/df/p (A8), and the
    * reference's tri-state significance narrative (F8,
    * `/root/reference/streamlit_app.py:331-342`).
    *
    * Moment discipline: means via [[exactAvg]] and var/SEM via
    * [[graft.stats.ExactMoments]] — order-independent AND
    * bitwise-mirrorable, so every column UP TO the Student-t factor
    * (n, mean, SEM, diff, t, df) is oracle-checkable SQL (q05 covers
    * t/df, q101 the SEM lane); only the t-quantile/CDF multiplication
    * itself (ci_*, p_value, verdict) rides on spec-carried
    * commons-math3 constants ([[graft.stats.StudentT]]).
    *
    * Derived columns are added one `select` per dependency level
    * (CIs/diff/t/df, then p, then the verdict): each `select` analyses
    * its new plan eagerly, so fewer levels plan faster. */
  def beforeAfterFull(fact: DataFrame, w: CampaignWindow, conf: Double = 0.95): DataFrame = {
    val v = col("coverage_pct")
    val aggs = sideMeans(w) ++ sideVars(w) ++ Seq(
      (ExactMoments.exactStddev(when(inBefore(w), v)) /
        sqrt(count(when(inBefore(w), v)))).as("sem_before"),
      (ExactMoments.exactStddev(when(inAfter(w), v)) /
        sqrt(count(when(inAfter(w), v)))).as("sem_after"))
    singleStageIfTiny(fact).groupBy("country", "antigen").agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("*"),
        StudentT.ciHalfWidth(col("sem_before"), col("n_before"), conf).as("ci_before"),
        StudentT.ciHalfWidth(col("sem_after"), col("n_after"), conf).as("ci_after"),
        diff) ++ welchCols: _*)
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
