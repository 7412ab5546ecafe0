package graft

import org.apache.spark.sql.functions._
import graft.analysis.{CoverageQueries, EventsFact}
import graft.model.CampaignWindow

/** The reference's own query surface (SURVEY §2), run over the
  * events-derived fact table (see [[graft.analysis.EventsFact]]).
  * Window analog: campaign "year" 15 (day-of-month), ±7 — before days
  * 8..14, after days 15..22 (asymmetric inclusive semantics of
  * `/root/reference/etl_pipeline.py:124-131`).
  */
object CoreParityQueries {

  val W: CampaignWindow = CampaignWindow(startYear = 15, preYears = 7, postYears = 7)

  private def cte(body: String): String = EventsFact.withFactCte(body)

  private val beforeCase = s"CASE WHEN year BETWEEN ${W.beforeLo} AND ${W.beforeHi} THEN coverage_pct END"
  private val afterCase = s"CASE WHEN year BETWEEN ${W.afterLo} AND ${W.afterHi} THEN coverage_pct END"

  /** DuckDB spelling of [[graft.analysis.CoverageQueries.exactAvg]]:
    * same floor-quantized integer accumulation, same division order. */
  private[graft] def exactAvgSql(e: String): String =
    s"CAST(sum(CAST(floor(($e) * 1000000.0) AS BIGINT)) AS DOUBLE) / count($e) / 1000000.0"

  // The before/after mirrors (q04-q06, q101, q39): one per-side
  // subquery over W, its columns picked from these lines.
  private val countLines = Seq(s"count($beforeCase) AS n_before", s"count($afterCase) AS n_after")
  private val counts = countLines.mkString(", ")
  private def perSide(stat: String, sql: String => String): Seq[String] =
    Seq(s"${sql(beforeCase)} AS ${stat}_before", s"${sql(afterCase)} AS ${stat}_after")
  private val means = perSide("mean", exactAvgSql)
  private val vars = perSide("var", graft.stats.ExactMoments.exactVarSql)
  private val sems = perSide("sem", e => s"${graft.stats.ExactMoments.exactStddevSql(e)} / sqrt(count($e))")

  /** `SELECT country, antigen, <outer> FROM (<per-side subquery>)`,
    * ordered by (country, antigen), over the events fact. */
  private[graft] def beforeAfterSql(outer: String, sides: Seq[String]): String =
    cte(s"""SELECT country, antigen, $outer
           |FROM (
           |  SELECT country, antigen,
           |${sides.map("    " + _).mkString(",\n")}
           |  FROM fact GROUP BY country, antigen)
           |ORDER BY country, antigen""".stripMargin)

  /** Welch t and Welch–Satterthwaite df over the side columns, the
    * IEEE op chains of StudentT.welchT / welchDf (x*x, never pow). */
  private val welchTDfSql: String =
    """  CASE WHEN n_before > 1 AND n_after > 1 THEN
      |    (mean_before - mean_after) / sqrt(var_before/n_before + var_after/n_after)
      |  END AS t_stat,
      |  CASE WHEN n_before > 1 AND n_after > 1 THEN
      |    ((var_before/n_before + var_after/n_after) * (var_before/n_before + var_after/n_after)) /
      |      ((var_before/n_before) * (var_before/n_before) / (n_before-1)
      |        + (var_after/n_after) * (var_after/n_after) / (n_after-1))
      |  END AS welch_df""".stripMargin

  /** The unrounded Welch t/df mirror q39 checks [[graft.stats.WelchExactTTest]] against. */
  private[graft] val welchAggregatorSql: String =
    beforeAfterSql(s"n_before, n_after,\n$welchTDfSql", counts +: (means ++ vars))

  val all: Seq[Q] = Seq(

    // S2/P1/P2/L1 — filtered ordered series (etl_pipeline.py:109-118).
    Q("q01_series_scan",
      cte("""SELECT year, coverage_pct FROM fact
            |WHERE country = 'cohort_3' AND antigen = 'purchase'
            |ORDER BY year""".stripMargin)) { (s, dir) =>
      CoverageQueries.seriesOf(EventsFact.fact(s, dir), "cohort_3", "purchase")
    },

    // S3/A1/L2 — distinct (country, antigen) index (streamlit_app.py:103-105).
    Q("q02_distinct_index",
      cte("SELECT DISTINCT country, antigen FROM fact ORDER BY country, antigen")) { (s, dir) =>
      CoverageQueries.index(EventsFact.fact(s, dir))
    },

    // A4/A5/A9/A10 — per-series KPIs: span, n, earliest/latest, delta.
    Q("q03_kpis",
      cte(s"""SELECT country, antigen,
             |  min(year) AS year_min, max(year) AS year_max,
             |  count(coverage_pct) AS n_points,
             |  arg_min(coverage_pct, year) AS earliest,
             |  arg_max(coverage_pct, year) AS latest,
             |  ${exactAvgSql("coverage_pct")} AS mean_coverage,
             |  arg_max(coverage_pct, year) - arg_min(coverage_pct, year) AS delta
             |FROM fact GROUP BY country, antigen
             |ORDER BY country, antigen""".stripMargin)) { (s, dir) =>
      CoverageQueries.kpis(EventsFact.fact(s, dir))
    },

    // P4/A3/A6/A10 — single-pass conditional before/after means.
    Q("q04_before_after_means",
      beforeAfterSql("n_before, n_after, mean_before, mean_after,\n  mean_after - mean_before AS diff",
        countLines ++ means)) { (s, dir) =>
      CoverageQueries.beforeAfterMeans(EventsFact.fact(s, dir), W)
    },

    // A8 — Welch t statistic + Welch–Satterthwaite df, fully relational
    // (DuckDB can check the arithmetic; the p-value is covered by
    // q06 + unit tests since no SQL oracle has the t CDF).
    // Unrounded: exact decimal-accumulated means AND variances make
    // t/df fixed IEEE op chains over identical integers — the oracle
    // mirrors every op (incl. x*x instead of pow), so the hash matches
    // bit-for-bit with no rounding bridge.
    Q("q05_welch_relational",
      beforeAfterSql(s"n_before, n_after,\n  mean_before, mean_after, var_before, var_after,\n$welchTDfSql",
        counts +: (means ++ vars))) { (s, dir) =>
      CoverageQueries.welchRelational(EventsFact.fact(s, dir), W)
        .select(
          col("country"), col("antigen"), col("n_before"), col("n_after"),
          col("mean_before"), col("mean_after"),
          col("var_before"), col("var_after"),
          col("t_stat"), col("welch_df"),
        ).orderBy("country", "antigen")
    },

    // A7/A8/F8 — the full-analysis frame ([[CoverageQueries
    // .beforeAfterFull]]), oracle-checked on its DETERMINISTIC surface:
    // every column UP TO the Student-t factor (n, exact means, SEM,
    // diff, t, Welch df) is bitwise-mirrorable SQL, so the oracle
    // replays all of them from q05's exact-moment recipe + q101's SEM
    // — selected from beforeAfterFull's OWN frame, proving the frame
    // the reference's report actually renders. Only the t-quantile/CDF
    // products (ci_*, p_value, verdict) are SQL-inexpressible; they
    // ride the bench-only `q06_full_prod` lane and the spec-carried
    // commons-math3 constants (StudentTSpec/WelchSpec) — shrinking the
    // no_oracle surface to zero registry rows (r15 VERDICT task 4).
    Q("q06_before_after_full",
      beforeAfterSql(s"n_before, n_after,\n  mean_before, mean_after, sem_before, sem_after,\n" +
        s"  mean_after - mean_before AS diff,\n$welchTDfSql", counts +: (means ++ vars ++ sems))) { (s, dir) =>
      CoverageQueries.beforeAfterFull(EventsFact.fact(s, dir), W)
        .select(
          col("country"), col("antigen"), col("n_before"), col("n_after"),
          col("mean_before"), col("mean_after"),
          col("sem_before"), col("sem_after"),
          col("diff"), col("t_stat"), col("welch_df"),
        ).orderBy("country", "antigen")
    },

    // A7's SEM lane, split out of q06 as its own oracle row: SEM =
    // exact sample stddev / sqrt(n) is plain SQL (exact decimal
    // moments ⇒ bitwise cross-engine, compared UNROUNDED), so after
    // q05 (t/df) and this row, the ONLY spec-carried arithmetic left
    // in q06 is the Student-t quantile/CDF multiplication itself.
    // Selected from beforeAfterFull's own frame — this proves q06's
    // actual SEM columns, not a parallel reimplementation.
    Q("q101_before_after_sem",
      beforeAfterSql("n_before, n_after,\n  sem_before, sem_after, mean_after - mean_before AS diff",
        counts +: (means ++ sems))) { (s, dir) =>
      CoverageQueries.beforeAfterFull(EventsFact.fact(s, dir), W)
        .select(
          col("country"), col("antigen"), col("n_before"), col("n_after"),
          col("sem_before"), col("sem_after"), col("diff"))
        .orderBy("country", "antigen")
    },

    // L3 — ordered head(20): TakeOrderedAndProject, not a full sort
    // (report_generator.py:77-78).
    Q("q07_series_head",
      cte("""SELECT year, coverage_pct FROM fact
            |WHERE country = 'cohort_5' AND antigen = 'view'
            |ORDER BY year LIMIT 20""".stripMargin)) { (s, dir) =>
      CoverageQueries.seriesHead(EventsFact.fact(s, dir), "cohort_5", "view", 20)
    },

    // P8 — dependent dimension filter (streamlit_app.py:190).
    Q("q08_antigens_for",
      cte("""SELECT DISTINCT antigen FROM fact
            |WHERE country = 'cohort_7' ORDER BY antigen""".stripMargin)) { (s, dir) =>
      CoverageQueries.antigensFor(EventsFact.fact(s, dir), "cohort_7")
    },

    // R1 round-trip — pivot the fact wide (the OWID CSV shape), then
    // unpivot back; oracle = the fact itself. Proves melt semantics
    // (etl_pipeline.py:68-73) without a CSV staging step.
    Q("q09_pivot_roundtrip",
      cte("""SELECT country, year, antigen, coverage_pct FROM fact
            |ORDER BY country, year, antigen""".stripMargin)) { (s, dir) =>
      val antigens = Seq("click", "error", "purchase", "signup", "view")
      EventsFact.fact(s, dir)
        .groupBy("country", "year")
        .pivot("antigen", antigens)
        .agg(first("coverage_pct"))
        .unpivot(Array(col("country"), col("year")), antigens.map(col).toArray,
          "antigen", "coverage_pct")
        .na.drop(Seq("coverage_pct"))
        .select("country", "year", "antigen", "coverage_pct")
        .orderBy("country", "year", "antigen")
    },

    // P3/P5/P6 — clean + coerce-or-null + inclusive year range on a
    // deliberately dirtied copy of the fact (the Explorer's defensive
    // re-cast, global_vaccination_coverage_explorer_app.py:244-247).
    Q("q10_clean_recast",
      cte("""SELECT country, antigen,
            |  CAST(TRY_CAST(CAST(year AS VARCHAR) AS INTEGER) AS INTEGER) AS year,
            |  coverage_pct
            |FROM fact
            |WHERE TRY_CAST(CAST(year AS VARCHAR) AS INTEGER) IS NOT NULL
            |  AND coverage_pct IS NOT NULL
            |  AND TRY_CAST(CAST(year AS VARCHAR) AS INTEGER) BETWEEN 2 AND 29
            |ORDER BY country, antigen, year""".stripMargin)) { (s, dir) =>
      // Stringify year, try_cast back (ANSI-safe coerce-or-null), drop
      // missing, inclusive between — the P6/P5/P3 chain.
      EventsFact.fact(s, dir)
        .withColumn("year", expr("try_cast(cast(year AS string) AS int)"))
        .na.drop(Seq("year", "coverage_pct"))
        .filter(col("year").between(2, 29))
        .select("country", "antigen", "year", "coverage_pct")
        .orderBy("country", "antigen", "year")
    },
  )
}
