package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import QueryUtil.{t}

/** Relational breadth over the driver's star schema (SURVEY §2.4/§2.5
  * scoping: the engine must carry full join/agg/set-op/window
  * capability even though the reference's own queries never join).
  * Everything here is Catalyst built-ins; the interesting part is the
  * physical shape: dimensions broadcast, fact-fact joins shuffle on
  * their keys, sums accumulate as DECIMAL for cross-engine exactness.
  */
object RelationalQueries {

  /** Exact, order-independent sum of a double expression: accumulate as
    * decimal (deterministic regardless of partitioning), emit double. */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  val all: Seq[Q] = Seq(

    // TPC-H Q1-shaped pricing summary: the canonical partial-agg
    // (map-side combine) + tiny shuffle plan; 4 groups at any scale.
    Q("q11_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  ${CoreParityQueries.exactAvgSql("l_quantity")} AS avg_qty,
        |  ${CoreParityQueries.exactAvgSql("l_extendedprice")} AS avg_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          graft.analysis.CoverageQueries.exactAvg(col("l_quantity")).as("avg_qty"),
          graft.analysis.CoverageQueries.exactAvg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q5-shaped star join: region/nation broadcast (bounded
    // dims), orders⋈lineitem shuffles on the join key; AQE free to
    // re-plan. 5 output rows at any scale.
    Q("q12_region_revenue",
      """SELECT r_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin) { (s, dir) =>
      broadcast(t(s, dir, "region"))
        .join(broadcast(t(s, dir, "nation")), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("r_name")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    },

    // Semi join (EXISTS) — left_semi: probe side never materializes
    // matched rows, so the build side can be broadcast at scale.
    Q("q13_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // Anti join (NOT EXISTS).
    Q("q14_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // Set ops — UNION (distinct), INTERSECT, EXCEPT, all Catalyst
    // built-ins planned as aggregates/joins on the shuffle key.
    Q("q15_union",
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 8000
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_acctbal") > 8000)
        .select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy("nationkey")
    },

    Q("q16_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },

    Q("q17_except",
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },

    // Grouped ordered window — lag: the multi-series generalization the
    // reference's per-selection series needs (SURVEY §2.6). One shuffle
    // on the partition keys, sort within partitions.
    Q("q18_window_lag",
      RelationalOracles.windowLag) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val fact = graft.analysis.EventsFact.fact(s, dir)
      val w = Window.partitionBy("country", "antigen").orderBy("year")
      fact.withColumn("prev", lag("coverage_pct", 1).over(w))
        .withColumn("delta", col("coverage_pct") - col("prev"))
        .select("country", "antigen", "year", "coverage_pct", "delta")
        .orderBy("country", "antigen", "year")
    },

    // Grouped top-k via row_number window — rank-filter pushover.
    Q("q19_window_topk",
      RelationalOracles.windowTopK) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val fact = graft.analysis.EventsFact.fact(s, dir)
      val w = Window.partitionBy("country", "antigen")
        .orderBy(col("coverage_pct").desc, col("year"))
      fact.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("country", "antigen", "rn", "year", "coverage_pct")
        .orderBy("country", "antigen", "rn")
    },

    // Rollup — hierarchical totals (Catalyst expands to a single-pass
    // Expand + aggregate; no multiple scans).
    Q("q20_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    },

    // Exact distinct counts (Catalyst plans count(DISTINCT) as expand +
    // two-phase agg); approx_count_distinct is covered by a unit test
    // (not hash-stable across engines by construction).
    Q("q21_distinct_counts",
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // String scalar functions (F1-F4 generalized).
    Q("q22_string_funcs",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_masked,
        |  substring(p_name, 1, 8) AS name8,
        |  length(p_name) AS name_len,
        |  replace(p_name, ' ', '_') AS name_slug
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") <= 500)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          regexp_replace(col("p_type"), "[AEIOU]", "_").as("type_masked"),
          substring(col("p_name"), 1, 8).as("name8"),
          length(col("p_name")).as("name_len"),
          regexp_replace(col("p_name"), " ", "_").as("name_slug"))
        .orderBy("p_partkey")
    },

    // Date/time scalar functions (F6 generalized) + agg by period.
    Q("q23_date_funcs",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS oyear,
        |       CAST(month(o_orderdate) AS INTEGER) AS omonth,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("int").as("oyear"),
          month(col("o_orderdate")).cast("int").as("omonth"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("oyear", "omonth")
    },

    // JSON scalar extraction over events.props (SURVEY §2.9 extension
    // target): parse + cast + aggregate.
    Q("q24_json_extract",
      """SELECT event_type,
        |  count(*) AS n,
        |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
        |    / count(json_extract_string(props, '$.k')) AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min(k).as("k_min"), max(k).as("k_max"),
          (sum(k).cast("double") / count(k)).as("k_avg"))
        .orderBy("event_type")
    },

    // J1/F7 — broadcast dim lookup + per-char codepoint arithmetic for
    // the flag emoji, with the left-join NULL branch as the fallback
    // (streamlit_app.py:82-87). The dim is the FULL public ISO-3166
    // table ([[graft.ext.Iso3166]]: 249 codes + aliases + name
    // normalization — the reference resolves any country through
    // pycountry's bundled dataset) unioned with the synthetic
    // NATION_* rows this corpus's nation table needs; NATION_23/24
    // stay absent to exercise the lookup-miss fallback. Matching is
    // on normalized names, mirrored in the oracle.
    Q("q25_flag_join", RelationalOracles.flagJoin) { (s, dir) =>
      import s.implicits._
      val dim = broadcast(RelationalOracles.fullDim.toDF("_norm", "alpha2"))
      // char() is mod-256 ASCII in Spark; format_string's %c takes a
      // full Unicode code point (regional indicators live in plane 1).
      val flagExpr = graft.ext.Iso3166.flagCol(col("alpha2"))
      t(s, dir, "nation")
        .withColumn("_norm", graft.ext.Iso3166.normalizeCol(col("n_name")))
        .join(dim, Seq("_norm"), "left")
        .select(
          col("n_nationkey"),
          col("n_name"),
          coalesce(col("alpha2"), lit("??")).as("alpha2"),
          coalesce(when(col("alpha2").isNotNull, flagExpr), lit("🏳")).as("flag"))
        .orderBy("n_nationkey")
    },
  )
}

/** Oracle SQL bodies that are built programmatically or too long to
  * inline above. */
object RelationalOracles {
  import graft.analysis.EventsFact.withFactCte

  val windowLag: String = withFactCte(
    """SELECT country, antigen, year, coverage_pct,
      |  coverage_pct - lag(coverage_pct) OVER
      |    (PARTITION BY country, antigen ORDER BY year) AS delta
      |FROM fact ORDER BY country, antigen, year""".stripMargin)

  val windowTopK: String = withFactCte(
    """SELECT country, antigen, rn, year, coverage_pct FROM (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY country, antigen ORDER BY coverage_pct DESC, year) AS rn
      |  FROM fact)
      |WHERE rn <= 3 ORDER BY country, antigen, rn""".stripMargin)

  /** Synthetic nation→alpha2 dim; NATION_23/24 intentionally absent to
    * exercise the lookup-miss fallback path. */
  val isoDim: Seq[(String, String)] =
    (0 to 22).map(i => s"NATION_$i" -> f"${('A' + i / 5).toChar}${('A' + i % 5).toChar}")

  /** The q25 lookup dim: full public ISO-3166 (normalized name →
    * alpha-2, officials + aliases) ∪ the normalized synthetic
    * NATION_* rows. One seq feeds BOTH engines (the Spark broadcast
    * frame and the oracle's VALUES list), so the tables cannot
    * drift. Normalized names contain no quotes (normalization strips
    * apostrophes), so embedding them as SQL literals is safe. */
  val fullDim: Seq[(String, String)] =
    graft.ext.Iso3166.dim ++
      isoDim.map { case (n, a) => graft.ext.Iso3166.normalize(n) -> a }

  val flagJoin: String = {
    val values = fullDim.map { case (n, a) => s"('$n', '$a')" }.mkString(", ")
    // the oracle applies the FULL normalization chain to its fact side
    // (Iso3166.normalizeSql — same fold tables and step order as the
    // engine's normalizeCol), not an ASCII-only lower(trim())
    // shortcut: a nation name with punctuation, hyphens or diacritics
    // must normalize identically in both engines
    s"""WITH dim(n_norm, alpha2) AS (VALUES $values)
       |SELECT n_nationkey, n.n_name,
       |  coalesce(d.alpha2, '??') AS alpha2,
       |  coalesce(
       |    chr(ascii(substring(d.alpha2, 1, 1)) - 65 + 127462) ||
       |    chr(ascii(substring(d.alpha2, 2, 1)) - 65 + 127462),
       |    chr(127987)) AS flag
       |FROM nation n
       |LEFT JOIN dim d ON ${graft.ext.Iso3166.normalizeSql("n.n_name")} = d.n_norm
       |ORDER BY n_nationkey""".stripMargin
  }
}
