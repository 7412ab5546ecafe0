package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryUtil.{inTempDir, localized, t}

/** Round-9 warehouse/analytics batch: runtime partition pruning, SCD2
  * change capture, co-occurrence mining, degree-oriented triangle
  * counting, BM25 retrieval, exact weighted percentiles, algebraic
  * aggregate maintenance, and blocked fuzzy entity resolution.
  *
  * Shared discipline: every query has a DuckDB oracle; integer/decimal
  * arithmetic wherever exactness must travel across engines
  * (cross-multiplied lifts, fixed-point rank elections, quantized
  * log-scores per the q65/q113 precedent — `ln` is the only
  * transcendental and always rides behind a floor-quantization).
  */
object WarehouseQueries {

  /** BM25 query terms (high-df tokens of the synthetic corpus) and the
    * standard parameters. */
  val BmTerms: Seq[String] = Seq("join", "scan", "filter")

  val all: Seq[Q] = Seq(

    // Dynamic partition pruning: the fact is written PARTITIONED BY
    // day, the dim side carries the selective filter, and Catalyst
    // prunes fact partitions AT RUNTIME from the dim join keys (the
    // broadcast-reuse DPP subquery — WarehouseSpec asserts
    // `dynamicpruning` on the executed scan). At 100 TB this is the
    // difference between scanning 1/3 of the partitions and all of
    // them; no WHERE on the fact could express it because the day set
    // is only known from the dim.
    Q("q121_dpp_join", WarehouseOracles.dppJoin) { (s, dir) =>
      inTempDir("graft_dpp") { pdir =>
        val ev = graft.analysis.EventsFact.events(s, dir)
          .select(col("event_id"), col("value"), col("ts").cast("date").as("day"))
        // co-locate partition values pre-write (the q102 small-files
        // discipline: without it every task opens a writer per day)
        ev.repartition(8, col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(pdir)
        val fact = s.read.parquet(pdir)
        val dim = graft.analysis.EventsFact.events(s, dir)
          .select(col("ts").cast("date").as("dim_day")).distinct()
          .where(dayofmonth(col("dim_day")) % 3 === 0)
        localized(fact.join(broadcast(dim), col("day") === col("dim_day"))
          .groupBy(col("day").cast("string").as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
          .orderBy("day"))
      }
    },

    // SCD2 history build (the dimension-maintenance half of CDC): per
    // user, consecutive same-type runs collapse into one versioned
    // interval row [valid_from, valid_to), the current row open-ended.
    // Run detection = lag + cumulative-sum window per user — the
    // per-entity ordered pass every SCD2 build fundamentally is; user
    // keys are uniform (no hot entity), so the per-key window is the
    // right plan, not a skew magnet. All output integers (epoch
    // micros; -1 = open interval keeps the column non-null int64).
    Q("q122_scd2_history", WarehouseOracles.scd2) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ver = ev
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .withColumn("chg",
          when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("version", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val runs = ver.groupBy(col("user_id"), col("version"))
        .agg(min(col("event_type")).as("event_type"),
          min(col("ts")).as("vf"), count(lit(1)).as("n_events"))
      val w2 = Window.partitionBy("user_id").orderBy("version")
      runs.withColumn("vt", lead(col("vf"), 1).over(w2))
        .select(col("user_id"), col("version"), col("event_type"),
          unix_micros(col("vf")).as("valid_from_us"),
          coalesce(unix_micros(col("vt")), lit(-1L)).as("valid_to_us"),
          col("n_events"))
        .orderBy("user_id", "version")
    },

    // Co-occurrence mining with EXACT lift: which event types appear
    // together in the same (user, day) basket. The lift ratio
    // P(xy)/(P(x)P(y)) rides as two cross-multiplied INTEGERS
    // (n_xy·T and n_x·n_y) instead of a float quotient — the q90
    // integer-cross-multiplication discipline, so the oracle matches
    // bit for bit and downstream ranking needs no rounding bridge.
    // Scale: the basket self-join fans out ≤ |type-domain|² per
    // basket — bounded by the 5-value domain, not by data volume.
    Q("q123_cooccurrence", WarehouseOracles.cooccurrence) { (s, dir) =>
      // localCheckpoint: the basket frame feeds FOUR consumers (total,
      // marginals, both self-join sides) — without the cut the events
      // scan + distinct executes once per consumer
      val base = graft.analysis.EventsFact.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"), col("event_type"))
        .distinct()
        .localCheckpoint()
      val total = base.select("user_id", "day").distinct()
        .agg(count(lit(1)).as("total"))
      val marg = base.groupBy("event_type").agg(count(lit(1)).as("n"))
      val a = base.select(col("user_id"), col("day"), col("event_type").as("t1"))
      val b = base.select(col("user_id"), col("day"), col("event_type").as("t2"))
      a.join(b, Seq("user_id", "day")).where(col("t1") < col("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_xy"))
        .join(broadcast(marg.select(col("event_type").as("t1"), col("n").as("n_x"))), "t1")
        .join(broadcast(marg.select(col("event_type").as("t2"), col("n").as("n_y"))), "t2")
        .crossJoin(broadcast(total))
        .select(col("t1"), col("t2"), col("n_xy"), col("n_x"), col("n_y"),
          (col("n_xy") * col("total")).as("lift_num"),
          (col("n_x") * col("n_y")).as("lift_den"))
        .orderBy("t1", "t2")
    },

    // Triangle counting over the co-purchase graph (parts appearing in
    // ≥2 common orders — the support threshold that keeps a
    // co-occurrence graph sparse). Degree-oriented enumeration
    // ([[graft.ext.Graph.triangleCounts]]): wedge volume bounded by
    // O(E^1.5) regardless of hub skew. Integer end to end — the
    // oracle replays the orientation and the closing join exactly.
    Q("q124_triangles", WarehouseOracles.triangles) { (s, dir) =>
      // fan the co-purchase self-join out on its OWN key: the
      // single-file lineitem scan caps at #row-groups tasks (3 at
      // sf0.1), and the broadcast self-join + pair explosion + partial
      // count all inherited that ceiling (one 1.6 s 3-task job was the
      // lane's hottest). The repartition is the exchange a shuffle join
      // would need anyway, shared by BOTH sides of the self-join
      // (exchange reuse), carrying two longs per row.
      val li0 = t(s, dir, "lineitem")
      val li = li0.select(col("l_orderkey"), col("l_partkey"))
        .repartition(li0.sparkSession.sessionState.conf.numShufflePartitions,
          col("l_orderkey"))
      val edges = li.select(col("l_orderkey"), col("l_partkey"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("p2")), "l_orderkey")
        .where(col("l_partkey") < col("p2"))
        .groupBy(col("l_partkey").as("src"), col("p2").as("dst"))
        .agg(count(lit(1)).as("sup")).where(col("sup") >= 2)
        .select("src", "dst")
      graft.ext.Graph.triangleCounts(edges)
        .select(col("node").as("part_key"), col("n_triangles"))
        .orderBy(desc("n_triangles"), asc("part_key")).limit(20)
    },

    // BM25 ranked retrieval (k1 = 1.2, b = 0.75) for a fixed term set:
    // tf from the exploded token stream, df/avgdl from one stats pass,
    // per-(doc, term) score floor-quantized to a long BEFORE the
    // per-doc sum (the q113 discipline: ln is the only transcendental
    // and never rides un-quantized into an accumulation), top-20 by
    // the exact integer key. Token arrays are materialized attributes
    // before explode/size (the interpreted-HOF lesson).
    Q("q125_bm25", WarehouseOracles.bm25) { (s, dir) =>
      val arrs = t(s, dir, "documents")
        .select(col("doc_id"), graft.ext.TextAnalysis.tokens(col("text")).as("a"))
      val dl = arrs.select(col("doc_id"), size(col("a")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      val tf = arrs.select(col("doc_id"), explode(col("a")).as("tok"))
        .where(col("tok").isin(BmTerms: _*))
        .groupBy(col("doc_id"), col("tok").as("term"))
        .agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy("term").agg(count(lit(1)).as("dfc"))
      tf.join(broadcast(dfc), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("qs", floor(
          log(lit(1.0) +
            (col("n").cast("double") - col("dfc") + lit(0.5)) / (col("dfc") + lit(0.5))) *
          (col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) +
              lit(0.75) * (col("dl") / (col("sdl").cast("double") / col("n")))))) *
          lit(1000000.0)))
        .groupBy("doc_id").agg(sum(col("qs")).as("score_q"))
        .orderBy(desc("score_q"), asc("doc_id")).limit(20)
    },

    // Exact WEIGHTED percentiles (lower-bound semantics) per return
    // flag, weight = quantity: the [[graft.stats.WeightedPercentiles]]
    // bucketed rank election — integer cumulative weights against
    // rational-fraction targets, zero float bridges, no task ever
    // sorts a whole key.
    Q("q126_weighted_percentiles", WarehouseOracles.weightedPercentiles) { (s, dir) =>
      graft.stats.WeightedPercentiles.lowerBound(
        t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", "l_quantity",
        Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .orderBy("l_returnflag")
    },

    // Algebraic aggregate maintenance (materialized-view delta merge):
    // base partials (days ≤ 24) and delta partials (days > 24) merge
    // by their combine functions — counts add, DECIMAL sums add,
    // min/max fold — and the merged view must equal the full
    // recompute, which is exactly what the oracle computes. The
    // pattern that turns a daily 100 TB re-aggregation into an
    // incremental partial-merge; exact because the partials are
    // decimal/integer (a float partial-sum would drift from the
    // recompute by accumulation order).
    Q("q127_incremental_agg", WarehouseOracles.incrementalAgg) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      def partials(f: DataFrame): DataFrame = f.groupBy("event_type").agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,6)")).as("psum"),
        min(col("value")).as("pmin"),
        max(col("value")).as("pmax"))
      partials(ev.where(dayofmonth(col("ts")) <= 24))
        .unionAll(partials(ev.where(dayofmonth(col("ts")) > 24)))
        .groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          sum(col("psum")).cast("double").as("value_sum"),
          min(col("pmin")).as("value_min"),
          max(col("pmax")).as("value_max"))
        .orderBy("event_type")
    },

    // Blocked fuzzy entity resolution: dirty nation names (a
    // deterministic one-char deletion) resolved back to the clean dim
    // by Levenshtein distance within a blocking key (shared first
    // character — sound here because the corruption preserves it),
    // best match by the exact (distance, name) tuple, then the
    // customer fact repaired through the resolved mapping. Blocking is
    // what makes fuzzy matching scale: candidates are per-block, never
    // the full cross product; both engines' levenshtein is the
    // classic DP metric, so distances are integers and the oracle is
    // exact.
    Q("q128_fuzzy_resolve", WarehouseOracles.fuzzyResolve) { (s, dir) =>
      val nation = t(s, dir, "nation")
      val clean = nation.select(col("n_name"))
      val dirty = nation.select(col("n_nationkey"),
        expr("substring(n_name, 1, 2) || substring(n_name, 4)").as("corrupt"))
      val cand = dirty.join(broadcast(clean),
          substring(col("corrupt"), 1, 1) === substring(col("n_name"), 1, 1))
        .withColumn("dist", levenshtein(col("corrupt"), col("n_name")))
      val best = cand.groupBy("n_nationkey")
        .agg(min(struct(col("dist").as("d"), col("n_name").as("nm"))).as("b"))
        .select(col("n_nationkey"), col("b.nm").as("n_name"), col("b.d").as("dist"))
      t(s, dir, "customer")
        .join(broadcast(best), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "dist").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_name")
    },
  )
}

object WarehouseOracles {

  val dppJoin: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events WHERE date_part('day', ts) % 3 = 0
      |GROUP BY 1 ORDER BY day""".stripMargin

  /** Same run detection: lag + cumulative sum per user ordered by
    * (ts, event_id) — a deterministic total order on both engines. */
  val scd2: String =
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |v AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS version FROM o),
      |g AS (SELECT user_id, version, min(event_type) AS event_type,
      |    min(ts) AS vf, count(*) AS n_events FROM v GROUP BY 1, 2),
      |f AS (SELECT *, lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS vt
      |  FROM g)
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
      |  epoch_us(vf) AS valid_from_us,
      |  coalesce(epoch_us(vt), -1) AS valid_to_us,
      |  n_events
      |FROM f ORDER BY user_id, version""".stripMargin

  val cooccurrence: String =
    """WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      |  FROM events),
      |t AS (SELECT count(*) AS total FROM (SELECT DISTINCT user_id, day FROM b)),
      |m AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1),
      |p AS (SELECT a.event_type AS t1, c.event_type AS t2, count(*) AS n_xy
      |  FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
      |    AND a.event_type < c.event_type
      |  GROUP BY 1, 2)
      |SELECT p.t1, p.t2, p.n_xy, m1.n AS n_x, m2.n AS n_y,
      |  CAST(p.n_xy * t.total AS BIGINT) AS lift_num,
      |  CAST(m1.n * m2.n AS BIGINT) AS lift_den
      |FROM p JOIN m m1 ON p.t1 = m1.event_type
      |JOIN m m2 ON p.t2 = m2.event_type CROSS JOIN t
      |ORDER BY t1, t2""".stripMargin

  /** Replays [[graft.ext.Graph.triangleCounts]]'s degree orientation:
    * `≺` = (degree, id) tuple order, wedges from the ≺-min corner,
    * closed against the oriented (b, c) edge. */
  val triangles: String =
    """WITH e AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (SELECT node, count(*) AS d FROM (
      |    SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1),
      |o AS (SELECT
      |    CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p1 ELSE e.p2 END AS u,
      |    CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p2 ELSE e.p1 END AS v,
      |    CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN d2.d ELSE d1.d END AS dv
      |  FROM e JOIN deg d1 ON e.p1 = d1.node JOIN deg d2 ON e.p2 = d2.node),
      |tri AS (SELECT x.u AS a, x.v AS b, y.v AS c
      |  FROM o x JOIN o y ON x.u = y.u AND (x.dv, x.v) < (y.dv, y.v)
      |  JOIN o z ON z.u = x.v AND z.v = y.v),
      |n AS (SELECT node, count(*) AS n_triangles FROM (
      |    SELECT a AS node FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) GROUP BY 1)
      |SELECT node AS part_key, CAST(n_triangles AS BIGINT) AS n_triangles
      |FROM n ORDER BY n_triangles DESC, part_key LIMIT 20""".stripMargin

  /** Verbatim BM25 mirror: same tokenizer as q65/q113, same
    * association order per factor, floor-quantized per (doc, term)
    * before the integer per-doc sum. */
  val bm25: String = {
    val terms = WarehouseQueries.BmTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH a AS (SELECT doc_id,
       |    regexp_split_to_array(trim(text), '\\s+') AS arr FROM documents),
       |d AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS dl FROM a),
       |s AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM d),
       |tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(arr) AS tok FROM a)
       |  WHERE tok IN ($terms) GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
       |q AS (SELECT tf.doc_id, CAST(floor(
       |    ln(1.0 + (CAST(s.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5)) *
       |    (tf.tf * 2.2 /
       |      (tf.tf + 1.2 * (0.25 + 0.75 * (d.dl / (CAST(s.sdl AS DOUBLE) / s.n))))) *
       |    1000000.0) AS BIGINT) AS qs
       |  FROM tf JOIN dfq USING (term) JOIN d USING (doc_id) CROSS JOIN s)
       |SELECT doc_id, CAST(sum(qs) AS BIGINT) AS score_q
       |FROM q GROUP BY doc_id ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Lower-bound weighted percentile: smallest value whose cumulative
    * weight reaches ⌈num·W/den⌉ — `den·cum >= num·tot` is the same
    * predicate in pure integers. */
  val weightedPercentiles: String =
    """WITH w AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
      |    CAST(trunc(l_quantity) AS BIGINT) AS wt FROM lineitem),
      |g AS (SELECT l_returnflag, v, sum(wt) AS c FROM w GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, v, c,
      |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY l_returnflag) AS tot FROM g)
      |SELECT l_returnflag,
      |  min(CASE WHEN 4 * cum >= 1 * tot THEN v END) AS p25,
      |  min(CASE WHEN 2 * cum >= 1 * tot THEN v END) AS p50,
      |  min(CASE WHEN 10 * cum >= 9 * tot THEN v END) AS p90,
      |  min(CASE WHEN 100 * cum >= 99 * tot THEN v END) AS p99
      |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val incrementalAgg: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
      |  min(value) AS value_min, max(value) AS value_max
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  val fuzzyResolve: String =
    """WITH clean AS (SELECT n_name FROM nation),
      |dirty AS (SELECT n_nationkey,
      |    substring(n_name, 1, 2) || substring(n_name, 4) AS corrupt FROM nation),
      |cand AS (SELECT d.n_nationkey, c.n_name,
      |    levenshtein(d.corrupt, c.n_name) AS dist
      |  FROM dirty d JOIN clean c
      |    ON substring(d.corrupt, 1, 1) = substring(c.n_name, 1, 1)),
      |best AS (SELECT n_nationkey, n_name, dist FROM (
      |    SELECT n_nationkey, n_name, dist,
      |      row_number() OVER (PARTITION BY n_nationkey ORDER BY dist, n_name) AS rn
      |    FROM cand) WHERE rn = 1)
      |SELECT b.n_name, CAST(b.dist AS INTEGER) AS dist, count(*) AS n_customers
      |FROM customer cu JOIN best b ON cu.c_nationkey = b.n_nationkey
      |GROUP BY 1, 2 ORDER BY n_name""".stripMargin
}
