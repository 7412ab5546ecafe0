package graft

import org.apache.spark.sql.functions._
import QueryUtil.{dsum, inTempDir, localized, t}

/** Round-9 fourth batch: streaming LEFT OUTER join semantics,
  * small-file compaction fidelity, and two classic star-join revenue
  * analyses (the TPC-H Q3/Q10 shapes) over the synthetic star schema.
  */
object MaintenanceQueries {

  val all: Seq[Q] = Seq(

    // Streaming LEFT OUTER interval join run to completion: unmatched
    // purchases emit with signup_us = -1 only after the watermark
    // passes their window — the sentinel-drain recipe
    // (graft.streaming.StreamJoin scaladoc). Equals the batch LEFT
    // JOIN, which is the oracle.
    Q("q139_stream_outer_join", MaintenanceOracles.streamOuterJoin) { (s, dir) =>
      inTempDir("graft_outer") { tmp =>
        val name = s"outer_${java.util.UUID.randomUUID().toString.take(8)}"
        try localized(graft.streaming.StreamJoin
          .purchaseAttributionLeftOuter(s, dir, s"$tmp/staging", name)
          .orderBy("event_id", "signup_us"))
        // self-cleaning: the memory sink pins its row batches under
        // the temp view until dropped — don't rely on harness hygiene
        finally s.catalog.dropTempView(name)
      }
    },

    // Compaction fidelity: a deliberately fragmented write (64 tiny
    // files) compacted by byte-sized targeting
    // (graft.ingest.Compaction), then aggregated — the numbers agree
    // with the oracle's view of the ORIGINAL table iff the rewrite
    // was lossless. CompactionSpec asserts the file-count collapse;
    // this lane pins content fidelity.
    Q("q140_compaction", MaintenanceOracles.compaction) { (s, dir) =>
      inTempDir("graft_compact") { tmp =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
          .repartition(64)
          .write.parquet(s"$tmp/small")
        graft.ingest.Compaction.compactTo(
          s, s"$tmp/small", s"$tmp/compact", targetBytes = 8L * 1024 * 1024)
        localized(s.read.parquet(s"$tmp/compact")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))
          .orderBy("l_returnflag"))
      }
    },

    // Shipping-priority revenue (the TPC-H Q3 shape): top-10 orders by
    // open revenue — ordered before the cutoff, shipped after it.
    // Broadcast-free: both sides are fact-sized, the join shuffles on
    // the order key once; revenue is DECIMAL-exact so the top-10
    // double sort keys are engine-identical.
    Q("q141_top_open_orders", MaintenanceOracles.topOpenOrders) { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate").cast("date") > lit("1998-01-01").cast("date"))
        .join(t(s, dir, "orders")
          .where(col("o_orderdate").cast("date") < lit("1998-01-01").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("orderdate"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    },

    // Returned-item reporting (the TPC-H Q10 shape): which customers
    // returned the most revenue — 3-way star join with the nation dim
    // broadcast, top-20 by exact-decimal revenue.
    Q("q142_returned_customers", MaintenanceOracles.returnedCustomers) { (s, dir) =>
      t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    },

    // The optimizer-rule face of the custom top-k operator
    // (graft.plans.TopKWindowRewrite): the query is written in the
    // PLAIN row_number window idiom — the injected rule rewrites it
    // onto TopKPerKeyExec (bounded heaps, no per-key sort), and
    // TopKWindowRewriteSpec asserts WindowExec is gone from the plan.
    // Total order (revenue desc, suppkey) so ties cannot differ.
    Q("q144_topk_rewrite", MaintenanceOracles.topkRewrite) { (s, dir) =>
      // scoped: the rule is session-global; localized() forces the
      // optimization inside the scope, so no other query's plan ever
      // sees it
      graft.plans.TopKWindowRewrite.scoped(s) {
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_nationkey", "l_suppkey")
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("s_nationkey").orderBy(desc("revenue"), asc("l_suppkey"))
        localized(rev.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3).drop("rn")
          .orderBy(col("s_nationkey"), desc("revenue"), col("l_suppkey")))
      }
    },

    // Rolling-window anomaly detection over the per-(cohort, type)
    // daily series — |x − μ| ≥ 2σ against the trailing 7-day window,
    // evaluated ENTIRELY in integers: quantize x once (1e4 grid),
    // then cross-multiply the flag to (n·qx − S)² ≥ 4·(n·SS − S²)
    // so no float mean/variance ever exists to diverge (the q90/q123
    // cross-multiplication discipline applied to second moments).
    // Windows shorter than 4 days don't flag. One per-key window over
    // day-grain rows — frame sizes are calendar-bounded.
    Q("q145_anomaly_flags", MaintenanceOracles.anomalyFlags) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("country", "antigen").orderBy("day").rowsBetween(-6, 0)
      val ser = graft.analysis.EventsFact.fact(s, dir)
        .select(col("country"), col("antigen"), col("year").as("day"),
          floor(col("coverage_pct") * 10000).cast("long").as("qx"))
      ser
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sw", sum(col("qx")).over(w))
        .withColumn("ssw", sum(col("qx") * col("qx")).over(w))
        .withColumn("flag",
          col("n") >= 4 &&
            (col("n") * col("qx") - col("sw")) * (col("n") * col("qx") - col("sw")) >=
            lit(4L) * (col("n") * col("ssw") - col("sw") * col("sw")))
        .groupBy("country", "antigen")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy("country", "antigen")
    },

    // Content-defined chunking (graft.ext.CdcChunks — native codegen'd
    // Rabin rolling hash): per-doc chunk counts plus how many of each
    // doc's chunks recur elsewhere in the corpus — the delta-storage /
    // sub-document-dedup signal that is robust to insertions (chunk
    // boundaries realign within one window). The oracle recomputes
    // every rolling hash from the 8-term window-sum form and must
    // reproduce the exact cut set.
    Q("q143_cdc_chunks", MaintenanceOracles.cdcChunks) { (s, dir) =>
      // localCheckpoint: consumed by the frequency aggregate AND the
      // join probe — without the cut the scan+chunking runs twice
      // (the multi-consumer lineage discipline)
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.ext.CdcChunks(col("text"))).as("chunk"))
        .localCheckpoint()
      val cf = chunks.groupBy("chunk").agg(count(lit(1)).as("cfn"))
      chunks.join(cf, "chunk")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("cfn") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .orderBy("doc_id")
    },

    // (round-10) Sharded inverted index with delta-encoded postings —
    // the materialized data product BESIDE q125's BM25 scoring: per
    // (term, shard) a sorted posting list stored as gaps (first id
    // absolute, rest deltas — the classic postings compression, exact
    // integers both engines). SHARDING by doc-id range is the 100 TB
    // shape: a stopword's postings would otherwise be one corpus-sized
    // array in one row; per-shard arrays are bounded by the shard
    // width, and shards of one term merge by concatenation (ids are
    // range-disjoint). One distinct (term, doc) collapse, one
    // grouped sort_array — no corpus-wide window, no self-join.
    Q("q152_inverted_index", MaintenanceOracles.invertedIndex) { (s, dir) =>
      val shardW = 100L
      val postings = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
        .where(col("term") =!= "") // empty split artifact of blank docs
        .distinct()
        .groupBy(col("term"), expr(s"doc_id div $shardW").as("shard"))
        .agg(count(lit(1)).as("df_shard"),
          sort_array(collect_list(col("doc_id"))).as("ids"))
      postings.select(col("term"), col("shard"), col("df_shard"),
          concat_ws(",", expr(
            "transform(ids, (x, i) -> CAST(IF(i = 0, x, x - ids[i-1]) AS STRING))"))
            .as("gaps"))
        .orderBy("term", "shard")
    },

    // (round-10) Winsorization: per-group [p05, p95] capping from the
    // EXACT percentile election (q48 machinery), then decimal-exact
    // aggregates of the capped values — the robust-mean treatment a
    // feature pipeline applies before training. The #keys bounds
    // frame broadcasts; capping is a per-row least/greatest.
    Q("q153_winsorize", MaintenanceOracles.winsorize) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val bounds = graft.stats.ExactPercentiles.percentiles(
          li, "l_returnflag", "l_extendedprice",
          Seq(("p05", 0.05), ("p95", 0.95)))
        .localCheckpoint() // consumed by broadcast + the output join
      // capped values mix raw 2-dp prices with INTERPOLATED bound
      // doubles — summing via a half-way-rounding decimal cast would
      // hand engines a tie to disagree on; floor-quantize instead
      // (the q36/q113 discipline; 1e5 · 1e6 · 600 k rows ≪ Long.Max)
      li.select(col("l_returnflag"), col("l_extendedprice").cast("double").as("x"))
        .join(broadcast(bounds), "l_returnflag")
        .withColumn("capped", least(greatest(col("x"), col("p05")), col("p95")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("capped") * lit(1000000.0)).cast("long")).as("capped_q"),
          sum(when(col("x") < col("p05"), 1L)
            .when(col("x") > col("p95"), 1L)
            .otherwise(0L)).as("n_capped"))
        .orderBy("l_returnflag")
    },

    // (round-10) NATIVE session windows: Spark's session_window
    // aggregation (dynamic-gap merge inside the aggregate — the
    // operator itself, vs q41's lag-island formulation and q41's
    // flatMapGroupsWithState streaming sibling). Same watermark-ready
    // shape streams unchanged. Boundary semantics: a gap ≥ the window
    // gap starts a new session (windows merge only on strict
    // overlap), which is what the oracle's island replay encodes.
    Q("q155_session_window", MaintenanceOracles.sessionWindow) { (s, dir) =>
      graft.analysis.EventsFact.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "24 hours").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    },

    // (round-10) observe(): data-quality metrics PIGGYBACKED on the
    // main action — the accumulator-backed Observation API computes
    // row count / sums / null count in the same pass as the real
    // query (zero extra scans; at 100 TB a separate metrics pass is a
    // second full read). The observed numbers ARE the result frame,
    // so the oracle holds them to the exact aggregates.
    Q("q156_observe_metrics", MaintenanceOracles.observeMetrics) { (s, dir) =>
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val li = t(s, dir, "lineitem").observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdates"))
      li.write.format("noop").mode("overwrite").save() // the "real" action
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
          m("sum_qty").asInstanceOf[Double],
          m("null_shipdates").asInstanceOf[Long]))
        .toDF("n_rows", "sum_qty", "null_shipdates")
    },

    // (round-10) SHA-2 pseudonymization: salted sha256 of the user id
    // — referential integrity survives (equal ids map to equal
    // pseudonyms, so joins/groupBys still work) while raw ids leave
    // the pipeline; the release-side sibling of q131's k-anonymity
    // audit. Both engines compute the identical lowercase hex.
    Q("q157_pseudonymize", MaintenanceOracles.pseudonymize) { (s, dir) =>
      graft.analysis.EventsFact.events(s, dir)
        .select(sha2(concat(lit("graft-salt:"),
          col("user_id").cast("string")), 256).as("pid"),
          col("value"))
        .groupBy("pid")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .orderBy("pid").limit(40)
    },

    // (round-10) Leakage-safe splits: train/val/test assignment hashed
    // on the NEAR-DUP CLUSTER id, not the doc id — near-duplicates can
    // never straddle train and test (the eval-contamination mode
    // doc-hashed splits (q77) cannot prevent), because the split is a
    // pure function of the cluster. Composes the served component
    // closure (q30/q60/q92 machinery) with the md5-banded assigner;
    // the oracle replays closure + assignment.
    Q("q158_cluster_safe_splits", MaintenanceOracles.clusterSafeSplits) { (s, dir) =>
      val clustered = graft.ext.Dedup.withServedClusters(
        t(s, dir, "documents").select("doc_id"), s, dir)
      graft.ext.Curation.assignSplits(clustered, idCol = "cluster")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"))
        .orderBy("split")
    },

    // (round-10) VARIANT round trip (Spark 4 semi-structured type):
    // values serialized to JSON, parsed into VARIANT once, fields
    // extracted with typed variant_get paths — the open-schema
    // ingestion shape (parse once, extract many, no per-path string
    // re-parse). The oracle computes from the base columns directly,
    // so any loss anywhere in the to_json -> parse_json -> variant_get
    // chain (numeric round-trip included) breaks the hash.
    Q("q160_variant_extract", MaintenanceOracles.variantExtract) { (s, dir) =>
      graft.analysis.EventsFact.events(s, dir)
        .select(to_json(struct(col("user_id"), col("value"))).as("js"))
        .select(parse_json(col("js")).as("vr"))
        .select(
          expr("variant_get(vr, '$.user_id', 'long')").as("uid"),
          expr("variant_get(vr, '$.value', 'double')").as("v"))
        .groupBy((col("uid") % 10).as("k"))
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("value_sum"))
        .orderBy("k")
    },

    // (round-10) RECURSIVE CTE (landed in Spark 4): iterate-to-fixpoint
    // inside ONE SQL statement — depth of every supplier under the
    // synthetic div-10 management chain, no driver-side loop, no
    // localCheckpoint staging. Both engines run their own recursive
    // SQL over the same base relation.
    Q("q161_recursive_cte", MaintenanceOracles.recursiveCte) { (s, dir) =>
      val name = s"sup_${java.util.UUID.randomUUID().toString.take(8)}"
      t(s, dir, "supplier").select("s_suppkey").createOrReplaceTempView(name)
      try localized(s.sql(
        s"""WITH RECURSIVE chain(k, cur, depth) AS (
           |  SELECT s_suppkey, s_suppkey, 0 FROM $name
           |  UNION ALL
           |  SELECT k, cur div 10, depth + 1 FROM chain WHERE cur > 0)
           |SELECT depth, count(*) AS n
           |FROM chain WHERE cur = 0
           |GROUP BY depth ORDER BY depth""".stripMargin))
      finally s.catalog.dropTempView(name)
    },
  )
}

object MaintenanceOracles {

  val variantExtract: String =
    """SELECT CAST(user_id % 10 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  /** DuckDB's own recursive CTE over the same chain (// is its
    * integer division; the engines need not share SQL text, only
    * results). */
  val recursiveCte: String =
    """WITH RECURSIVE chain(k, cur, depth) AS (
      |  SELECT s_suppkey, s_suppkey, 0 FROM supplier
      |  UNION ALL
      |  SELECT k, cur // 10, depth + 1 FROM chain WHERE cur > 0)
      |SELECT depth, count(*) AS n
      |FROM chain WHERE cur = 0
      |GROUP BY depth ORDER BY depth""".stripMargin

  /** session_window replay as lag islands: boundary at gap ≥ G (a
    * window [t, t+G) merges only on STRICT overlap); end = last + G. */
  val sessionWindow: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |m AS (SELECT user_id, us,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
      |      >= 86400000000 THEN 1 ELSE 0 END AS b
      |  FROM e),
      |x AS (SELECT user_id, us,
      |    sum(b) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, min(us) AS start_us,
      |  max(us) + 86400000000 AS end_us, count(*) AS n_events
      |FROM x GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  val observeMetrics: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS null_shipdates
      |FROM lineitem""".stripMargin

  val pseudonymize: String =
    """SELECT sha256('graft-salt:' || CAST(user_id AS VARCHAR)) AS pid,
      |  count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1 ORDER BY pid LIMIT 40""".stripMargin

  /** Closure + cluster-hashed banding: the q92 component CTE feeding
    * q77's band rule keyed on the cluster id. */
  val clusterSafeSplits: String =
    s"""WITH RECURSIVE
       |pairs AS (SELECT a_id, b_id FROM (${ExtensionOracles.minhashPairs})),
       |sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |        UNION SELECT b_id, a_id FROM pairs),
       |cc AS (
       |  SELECT DISTINCT src AS id, src AS label FROM sym
       |  UNION
       |  SELECT s.src AS id, cc.label FROM cc JOIN sym s ON cc.id = s.dst
       |),
       |comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id),
       |cl AS (SELECT d.doc_id,
       |         coalesce(comp.component, d.doc_id) AS cluster
       |       FROM documents d LEFT JOIN comp ON d.doc_id = comp.id),
       |sp AS (SELECT doc_id, cluster,
       |    CASE WHEN h < 800000 THEN 'train'
       |      WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, cluster,
       |      ('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 15))::BIGINT
       |        % 1000000 AS h
       |    FROM cl))
       |SELECT split, count(*) AS n_docs,
       |  count(DISTINCT cluster) AS n_clusters
       |FROM sp GROUP BY 1 ORDER BY split""".stripMargin

  /** Gap encoding replayed with a lag window (DuckDB's 1-based list
    * lambdas have no index form, so the mirror builds gaps BEFORE the
    * string aggregation). Tokens mirror q132's split. */
  val invertedIndex: String =
    """WITH t AS (SELECT DISTINCT doc_id,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |t2 AS (SELECT doc_id, term FROM t WHERE term <> ''),
      |g AS (SELECT term, doc_id // 100 AS shard, doc_id,
      |    CASE WHEN lag(doc_id) OVER (
      |      PARTITION BY term, doc_id // 100 ORDER BY doc_id) IS NULL
      |      THEN doc_id
      |      ELSE doc_id - lag(doc_id) OVER (
      |        PARTITION BY term, doc_id // 100 ORDER BY doc_id) END AS gap2
      |  FROM t2)
      |SELECT term, CAST(shard AS BIGINT) AS shard, count(*) AS df_shard,
      |  string_agg(CAST(gap2 AS VARCHAR), ',' ORDER BY doc_id) AS gaps
      |FROM g GROUP BY 1, 2 ORDER BY term, shard""".stripMargin

  /** Exact [p05, p95] winsorization — interpolated bounds are the
    * q48-proven bitwise parity; the capped sum rides floor-quantized. */
  val winsorize: String =
    """WITH b AS (SELECT l_returnflag,
      |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS p05,
      |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS p95
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag AS l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(floor(least(greatest(
      |    CAST(l_extendedprice AS DOUBLE), p05), p95) * 1000000.0) AS BIGINT))
      |    AS BIGINT) AS capped_q,
      |  CAST(sum(CASE WHEN CAST(l_extendedprice AS DOUBLE) < p05
      |      OR CAST(l_extendedprice AS DOUBLE) > p95 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_capped
      |FROM lineitem l JOIN b USING (l_returnflag)
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  val streamOuterJoin: String =
    """WITH p AS (SELECT event_id, user_id, ts AS pts FROM events
      |  WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, ts AS sts FROM events WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id, epoch_us(pts) AS purchase_us,
      |  coalesce(epoch_us(sts), -1) AS signup_us
      |FROM p LEFT JOIN s ON p.user_id = s.user_id
      |  AND pts >= sts AND pts <= sts + INTERVAL 7 DAY
      |ORDER BY event_id, signup_us""".stripMargin

  val compaction: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  val topOpenOrders: String =
    """SELECT l_orderkey,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |  AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
      |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Same integer cross-multiplied flag over the shared fact CTE. */
  val anomalyFlags: String = graft.analysis.EventsFact.withFactCte(
    """SELECT country, antigen, count(*) AS n_days,
      |  CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM (
      |  SELECT country, antigen,
      |    n >= 4 AND (n*qx - sw)*(n*qx - sw) >= 4*(n*ssw - sw*sw) AS flag
      |  FROM (
      |    SELECT country, antigen, year,
      |      CAST(floor(coverage_pct * 10000) AS BIGINT) AS qx,
      |      count(*) OVER w AS n,
      |      sum(CAST(floor(coverage_pct * 10000) AS BIGINT)) OVER w AS sw,
      |      sum(CAST(floor(coverage_pct * 10000) AS BIGINT)
      |        * CAST(floor(coverage_pct * 10000) AS BIGINT)) OVER w AS ssw
      |    FROM fact
      |    WINDOW w AS (PARTITION BY country, antigen ORDER BY year
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)))
      |GROUP BY 1, 2 ORDER BY country, antigen""".stripMargin)

  val topkRewrite: String =
    """WITH rev AS (SELECT s_nationkey, l_suppkey,
      |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS DOUBLE) AS revenue
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY s_nationkey
      |    ORDER BY revenue DESC, l_suppkey) AS rn FROM rev)
      |SELECT s_nationkey, l_suppkey, revenue FROM r WHERE rn <= 3
      |ORDER BY s_nationkey, revenue DESC, l_suppkey""".stripMargin

  /** Mirror of [[graft.ext.CdcChunks]]: each rolling hash recomputed
    * as the direct 8-term window sum `Σ ascii(s[i−k])·B^k mod P`
    * (mod is a ring homomorphism, so the incremental roll agrees),
    * cuts strictly before the end merge into the final boundary. */
  val cdcChunks: String = {
    val pows = Seq(1L, 257L, 66049L, 974545L, 457315L, 529604L, 107820L, 709659L)
    val terms = pows.zipWithIndex.map { case (p, k) =>
      s"ascii(substring(text, i - $k, 1)) * $p"
    }.mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE length(text) > 0),
       |pos AS (SELECT doc_id, unnest(range(8, n + 1)) AS i FROM d),
       |h AS (SELECT p.doc_id, i, ($terms) % 1000003 AS hv
       |  FROM pos p JOIN d USING (doc_id)),
       |cuts AS (SELECT h.doc_id, i FROM h JOIN d USING (doc_id)
       |  WHERE hv % 64 = 0 AND i < n),
       |bounds AS (SELECT doc_id, i FROM cuts
       |  UNION ALL SELECT doc_id, n FROM d),
       |seg AS (SELECT doc_id, i,
       |    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS prev
       |  FROM bounds),
       |chunks AS (SELECT s.doc_id, substring(text, prev + 1, i - prev) AS chunk
       |  FROM seg s JOIN d USING (doc_id)),
       |cf AS (SELECT chunk, count(*) AS cfn FROM chunks GROUP BY 1)
       |SELECT c.doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN cfn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |FROM chunks c JOIN cf USING (chunk)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  val returnedCustomers: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
}
