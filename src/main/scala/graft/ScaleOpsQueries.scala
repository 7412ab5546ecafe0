package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import QueryUtil.{inTempDir, localized, t}

/** Round-9 breadth batch: storage-format parity (ORC, JSON lines),
  * sketch-based profiling (equi-width histogram quantiles, HyperLogLog
  * distinct), bounded-state streaming dedup, and the salted skew join.
  *
  * Shared discipline with the rest of the registry: every query has a
  * DuckDB oracle; format round-trips prove the sink AND source by
  * aggregating the read-back against the oracle's view of the original
  * parquet; sketch estimates are deterministic IEEE expression trees
  * mirrored verbatim (see [[graft.ext.Hll]] /
  * [[graft.stats.HistogramSketch]] scaladoc for why that is possible
  * without rounding bridges — only q105's linear-counting `ln` branch
  * rounds, the q65 precedent).
  */
object ScaleOpsQueries {

  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  val histFractions: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
  val histBins = 256

  val all: Seq[Q] = Seq(

    // ORC sink + source parity: write a column-pruned lineitem slice
    // partitioned by l_returnflag, read it back through the ORC
    // reader with a partition-pruning filter (only the R directory is
    // listed/scanned), and aggregate. The oracle sees only the
    // original parquet — the numbers agree iff the ORC round-trip was
    // lossless and the pruned read complete.
    Q("q102_orc_roundtrip",
      """SELECT l_linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      inTempDir("graft_orc") { orcDir =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linestatus", "l_returnflag",
            "l_quantity", "l_extendedprice")
          // co-locate each partition value before the write: without
          // this every task opens a writer per value (tasks x values
          // small files — the classic partitioned-write explosion);
          // with it each value gets ~1 writer. 8 > 3 values keeps the
          // write parallel if values ever hash-collide.
          .repartition(8, col("l_returnflag"))
          .write.mode("overwrite").partitionBy("l_returnflag").orc(orcDir)
        localized(s.read.orc(orcDir)
          .where(col("l_returnflag") === "R")
          .groupBy("l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_linestatus"))
      }
    },

    // JSON-lines sink + source parity (the interchange format every
    // scraped-corpus pipeline ingests): write an orders slice as JSON,
    // read it back with an EXPLICIT schema (schema inference on 100 TB
    // of JSON is a full extra scan), aggregate against the parquet
    // oracle. Dates ride as ISO strings and come back typed.
    Q("q103_json_roundtrip",
      """SELECT o_orderstatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS d_min,
        |  CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS d_max
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      inTempDir("graft_json") { jsonDir =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            to_date(col("o_orderdate")).as("o_orderdate"))
          .write.mode("overwrite").json(jsonDir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("o_orderdate", org.apache.spark.sql.types.DateType)))
        localized(s.read.schema(schema).json(jsonDir)
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("sum_price"),
            min(col("o_orderdate")).cast("string").as("d_min"),
            max(col("o_orderdate")).cast("string").as("d_max"))
          .orderBy("o_orderstatus"))
      }
    },

    // Equi-width histogram quantile sketch over l_extendedprice: the
    // approximate-percentile scale path (2 combinable scans, constant
    // shuffle) next to q48's exact rank election. The estimates are
    // deterministic IEEE arithmetic — compared UNROUNDED.
    Q("q104_hist_quantiles", ScaleOpsOracles.histQuantiles) { (s, dir) =>
      graft.stats.HistogramSketch.quantiles(
        t(s, dir, "lineitem"), col("l_extendedprice"), histBins, histFractions)
        .withColumnRenamed("est", "est_price")
    },

    // HyperLogLog distinct users per event type (mirrorable md5 lane;
    // xxhash64 is the production lane, HllSpec covers both). Exact
    // integer register fold (s_total) + one double division — only the
    // linear-counting ln branch rounds.
    Q("q105_hll_distinct", ScaleOpsOracles.hllDistinct) { (s, dir) =>
      graft.ext.Hll.distinctEstimate(
        t(s, dir, "events"), Seq("event_type"), col("user_id"), mirrorable = true)
        .select(col("event_type"), col("n_regs"), col("v_empty"), col("s_total"),
          round(col("est_distinct"), 4).as("est_distinct"))
        .orderBy("event_type")
    },

    // Streaming dedup with bounded (within-watermark) state: the input
    // stream carries every event twice; the per-type counts equal the
    // batch answer only because every duplicate was dropped.
    Q("q106_stream_dedup",
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      graft.streaming.DedupStream.dedupedTypeCounts(s, dir)
    },

    // Salted skew join: lineitem fact against the supplier dim with
    // the key spread over 8 salts (the pre-salting shape for when AQE
    // can't re-split — see SkewJoin scaladoc). Result must equal the
    // plain join bit for bit.
    Q("q107_salted_skew_join",
      """SELECT s_nationkey,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      val probe = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val build = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.ext.SkewJoin.saltedJoin(probe, build, "suppkey", salts = 8)
        .groupBy("s_nationkey")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("s_nationkey")
    },

    // Iterative graph analytics: 4 rounds of integer-exact PageRank
    // over the symmetric supplier<->customer trade graph (suppliers at
    // 2k, customers at 2k+1 so the id spaces stay disjoint). The
    // oracle replays every iteration — integer fixed-point is what
    // makes that possible (see Graph scaladoc).
    Q("q108_pagerank", ScaleOpsOracles.pageRank) { (s, dir) =>
      // fan the edge build out on the JOIN key: a single-file lineitem
      // scan splits to ≤ #row-groups tasks (3 at sf0.1 — the 0.6 s map
      // stage was the lane's hottest job), and the broadcast join +
      // partial distinct inherit that ceiling. Repartitioning on
      // l_orderkey is the exchange a non-broadcast plan would insert
      // anyway (key-aligned, reusable), and it carries two longs per
      // row — never the payload.
      val pairs = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .repartition(s.sessionState.conf.numShufflePartitions, col("l_orderkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .distinct()
      val edges = pairs
        .select((col("sk") * 2).as("src"), (col("ck") * 2 + 1).as("dst"))
        .unionAll(pairs
          .select((col("ck") * 2 + 1).as("src"), (col("sk") * 2).as("dst")))
      graft.ext.Graph.pageRank(edges, iterations = 4)
        .orderBy(desc("pr"), asc("node")).limit(50)
    },

    // CSV sink + source parity (headered, explicit schema on the way
    // back — inference on 100 TB of CSV is an extra full scan): the
    // format the reference itself ingests (SURVEY §2.1 S1/S6).
    Q("q109_csv_roundtrip",
      """SELECT p_brand,
        |  count(*) AS n,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(max(p_size) AS INTEGER) AS max_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      inTempDir("graft_csv") { csvDir =>
        t(s, dir, "part")
          .select("p_partkey", "p_brand", "p_size", "p_retailprice")
          .write.mode("overwrite").option("header", "true").csv(csvDir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p_partkey", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("p_brand", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("p_size", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("p_retailprice", org.apache.spark.sql.types.DoubleType)))
        localized(s.read.option("header", "true").schema(schema).csv(csvDir)
          .groupBy("p_brand")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("p_retailprice")).as("sum_price"),
            max(col("p_size")).as("max_size"))
          .orderBy("p_brand"))
      }
    },

    // Dataset profiling (the Deequ-style validation suite's read
    // side): per-column nulls / exact distinct / min / max in ONE scan
    // (the distincts share an Expand; everything else is a plain
    // combinable agg), melted to a row per column. Doubles profile
    // through DECIMAL(18,4) so the min/max strings are engine-exact.
    Q("q110_column_profile", ScaleOpsOracles.columnProfile) { (s, dir) =>
      graft.ext.Validation.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"),
        decimal4 = Set("l_quantity"))
    },

    // Constraint checks (the validation suite's verdict side): PK
    // uniqueness, range, domain, completeness in one conditional-agg
    // scan + referential containment as an anti-join, each a
    // (check_name, violations, passed) row.
    Q("q111_constraint_checks", ScaleOpsOracles.constraintChecks) { (s, dir) =>
      import graft.ext.Validation._
      val li = t(s, dir, "lineitem")
      suite(
        rowChecks(li, Seq(
          RowCheck("quantity_range", !col("l_quantity").between(1, 50)),
          RowCheck("returnflag_domain", !col("l_returnflag").isin("A", "N", "R")),
          RowCheck("shipdate_complete", col("l_shipdate").isNull))),
        uniquenessCheck("pk_unique", li, Seq("l_orderkey", "l_linenumber")),
        referentialCheck("orderkey_referential", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"))
    },

    // Stream-static join: the events feed enriched against a broadcast
    // dimension inside the stream, then watermark-windowed per
    // category — equals the batch join+agg run to completion.
    Q("q112_stream_static_join", ScaleOpsOracles.streamStaticJoin) { (s, dir) =>
      graft.streaming.StreamStatic.dailyCategoryStats(s, dir)
        .orderBy("day", "category")
    },

    // Bigram language-model self-scoring (the CCNet/DCLM-style LM
    // quality filter, trained and applied on the corpus in one flow):
    // add-1-smoothed P(w2|w1), per-doc sum of floor-quantized
    // log-probs. The quantized-long sum is order-free; ln's last-ulp
    // risk is confined to the floor boundary (the q66 bridge).
    Q("q113_bigram_lm_score", ScaleOpsOracles.bigramLmScore) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val arrs = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("a"))
      val bi = arrs.where(size(col("a")) >= 2)
        .select(col("doc_id"), explode(zip_with(
          slice(col("a"), lit(1), size(col("a")) - 1),
          slice(col("a"), lit(2), size(col("a")) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val inst = bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
      val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = arrs.select(explode(col("a")).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      inst.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("qln",
          floor(log((col("c2") + lit(1L)).cast("double") /
            (col("c1") + col("v")).cast("double")) * lit(1000000.0)).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("m")).as("n_bigrams"), sum(col("m") * col("qln")).as("score_q"))
        .orderBy("doc_id")
    },

    // Snapshot reconciliation: two corpus snapshots (derived here by
    // deterministic id arithmetic from one table) diffed by a FULL
    // OUTER join on the key — added/removed/changed/unchanged counts.
    // The anti-entropy pass an incremental pipeline runs before
    // deciding what to reprocess; at scale both sides shuffle once on
    // the key (or zero times off pre-bucketed snapshots).
    Q("q114_snapshot_diff",
      """WITH a AS (SELECT event_id, value FROM events WHERE event_id % 7 <> 0),
        |b AS (SELECT event_id,
        |        CASE WHEN event_id % 3 = 0 THEN value + 1 ELSE value END AS value
        |      FROM events WHERE event_id % 5 <> 0)
        |SELECT CASE
        |    WHEN a.event_id IS NULL THEN 'added'
        |    WHEN b.event_id IS NULL THEN 'removed'
        |    WHEN a.value <> b.value THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  count(*) AS n
        |FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
        |GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val a = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id").as("a_id"), col("value").as("a_value"))
      val b = ev.where(col("event_id") % 5 =!= 0)
        .select(col("event_id").as("b_id"),
          when(col("event_id") % 3 === 0, col("value") + 1)
            .otherwise(col("value")).as("b_value"))
      a.join(b, col("a_id") === col("b_id"), "full_outer")
        .select(
          when(col("a_id").isNull, "added")
            .when(col("b_id").isNull, "removed")
            .when(col("a_value") =!= col("b_value"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    },

    // Funnel analysis: view -> click -> purchase, each step's first
    // occurrence strictly after the previous step's, per user. Three
    // conditional-min rounds, each a combinable agg shuffling only
    // #users rows; the per-step user counts are the funnel.
    Q("q115_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT step, users FROM (
        |  SELECT 'step1_view' AS step, count(*) AS users FROM s1
        |  UNION ALL SELECT 'step2_click', count(*) FROM s2
        |  UNION ALL SELECT 'step3_purchase', count(*) FROM s3)
        |ORDER BY step""".stripMargin) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      val s1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = ev.where(col("event_type") === "click")
        .join(s1, "user_id").where(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = ev.where(col("event_type") === "purchase")
        .join(s2, "user_id").where(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      def cnt(df: DataFrame, step: String) =
        df.agg(count(lit(1)).as("users")).select(lit(step).as("step"), col("users"))
      cnt(s1, "step1_view").unionAll(cnt(s2, "step2_click"))
        .unionAll(cnt(s3, "step3_purchase")).orderBy("step")
    },

    // Cohort retention: users grouped by first-seen day, distinct
    // actives per (cohort, day-offset). Two aggs on the user key plus
    // one distinct — the standard growth-analytics matrix.
    Q("q116_retention",
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
        |SELECT CAST(c.cohort AS VARCHAR) AS cohort_day,
        |  date_diff('day', c.cohort, d.day) AS day_offset,
        |  count(DISTINCT d.user_id) AS users
        |FROM d JOIN c ON d.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin) { (s, dir) =>
      val d = graft.analysis.EventsFact.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      val c = d.groupBy("user_id").agg(min(col("day")).as("cohort"))
      d.join(c, "user_id")
        .groupBy(col("cohort").cast("string").as("cohort_day"),
          datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy("cohort_day", "day_offset")
    },

    // Dynamic pivot: revenue per customer nation split across return
    // flags via the pivot() relational API (values pinned so schema is
    // static — the oracle mirrors each pivoted column as a
    // conditional aggregate).
    Q("q117_pivot",
      """SELECT n_name,
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE) AS rev_A,
        |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE) AS rev_N,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE) AS rev_R
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"))
        .withColumnRenamed("A", "rev_A")
        .withColumnRenamed("N", "rev_N")
        .withColumnRenamed("R", "rev_R")
        .orderBy("n_name")
    },

    // Schema evolution: two parquet generations (v2 adds a column),
    // read through mergeSchema — old rows surface the new column as
    // null. The agg proves both generations' rows arrive and the
    // missing column nulls out exactly where it should.
    Q("q118_schema_evolution",
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<missing>'
        |    ELSE o_orderstatus END AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      inTempDir("graft_evolution") { d =>
        val o = t(s, dir, "orders")
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.parquet(s"$d/v=1")
        o.where(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.parquet(s"$d/v=2")
        localized(s.read.option("mergeSchema", "true").parquet(d)
          .groupBy(coalesce(col("o_orderstatus"), lit("<missing>")).as("status"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("status"))
      }
    },

    // Nested JSON both directions: build struct{id, meta{st, tp},
    // ks[]} per row, to_json it, parse back with an explicit schema,
    // aggregate through the parsed struct's dot/array paths. Doubles
    // survive bit-exact (shortest-representation round trip), so the
    // oracle is the plain relational aggregate.
    Q("q119_json_nested",
      """SELECT o_orderstatus AS st, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_tp,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_k1
        |FROM orders GROUP BY 1 ORDER BY st""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val j = t(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("id"),
        struct(col("o_orderstatus").as("st"), col("o_totalprice").as("tp")).as("meta"),
        array(col("o_custkey"), col("o_orderkey")).as("ks"))).as("js"))
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("meta", StructType(Seq(
          StructField("st", StringType), StructField("tp", DoubleType)))),
        StructField("ks", ArrayType(LongType))))
      j.select(from_json(col("js"), schema).as("p"))
        .groupBy(col("p.meta.st").as("st"))
        .agg(count(lit(1)).as("n"),
          dsum(col("p.meta.tp")).as("sum_tp"),
          sum(element_at(col("p.ks"), 1)).as("sum_k1"))
        .orderBy("st")
    },

    // binaryFile source — the multimodal ingest path: opaque asset
    // files land as (path, length, content) rows, ids parsed from the
    // path, payloads decoded by the real PPM decoder; the oracle
    // recomputes every feature from the generator arithmetic (the q36
    // recipe, but entering through the FILE source instead of a
    // binary column).
    Q("q120_binary_source", ScaleOpsOracles.binarySource) { (s, dir) =>
      import s.implicits._
      inTempDir("graft_binsrc") { binDir =>
        (1L to 20L).foreach { id =>
          val w = (2 + id % 4).toInt
          val h = (2 + id % 5).toInt
          val px = Array.tabulate(3 * w * h)(j =>
            java.lang.Math.floorMod(id * 131071L + (j + 1) * 2654435761L, 256L).toByte)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$binDir/img_$id.ppm"),
            graft.ext.Multimodal.encodePpm(w, h, px))
        }
        val bin = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.ppm").load(binDir)
        val feats = bin.select(
          regexp_extract(col("path"), "img_(\\d+)\\.ppm$", 1).cast("long").as("asset_id"),
          col("length").as("n_bytes"), col("content"))
          .as[(Long, Long, Array[Byte])]
          .map { case (id, len, bytes) =>
            val f = graft.ext.Multimodal.ppmFeatures(id, bytes)
            (id, len, f.width, f.height, f.sum_r, f.sum_g, f.sum_b)
          }.toDF("asset_id", "n_bytes", "w", "h", "sum_r", "sum_g", "sum_b")
        localized(feats.orderBy("asset_id"))
      }
    },
  )
}

object ScaleOpsOracles {

  /** Verbatim mirror of [[graft.stats.HistogramSketch.quantiles]]'s
    * IEEE expression tree: same width `(mx-mn)/256.0`, same bin guard,
    * same interpolation association order. */
  val histQuantiles: String = {
    val b = ScaleOpsQueries.histBins
    val fracs = ScaleOpsQueries.histFractions
      .map(f => s"(${f})").mkString(",")
    s"""WITH b AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
       |  CAST(max(l_extendedprice) AS DOUBLE) AS mx,
       |  count(l_extendedprice) AS n FROM lineitem),
       |h AS (SELECT
       |  CASE WHEN b.mx = b.mn THEN 0
       |    ELSE CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - b.mn)
       |      / ((b.mx - b.mn)/$b.0)), ${b - 1}) AS INTEGER) END AS bin,
       |  b.mn AS mn, b.mx AS mx, b.n AS n, count(*) AS cnt
       |  FROM lineitem, b GROUP BY 1, 2, 3, 4),
       |c AS (SELECT *, sum(cnt) OVER (ORDER BY bin) AS cum,
       |  sum(cnt) OVER (ORDER BY bin) - cnt AS cumb FROM h),
       |f AS (SELECT CAST(x AS DOUBLE) AS fraction FROM (VALUES $fracs) t(x))
       |SELECT f.fraction,
       |  CASE WHEN c.mx = c.mn THEN c.mn
       |    ELSE c.mn + ((c.mx - c.mn)/$b.0)
       |      * (c.bin + (f.fraction*c.n - c.cumb)/c.cnt) END AS est_price
       |FROM f, c WHERE c.cum >= f.fraction*c.n AND c.cumb < f.fraction*c.n
       |ORDER BY f.fraction""".stripMargin
  }

  /** One UNION ALL branch per profiled column; numeric min/max through
    * DECIMAL(18,4) exactly like the Spark lane. */
  val columnProfile: String = {
    def branch(c: String, castMin: String => String): String =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  ${castMin(s"min($c)")} AS min_value,
         |  ${castMin(s"max($c)")} AS max_value
         |FROM lineitem""".stripMargin
    val plain = (e: String) => s"CAST($e AS VARCHAR)"
    val dec = (e: String) => s"CAST(CAST($e AS DECIMAL(18,4)) AS VARCHAR)"
    Seq(
      branch("l_orderkey", plain), branch("l_quantity", dec),
      branch("l_returnflag", plain), branch("l_shipdate", plain))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  val constraintChecks: String =
    """WITH s AS (SELECT
      |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS pk_unique,
      |    CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
      |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS returnflag_domain,
      |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_complete
      |  FROM lineitem),
      |r AS (SELECT count(*) AS orderkey_referential
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderkey IS NULL)
      |SELECT check_name, violations, violations = 0 AS passed FROM (
      |  SELECT 'pk_unique' AS check_name, pk_unique AS violations FROM s
      |  UNION ALL SELECT 'quantity_range', quantity_range FROM s
      |  UNION ALL SELECT 'returnflag_domain', returnflag_domain FROM s
      |  UNION ALL SELECT 'shipdate_complete', shipdate_complete FROM s
      |  UNION ALL SELECT 'orderkey_referential', orderkey_referential FROM r)
      |ORDER BY check_name""".stripMargin

  val streamStaticJoin: String =
    """WITH dim(event_type, category, weight) AS (VALUES
      |  ('click', 'engagement', 1), ('view', 'engagement', 1),
      |  ('purchase', 'conversion', 3), ('signup', 'conversion', 5),
      |  ('error', 'ops', 0))
      |SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
      |  category, count(*) AS n,
      |  CAST(sum(weight) AS BIGINT) AS weight_sum,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events JOIN dim USING (event_type)
      |GROUP BY 1, 2 ORDER BY day, category""".stripMargin

  /** Mirror of q113: same whitespace tokenizer as q65, bigrams by
    * 1-based index, add-1-smoothed conditional probability, per-doc
    * sum of floor-quantized log-probs (exact long arithmetic after
    * the single ln). */
  val bigramLmScore: String =
    """WITH a AS (SELECT doc_id,
      |    regexp_split_to_array(trim(text), '\s+') AS arr FROM documents),
      |bx AS (SELECT doc_id, arr, unnest(range(1, len(arr))) AS i
      |  FROM a WHERE len(arr) >= 2),
      |bi AS (SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2 FROM bx),
      |inst AS (SELECT doc_id, w1, w2, count(*) AS m FROM bi GROUP BY 1, 2, 3),
      |cc2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
      |cc1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
      |vv AS (SELECT count(DISTINCT tok) AS v
      |  FROM (SELECT unnest(arr) AS tok FROM a) u),
      |q AS (SELECT inst.doc_id, inst.m,
      |    CAST(floor(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
      |      * 1000000.0) AS BIGINT) AS qln
      |  FROM inst JOIN cc2 USING (w1, w2) JOIN cc1 USING (w1) CROSS JOIN vv)
      |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
      |  CAST(sum(m * qln) AS BIGINT) AS score_q
      |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q120's generator arithmetic replayed without any table — the
    * q36 recipe via the binaryFile source. */
  val binarySource: String =
    """WITH a AS (SELECT i AS id, 2 + i % 4 AS w, 2 + i % 5 AS h
      |  FROM (SELECT unnest(generate_series(1, 20)) AS i)),
      |px AS (SELECT id, w, h, j,
      |    (((id * 131071 + j * 2654435761) % 256) + 256) % 256 AS b
      |  FROM (SELECT id, w, h, unnest(generate_series(1, 3 * w * h)) AS j FROM a))
      |SELECT id AS asset_id,
      |  9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h AS n_bytes,
      |  w, h,
      |  CAST(sum(CASE WHEN (j - 1) % 3 = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
      |  CAST(sum(CASE WHEN (j - 1) % 3 = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
      |  CAST(sum(CASE WHEN (j - 1) % 3 = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b
      |FROM px GROUP BY id, w, h ORDER BY asset_id""".stripMargin

  /** Exact replay of [[graft.ext.Graph.pageRank]]: the integer
    * fixed-point arithmetic (floor divisions, `(85*m)//100` damping)
    * makes every iteration SQL-expressible bit for bit, so the oracle
    * simply unrolls the same 4 rounds as CTEs. */
  val pageRank: String = {
    val base = graft.ext.Graph.Base
    val scale = graft.ext.Graph.Scale
    def iter(i: Int): String =
      s"""pr$i AS (SELECT n.node,
         |  CAST($base + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.pr // o.d) AS BIGINT) AS m
         |    FROM edges e
         |    JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN outdeg o ON e.src = o.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    s"""WITH eraw AS (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT sk*2 AS src, ck*2+1 AS dst FROM eraw
       |  UNION ALL
       |  SELECT ck*2+1 AS src, sk*2 AS dst FROM eraw),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |pr0 AS (SELECT node, CAST($scale AS BIGINT) AS pr FROM nodes),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT node, pr FROM pr4 ORDER BY pr DESC, node LIMIT 50""".stripMargin
  }

  /** Verbatim mirror of [[graft.ext.Hll]]'s md5 lane: 60-bit hex
    * prefix, register = top 8 bits, rho from `bin()` length (both
    * engines print no leading zeros), exact integer fold, one double
    * division; only the linear-counting `ln` rounds (via the shared
    * round(_, 4) on the output). */
  val hllDistinct: String = {
    val num = graft.ext.Hll.Numerator.toString
    s"""WITH h AS (SELECT event_type,
       |  CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h60
       |  FROM events),
       |r AS (SELECT event_type, (h60 >> 52) AS reg,
       |  CAST(max(CASE WHEN (h60 & ((CAST(1 AS BIGINT) << 52) - 1)) = 0 THEN 53
       |    ELSE 53 - length(bin(h60 & ((CAST(1 AS BIGINT) << 52) - 1))) END)
       |    AS INTEGER) AS m
       |  FROM h GROUP BY 1, 2),
       |s AS (SELECT event_type, count(*) AS n_regs,
       |  CAST(256 - count(*) AS BIGINT) AS v_empty,
       |  CAST(sum(CAST(1 AS BIGINT) << (53 - m)) AS BIGINT)
       |    + CAST(256 - count(*) AS BIGINT) * (CAST(1 AS BIGINT) << 53) AS s_total
       |  FROM r GROUP BY 1)
       |SELECT event_type, n_regs, v_empty, s_total,
       |  round(CASE WHEN v_empty > 0 AND $num / CAST(s_total AS DOUBLE) <= 640.0
       |    THEN 256.0 * ln(256.0 / v_empty)
       |    ELSE $num / CAST(s_total AS DOUBLE) END, 4) AS est_distinct
       |FROM s ORDER BY event_type""".stripMargin
  }
}
