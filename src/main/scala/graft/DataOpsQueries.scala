package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryUtil.{dsum, inTempDir, localized, t}

/** Round-9 second batch: CDC merge-apply, grid-bucketed spatial join,
  * k-anonymity/l-diversity reporting, exact prefix-filtered set-
  * similarity join, and robust statistics (median absolute deviation)
  * composed from the exact percentile election.
  *
  * Same discipline as every batch: DuckDB oracle per query; thresholds
  * and similarities ride as integer cross-multiplications; the one
  * float surface (MAD) reuses the q48-proven bitwise interpolation.
  */
object DataOpsQueries {

  val all: Seq[Q] = Seq(

    // CDC merge-apply (MERGE INTO over plain parquet): a deterministic
    // changeset — inserts (new keys), full-row updates, deletes —
    // applied to a snapshot via graft.ext.Cdc.applyChangeSet (ONE
    // anti-join + a union, no full-outer, no window), then aggregated.
    // The oracle applies the same changeset relationally.
    Q("q129_cdc_merge", DataOpsOracles.cdcMerge) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      val snapshot = ev.where(col("event_id") % 3 =!= 0)
        .select(col("event_id"), col("value"))
      val changes = ev.where(col("event_id") % 4 === 0)
        .select(col("event_id"),
          when(col("event_id") % 3 === 0, "insert")
            .when(col("event_id") % 8 === 0, "delete")
            .otherwise("update").as("op"),
          (col("value") + 1000).as("value"))
      graft.ext.Cdc.applyChangeSet(snapshot, changes, "event_id", "op")
        .groupBy((col("event_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .orderBy("bucket")
    },

    // Grid-bucketed spatial join: points (x = value, y = id-derived)
    // against overlapping boxes. Each box explodes to the grid cells
    // it intersects (a tiny broadcast index); each point lives in
    // EXACTLY one cell, so the cell equi-join needs no dedup, and the
    // exact containment filter runs only on same-cell pairs. The
    // standard O(points + boxes·cells) spatial join — no cross
    // product anywhere, which is the whole game at 100 TB of points.
    Q("q130_spatial_join", DataOpsOracles.spatialJoin) { (s, dir) =>
      val cell = 30L
      val boxes = s.range(8).select(col("id").as("box_id"),
        (col("id") * 60).as("xi0"), (col("id") * 60 + 90).as("xi1"),
        (col("id") * 45).as("yi0"), (col("id") * 45 + 120).as("yi1"))
      // half-open boxes [xi0, xi1) cover cells floor(xi0/c) .. ceil(xi1/c)-1
      val cells = boxes
        .withColumn("cx", explode(sequence(
          expr(s"xi0 div $cell"), expr(s"(xi1 + ${cell - 1}) div $cell - 1"))))
        .withColumn("cy", explode(sequence(
          expr(s"yi0 div $cell"), expr(s"(yi1 + ${cell - 1}) div $cell - 1"))))
        .select(col("box_id"), col("cx"), col("cy"),
          col("xi0").cast("double").as("xmin"), col("xi1").cast("double").as("xmax"),
          col("yi0").cast("double").as("ymin"), col("yi1").cast("double").as("ymax"))
      val points = graft.analysis.EventsFact.events(s, dir)
        .select(col("value").as("x"),
          (col("event_id") % 400).cast("double").as("y"), col("value"))
        .withColumn("cx", floor(col("x") / cell))
        .withColumn("cy", floor(col("y") / cell))
      points.join(broadcast(cells), Seq("cx", "cy"))
        .where(col("x") >= col("xmin") && col("x") < col("xmax") &&
          col("y") >= col("ymin") && col("y") < col("ymax"))
        .groupBy("box_id")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .orderBy("box_id")
    },

    // k-anonymity / l-diversity report over quasi-identifiers
    // (cohort, event type, day): per-equivalence-class size,
    // distinct-sensitive-value count (value bucket as the sensitive
    // attribute), and the k>=5 verdict — one combinable aggregate
    // scan, the privacy-audit pass a release pipeline runs before
    // publishing.
    Q("q131_k_anonymity", DataOpsOracles.kAnonymity) { (s, dir) =>
      graft.analysis.EventsFact.events(s, dir)
        .groupBy((col("user_id") % 10).as("cohort"), col("event_type"),
          dayofmonth(col("ts")).as("dom"))
        .agg(count(lit(1)).as("group_n"),
          countDistinct(floor(col("value") / 50)).as("l_div"),
          (count(lit(1)) >= 5).as("k_ok"))
        .orderBy("cohort", "event_type", "dom")
    },

    // Exact set-similarity join with prefix filtering
    // (graft.ext.SetJoin): word-3-gram shingle sets, Jaccard >= 1/2.
    // The oracle is the BRUTE-FORCE all-shared-token join — equality
    // proves the prefix filter lost nothing (it is lossless by the
    // prefix lemma, and this query checks that end to end on real
    // data).
    Q("q132_jaccard_join", DataOpsOracles.jaccardJoin) { (s, dir) =>
      val arrs = graft.QueryUtil.fanOutIfNarrow(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        // single-file parquet = ONE scan partition (NOTES lesson): fan
        // the per-row tokenize+gram work out before it serializes on
        // one core; a shuffle of the raw (id, text) rows, present ONLY
        // when the scan is narrower than the session parallelism
        )
        .select(col("doc_id"), graft.ext.TextAnalysis.tokens(col("text")).as("a"))
        // HARD boundary before the gram transform: with a single
        // downstream consumer CollapseProject inlines tokens(text)
        // into the lambda and interpreted eval re-tokenizes the doc
        // PER ELEMENT ACCESS (measured 8.7 s of a 0.6 s stage at
        // sf0.1 — NOTES lesson #1). One row per doc, tiny.
        .localCheckpoint()
        .where(size(col("a")) >= 3)
      // per-doc array_distinct: the set contract with NO global
      // distinct shuffle (the q84 discipline); sizes ride per row
      val gramSets = arrs.select(col("doc_id").as("id"),
        array_distinct(expr("transform(sequence(0, size(a)-3), " +
          "i -> concat_ws(' ', a[i], a[i+1], a[i+2]))")).as("toks"))
      graft.ext.SetJoin.jaccardJoin(gramSets, 1L, 2L)
        .orderBy("id_a", "id_b")
    },

    // Robust statistics: per-group median absolute deviation — two
    // exact percentile elections composed (median, then median of
    // |x − median| with the #keys median frame broadcast between).
    // Bitwise-exact against quantile_cont twice (the q48 parity).
    Q("q133_mad", DataOpsOracles.mad) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // #keys frame, checkpointed: consumed by dev's broadcast AND the
      // output join — without the cut the whole median election
      // executes twice
      val med = graft.stats.ExactPercentiles.percentiles(
        li, "l_returnflag", "l_extendedprice", Seq(("median", 0.5)))
        .localCheckpoint()
      // localCheckpoint: the second election consumes its input three
      // times (stats/bucketed/offsets lanes — designed for cheap table
      // scans); without the cut each lane re-executes the med election
      // + join (measured 3.9 s -> ~1.5 s at sf0.1). mixToProportions'
      // materialize contract.
      val dev = li.select(col("l_returnflag"), col("l_extendedprice"))
        .join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("l_extendedprice") - col("median")))
        .localCheckpoint()
      val mad = graft.stats.ExactPercentiles.percentiles(
        dev, "l_returnflag", "adev", Seq(("mad", 0.5)))
      med.join(mad, "l_returnflag").orderBy("l_returnflag")
    },

    // Merkle-style anti-entropy: two snapshots summarized as per-bucket
    // (count, XOR-of-row-hash) digests — equal digests prove equal
    // bucket content WITHOUT moving rows, so a reconciliation job
    // reprocesses only `differs` buckets. XOR is order-independent and
    // overflow-free; the row hash is the mirrorable md5-prefix kernel
    // (q29 machinery). At 100 TB this is the difference between
    // diffing 64 digests and full-outer-joining two corpora (q114).
    Q("q134_bucket_digest", DataOpsOracles.bucketDigest) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      def snap(df: DataFrame): DataFrame = df.select(col("event_id"),
        floor(col("value") * 1000000).cast("long").as("v"))
      val a = snap(ev.where(col("event_id") % 7 =!= 0))
      val b = snap(ev.where(col("event_id") % 5 =!= 0))
        .withColumn("v",
          when(col("event_id") % 3 === 0, col("v") + 1).otherwise(col("v")))
      def digest(df: DataFrame, n: String, d: String): DataFrame = df
        .withColumn("h", conv(substring(
          md5(concat_ws(":", col("event_id"), col("v"))), 1, 15), 16, 10)
          .cast("long"))
        .groupBy((col("event_id") % 64).as("bucket"))
        .agg(count(lit(1)).as(n), expr("bit_xor(h)").as(d))
      digest(a, "n_a", "digest_a")
        .join(digest(b, "n_b", "digest_b"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          coalesce(col("digest_a"), lit(0L)).as("digest_a"),
          coalesce(col("digest_b"), lit(0L)).as("digest_b"))
        .withColumn("differs",
          col("digest_a") =!= col("digest_b") || col("n_a") =!= col("n_b"))
        .orderBy("bucket")
    },

    // Interval concurrency by sweep line: each order is open from its
    // order date to its last ship date; ±1 deltas per date, one
    // running sum, monthly maxima. The delta frame is CALENDAR-sized
    // (map-side combined from the corpus), so the single-partition
    // running-sum window is bounded by the date domain, not data
    // volume — the same bounded-tiny-window contract as the #keys
    // allocation frames. The naive alternative (interval × date-grid
    // join) is quadratic.
    Q("q135_concurrency", DataOpsOracles.concurrency) { (s, dir) =>
      val spanEnd = t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(max(col("l_shipdate")).cast("date").as("endd"))
      val iv = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d0"))
        .join(spanEnd, col("o_orderkey") === col("l_orderkey"))
      val deltas = iv.select(col("d0").as("d"), lit(1L).as("delta"))
        .unionAll(iv.select(date_add(col("endd"), 1).as("d"), lit(-1L).as("delta")))
        .groupBy("d").agg(sum(col("delta")).as("delta"))
      deltas
        .withColumn("open", sum(col("delta")).over(Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(date_format(col("d"), "yyyy-MM").as("month"))
        .agg(max(col("open")).as("max_open"))
        .orderBy("month")
    },

    // Marketing attribution: every purchase credited to the user's
    // FIRST and LAST view inside a 7-day lookback — an equi-join on
    // the user plus a time-range predicate, per-purchase min/max
    // (bounded by per-user activity in the window, never corpus-wide),
    // then per-day counts of both attribution models.
    Q("q136_attribution", DataOpsOracles.attribution) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"))
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"))
      val w = p.join(v, Seq("user_id"))
        .where(col("vts") <= col("pts") &&
          col("vts") >= col("pts") - expr("INTERVAL 7 DAYS"))
        .groupBy("pid")
        .agg(max(col("vts")).as("last_v"), min(col("vts")).as("first_v"))
      val lastC = w.groupBy(col("last_v").cast("date").cast("string").as("day"))
        .agg(count(lit(1)).as("n_last"))
      val firstC = w.groupBy(col("first_v").cast("date").cast("string").as("day"))
        .agg(count(lit(1)).as("n_first"))
      lastC.join(firstC, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_last"), lit(0L)).as("n_last"),
          coalesce(col("n_first"), lit(0L)).as("n_first"))
        .orderBy("day")
    },

    // Scalar int8 embedding quantization report (graft.ext.Quantize):
    // per-label information-loss audit of the SQ8 vector-store layout.
    Q("q137_int8_quant", DataOpsOracles.int8Quant) { (s, dir) =>
      graft.ext.Quantize.int8Report(t(s, dir, "embeddings"), "embedding", "label")
        .orderBy("label")
    },

    // Streaming MERGE, catch-up shape: the change feed's three
    // bucket-split files drained into a TxTable at maxFilesPerTrigger
    // = 3, so the whole feed lands as ONE copy-on-write commit that
    // rewrites only the touched pbucket files (q147 drains the same
    // feed one file per commit, q179 at merge-on-read, q197 as a
    // fact+view pair). Final state must equal the one-shot relational
    // apply — which is the oracle.
    Q("q138_stream_merge", DataOpsOracles.streamMerge) { (s, dir) =>
      inTempDir("graft_merge") { tmp =>
        val ev = graft.analysis.EventsFact.events(s, dir)
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        ChangeFeedFixture.changesA(ev).repartition(3, col("pbucket"))
          .write.parquet(s"$tmp/changes")
        val commits = graft.streaming.MergeStream.mergeAvailableVersioned(s, table,
          s"$tmp/changes", ChangeFeedFixture.changeSchema, s"$tmp/ckpt",
          maxFilesPerTrigger = 3)
        require(commits == 1,
          s"3 change files at maxFilesPerTrigger=3 must drain in 1 commit: $commits")
        localized(ChangeFeedFixture.bySeven(graft.ext.TxTable.read(s, table)).orderBy("k"))
      }
    },
  )
}

object DataOpsOracles {

  val cdcMerge: String =
    """WITH s AS (SELECT event_id, value FROM events WHERE event_id % 3 <> 0),
      |c AS (SELECT event_id,
      |    CASE WHEN event_id % 3 = 0 THEN 'insert'
      |      WHEN event_id % 8 = 0 THEN 'delete'
      |      ELSE 'update' END AS op,
      |    value + 1000 AS value
      |  FROM events WHERE event_id % 4 = 0),
      |m AS (
      |  SELECT s.event_id, s.value FROM s
      |  LEFT JOIN c ON s.event_id = c.event_id AND c.op IN ('update', 'delete')
      |  WHERE c.event_id IS NULL
      |  UNION ALL
      |  SELECT event_id, value FROM c WHERE op IN ('insert', 'update'))
      |SELECT CAST(event_id % 10 AS BIGINT) AS bucket, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM m GROUP BY 1 ORDER BY bucket""".stripMargin

  val spatialJoin: String =
    """WITH boxes AS (SELECT i AS box_id,
      |    CAST(i*60 AS DOUBLE) AS xmin, CAST(i*60+90 AS DOUBLE) AS xmax,
      |    CAST(i*45 AS DOUBLE) AS ymin, CAST(i*45+120 AS DOUBLE) AS ymax
      |  FROM (SELECT unnest(range(0, 8)) AS i)),
      |p AS (SELECT value AS x, CAST(event_id % 400 AS DOUBLE) AS y, value
      |  FROM events)
      |SELECT box_id, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM p JOIN boxes
      |  ON x >= xmin AND x < xmax AND y >= ymin AND y < ymax
      |GROUP BY 1 ORDER BY box_id""".stripMargin

  val kAnonymity: String =
    """SELECT CAST(user_id % 10 AS BIGINT) AS cohort, event_type,
      |  CAST(date_part('day', ts) AS INTEGER) AS dom,
      |  count(*) AS group_n,
      |  count(DISTINCT CAST(floor(value / 50) AS BIGINT)) AS l_div,
      |  count(*) >= 5 AS k_ok
      |FROM events GROUP BY 1, 2, 3
      |ORDER BY cohort, event_type, dom""".stripMargin

  /** Brute force: every pair sharing ANY gram, exact intersection,
    * integer threshold — the completeness bar the prefix filter must
    * clear. */
  val jaccardJoin: String =
    """WITH a AS (SELECT doc_id,
      |    regexp_split_to_array(trim(text), '\s+') AS arr FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |    arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS gram
      |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr)-1)) AS i
      |    FROM a WHERE len(arr) >= 3)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
      |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, inter,
      |  sa.n + sb.n - inter AS uni
      |FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      |WHERE 2 * inter >= 1 * (sa.n + sb.n - inter)
      |ORDER BY id_a, id_b""".stripMargin

  val mad: String =
    """WITH m AS (SELECT l_returnflag,
      |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS median
      |  FROM lineitem GROUP BY 1)
      |SELECT m.l_returnflag AS l_returnflag, m.median,
      |  quantile_cont(abs(CAST(l_extendedprice AS DOUBLE) - m.median), 0.5) AS mad
      |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
      |GROUP BY 1, 2 ORDER BY m.l_returnflag""".stripMargin

  /** Same snapshots as q114's diff, summarized as md5-prefix XOR
    * digests per bucket — the kernel both engines compute bit for
    * bit (q29 conv/substring precedent). */
  val bucketDigest: String =
    """WITH a AS (SELECT event_id,
      |    CAST(floor(value * 1000000) AS BIGINT) AS v
      |  FROM events WHERE event_id % 7 <> 0),
      |b AS (SELECT event_id,
      |    CASE WHEN event_id % 3 = 0 THEN CAST(floor(value * 1000000) AS BIGINT) + 1
      |      ELSE CAST(floor(value * 1000000) AS BIGINT) END AS v
      |  FROM events WHERE event_id % 5 <> 0),
      |da AS (SELECT event_id % 64 AS bucket, count(*) AS n_a,
      |    bit_xor(CAST(('0x' || substring(md5(
      |      CAST(event_id AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 15))
      |      AS BIGINT)) AS digest_a
      |  FROM a GROUP BY 1),
      |db AS (SELECT event_id % 64 AS bucket, count(*) AS n_b,
      |    bit_xor(CAST(('0x' || substring(md5(
      |      CAST(event_id AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 15))
      |      AS BIGINT)) AS digest_b
      |  FROM b GROUP BY 1)
      |SELECT CAST(coalesce(da.bucket, db.bucket) AS BIGINT) AS bucket,
      |  coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
      |  coalesce(digest_a, 0) AS digest_a, coalesce(digest_b, 0) AS digest_b,
      |  coalesce(digest_a, 0) <> coalesce(digest_b, 0)
      |    OR coalesce(n_a, 0) <> coalesce(n_b, 0) AS differs
      |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
      |ORDER BY bucket""".stripMargin

  val concurrency: String =
    """WITH e AS (SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS endd
      |  FROM lineitem GROUP BY 1),
      |iv AS (SELECT CAST(o_orderdate AS DATE) AS d0, endd
      |  FROM orders JOIN e ON o_orderkey = l_orderkey),
      |dl AS (SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM (
      |    SELECT d0 AS d, 1 AS delta FROM iv
      |    UNION ALL SELECT endd + 1, -1 FROM iv) GROUP BY d),
      |r AS (SELECT d,
      |    sum(delta) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS open
      |  FROM dl)
      |SELECT strftime(d, '%Y-%m') AS month, CAST(max(open) AS BIGINT) AS max_open
      |FROM r GROUP BY 1 ORDER BY month""".stripMargin

  val attribution: String =
    """WITH p AS (SELECT user_id, event_id AS pid, ts AS pts FROM events
      |  WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
      |w AS (SELECT pid, max(vts) AS last_v, min(vts) AS first_v
      |  FROM p JOIN v USING (user_id)
      |  WHERE vts <= pts AND vts >= pts - INTERVAL 7 DAY
      |  GROUP BY pid),
      |lc AS (SELECT CAST(CAST(last_v AS DATE) AS VARCHAR) AS day,
      |    count(*) AS n_last FROM w GROUP BY 1),
      |fc AS (SELECT CAST(CAST(first_v AS DATE) AS VARCHAR) AS day,
      |    count(*) AS n_first FROM w GROUP BY 1)
      |SELECT coalesce(lc.day, fc.day) AS day,
      |  coalesce(n_last, 0) AS n_last, coalesce(n_first, 0) AS n_first
      |FROM lc FULL OUTER JOIN fc ON lc.day = fc.day
      |ORDER BY day""".stripMargin

  /** Verbatim mirror of [[graft.ext.Quantize.int8Report]]'s IEEE
    * chain: same scale quotient, same level floor, same
    * reconstruction association order, floor-quantized error sum. */
  val int8Quant: String =
    """WITH e AS (SELECT label,
      |    CAST(list_min(embedding) AS DOUBLE) AS mn,
      |    CAST(list_max(embedding) AS DOUBLE) AS mx,
      |    unnest(embedding) AS xf
      |  FROM embeddings),
      |q AS (SELECT label, mn, mx, CAST(xf AS DOUBLE) AS x,
      |    CASE WHEN mx = mn THEN 0
      |      ELSE least(255, CAST(floor((CAST(xf AS DOUBLE) - mn)
      |        / ((mx - mn) / 255.0)) AS BIGINT)) END AS q
      |  FROM e),
      |er AS (SELECT label, q,
      |    CASE WHEN mx = mn THEN 0.0
      |      ELSE x - (mn + CAST(q AS DOUBLE) * ((mx - mn) / 255.0)) END AS err
      |  FROM q)
      |SELECT label, count(*) AS n_elems,
      |  CAST(sum(CAST(floor(err * err * 1000000000000.0) AS BIGINT)) AS BIGINT)
      |    AS sq_err_q,
      |  CAST(sum(q) AS BIGINT) AS level_sum,
      |  CAST(min(q) AS BIGINT) AS level_min,
      |  CAST(max(q) AS BIGINT) AS level_max
      |FROM er GROUP BY label ORDER BY label""".stripMargin

  val streamMerge: String =
    """WITH s AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |c AS (SELECT event_id,
      |    CASE WHEN event_id % 2 <> 0 THEN 'insert'
      |      WHEN event_id % 12 = 0 THEN 'delete'
      |      ELSE 'update' END AS op,
      |    value + 500 AS value
      |  FROM events WHERE event_id % 3 = 0),
      |m AS (
      |  SELECT s.event_id, s.value FROM s
      |  LEFT JOIN c ON s.event_id = c.event_id AND c.op IN ('update', 'delete')
      |  WHERE c.event_id IS NULL
      |  UNION ALL
      |  SELECT event_id, value FROM c WHERE op IN ('insert', 'update'))
      |SELECT CAST(event_id % 7 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM m GROUP BY 1 ORDER BY k""".stripMargin
}
