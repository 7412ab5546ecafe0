package graft

import org.apache.spark.sql.functions._
import graft.ext.{Curation, TextAnalysis}
import graft.plans.TopKPerKey

/** Corpus-curation breadth beyond dedup/quality (round-2 additions):
  * benchmark decontamination, deterministic stratified sampling, and
  * per-language vocabulary top-k through the custom TopKPerKey plan.
  */
object PipelineQueries {

  /** One shared DuckDB shingle mirror for every oracle (q30/q44/q57/q60). */
  private def gramsSql(toks: String, k: Int): String =
    ExtensionOracles.gramsSql(toks, k)

  val all: Seq[Q] = Seq(

    // Benchmark decontamination: docs in the training split sharing
    // any word 8-gram with the eval split (doc_id % 7 == 0 plays the
    // benchmark role). Eval gram set broadcast; training text never
    // shuffles.
    Q("q57_decontamination",
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(${gramsSql("toks", 8)}) AS gram FROM t),
         |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
         |tg AS (SELECT doc_id, gram FROM g WHERE doc_id % 7 <> 0)
         |SELECT doc_id, count(DISTINCT gram) AS n_hits
         |FROM tg JOIN eg USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Curation.contaminated(
          train = docs.filter(col("doc_id") % 7 =!= 0),
          eval = docs.filter(col("doc_id") % 7 === 0),
          k = 8)
        .orderBy("doc_id")
    },

    // Deterministic stratified sample: per-language keep-thresholds on
    // a hash of the id — reproducible across engines/cluster sizes,
    // so the oracle checks the EXACT sampled row set, not just counts.
    Q("q58_stratified_sample", {
      val pred = Curation.stratifiedSampleSql("lang",
        Map("en" -> 200000, "fr" -> 500000), 800000, "doc_id")
      s"""SELECT doc_id, lang FROM documents
         |WHERE $pred
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Curation.stratifiedSample(
          s.read.parquet(s"$dir/documents.parquet"),
          labelCol = "lang",
          thresholds = Map("en" -> 200000, "fr" -> 500000),
          defaultThreshold = 800000)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Vocabulary per predicted language: token frequencies through the
    // custom two-phase TopKPerKey plan (no per-group sort, ≤ k rows
    // per key cross the exchange) — vs the oracle's row_number window.
    Q("q59_vocab_topk",
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |scored AS (SELECT doc_id, toks, ${ExtensionOracles.langPredSql} AS lang_pred FROM t),
         |e AS (SELECT lang_pred, unnest(toks) AS token FROM scored),
         |c AS (SELECT lang_pred, token, count(*) AS cnt FROM e GROUP BY 1, 2),
         |r AS (SELECT lang_pred, token, cnt,
         |        row_number() OVER (PARTITION BY lang_pred ORDER BY cnt DESC, token) AS rn
         |      FROM c)
         |SELECT lang_pred, token, cnt FROM r WHERE rn <= 5
         |ORDER BY lang_pred, cnt DESC, token""".stripMargin) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // two-step select: score ONCE PER DOC, then explode. A single
      // select would let ExtractGenerator hoist lang_pred above the
      // Generate and re-evaluate the whole scoring tree per TOKEN
      // (~50× the work — measured 22 s vs 1 s at sf0.1).
      val counts = docs
        .select(TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("lang_pred"), explode(col("toks")).as("token"))
        .groupBy("lang_pred", "token")
        .agg(count(lit(1)).as("cnt"))
      TopKPerKey.topKPerKey(counts, Seq("lang_pred"), "cnt",
          descending = true, k = 5, tiebreakCols = Seq("token"))
        .orderBy(col("lang_pred"), col("cnt").desc, col("token"))
    },

    // Exact-size per-key sample: 3 docs per language, ranked by
    // md5(id) — deterministic, and through the TopKPerKey plan (≤ k
    // rows per key per partition cross the exchange; no global sort).
    Q("q61_sample_per_key",
      """WITH h AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hsh FROM documents),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang ORDER BY hsh, doc_id) AS rn
        |      FROM h)
        |SELECT lang, doc_id FROM r WHERE rn <= 3
        |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
      Curation.sampleKPerKey(
          s.read.parquet(s"$dir/documents.parquet"), Seq("lang"), k = 3)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    },

    // Data mixing: downsample sources to target proportions (60/25/15
    // en/fr/zh here; de+es dropped), keeping the corpus as large as the
    // binding source allows. Thresholds derive from per-source counts
    // with identical IEEE ops in both engines, then the hash-threshold
    // filter — the oracle checks the EXACT mixed row set.
    Q("q66_mix_proportions",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |p AS (SELECT lang,
        |        CASE lang WHEN 'en' THEN 0.6 WHEN 'fr' THEN 0.25 WHEN 'zh' THEN 0.15
        |          ELSE 0.0 END AS prop
        |      FROM c),
        |s AS (SELECT min(n / prop) AS scale FROM c JOIN p USING (lang)
        |      WHERE prop > 0 AND n > 0),
        |t AS (SELECT c.lang,
        |        CAST(floor(least(1.0, p.prop * s.scale / c.n) * 1000000.0) AS BIGINT) AS threshold
        |      FROM c JOIN p USING (lang) CROSS JOIN s)
        |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
        |WHERE (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)
        |      < t.threshold
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Curation.mixToProportions(
          s.read.parquet(s"$dir/documents.parquet"),
          sourceCol = "lang",
          targetProps = Map("en" -> 0.6, "fr" -> 0.25, "zh" -> 0.15))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // TF-IDF top terms per document: explode → tf → df join → idf
    // score → custom TopKPerKey. ln() is transcendental (libm last-bit
    // risk across engines) so tfidf rounds at 6dp — the rank key is
    // the ROUNDED value on both sides, keeping order deterministic.
    Q("q65_tfidf_topterms",
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN idf USING (token) CROSS JOIN n),
        |r AS (SELECT doc_id, token, tf, tfidf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
        |      FROM scored)
        |SELECT doc_id, token, tf, tfidf FROM r WHERE rn <= 3
        |ORDER BY doc_id, tfidf DESC, token""".stripMargin) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val total = docs.select(count(lit(1)).as("n_docs"))
      val scored = tf.join(idf, Seq("token"))
        .crossJoin(broadcast(total))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      TopKPerKey.topKPerKey(scored, Seq("doc_id"), "tfidf",
          descending = true, k = 3, tiebreakCols = Seq("token"))
        .select("doc_id", "token", "tf", "tfidf")
        .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
    },

    // Streaming quality gate: the per-row curation filter as a
    // continuous pipeline (stateless — no watermark or store needed),
    // equal to the batch filter run to completion; the oracle replays
    // the same scoring SQL q26/q47 verify.
    Q("q67_stream_quality_gate", ExtensionOracles.streamQualityGate) { (s, dir) =>
      graft.streaming.StreamCuration.qualityGate(s, dir,
          queryName = s"qgate_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        .select(col("doc_id"), col("lang_pred"), col("quality"))
        .orderBy("doc_id")
    },

    // Exact simple linear regression per group: price ~ quantity.
    // Slope/R² are ratios of the SAME exact integer numerators as
    // covariance/variance (the quantization scale cancels), so the
    // comparison is UNROUNDED like q05/q39/q54.
    Q("q64_linear_regression", {
      import graft.stats.ExactMoments._
      s"""SELECT l_returnflag,
         |  ${exactSlopeSql("l_extendedprice", "l_quantity")} AS slope,
         |  ${exactInterceptSql("l_extendedprice", "l_quantity")} AS intercept,
         |  ${exactR2Sql("l_extendedprice", "l_quantity")} AS r2
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    }) { (s, dir) =>
      import graft.stats.ExactMoments
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
          ExactMoments.exactSlope(col("l_extendedprice"), col("l_quantity")).as("slope"),
          ExactMoments.exactIntercept(col("l_extendedprice"), col("l_quantity")).as("intercept"),
          ExactMoments.exactR2(col("l_extendedprice"), col("l_quantity")).as("r2"))
        .orderBy("l_returnflag")
    },

    // Stream-stream interval join (purchase attribution): both sides
    // watermarked, event time bounded in BOTH directions so join
    // state expires — run to completion it equals the batch join,
    // which DuckDB replays directly.
    Q("q63_stream_interval_join",
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts AS sts FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, p.user_id,
        |  epoch_us(p.ts) AS purchase_us,
        |  epoch_us(s.sts) AS signup_us
        |FROM p JOIN s ON p.user_id = s.user_id
        |  AND p.ts >= s.sts AND p.ts <= s.sts + INTERVAL 7 DAY
        |ORDER BY event_id, signup_us""".stripMargin) { (s, dir) =>
      graft.streaming.StreamJoin.purchaseAttribution(s, dir,
          s"attrib_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        .orderBy("event_id", "signup_us")
    },

    // PQ ANN with exact re-rank + residual bound (the guaranteed
    // refine lane, mirror of q45's IVF bound): ADC proposes a
    // candidate pool, its exact re-rank yields a provisional k-th
    // distance, and ‖q−x‖ ≥ √pq_dist − pq_res prunes every row that
    // provably can't beat it before the final exact re-rank.
    // Codebooks/ADC aren't SQL-mirrorable, but the output is provably
    // the exact top-20 → a plain brute-force L2 oracle verifies it.
    // PqSpec keeps the pure-ADC recall lane and asserts exactness of
    // this one. Codebooks come from the memoized build-once tier
    // (codebooksFor), same serving-state contract as q45's
    // Ivf.centroidsFor.
    Q("q62_ann_pq", ExtensionOracles.l2TopKSql(0L, 20)) { (s, dir) =>
      import graft.ext.Pq
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val books = Pq.codebooksFor(emb, dir)
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
      Pq.topKExact(Pq.withCodes(emb, books).filter(col("vec_id") =!= 0L), books, q, 20)
    },

    // THE capstone: the full training-corpus pipeline as one composed
    // declarative flow — near-dup components (subsumes exact dedup:
    // identical docs pair at jaccard 1.0) → keep cluster canonicals →
    // quality/language gate → benchmark decontamination (doc_id%7
    // plays the eval split) → mix to target language proportions →
    // per-language summary. Every stage is an operator whose own
    // oracle (q60/q26/q27/q57/q66) already verifies it; this checks
    // the COMPOSITION end-to-end against one assembled DuckDB replay.
    Q("q68_clean_corpus", {
      val props = Map("en" -> 0.7, "fr" -> 0.3)
      val propCase = "CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.2 WHEN 'zh' THEN 0.3 ELSE 0.0 END"
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
         |dropped AS (SELECT id FROM comp WHERE id <> component),
         |canon AS (SELECT d.* FROM documents d
         |          WHERE d.doc_id NOT IN (SELECT id FROM dropped)),
         |t AS (SELECT doc_id, text, lang,
         |        regexp_split_to_array(trim(text), '\\s+') AS toks FROM canon),
         |scored AS (SELECT doc_id, toks, lang,
         |        ${ExtensionOracles.qualitySqlPublic} AS quality,
         |        ${ExtensionOracles.langPredSql} AS lang_pred FROM t),
         |gated AS (SELECT * FROM scored WHERE quality >= 0.5 AND lang_pred <> 'und'),
         |g AS (SELECT doc_id, unnest(${gramsSql("toks", 8)}) AS gram
         |      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |            FROM documents)),
         |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
         |contaminated AS (
         |  SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram) WHERE g.doc_id % 7 <> 0),
         |train AS (
         |  SELECT * FROM gated WHERE doc_id % 7 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |c AS (SELECT lang, count(*) AS n FROM train GROUP BY lang),
         |p AS (SELECT lang, $propCase AS prop FROM c),
         |sc AS (SELECT min(n / prop) AS scale FROM c JOIN p USING (lang)
         |       WHERE prop > 0 AND n > 0),
         |th AS (SELECT c.lang,
         |         CAST(floor(least(1.0, p.prop * sc.scale / c.n) * 1000000.0) AS BIGINT)
         |           AS threshold
         |       FROM c JOIN p USING (lang) CROSS JOIN sc),
         |mixed AS (
         |  SELECT tr.* FROM train tr JOIN th ON tr.lang = th.lang
         |  WHERE (('0x' || substring(md5(CAST(tr.doc_id AS VARCHAR)), 1, 15))::BIGINT
         |         % 1000000) < th.threshold)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
         |  ${CoreParityQueries.exactAvgSql("quality")} AS avg_quality
         |FROM mixed GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      // single-file parquet = ONE scan partition (the q132 NOTES
      // lesson): every downstream stage of this lane is per-row text
      // compute (quality/lang-id regexes on canon, 8-gram explode on
      // both decontamination sides, token counts on the final agg) and
      // broadcast joins preserve partitioning, so without a fan-out the
      // whole pipeline serializes on one core — measured three ~1.0 s
      // single-task jobs at sf0.1 on 32 cores. One shuffle of the raw
      // (doc_id, text, ...) rows before anything heavy or exploding —
      // and ONLY when the scan is actually narrow (at 100 TB the scan
      // has thousands of splits and this is provably absent).
      val docs = QueryUtil.fanOutIfNarrow(
        s.read.parquet(s"$dir/documents.parquet"))
      // near-dup clusters over the SAME verified pair query; keep only
      // cluster canonicals (singletons never appear in the pair graph).
      // Pair graph + closure come from the (session, dir) serving
      // caches — q30/q60/q92 ask the identical question, so the
      // iterative components computation runs once per session.
      val dropped = graft.ext.Dedup.componentsFor(s, dir,
          minJaccard = 0.4, maxBucket = 256)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      val canon = docs.join(dropped, Seq("doc_id"), "left_anti")
      val gated = canon
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("lang_pred", TextAnalysis.langIdHeuristic(col("text")))
        .filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")
      val contaminated = Curation.contaminated(
        train = docs.filter(col("doc_id") % 7 =!= 0),
        eval = docs.filter(col("doc_id") % 7 === 0), k = 8)
      val train = gated.filter(col("doc_id") % 7 =!= 0)
        .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
      // materialize: `train` is the whole dedup→gate→decontam pipeline,
      // which the mix's count and probe branches would otherwise both
      // recompute (pruning defeats exchange reuse — see mixToProportions)
      val mixed = Curation.mixToProportions(train, "lang",
        Map("en" -> 0.5, "fr" -> 0.2, "zh" -> 0.3), materialize = true)
      mixed.groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
          graft.analysis.CoverageQueries.exactAvg(col("quality")).as("avg_quality"))
        .orderBy("lang")
    },

    // Near-dup clusters: connected components over the minhash pair
    // graph (A~B, B~C ⇒ {A,B,C} even without an A~C edge) — iterative
    // min-label propagation vs DuckDB's recursive-CTE closure over
    // the SAME pair query q30 verifies.
    Q("q60_neardup_components",
      s"""WITH RECURSIVE
         |pairs AS (SELECT a_id, b_id FROM (${ExtensionOracles.minhashPairs})),
         |sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |cc AS (
         |  SELECT DISTINCT src AS id, src AS label FROM sym
         |  UNION
         |  SELECT s.src AS id, cc.label FROM cc JOIN sym s ON cc.id = s.dst
         |)
         |SELECT id, CAST(min(label) AS BIGINT) AS component
         |FROM cc GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      graft.ext.Dedup.componentsFor(s, dir, minJaccard = 0.4, maxBucket = 256)
        .orderBy("id")
    },
  )
}
