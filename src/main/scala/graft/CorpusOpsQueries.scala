package graft

import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup, Layout, Packing, TextAnalysis, Vocab}

/** Round-6 corpus-operations tranche: weighted sampling, domain quota
  * balancing, cross-doc novelty, incremental (cross-snapshot) dedup,
  * and Z-order layout — the remaining ops a production training-data
  * pipeline runs between "corpus cleaned" and "corpus shipped".
  */
object CorpusOpsQueries {

  /** q92's oracle — shared with q148, which answers the SAME question
    * through the plain row_number window idiom under the
    * TopKWindowRewrite optimizer rule (same rows, different plan). */
  val canonicalByQualityOracle: String =
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
       |cl AS (SELECT d.doc_id, d.n_chars,
       |         coalesce(comp.component, d.doc_id) AS cluster
       |       FROM documents d LEFT JOIN comp ON d.doc_id = comp.id),
       |r AS (SELECT doc_id, cluster, n_chars,
       |        row_number() OVER (PARTITION BY cluster
       |                           ORDER BY n_chars DESC, doc_id) AS rn
       |      FROM cl)
       |SELECT doc_id, cluster, n_chars FROM r WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the cross-side incremental-dedup lanes — same
    * split, digests, minhash lanes, bands, and verify kernel as
    * [[graft.ext.Dedup.incrementalDuplicates]] (the q30 oracle's
    * machinery, re-pointed at an existing/incoming split). */
  private def incrementalSql(minJaccard: Double): String = {
    val P = Dedup.MinhashP
    val lanes = Dedup.affineParams(16).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * base + $b) % $P) AS h$i"
    }.mkString(", ")
    val bandDefs = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"h${b * 4 + r}::VARCHAR").mkString(" || '|' || ")
      s"md5($parts) AS band$b"
    }.mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text, FALSE AS inc FROM documents WHERE doc_id % 4 <> 3
       |  UNION ALL
       |  SELECT doc_id, text, TRUE FROM documents WHERE doc_id % 4 = 3
       |  UNION ALL
       |  SELECT -(doc_id + 1), text, TRUE FROM documents WHERE doc_id % 16 = 0),
       |ex AS (
       |  SELECT i.doc_id, 'exact' AS kind, e.match_id
       |  FROM (SELECT doc_id, md5(text) AS h FROM base WHERE inc) i
       |  JOIN (SELECT md5(text) AS h, min(doc_id) AS match_id
       |        FROM base WHERE NOT inc GROUP BY 1) e USING (h)),
       |t AS (SELECT doc_id, inc, regexp_split_to_array(trim(text), '\\s+') AS rawtoks
       |      FROM base),
       |s AS (SELECT doc_id, inc, ${ExtensionOracles.shinglesOfPublic("rawtoks")} AS sh FROM t),
       |exg AS (SELECT doc_id, inc, unnest(sh) AS shingle FROM s),
       |bs AS (SELECT doc_id, inc,
       |         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $P AS base
       |       FROM exg),
       |sig AS (SELECT doc_id, inc, $lanes FROM bs GROUP BY doc_id, inc),
       |wb AS (SELECT doc_id, inc, $bandDefs FROM sig),
       |banded AS (SELECT doc_id, inc, unnest([band0, band1, band2, band3]) AS band
       |           FROM wb),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS i_id, e.doc_id AS e_id
       |  FROM banded i JOIN banded e ON i.band = e.band AND i.inc AND NOT e.inc),
       |tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
       |        FROM base),
       |near AS (
       |  SELECT i_id AS doc_id, 'near' AS kind, min(e_id) AS match_id
       |  FROM cand
       |  JOIN tok ti ON ti.doc_id = i_id
       |  JOIN tok te ON te.doc_id = e_id
       |  WHERE CAST(len(list_intersect(ti.toks, te.toks)) AS DOUBLE) /
       |        CAST(len(list_distinct(ti.toks || te.toks)) AS DOUBLE) >= $minJaccard
       |  GROUP BY i_id)
       |SELECT doc_id, kind, match_id FROM ex
       |UNION ALL
       |SELECT n.doc_id, n.kind, n.match_id FROM near n
       |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.doc_id = n.doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Sequential Poisson sample (Ohlsson): 40 docs, probability ~
    // proportional to n_chars. ξ = (md5-bucket/1e6)/w uses only
    // correctly-rounded IEEE divisions, so the oracle hash-matches the
    // UNROUNDED priorities, and the top-k runs as TakeOrderedAndProject
    // (per-partition k-heaps; no global sort).
    Q("q82_weighted_sample",
      s"""SELECT doc_id, n_chars,
         |  ${Curation.weightedSampleXiSql("doc_id", "n_chars")} AS xi
         |FROM documents
         |WHERE n_chars IS NOT NULL AND n_chars > 0
         |ORDER BY xi, doc_id LIMIT 40""".stripMargin) { (s, dir) =>
      Curation.weightedSample(
          s.read.parquet(s"$dir/documents.parquet"), "n_chars", k = 40)
        .select("doc_id", "n_chars", "xi")
        .orderBy("xi", "doc_id")
    },

    // Domain balancing: a 120-doc budget apportioned across sources by
    // largest remainder, each source filled with its quota of
    // smallest-md5 docs through the TopKPerKey plan (k = max quota
    // rows per key per partition cross the exchange; the corpus is
    // never globally sorted). Oracle checks the EXACT selected set.
    Q("q83_domain_quota",
      """WITH d0 AS (SELECT * FROM documents WHERE source IS NOT NULL),
        |c AS (SELECT source, count(*) AS n FROM d0 GROUP BY source),
        |tot AS (SELECT sum(n) AS total FROM c),
        |a AS (SELECT source, n,
        |        (120.0 * CAST(n AS DOUBLE)) / CAST(total AS DOUBLE) AS ideal
        |      FROM c CROSS JOIN tot),
        |b AS (SELECT source, CAST(floor(ideal) AS BIGINT) AS base,
        |        ideal - floor(ideal) AS rem FROM a),
        |l AS (SELECT 120 - sum(base) AS leftover FROM b),
        |r AS (SELECT source, base,
        |        row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b),
        |q AS (SELECT source,
        |        base + CASE WHEN rk <= (SELECT leftover FROM l) THEN 1 ELSE 0 END
        |          AS quota
        |      FROM r),
        |h AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hsh FROM d0),
        |rn AS (SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY hsh, doc_id) AS rn
        |       FROM h)
        |SELECT doc_id, source FROM rn JOIN q USING (source)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.quotaSample(
          s.read.parquet(s"$dir/documents.parquet"), "source", budget = 120)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Cross-document novelty: share of each doc's distinct 8-grams
    // that exist nowhere else — catches pastiche documents assembled
    // from many sources, which whole-doc minhash misses. One gram
    // shuffle (window count) + one doc aggregate.
    Q("q84_novelty_score",
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        unnest(list_distinct(${ExtensionOracles.gramsSql("toks", 8)})) AS gram
         |      FROM t),
         |w AS (SELECT doc_id, count(*) OVER (PARTITION BY gram) AS gd FROM g)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN gd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(CAST(sum(CASE WHEN gd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS novelty
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.crossDocNovelty(s.read.parquet(s"$dir/documents.parquet"), k = 8)
        .orderBy("doc_id")
    },

    // Incremental dedup: a derived "re-crawl" batch (fresh docs with
    // their own ids, plus byte-identical copies of existing docs under
    // new ids) deduplicated AGAINST the existing corpus — digest join
    // for exact, cross-side band join + Jaccard verify for near;
    // existing×existing is never paired.
    Q("q85_incremental_dedup", incrementalSql(minJaccard = 0.5)) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val existing = docs.filter(col("doc_id") % 4 =!= 3)
      // re-crawl copies carry NEGATED ids (-(id+1)): collision-free
      // with real doc ids at ANY corpus size, where an additive offset
      // would alias once ids exceed it (corrupting the oracle's
      // doc_id-keyed token CTE)
      val incoming = docs.filter(col("doc_id") % 4 === 3)
        .unionByName(docs.filter(col("doc_id") % 16 === 0)
          .select((-(col("doc_id") + 1)).as("doc_id"), col("text")))
      // the production mode the operator advertises: the existing
      // corpus's signatures come from the persisted serving cache
      // (per-doc signatures are independent, so the subset filter is
      // exact) — only the incoming batch is hashed fresh. The
      // hot-band cap is lifted for THIS oracle-checked lane (the SQL
      // mirror pairs all band members; the capped degraded mode is
      // CorpusOpsSpec-proven instead) so the mirror stays exact on
      // boilerplate-heavy corpora, not just this data.
      Dedup.incrementalDuplicates(existing, incoming, minJaccard = 0.5,
          maxBucket = Int.MaxValue,
          existingSignatures =
            Some(Dedup.signaturesFor(s, dir).filter(col("id") % 4 =!= 3)))
        .orderBy("doc_id")
    },

    // Sub-document dedup (RefinedWeb/FineWeb-style): corpus-wide keep
    // only the FIRST occurrence of every distinct 3-token chunk, then
    // rebuild each doc from its surviving chunks — repeated
    // boilerplate paragraphs vanish even when no two docs are
    // whole-doc similar. One segment-window shuffle + one doc rebuild.
    Q("q87_segment_dedup",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |        list_transform(generate_series(0, CAST(ceil(len(toks)/3.0) AS BIGINT) - 1),
        |          i -> array_to_string(toks[i*3+1 : i*3+3], ' ')) AS chunks
        |      FROM t),
        |g AS (SELECT doc_id,
        |        unnest(generate_series(1, len(chunks))) - 1 AS pos,
        |        unnest(chunks) AS seg
        |      FROM c),
        |w AS (SELECT doc_id, pos, seg,
        |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1 AS first
        |      FROM g)
        |SELECT doc_id,
        |  CAST(count(*) FILTER (first) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (NOT first) AS BIGINT) AS n_dropped,
        |  coalesce(array_to_string(list(seg ORDER BY pos) FILTER (first), ' '), '')
        |    AS cleaned
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // token array materialized first (withTokenArray): the chunk
      // transform's interpreted lambda would otherwise re-tokenize the
      // doc once per chunk
      val toks = col("_toks")
      val nChunks = floor((size(toks) + lit(2)).cast("double") / lit(3.0)).cast("long")
      val chunks = when(size(toks) > 0,
        transform(sequence(lit(0L), nChunks - 1),
          i => concat_ws(" ", slice(toks, (i * 3 + 1).cast("int"), lit(3)))))
        .otherwise(array().cast("array<string>"))
      // materialize: the chunk transform is the expensive computed
      // segsCol the operator's scale note names — checkpointed once,
      // read by both the winner-election and the totals lane
      Dedup.dedupSegments(
          Dedup.withTokenArray(
            s.read.parquet(s"$dir/documents.parquet"), "text")
            .select(col("doc_id"), chunks.as("segments")),
          sep = " ", materialize = true)
        .orderBy("doc_id")
    },

    // Time-series densification (gap-fill): hourly event counts per
    // type, with every missing hour inside each type's [min, max] span
    // materialized as an explicit zero row — the resample step feeding
    // window/trend analyses that assume contiguous time. The dense
    // frame is #keys x span rows (proportional to the OUTPUT, not the
    // input); counts attach by left join, absent hours coalesce to 0.
    Q("q88_gap_fill",
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour FROM events),
        |c AS (SELECT event_type, hour, count(*) AS n FROM d GROUP BY 1, 2),
        |s AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi FROM c GROUP BY 1),
        |dense AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hour FROM s)
        |SELECT dense.event_type, dense.hour, COALESCE(c.n, 0) AS n
        |FROM dense LEFT JOIN c USING (event_type, hour)
        |ORDER BY event_type, hour""".stripMargin) { (s, dir) =>
      val counts = graft.analysis.EventsFact.events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hour"))
        .groupBy("event_type", "hour")
        .agg(count(lit(1)).as("n"))
      val dense = counts
        .groupBy("event_type")
        .agg(min("hour").as("lo"), max("hour").as("hi"))
        .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hour"))
      dense
        .join(counts, Seq("event_type", "hour"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .orderBy("event_type", "hour")
    },

    // Composite quality ruleset (Gopher/C4 family over whitespace
    // tokens): per-doc rule signals + the conjunction verdict. Every
    // signal is a count or a single division of counts, so the oracle
    // hash-matches the doubles exactly. The bigram mode is the one
    // grouped piece (explode → map-side-combined count → per-doc max).
    Q("q89_quality_rules",
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    len(toks) AS n,
         |    length(regexp_replace(text, '\\s', '', 'g')) AS sum_len,
         |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
         |    ${ExtensionOracles.gramsSql("toks", 3)} AS tri
         |  FROM t),
         |p AS (
         |  SELECT doc_id,
         |    CAST(n AS BIGINT) AS n_tokens,
         |    CAST(sum_len AS DOUBLE) / CAST(n AS DOUBLE) AS mean_word_len,
         |    CAST(alpha AS DOUBLE) / CAST(n AS DOUBLE) AS alpha_ratio,
         |    CASE WHEN len(tri) > 0
         |      THEN 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE)
         |      ELSE 0.0 END AS dup_trigram_frac
         |  FROM r),
         |bg AS (SELECT doc_id, unnest(${ExtensionOracles.gramsSql("toks", 2)}) AS g FROM t),
         |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         |bm AS (SELECT doc_id, max(c) AS top, sum(c) AS tot FROM bc GROUP BY 1)
         |SELECT p.doc_id, n_tokens, mean_word_len, alpha_ratio,
         |  coalesce(CAST(top AS DOUBLE) / CAST(tot AS DOUBLE), 0.0) AS top_bigram_frac,
         |  dup_trigram_frac,
         |  (n_tokens BETWEEN 30 AND 50000
         |    AND mean_word_len BETWEEN 3.0 AND 10.0
         |    AND alpha_ratio >= 0.8
         |    AND coalesce(CAST(top AS DOUBLE) / CAST(tot AS DOUBLE), 0.0) <= 0.08
         |    AND dup_trigram_frac <= 0.3) AS pass
         |FROM p LEFT JOIN bm USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.ruleSignals(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    },

    // Relative (percentile-rank) gate: keep the top 3/4 per language by
    // lexical-diversity ratio — per-key rank semantics decided by
    // integer cross-multiplication, so the oracle checks the EXACT
    // kept set (no float percentile interpolation on either side).
    Q("q90_relative_gate",
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, lang,
        |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          AS diversity
        |      FROM t),
        |r AS (SELECT doc_id, lang, diversity,
        |        row_number() OVER (PARTITION BY lang ORDER BY diversity DESC, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY lang) AS n
        |      FROM m WHERE diversity IS NOT NULL AND lang IS NOT NULL)
        |SELECT doc_id, lang, diversity FROM r
        |WHERE rn * 4 <= n * 3
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toked = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("_toks"))
      val scored = toked.select(col("doc_id"), col("lang"),
        (size(array_distinct(col("_toks"))).cast("double") /
          size(col("_toks")).cast("double")).as("diversity"))
      Curation.relativeRankGate(scored, "lang", "diversity", keepNum = 3, keepDen = 4)
        .orderBy("doc_id")
    },

    // Sliding-window token chunking: 64-token windows advancing by 48
    // (16-token overlap) — the long-document prep for a fixed-context
    // model. Chunk boundaries are pure integer math; the oracle
    // rebuilds every chunk string exactly.
    Q("q91_token_chunks",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |w AS (SELECT doc_id, toks, n,
        |        CASE WHEN n > 0 THEN (greatest(0, n - 64) + 47) // 48 + 1 ELSE 0 END AS nw
        |      FROM n),
        |g AS (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, nw - 1)) AS chunk_id FROM w)
        |SELECT doc_id, chunk_id,
        |  least(64, n - chunk_id * 48) AS n_chunk_tokens,
        |  array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text
        |FROM g ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      Packing.chunkTokens(s.read.parquet(s"$dir/documents.parquet"),
          window = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")
    },

    // Near-dup canonical election by PRIORITY: per cluster of the
    // verified minhash pair graph (q30/q60's machinery), keep the
    // LONGEST member (ties → lowest id) — "keep the best copy", where
    // min-id canonical keeps an arbitrary one. Singletons survive as
    // their own cluster. Oracle replays the same recursive-CTE closure
    // + argmax.
    Q("q92_canonical_by_quality", CorpusOpsQueries.canonicalByQualityOracle) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.keepClusterCanonicalBy(
          docs.select("doc_id", "n_chars"),
          Dedup.pairsFor(s, dir, minJaccard = 0.4, maxBucket = 256)
            .select("a_id", "b_id"), // by-name: never built (closure supplied)
          priorityCol = "n_chars",
          components = Some(Dedup.componentsFor(s, dir, minJaccard = 0.4, maxBucket = 256)))
        .select("doc_id", "cluster", "n_chars")
        .orderBy("doc_id")
    },

    // REAL multimodal decode: deterministic PCM16 samples synthesized
    // from event values are encoded as genuine RIFF/WAVE binaries,
    // then decoded back by the chunk-walking WAV parser into
    // exact-integer features (peak, energy). The oracle computes the
    // same samples arithmetically — so a header-parse or byte-order
    // bug anywhere in the encode→binary→decode path breaks the hash.
    Q("q93_wav_decode",
      """WITH s AS (
        |  SELECT event_id, CAST(floor("value" * 1000000.0) AS BIGINT) AS q,
        |         8 + ((event_id % 9) + 9) % 9 AS n
        |  FROM events WHERE "value" IS NOT NULL),
        |g AS (SELECT event_id, n, q, unnest(generate_series(1, n)) AS i FROM s),
        |smp AS (SELECT event_id, n,
        |          ((((q + i * 2654435761) % 65536) + 65536) % 65536) - 32768 AS v
        |        FROM g)
        |SELECT event_id AS asset_id, 8000 AS sample_rate, 1 AS n_channels,
        |  n AS n_samples, max(abs(v)) AS peak_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq
        |FROM smp GROUP BY event_id, n ORDER BY asset_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = graft.analysis.EventsFact.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("value")).as[(Long, Double)]
      val assets = ev.map { case (id, v) =>
        val q = math.floor(v * 1000000.0).toLong
        val n = (8 + java.lang.Math.floorMod(id, 9L)).toInt
        val samples = Array.tabulate(n) { i =>
          (java.lang.Math.floorMod(q + (i + 1) * 2654435761L, 65536L) - 32768L).toShort
        }
        (id, graft.ext.Multimodal.encodeWavPcm16(samples, 8000))
      }.toDF("asset_id", "payload")
      graft.ext.Multimodal.extractAudioFeatures(assets).toDF()
        .orderBy("asset_id")
    },

    // Batch k-NN join: every 25th vector retrieves its 3 nearest
    // same-label neighbors (cosine, 6-dp-rounded rank key) — the bulk
    // retrieval shape, vs q33/q34/q45's single-query lookups. Runs
    // through the TopKPerKey plan (≤ k rows per query per partition
    // cross the exchange).
    Q("q94_knn_join", {
      val dotQN = AdvancedOracles.dotSql("q.embedding", "e.embedding")
      val dotQQ = AdvancedOracles.dotSql("q.embedding", "q.embedding")
      val dotNN = AdvancedOracles.dotSql("e.embedding", "e.embedding")
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         |q AS (SELECT vec_id, label, embedding FROM e WHERE vec_id % 25 = 0),
         |p AS (
         |  SELECT q.label AS block, q.vec_id AS q_id, e.vec_id AS n_id,
         |    round($dotQN / (sqrt($dotQQ) * sqrt($dotNN)), 6) AS sim
         |  FROM q JOIN e ON q.label = e.label AND q.vec_id <> e.vec_id),
         |r AS (SELECT block, q_id, n_id, sim,
         |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
         |      FROM p)
         |SELECT block, q_id, n_id, sim FROM r WHERE rn <= 3
         |ORDER BY q_id, sim DESC, n_id""".stripMargin
    }) { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.ext.Similarity.knnJoin(
          queries = emb.filter(col("vec_id") % 25 === 0),
          corpus = emb, k = 3)
        .orderBy(col("q_id"), col("sim").desc, col("n_id"))
    },

    // Token-budget selection: best-first greedy take under a global
    // 6000-token budget (metric = lexical diversity). The engine runs
    // it as a distributed prefix sum (bucket offsets + per-bucket
    // parallel windows); the oracle is the sequential global window it
    // must exactly equal.
    Q("q95_budget_select",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          AS diversity,
        |        len(toks) AS n_tokens
        |      FROM t),
        |r AS (SELECT doc_id, diversity, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        sum(n_tokens) OVER (ORDER BY diversity DESC, doc_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_cost
        |      FROM m)
        |SELECT doc_id, diversity, n_tokens, CAST(cum_cost AS BIGINT) AS cum_cost
        |FROM r WHERE cum_cost <= 6000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toked = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
      val scored = toked.select(col("doc_id"),
        (size(array_distinct(col("_toks"))).cast("double") /
          size(col("_toks")).cast("double")).as("diversity"),
        size(col("_toks")).cast("long").as("n_tokens"))
      Curation.budgetSelect(scored, "diversity", "n_tokens", budget = 6000L)
        .orderBy("doc_id")
    },

    // Sequence packing WITH intra-sequence offsets: each doc's first-
    // token position inside its packed sequence (what a training
    // loader needs for attention masks / position ids over the
    // concatenated sequence). Same O(1)-state per-shard fold as q70;
    // the oracle's recursive CTE replays the fold carrying the offset.
    Q("q96_packing_offsets",
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |o AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t),
        |rec AS (
        |  SELECT shard, rn, doc_id, n, n AS acc, 0 AS seq, 0 AS off FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.n,
        |    CASE WHEN rec.acc + o.n > 512 THEN o.n ELSE rec.acc + o.n END,
        |    CASE WHEN rec.acc + o.n > 512 THEN rec.seq + 1 ELSE rec.seq END,
        |    CASE WHEN rec.acc + o.n > 512 THEN 0 ELSE rec.acc END
        |  FROM rec JOIN o ON o.shard = rec.shard AND o.rn = rec.rn + 1)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(seq AS BIGINT) AS seq,
        |  CAST(off AS INTEGER) AS "offset", CAST(n AS INTEGER) AS n_tokens
        |FROM rec ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Packing.packSequences(s, s.read.parquet(s"$dir/documents.parquet"),
          budget = 512, numShards = 8)
        .toDF()
        .select("doc_id", "shard", "seq", "offset", "n_tokens")
        .orderBy("doc_id")
    },

    // Embedding-space outlier scoring: the 20 vectors farthest from
    // their label centroid (squared L2). Centroid components are
    // floor-quantized exact means and the distance a per-term
    // quantized integer fold, so dist2 is bitwise-deterministic and
    // the oracle replays it exactly — no FP-sum order dependence.
    Q("q97_embedding_outliers",
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |g AS (SELECT label, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS v
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i),
        |c AS (SELECT label, dim, ${CoreParityQueries.exactAvgSql("v")} AS c
        |      FROM g GROUP BY 1, 2),
        |ca AS (SELECT label, list(c ORDER BY dim) AS carr FROM c GROUP BY label),
        |d AS (SELECT e.vec_id, e.label,
        |        list_sum(list_transform(generate_series(1, 64),
        |          i -> CAST(floor((CAST(e.embedding[i] AS DOUBLE) - ca.carr[i])
        |                          * (CAST(e.embedding[i] AS DOUBLE) - ca.carr[i])
        |                          * 1000000000000.0) AS BIGINT))) AS q
        |      FROM e JOIN ca USING (label))
        |SELECT vec_id, label, CAST(q AS DOUBLE) / 1000000000000.0 AS dist2
        |FROM d ORDER BY dist2 DESC, vec_id LIMIT 20""".stripMargin) { (s, dir) =>
      graft.ext.Similarity.centroidOutliers(
          s.read.parquet(s"$dir/embeddings.parquet"), k = 20)
    },

    // Length-bucketed batch assignment: docs of similar token length
    // grouped into fixed-size training batches (padding waste bounded
    // by the bucket width), ordered by md5 inside each bucket — a
    // deterministic shuffle, exactly mirrorable.
    Q("q98_length_batches",
      """WITH t AS (
        |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |        CAST(n // 16 AS BIGINT) AS bucket,
        |        md5(CAST(doc_id AS VARCHAR)) AS h
        |      FROM t),
        |r AS (SELECT doc_id, n_tokens, bucket,
        |        row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
        |      FROM b)
        |SELECT doc_id, n_tokens, bucket, CAST((rn - 1) // 8 AS BIGINT) AS batch
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Packing.lengthBatches(s.read.parquet(s"$dir/documents.parquet"),
          bucketWidth = 16, batchSize = 8)
        .orderBy("doc_id")
    },

    // Cross-source overlap report: distinct shared 8-grams and the
    // containment ratio per source pair — "is dump B a subset of dump
    // A?" before mixing corpora. Counts + one division: exact.
    Q("q99_source_overlap",
      s"""WITH t AS (
         |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents),
         |g AS (SELECT DISTINCT source AS src,
         |        unnest(list_distinct(${ExtensionOracles.gramsSql("toks", 8)})) AS gram
         |      FROM t),
         |sz AS (SELECT src, count(*) AS n FROM g GROUP BY src),
         |sh AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
         |       FROM g a JOIN g b ON a.gram = b.gram AND a.src < b.src
         |       GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared,
         |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |  CAST(n_shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
         |FROM sh JOIN sz sa ON sa.src = src_a JOIN sz sb ON sb.src = src_b
         |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      // single-file parquet = ONE scan partition (the q132 NOTES
      // lesson): the tokenize + 8-gram + array_distinct work is the
      // lane's whole cost and would serialize on one core — fan the raw
      // (source, text) rows out BEFORE the gram explode multiplies them
      // (guide §3: shuffle the un-exploded rows, never the grams), and
      // ONLY when the scan is actually narrow (at 100 TB the scan has
      // thousands of splits and the fan-out is provably absent)
      Dedup.sourceOverlap(graft.QueryUtil.fanOutIfNarrow(
          s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("src_a", "src_b")
    },

    // Intra-document span scrub: within each doc, keep only the first
    // occurrence of every distinct 3-token chunk (q87's corpus-wide
    // election restricted to the doc itself — repeats ACROSS docs
    // survive). Pure per-row array_distinct, no shuffle; the oracle
    // replays the first-occurrence election with a per-(doc, seg)
    // window.
    Q("q100_intradoc_dedup",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |        list_transform(generate_series(0, CAST(ceil(len(toks)/3.0) AS BIGINT) - 1),
        |          i -> array_to_string(toks[i*3+1 : i*3+3], ' ')) AS chunks
        |      FROM t),
        |g AS (SELECT doc_id,
        |        unnest(generate_series(1, len(chunks))) - 1 AS pos,
        |        unnest(chunks) AS seg
        |      FROM c),
        |w AS (SELECT doc_id, pos, seg,
        |        row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) = 1 AS first
        |      FROM g)
        |SELECT doc_id,
        |  CAST(count(*) FILTER (first) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (NOT first) AS BIGINT) AS n_dropped,
        |  coalesce(array_to_string(list(seg ORDER BY pos) FILTER (first), ' '), '')
        |    AS cleaned
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // token array materialized first (withTokenArray): the chunk
      // transform's interpreted lambda would otherwise re-tokenize the
      // doc once per chunk
      val toks = col("_toks")
      val nChunks = floor((size(toks) + lit(2)).cast("double") / lit(3.0)).cast("long")
      val chunks = when(size(toks) > 0,
        transform(sequence(lit(0L), nChunks - 1),
          i => concat_ws(" ", slice(toks, (i * 3 + 1).cast("int"), lit(3)))))
        .otherwise(array().cast("array<string>"))
      Dedup.dedupSegmentsWithin(
          Dedup.withTokenArray(
            s.read.parquet(s"$dir/documents.parquet"), "text")
            .select(col("doc_id"), chunks.as("segments")),
          sep = " ")
        .orderBy("doc_id")
    },

    // Frozen-vocab TOKENIZATION — the asset-APPLY step between
    // "tokenized" and "packed": vocab = top-30 tokens by (count desc,
    // token asc), ids 0-based in rank order, OOV → -1 (the corpus
    // holds 31 distinct tokens at every SF, so the OOV path is
    // genuinely exercised). The vocab is a VERSIONED ASSET (r16),
    // served from the session-memoized tier ([[Vocab.assetFor]], the
    // q45/q188 build-once pattern — r17 split: the in-lane freeze
    // buried the zero-shuffle tokenize path under 3× of build cost;
    // the freeze is now q189's own lane). ENGINE path: the loaded
    // vocab rides as a map literal into `transform`+`try_element_at`
    // — codegen, zero shuffle, zero join. ORACLE path: the same
    // mapping replayed RELATIONALLY (rank the vocab, positional
    // lookup per token) — same rows, one exchange heavier, which is
    // the point of the broadcast-asset shape.
    Q("q184_vocab_apply",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |e AS (SELECT unnest(toks) AS token FROM t),
        |c AS (SELECT token, count(*) AS cnt FROM e GROUP BY 1),
        |v AS (SELECT list(token ORDER BY cnt DESC, token) AS vlist
        |      FROM (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 30)),
        |j AS (SELECT doc_id, toks,
        |        list_transform(toks, tok ->
        |          coalesce(list_position(vlist, tok) - 1, -1)) AS tids
        |      FROM t, v)
        |SELECT doc_id, array_to_string(tids, ',') AS ids,
        |  len(toks) AS n_tokens,
        |  len(list_filter(tids, x -> x = -1)) AS n_oov
        |FROM j ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val (asset, v) = Vocab.assetFor(s, dir)
      // the returned frame is the zero-shuffle map-literal plan over
      // the corpus alone: loadAsOf collected the asset into the
      // literal, so nothing lazy references the asset dir
      Vocab.tokenizeWithFrozenVocab(s, docs, "text", asset,
          versionAsOf = Some(v), Vocab.Unk(-1))
        .select(col("doc_id"),
          concat_ws(",", col("token_ids")).as("ids"),
          size(col("token_ids")).as("n_tokens"),
          size(filter(col("token_ids"), _ === -1)).as("n_oov"))
        .orderBy("doc_id")
    },

    // Vocab FREEZE — the asset-BUILD lane q184 no longer carries (the
    // q45/q188 build/probe split applied to the vocab asset): one
    // corpus-wide token count (map-side combined), a bounded top-30
    // election (TakeOrderedAndProject, never a global sort), one
    // TxTable commit, then the committed (token, id) frame read back
    // AS OF the frozen version — so the lane verifies the STORED
    // asset, not a driver-side intermediate. Freeze cost is the timed
    // body by design.
    Q("q189_vocab_freeze",
      """WITH t AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |e AS (SELECT unnest(toks) AS token FROM t),
        |c AS (SELECT token, count(*) AS cnt FROM e GROUP BY 1),
        |r AS (SELECT token,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INT) AS id
        |      FROM c)
        |SELECT token, id FROM r WHERE id < 30 ORDER BY id""".stripMargin) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.QueryUtil.inTempDir("graft_vocab_freeze") { tmp =>
        val asset = s"$tmp/vocab"
        val v = Vocab.freeze(s, docs, col("text"), vocabSize = 30, asset)
        graft.QueryUtil.localized(
          graft.ext.TxTable.read(s, asset, versionAsOf = Some(v))
            .select(col("token"), col("id").cast("int").as("id"))
            .orderBy("id"))
      }
    },

    // Z-order (Morton) curve index over (user bucket, value bucket) —
    // the layout key that makes ONE sort order prune on BOTH
    // dimensions via parquet min/max stats. Pure shift/mask integer
    // math inside whole-stage codegen; the oracle computes the
    // identical interleave.
    Q("q86_zorder_key", {
      val x = "((user_id % 1024) + 1024) % 1024"
      val y = "CAST(floor(\"value\") AS BIGINT) % 1024"
      s"""SELECT event_id, $x AS x, $y AS y,
         |  ${Layout.zValueSql(x, y)} AS z
         |FROM events ORDER BY event_id""".stripMargin
    }) { (s, dir) =>
      val x = pmod(col("user_id"), lit(1024L))
      val y = floor(col("value")) % lit(1024L)
      graft.analysis.EventsFact.events(s, dir)
        .select(col("event_id"), x.as("x"), y.as("y"),
          Layout.zValue(x, y).as("z"))
        .orderBy("event_id")
    },
  )
}
