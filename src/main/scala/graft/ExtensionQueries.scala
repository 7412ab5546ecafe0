package graft

import org.apache.spark.sql.functions._
import graft.analysis.EventsFact
import graft.ext.{Dedup, Multimodal, Similarity, SimHash64, TextAnalysis}

/** North-star extension operators (SURVEY §7.2 M5): dedup, similarity
  * search, text analysis, multimodal plumbing, streaming. Oracles
  * mirror the Spark expression shape op-for-op (same IEEE evaluation
  * order) so per-row doubles compare exactly; only genuinely
  * order-jittery values (list_sum accumulation) are rounded.
  */
object ExtensionQueries {

  /** DuckDB mirror of TextAnalysis.tokens. */
  private val toksSql = "regexp_split_to_array(trim(text), '\\s+')"

  private def stopCountSql(stops: Seq[String]): String = {
    val lst = stops.map(s => s"'$s'").mkString("[", ", ", "]")
    s"len(list_filter($toksSql, t -> list_contains($lst, t)))"
  }

  val all: Seq[Q] = Seq(

    // Text stats: token/char counts, quality score, fingerprint — all
    // per-row codegen'd expressions (no UDF, no shuffle).
    Q("q26_text_stats",
      s"""SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  len(list_distinct($toksSql)) AS n_distinct_tokens,
         |  length(text) AS n_chars_utf,
         |  0.3 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 64.0)
         |    + 0.3 * least(1.0, (CAST(${stopCountSql(TextAnalysis.englishStopwords)} AS DOUBLE)
         |        / CAST(len($toksSql) AS DOUBLE)) * 4.0)
         |    + 0.2 * (CAST(len(list_distinct($toksSql)) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE))
         |    + 0.2 * (1.0 - least(1.0,
         |        (CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |          / CAST(length(text) AS DOUBLE)) * 10.0)) AS quality,
         |  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Oracle assumes non-empty text (documents are); the library
      // functions themselves guard n=0.
      s.read.parquet(s"$dir/documents.parquet")
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.distinctTokenCount(col("text")).as("n_distinct_tokens"),
          length(col("text")).as("n_chars_utf"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // Language-ID heuristic (stopword density argmax).
    Q("q27_lang_id", ExtensionOracles.langId) { (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // Exact dedup: fingerprint → canonical id per group.
    Q("q28_exact_dedup",
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint,
        |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
        |FROM fp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exactDuplicates(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    },

    // MinHash signatures (md5-keyed, engine-reproducible): first 4
    // signature elements surfaced for the oracle.
    Q("q29_minhash_signature", ExtensionOracles.minhashSignature) { (s, dir) =>
      // token array AND shingle array materialized as attributes: the
      // 4 signature lanes each reference the shingle array, and every
      // reference of a HOF expression is a full rebuild in interpreted
      // eval (tokens additionally re-evaluated per element if inlined)
      Dedup.withTokenArray(s.read.parquet(s"$dir/documents.parquet"), "text")
        .withColumn("_sh", Dedup.shinglesOfTokens(col("_toks"), 3))
        .withColumn("sig", Dedup.minhashSignature(col("_sh"), 4))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("h0"),
          element_at(col("sig"), 2).as("h1"),
          element_at(col("sig"), 3).as("h2"),
          element_at(col("sig"), 4).as("h3"))
        .orderBy("doc_id")
    },

    // LSH near-duplicate pairs with exact shingle-Jaccard verification.
    // Synthetic docs have no near-dups at default threshold — the
    // operator's positive path is exercised in DedupSpec; here the
    // oracle confirms the full pipeline (including "no false
    // positives") end-to-end.
    Q("q30_minhash_pairs", ExtensionOracles.minhashPairs) { (s, dir) =>
      Dedup.pairsFor(s, dir, minJaccard = 0.4, maxBucket = 256)
        .orderBy("a_id", "b_id")
    },

    // Pairwise character-3-gram Jaccard on a bounded slice (exact
    // quadratic verification kernel; LSH is the scale path).
    Q("q31_ngram_jaccard", ExtensionOracles.ngramJaccard) { (s, dir) =>
      // grams materialized ONCE per doc before the pair expansion
      // (normalize, then grams, each behind its own projection
      // boundary); the pair projection then works on attribute arrays:
      // |∩|/(|a|+|b|−|∩|) with the intersect size computed in its own
      // step so the expensive array op is referenced exactly once
      val g = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 15)
        .withColumn("_norm", TextAnalysis.normalize(col("text")))
        .withColumn("_g", Dedup.charGramsOfNormalized(col("_norm"), 3))
      val a = g.select(col("doc_id").as("a_id"), col("_g").as("_ga"))
      val b = g.select(col("doc_id").as("b_id"), col("_g").as("_gb"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("_ga"), col("_gb"))).cast("double").as("_i"),
          size(col("_ga")).cast("double").as("_na"),
          size(col("_gb")).cast("double").as("_nb"))
        .select(col("a_id"), col("b_id"),
          round(when(col("_na") + col("_nb") - col("_i") > 0,
            col("_i") / (col("_na") + col("_nb") - col("_i")))
            .otherwise(lit(0.0)), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // SimHash fingerprints, oracle-exact: the md5-prefix token-hash
    // lane (Dedup.md5SimHash) computes the same long arithmetic DuckDB
    // evaluates, so the driver checks the whole sign-aggregation
    // pipeline bit for bit. The murmur3 SimHash64 expression remains
    // the fast production default (exercised by Dedup.simhashNearDupPairs'
    // spec lane and GraftExtensionsSpec SQL registration).
    Q("q32_simhash", ExtensionOracles.md5SimHashSql(48)) { (s, dir) =>
      Dedup.md5SignaturesFor(s, dir)
        .select(col("id").as("doc_id"), col("sig").as("simhash"),
          bit_count(col("sig")).as("bits"))
        .orderBy("doc_id")
    },

    // Brute-force cosine top-k (exact ANN baseline).
    Q("q33_cosine_topk", ExtensionOracles.cosineTopK) { (s, dir) =>
      Similarity.bruteForceTopK(s.read.parquet(s"$dir/embeddings.parquet"), 0L, 20)
    },

    // LSH-bucketed ANN — scale path; recall vs brute force is asserted
    // in SimilaritySpec. Fully oracle-checked: the sign-LSH planes are
    // deterministic constants, so DuckDB recomputes the buckets
    // themselves (see ExtensionOracles.annLshTopKSql) — candidate
    // generation and exact in-bucket cosine both verified.
    Q("q34_ann_lsh", ExtensionOracles.annLshTopKSql(0L, 20, numPlanes = 4, dim = 64)) { (s, dir) =>
      Similarity.annTopK(s.read.parquet(s"$dir/embeddings.parquet"), 0L, 20, numPlanes = 4)
    },

    // Per-label embedding stats (exact decimal-accumulated mean norm).
    Q("q35_embedding_label_stats", ExtensionOracles.labelStats) { (s, dir) =>
      Similarity.labelStats(s.read.parquet(s"$dir/embeddings.parquet"))
    },

    // Multimodal: a mixed-media corpus (REAL RIFF/WAVE + Sun AU PCM16
    // audio; REAL PPM P6, 24-bit BMP and PNG images — PNG decoded by
    // the JDK's ImageIO reader, encoded stored-deflate so its byte
    // length stays pure arithmetic; byte-stub "video") through the
    // unified partition-batched decode. Payloads are genuine binaries
    // synthesized deterministically from (doc_id, n_chars), so the
    // oracle recomputes every decoded feature arithmetically — a
    // header-parse, byte-order, or channel-interleave bug anywhere in
    // the encode→binary→decode path breaks the hash. Only the "video"
    // lane is stub byte-features (MP3/H.264 would need a native
    // codec); it too is oracle-exact. JPEG decode is equally real
    // (same ImageIO seam) but lossy, so it lives in MultimodalSpec's
    // round-trip cases, not the bit-exact oracle.
    Q("q36_multimodal_features",
      """WITH d AS (SELECT doc_id, n_chars * 31 + doc_id AS seed FROM documents),
        |a AS (SELECT doc_id, seed, 8 + doc_id % 9 AS n, doc_id % 6 = 0 AS is_wav
        |      FROM d WHERE doc_id % 3 = 0),
        |av AS (SELECT doc_id, n, is_wav,
        |         (((seed + i * 2654435761) % 65536) + 65536) % 65536 - 32768 AS v
        |       FROM (SELECT doc_id, n, is_wav, seed,
        |               unnest(generate_series(1, n)) AS i FROM a)),
        |audio AS (SELECT doc_id AS asset_id, 'audio' AS media_type,
        |    CASE WHEN is_wav THEN 44 + 2 * n ELSE 24 + 2 * n END AS n_bytes,
        |    n AS n_units, 8000 AS dim_a, 1 AS dim_b,
        |    max(abs(v)) AS feat_a, CAST(sum(v * v) AS BIGINT) AS feat_b,
        |    CAST(sum(v) AS BIGINT) AS feat_c
        |  FROM av GROUP BY doc_id, n, is_wav),
        |im AS (SELECT doc_id, seed, 2 + doc_id % 4 AS w, 2 + doc_id % 5 AS h,
        |         doc_id % 9 AS container
        |       FROM d WHERE doc_id % 3 = 1),
        |ib AS (SELECT doc_id, w, h, container, j,
        |         (((seed + j * 2654435761) % 256) + 256) % 256 AS b
        |       FROM (SELECT doc_id, w, h, container, seed,
        |               unnest(generate_series(1, 3 * w * h)) AS j FROM im)),
        |image AS (SELECT doc_id AS asset_id, 'image' AS media_type,
        |    CASE WHEN container = 1
        |      THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h
        |    WHEN container = 4
        |      THEN 54 + (3 * w + (4 - (3 * w) % 4) % 4) * h
        |      ELSE 63 + 5 * ((h * (1 + 3 * w) + 65534) // 65535) + h * (1 + 3 * w)
        |    END AS n_bytes,
        |    w * h AS n_units, w AS dim_a, h AS dim_b,
        |    CAST(sum(CASE WHEN (j - 1) % 3 = 0 THEN b ELSE 0 END) AS BIGINT) AS feat_a,
        |    CAST(sum(CASE WHEN (j - 1) % 3 = 1 THEN b ELSE 0 END) AS BIGINT) AS feat_b,
        |    CAST(sum(CASE WHEN (j - 1) % 3 = 2 THEN b ELSE 0 END) AS BIGINT) AS feat_c
        |  FROM ib GROUP BY doc_id, w, h, container),
        |vi AS (SELECT doc_id, seed, 16 + doc_id % 17 AS n FROM d WHERE doc_id % 3 = 2),
        |vb AS (SELECT doc_id, n,
        |         (((seed + k * 2654435761) % 256) + 256) % 256 AS b
        |       FROM (SELECT doc_id, n, seed, unnest(generate_series(1, n)) AS k FROM vi)),
        |video AS (SELECT doc_id AS asset_id, 'video' AS media_type,
        |    n AS n_bytes, n AS n_units, 0 AS dim_a, 0 AS dim_b,
        |    max(b) AS feat_a, CAST(sum(b) AS BIGINT) AS feat_b, 0 AS feat_c
        |  FROM vb GROUP BY doc_id, n)
        |SELECT * FROM audio UNION ALL SELECT * FROM image UNION ALL SELECT * FROM video
        |ORDER BY asset_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .map { case (id, nChars) =>
          val seed = nChars * 31 + id
          def lcg(i: Long, m: Long): Long =
            java.lang.Math.floorMod(seed + i * 2654435761L, m)
          (id % 3) match {
            case 0 =>
              val n = (8 + id % 9).toInt
              val samples = Array.tabulate(n)(i => (lcg(i + 1, 65536L) - 32768L).toShort)
              // alternate the container like the image lane: WAV
              // (RIFF little-endian) vs Sun AU (big-endian) with the
              // SAME samples — only the header size differs in the
              // oracle; both real audio decoders run under the check
              val payload =
                if (id % 6 == 0) Multimodal.encodeWavPcm16(samples, 8000)
                else Multimodal.encodeAuPcm16(samples, 8000)
              (id, "audio", payload)
            case 1 =>
              val w = (2 + id % 4).toInt
              val h = (2 + id % 5).toInt
              val px = Array.tabulate(3 * w * h)(j => lcg(j + 1, 256L).toByte)
              // rotate the container: image assets arrive as PPM,
              // 24-bit BMP, or stored-deflate PNG (decoded by the JDK
              // ImageIO reader) — the SAME pixels, so only n_bytes
              // differs in the oracle; all three real decoders run
              // under the oracle-checked lane
              val payload = (id % 9) match {
                case 1 => Multimodal.encodePpm(w, h, px)
                case 4 => Multimodal.encodeBmp24(w, h, px)
                case _ => Multimodal.encodePng(w, h, px)
              }
              (id, "image", payload)
            case _ =>
              val n = (16 + id % 17).toInt
              (id, "video", Array.tabulate(n)(k => lcg(k + 1, 256L).toByte))
          }
        }.toDF("asset_id", "media_type", "payload")
      Multimodal.extractDecoded(assets).toDF().orderBy("asset_id")
    },

    // Structured Streaming: event-time windowed aggregation with
    // watermark, run to completion over the parquet source; oracle is
    // the equivalent batch query (stream/batch equivalence).
    Q("q37_stream_daily_counts",
      """SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS mean_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.dailyTypeCounts(s, dir)
        .orderBy("day", "event_type")
    },

    // BPE-ish regex tokenizer counts.
    Q("q38_bpe_tokens",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]+')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          size(TextAnalysis.tokensBpeIsh(col("text"))).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // Corpus-curation capstone: the composed training-data pipeline —
    // exact-dedup (keep canonical docs), quality gate, language gate,
    // then per-language volume/token/quality stats. One declarative
    // plan: fingerprint window + per-row expressions + one aggregate;
    // the whole pipeline is a single pass over the corpus plus the
    // dedup shuffle.
    Q("q47_corpus_pipeline", ExtensionOracles.corpusPipeline) { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val kept = Dedup.keepCanonical(docs)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("lang_pred", TextAnalysis.langIdHeuristic(col("text")))
        .filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")
      kept.groupBy("lang_pred")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
          graft.analysis.CoverageQueries.exactAvg(col("quality")).as("avg_quality"))
        .orderBy("lang_pred")
    },

    // PII scrubbing: the redaction pass over text columns. DuckDB's
    // RE2-style engine mirrors the patterns (no lookarounds used).
    Q("q50_pii_scrub",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    },

    // Repetition quality signal (duplicate word-3-gram fraction).
    Q("q51_repetition",
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, ${ExtensionOracles.shinglesOfPublic("toks")} AS sh FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(sh) > 0
         |    THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE)
         |    ELSE 0.0 END AS repetition
         |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.withTokenArray(s.read.parquet(s"$dir/documents.parquet"), "text")
        .select(col("doc_id"),
          TextAnalysis.repetitionScoreOfTokens(col("_toks")).as("repetition"))
        .orderBy("doc_id")
    },

    // Welch t-test via the typed Aggregator (partial-mergeable custom
    // aggregate). The exact-sum lane (WelchExactTTest) accumulates
    // integer sums of the quantized values, so t/df are bitwise equal
    // to the relational oracle formula — compared UNROUNDED.
    Q("q39_welch_aggregator", ExtensionOracles.welchAggregator) { (s, dir) =>
      import s.implicits._
      import graft.stats.{WelchExactTTest, WelchIn}
      val w = CoreParityQueries.W
      val fact = EventsFact.fact(s, dir)
      val typed = fact
        .filter(col("year").between(w.beforeLo, w.beforeHi) ||
          col("year").between(w.afterLo, w.afterHi))
        .select(col("country"), col("antigen"),
          col("coverage_pct").as("value"),
          col("year").between(w.afterLo, w.afterHi).as("after"))
        .as[(String, String, Double, Boolean)]
      typed
        .groupByKey { case (c, a, _, _) => (c, a) }
        .mapValues { case (_, _, v, after) => WelchIn(v, after) }
        .agg(WelchExactTTest.toColumn)
        .map { case ((c, a), r) =>
          (c, a, r.n_before, r.n_after, r.t_stat, r.welch_df)
        }
        .toDF("country", "antigen", "n_before", "n_after", "t_stat", "welch_df")
        .orderBy("country", "antigen")
    },
  )
}

/** Long/programmatic oracle SQL for the extension queries. */
object ExtensionOracles {

  /** Per-row quality mirror of TextAnalysis.qualityScore over `text`
    * (same shape as the q26 oracle, factored for reuse). */
  private val qualitySql: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    val stops = graft.ext.TextAnalysis.englishStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    val stopCount = s"len(list_filter($toks, t -> list_contains($stops, t)))"
    s"""0.3 * least(1.0, CAST(len($toks) AS DOUBLE) / 64.0)
       |  + 0.3 * least(1.0, (CAST($stopCount AS DOUBLE) / CAST(len($toks) AS DOUBLE)) * 4.0)
       |  + 0.2 * (CAST(len(list_distinct($toks)) AS DOUBLE) / CAST(len($toks) AS DOUBLE))
       |  + 0.2 * (1.0 - least(1.0,
       |      (CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
       |        / CAST(length(text) AS DOUBLE)) * 10.0))""".stripMargin
  }

  /** lang_pred mirror of TextAnalysis.langIdHeuristic over a `toks`
    * column (first language in list order attaining the positive max). */
  /** The quality mirror, shared with PipelineQueries' q68 capstone. */
  def qualitySqlPublic: String = qualitySql

  /** Batch replay of the streaming quality gate (q67): the same
    * scoring expressions the q26/q47 oracles verify, as a filter. */
  lazy val streamQualityGate: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |scored AS (SELECT doc_id, $qualitySql AS quality, $langPredSql AS lang_pred FROM t)
       |SELECT doc_id, lang_pred, quality FROM scored
       |WHERE quality >= 0.5 AND lang_pred <> 'und'
       |ORDER BY doc_id""".stripMargin

  /** lang_pred over a `toks` column — shared with PipelineQueries. */
  val langPredSql: String = {
    val scores = graft.ext.TextAnalysis.stopwordsByLang.map { case (lang, stops) =>
      val lst = stops.map(s => s"'$s'").mkString("[", ", ", "]")
      lang -> s"(CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))"
    }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val caseChain = scores.map { case (lang, sc) =>
      s"WHEN $sc > 0 AND $sc = $best THEN '$lang'"
    }.mkString(" ")
    s"CASE $caseChain ELSE 'und' END"
  }

  val corpusPipeline: String =
    s"""WITH fp AS (
       |  SELECT doc_id,
       |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
       |  FROM documents),
       |keep AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
       |    FROM fp)
       |  WHERE is_canonical),
       |t AS (
       |  SELECT d.doc_id, d.text,
       |    regexp_split_to_array(trim(d.text), '\\s+') AS toks
       |  FROM documents d JOIN keep USING (doc_id)),
       |scored AS (
       |  SELECT doc_id, text, toks,
       |    $qualitySql AS quality,
       |    $langPredSql AS lang_pred
       |  FROM t),
       |kept AS (
       |  SELECT * FROM scored WHERE quality >= 0.5 AND lang_pred <> 'und')
       |SELECT lang_pred, count(*) AS n_docs,
       |  CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
       |  ${CoreParityQueries.exactAvgSql("quality")} AS avg_quality
       |FROM kept GROUP BY lang_pred ORDER BY lang_pred""".stripMargin

  val langId: String = {
    val scores = TextAnalysis.stopwordsByLang.map { case (lang, stops) =>
      val lst = stops.map(s => s"'$s'").mkString("[", ", ", "]")
      lang -> s"(CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))"
    }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    // mirror the Scala foldRight: first language in list order that
    // attains the max (and is > 0) wins
    val caseChain = scores.map { case (lang, sc) =>
      s"WHEN $sc > 0 AND $sc = best THEN '$lang'"
    }.mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |scored AS (SELECT doc_id, lang, toks, $best AS best FROM t)
       |SELECT doc_id, lang, CASE $caseChain ELSE 'und' END AS lang_pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of Dedup.md5SimHash: same md5-hex-prefix token
    * hash, the same `bits` per-bit ±1 sums, the same `>= 0` sign
    * reassembly — long arithmetic both engines evaluate bit for bit.
    * Returns the signature CTE chain ending in `sig(doc_id, sig)`. */
  def md5SimHashCtes(bits: Int): String = {
    val sums = (0 until bits).map { b =>
      s"sum((((h >> $b) & 1) * 2) - 1) AS s$b"
    }.mkString(", ")
    val sigExpr = (0 until bits).map { b =>
      s"(CASE WHEN s$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    s"""t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |h AS (SELECT doc_id,
       |        CAST(('0x' || substring(md5(tok), 1, ${bits / 4})) AS BIGINT) AS h
       |      FROM e),
       |bitsums AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigExpr AS sig FROM bitsums)""".stripMargin
  }

  /** q32: per-doc md5-SimHash fingerprint + popcount. */
  def md5SimHashSql(bits: Int): String =
    s"""WITH ${md5SimHashCtes(bits)}
       |SELECT doc_id, sig AS simhash,
       |  CAST(bit_count(sig) AS INTEGER) AS bits
       |FROM sig ORDER BY doc_id""".stripMargin

  /** q44: banded Hamming near-dup pairs over md5-SimHash fingerprints —
    * mirrors Dedup.simhashNearDupPairsFromSignatures in its SCALE-SAFE
    * registered configuration: bounded `maxBucket` with the salted
    * sub-bucket degraded mode on (`saltOversized = true`). The mirror
    * reproduces all three candidate lanes exactly — small buckets pair
    * exhaustively, oversized buckets emit star edges to the min member
    * plus exhaustive pairs inside each md5-salted sub-bucket (the salt
    * is Dedup.saltOf's md5 arithmetic, so the sub-bucket split is
    * engine-portable, same recipe as q81's oracle). sf0.01 has band
    * buckets up to ~54 members, so with a cap of 16 the degraded lanes
    * are genuinely exercised under the oracle, not just spec-proven. */
  def md5SimHashPairsSql(bits: Int, maxHamming: Int, maxBucket: Int): String = {
    val bands = maxHamming + 1
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    s"""WITH ${md5SimHashCtes(bits)},
       |banded AS (
       |  SELECT doc_id, sig, b, (sig & (CAST($mask AS BIGINT) << (b * $bandBits))) AS bb
       |  FROM sig, (SELECT unnest(generate_series(0, ${bands - 1})) AS b)),
       |stats AS (
       |  SELECT doc_id, sig, b, bb,
       |    count(*) OVER (PARTITION BY b, bb) AS bucket_n,
       |    min(doc_id) OVER (PARTITION BY b, bb) AS min_id,
       |    arg_min(sig, doc_id) OVER (PARTITION BY b, bb) AS min_sig
       |  FROM banded),
       |smallb AS (SELECT * FROM stats WHERE bucket_n BETWEEN 2 AND $maxBucket),
       |small AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sig AS a_sig, b.sig AS b_sig
       |  FROM smallb a JOIN smallb b
       |    ON a.b = b.b AND a.bb = b.bb AND a.doc_id < b.doc_id),
       |star AS (
       |  SELECT min_id AS a_id, doc_id AS b_id, min_sig AS a_sig, sig AS b_sig
       |  FROM stats WHERE bucket_n > $maxBucket AND doc_id <> min_id),
       |saltassign AS (
       |  SELECT doc_id, sig, b, bb,
       |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % ((bucket_n + ${maxBucket - 1}) // $maxBucket) AS salt
       |  FROM stats WHERE bucket_n > $maxBucket),
       |salted AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sig AS a_sig, b.sig AS b_sig
       |  FROM saltassign a JOIN saltassign b
       |    ON a.b = b.b AND a.bb = b.bb AND a.salt = b.salt AND a.doc_id < b.doc_id)
       |SELECT DISTINCT a_id, b_id,
       |  CAST(bit_count(xor(a_sig, b_sig)) AS INTEGER) AS hamming
       |FROM (SELECT * FROM small UNION ALL SELECT * FROM star
       |      UNION ALL SELECT * FROM salted)
       |WHERE bit_count(xor(a_sig, b_sig)) <= $maxHamming
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** DuckDB mirror of Dedup.shingles over a token-list expression. */
  def shinglesOfPublic(toks: String): String = shinglesOf(toks)

  /** DuckDB mirror of Dedup.shingles for any k (DuckDB slices are
    * inclusive) — the ONE copy of the shingle-mirror logic; q30/q44/
    * q60 use k=3 via [[shinglesOf]], q57 uses k=8. */
  def gramsSql(toks: String, k: Int): String =
    s"""CASE WHEN len($toks) >= $k
       |  THEN list_transform(generate_series(1, len($toks) - ${k - 1}),
       |         i -> array_to_string(($toks)[i:i+${k - 1}], ' '))
       |  ELSE [] END""".stripMargin

  private def shinglesOf(toks: String): String = gramsSql(toks, 3)

  val minhashSignature: String = {
    val hs = (0 until 4).map { i =>
      s"list_min(list_transform(sh, s -> md5('$i|' || s))) AS h$i"
    }.mkString(",\n  ")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |s AS (SELECT doc_id, ${shinglesOf("toks")} AS sh FROM t)
       |SELECT doc_id,
       |  $hs
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Mirrors Dedup.minhashSignatureAggFast + nearDuplicatePairs: one
    * md5 per shingle (60-bit hex-prefix base), 16 affine lanes mod
    * 2^31−1 with the engine's exact splitmix-derived constants, banded
    * md5 bucket keys, bucket candidates, exact token-Jaccard verify. */
  val minhashPairs: String = {
    val P = graft.ext.Dedup.MinhashP
    val lanes = graft.ext.Dedup.affineParams(16).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * base + $b) % $P) AS h$i"
    }.mkString(", ")
    val bandDefs = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"h${b * 4 + r}::VARCHAR").mkString(" || '|' || ")
      s"md5($parts) AS band$b"
    }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS rawtoks
       |  FROM documents),
       |s AS (SELECT doc_id, ${shinglesOf("rawtoks")} AS sh FROM t),
       |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
       |bs AS (SELECT doc_id,
       |         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $P AS base
       |       FROM ex),
       |sig AS (SELECT doc_id, $lanes FROM bs GROUP BY doc_id),
       |withbands AS (SELECT doc_id, $bandDefs FROM sig),
       |banded AS (
       |  SELECT doc_id, unnest([band0, band1, band2, band3]) AS band
       |  FROM withbands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
       |tok AS (
       |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
       |  FROM documents)
       |SELECT a_id, b_id,
       |  CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
       |    CAST(len(list_distinct(ta.toks || tb.toks)) AS DOUBLE) AS jaccard
       |FROM cand
       |JOIN tok ta ON ta.doc_id = a_id
       |JOIN tok tb ON tb.doc_id = b_id
       |WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
       |    CAST(len(list_distinct(ta.toks || tb.toks)) AS DOUBLE) >= 0.4
       |ORDER BY a_id, b_id""".stripMargin
  }

  val ngramJaccard: String = {
    def grams(t: String) =
      s"""(CASE WHEN length(norm_$t) >= 3
         |  THEN list_distinct(list_transform(generate_series(1, length(norm_$t) - 2),
         |         i -> substring(norm_$t, i, 3)))
         |  ELSE [] END)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
       |  FROM documents WHERE doc_id < 15),
       |p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.norm AS norm_a, b.norm AS norm_b
       |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
       |g AS (SELECT a_id, b_id, ${grams("a")} AS ga, ${grams("b")} AS gb FROM p)
       |SELECT a_id, b_id,
       |  CASE WHEN len(list_distinct(ga || gb)) > 0
       |    THEN round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
       |           CAST(len(list_distinct(ga || gb)) AS DOUBLE), 6)
       |    ELSE 0.0 END AS jaccard
       |FROM g ORDER BY a_id, b_id""".stripMargin
  }

  /** Brute-force cosine top-k for query `qid` — the exact baseline
    * (q33) and the re-rank-lane oracle for bound-pruned ANN (q45). */
  def cosineTopKSql(qid: Long, k: Int): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $qid)
      |SELECT e.vec_id, e.label,
      |  round(
      |    list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
      |     sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 6) AS sim
      |FROM embeddings e, q
      |WHERE e.vec_id <> $qid
      |ORDER BY sim DESC, e.vec_id
      |LIMIT $k""".stripMargin

  val cosineTopK: String = cosineTopKSql(0L, 20)

  /** Brute-force exact-L2 top-k for query `qid` — the re-rank-lane
    * oracle for PQ refine (q62): same left-to-right fold over squared
    * diffs as the Spark side's materialized-diff DotProduct. */
  def l2TopKSql(qid: Long, k: Int): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $qid)
      |SELECT e.vec_id, e.label,
      |  round(sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |    i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)) *
      |         (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))))), 6) AS dist
      |FROM embeddings e, q
      |WHERE e.vec_id <> $qid
      |ORDER BY dist, e.vec_id
      |LIMIT $k""".stripMargin

  /** q34's oracle: the sign-LSH bucket is fully SQL-expressible — the
    * hyperplanes are deterministic splitmix64 CONSTANTS
    * ([[graft.ext.Similarity.hyperplanes]]), rendered here as double
    * literals (Scala's Double.toString is the shortest round-trip
    * form, so DuckDB parses back the identical IEEE value). DuckDB
    * recomputes every vector's bucket, restricts to the query's
    * bucket, and scores exact cosine — candidate generation AND
    * scoring both verified cross-engine. Sign comparisons are robust:
    * dots are O(1)-magnitude left-to-right sums, so engines agree to
    * ~1e-15, and a plane dot landing within float error of exactly 0
    * does not occur in the synthetic corpora (and would be a
    * data-dependent tie, not a logic bug). */
  def annLshTopKSql(qid: Long, k: Int, numPlanes: Int, dim: Int): String = {
    val planes = graft.ext.Similarity.hyperplanes(numPlanes, dim)
    val bucketExpr = planes.zipWithIndex.map { case (p, idx) =>
      val planeList = "[" + p.mkString(", ") + "]"
      s"""(CASE WHEN list_sum(list_transform(generate_series(1, $dim),
         |    i -> CAST(embedding[i] AS DOUBLE) * ($planeList)[i])) >= 0
         |  THEN ${1L << idx} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    s"""WITH b AS (
      |  SELECT vec_id, label, embedding, CAST($bucketExpr AS BIGINT) AS bucket
      |  FROM embeddings),
      |q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = $qid)
      |SELECT e.vec_id, e.label, e.bucket,
      |  round(
      |    list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
      |     sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 6) AS sim
      |FROM b e, q
      |WHERE e.vec_id <> $qid AND e.bucket = q.qbucket
      |ORDER BY sim DESC, e.vec_id
      |LIMIT $k""".stripMargin
  }

  val labelStats: String =
    s"""WITH n AS (
      |  SELECT label,
      |    sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
      |  FROM embeddings)
      |SELECT label, count(*) AS n,
      |  ${CoreParityQueries.exactAvgSql("norm")} AS avg_norm
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** Unrounded mirror of WelchExactTTest: exact quantized means/vars
    * (ExactMoments formulas), then the identical IEEE t/df op chains
    * (x*x, never pow). */
  val welchAggregator: String = CoreParityQueries.welchAggregatorSql
}
