package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, language ID, fingerprinting. All
  * per-row expressions built from codegen'd built-ins — no UDFs on the
  * hot path — so at 100 TB these run inside whole-stage codegen with
  * zero shuffles (embarrassingly parallel over document partitions).
  *
  * Extension surface beyond the reference (north star in BASELINE.json);
  * the reference's own scalar functions are the degenerate cases
  * (`/root/reference/streamlit_app.py:82-87` string munging).
  */
object TextAnalysis {

  /** Whitespace tokenization (the BPE-ish regex variant is
    * [[tokensBpeIsh]]).
    *
    * Degenerate-doc semantics, INTENTIONAL: empty/whitespace-only text
    * yields `[""]` (split of an empty string — SQL's standard split
    * behavior), so such docs count n_tokens=1 and chunk into one empty
    * chunk. Every consumer's oracle mirrors the same split, so parity
    * holds by construction; changing to zero-token semantics would
    * have to touch every tokens-derived oracle at once. Corpus-quality
    * gates are the right place to drop empty docs (and do — see
    * `ruleSignals`' length rules), not the tokenizer. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** GPT-2-style pretokenizer approximation: splits out word pieces,
    * numbers, and punctuation runs as separate tokens. */
  def tokensBpeIsh(text: Column): Column =
    // contractions | words | numbers | non-space punct runs
    regexp_extract_all(text, lit("'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0))

  /** All token-level counters now read from ONE [[TextProfile]] scan
    * per row: the counters below are field projections of the same
    * deterministic expression, so Catalyst's subexpression elimination
    * collapses any combination of them (q26's five outputs, q47's
    * quality+lang+tokens) into a single byte-level pass — versus one
    * regex tokenization + interpreted lambda per counter before. */
  def tokenCount(text: Column): Column = TextProfile.profile(text)("n_tokens")

  def distinctTokenCount(text: Column): Column = TextProfile.profile(text)("n_distinct")

  /** Punctuation characters per character. */
  def punctCount(text: Column): Column = TextProfile.profile(text)("n_punct")

  /** Heuristic quality score in [0,1] — length saturation, stopword
    * density, lexical diversity, punctuation sanity. The exact weights
    * are engine-defined (documented here), not from the reference. All
    * ratios guarded for empty input (ANSI division). */
  def qualityScore(text: Column): Column = {
    val p = TextProfile.profile(text)
    val n = p("n_tokens").cast("double")
    val lenScore = least(lit(1.0), n / lit(64.0))
    val stopRatio = when(n > 0, p("stop_hits")(0).cast("double") / n).otherwise(lit(0.0))
    val stopScore = least(lit(1.0), stopRatio * lit(4.0))
    val diversity = when(n > 0, p("n_distinct").cast("double") / n).otherwise(lit(0.0))
    val punctRatio = when(p("n_chars") > 0,
      p("n_punct").cast("double") / p("n_chars").cast("double")).otherwise(lit(0.0))
    lit(0.3) * lenScore + lit(0.3) * stopScore + lit(0.2) * diversity +
      lit(0.2) * (lit(1.0) - least(lit(1.0), punctRatio * lit(10.0)))
  }

  val englishStopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic. Public common-word lists. */
  val stopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> englishStopwords,
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "en", "que"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "en", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "ist", "den", "von", "mit"),
  )

  /** Stopword-density language ID: score each language by function-word
    * hits per token, pick the max (ties broken by list order, 'und' for
    * unknown when no list scores > 0). Cheap, shuffle-free, and the
    * standard first-pass filter in web-scale corpus pipelines. */
  def langIdHeuristic(text: Column): Column = {
    val p = TextProfile.profile(text)
    val n = p("n_tokens").cast("double")
    val scores = stopwordsByLang.zipWithIndex.map { case ((lang, _), i) =>
      lang -> when(n > 0, p("stop_hits")(i).cast("double") / n).otherwise(lit(0.0))
    }
    // best = first language achieving the maximum score
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc > 0 && sc === best, lit(lang)).otherwise(acc)
    }
  }

  /** Normalized-text fingerprint: lowercase, squeeze whitespace, md5.
    * md5 (not xxhash64) so external engines reproduce it byte-for-byte;
    * see [[Dedup]] for the throughput-oriented variant. */
  def fingerprint(text: Column): Column =
    md5(normalize(text).cast("binary"))

  def normalize(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** PII scrubbing: mask emails, international-ish phone numbers, and
    * IPv4 addresses (the standard pre-training redaction pass). Pure
    * regexp_replace chain — per-row, codegen'd, order matters (emails
    * first so phone patterns cannot eat their digits). */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email,
      "\\+?\\d[\\d\\s().-]{7,}\\d", "<PHONE>")
    regexp_replace(phone,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
  }

  /** Repetition score: fraction of word k-grams that are repeats of an
    * earlier k-gram in the same doc (Gopher/C4-style quality signal —
    * high values mean boilerplate/spam). 0 for docs too short to have
    * a k-gram. Takes a MATERIALIZED token-array attribute (see
    * [[Dedup.withTokenArray]]): a tokenization inlined into the
    * shingle transform's interpreted lambda would re-tokenize per
    * shingle. */
  def repetitionScoreOfTokens(toks: Column, k: Int = 3): Column = {
    // size(shingles) == n_tokens − k + 1 when n_tokens >= k: computing
    // it from the (cheap, attribute-sized) token count leaves the
    // expensive gram array referenced ONCE — each extra reference of a
    // HOF expression is a full rebuild in interpreted eval
    val nsh = when(size(toks) >= k,
      (size(toks) - lit(k - 1)).cast("double")).otherwise(lit(0.0))
    when(nsh > lit(0.0),
      lit(1.0) -
        size(array_distinct(Dedup.shinglesOfTokens(toks, k))).cast("double") / nsh)
      .otherwise(lit(0.0))
  }

  /** Composite token-level quality ruleset (the Gopher/C4 filter
    * family — Rae et al. 2021 Appendix A, re-expressed over whitespace
    * tokens since this corpus has no line structure): per-doc rule
    * signals plus the conjunction verdict. Signals:
    *
    *   - `n_tokens` — word count (bounds reject fragments and
    *     mega-pages);
    *   - `mean_word_len` — Σ token length / n (one exact IEEE
    *     division; symbol soup and minified blobs sit outside
    *     [min,max]). Σ token length is `length(text minus whitespace)`
    *     — a regexp_replace, not a per-token lambda sum;
    *   - `alpha_ratio` — fraction of tokens containing a letter
    *     (tables of numbers / markup fail this);
    *   - `top_bigram_frac` — occurrences of the doc's most frequent
    *     word bigram over all bigram slots (a high mode means a
    *     repeated header/footer dominates);
    *   - `dup_trigram_frac` — [[repetitionScoreOfTokens]] (repeated 3-gram
    *     mass).
    *
    * All signals are counts or single divisions of counts — exactly
    * reproducible in any engine, no transcendentals.
    *
    * Scale shape: everything except `top_bigram_frac` is a per-row
    * codegen projection. The bigram mode genuinely needs a per-(doc,
    * bigram) count — that runs explode → map-side-combined groupBy →
    * per-doc max, then joins back on the doc id (both shuffles keyed
    * by doc-uniform keys; a per-row HOF mode would be O(len²)
    * interpreted per doc). Thresholds are engine-defined defaults;
    * callers tune per corpus. */
  def ruleSignals(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Long = 30,
      maxTokens: Long = 50000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      minAlphaRatio: Double = 0.8,
      maxTopBigramFrac: Double = 0.08,
      maxDupTrigramFrac: Double = 0.3): DataFrame = {
    // materialize tokens as an attribute so the HOF below references a
    // computed array, not an inlined re-tokenization per element
    val toked = docs.select(col(idCol), col(textCol).as("_text"),
      tokens(col(textCol)).as("_toks"))
    val n = size(col("_toks")).cast("long")
    val sumLen = length(regexp_replace(col("_text"), "\\s", "")).cast("long")
    val alpha = size(filter(col("_toks"), t => t.rlike("[A-Za-z]"))).cast("long")
    val perRow = toked.select(
      col(idCol),
      n.as("n_tokens"),
      (sumLen.cast("double") / n.cast("double")).as("mean_word_len"),
      (alpha.cast("double") / n.cast("double")).as("alpha_ratio"),
      // single-reference form (see repetitionScoreOfTokens): the
      // trigram count comes from the token count, so the gram array
      // is built once per row, not three times
      repetitionScoreOfTokens(col("_toks"), 3).as("dup_trigram_frac"))
    val bigramMode = toked
      .select(col(idCol), explode(Dedup.shinglesOfTokens(col("_toks"), 2)).as("_bg"))
      .groupBy(idCol, "_bg")
      .agg(count(lit(1)).as("_c"))
      .groupBy(idCol)
      .agg(max(col("_c")).as("_top"), sum(col("_c")).as("_tot"))
    val joined = perRow
      .join(bigramMode, Seq(idCol), "left")
      .withColumn("top_bigram_frac",
        coalesce(col("_top").cast("double") / col("_tot").cast("double"), lit(0.0)))
      .drop("_top", "_tot")
    joined.withColumn("pass",
      col("n_tokens").between(minTokens, maxTokens) &&
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
        col("alpha_ratio") >= minAlphaRatio &&
        col("top_bigram_frac") <= maxTopBigramFrac &&
        col("dup_trigram_frac") <= maxDupTrigramFrac)
  }
}
