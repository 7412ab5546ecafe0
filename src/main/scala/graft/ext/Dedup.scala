package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators: exact (fingerprint groupBy), MinHash+LSH
  * (shingle → minhash signature → banded bucket join), and n-gram
  * Jaccard verification — the standard near-dup stack for web-scale
  * training corpora.
  *
  * Scale design:
  *   - signatures/shingles are per-row HOF expressions (no shuffle, no
  *     UDF — whole-stage codegen);
  *   - the only shuffles are the band-bucket self-join (keys are
  *     16-byte digests, uniformly distributed ⇒ no skew) and the
  *     canonical-id aggregation;
  *   - candidate verification runs only on bucket collisions, i.e.
  *     O(near-dup pairs), not O(n²). Brute-force pairing is never
  *     materialized.
  *
  * Hash choice: md5 here so any engine reproduces results bit-for-bit
  * (the DuckDB oracle included); [[minhashSignatureFast]] swaps in
  * xxhash64 (~5× cheaper) for production where cross-engine hash
  * equality doesn't matter.
  */
object Dedup {

  /** Ensure CPU-heavy per-row work is spread across the cluster: a
    * small/compacted source can arrive as 1-2 scan partitions, which
    * would serialize the expensive shingle+hash map phase onto one
    * core. Decided from `inputFiles` plan metadata (converting to RDD
    * to count partitions would force a second physical planning of the
    * subtree and defeat AQE reuse). File COUNT alone under-estimates —
    * 8 compacted 1 GB files still split into ~64 scan partitions via
    * maxPartitionBytes — so for few-file sources the split count is
    * estimated from file sizes (≤ `target` driver-side FS lookups,
    * only on the already-small branch); a shuffle of a multi-GB corpus
    * is only paid when the scan genuinely cannot fan out. */
  private def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= target) df
    else if (files.isEmpty) df.repartition(target) // in-memory input
    else {
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
      val hconf = spark.sparkContext.hadoopConfiguration
      val estimatedSplits = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val len = try p.getFileSystem(hconf).getFileStatus(p).getLen
                  catch { case _: java.io.IOException => 0L }
        math.max(1L, (len + maxSplit - 1) / maxSplit)
      }.sum
      if (estimatedSplits >= target) df else df.repartition(target)
    }
  }

  /** Exact duplicates via normalized fingerprint: every doc labeled
    * with its group's canonical (min) id. One shuffle on the 128-bit
    * fingerprint — maximally parallel, skew-free. */
  def exactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy("fingerprint")
    docs.withColumn("fingerprint", fp)
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
      .select(col(idCol), col("fingerprint"), col("canonical_id"), col("is_duplicate"))
  }

  /** Corpus filtered to canonical docs (lowest id per fingerprint),
    * all columns kept. ONE shuffle: the window on fingerprint carries
    * the payload through — strictly better at scale than
    * [[exactDuplicates]]-then-join-back, which pays a narrow shuffle
    * AND a full join shuffle of the same rows (the union+window as-of
    * join argument, `AsOfJoin.scala`, applied to dedup). */
  def keepCanonical(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("fingerprint")
    docs.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .filter(col(idCol) === col("canonical_id"))
      .drop("fingerprint", "canonical_id")
  }

  /** Word k-shingles. Guarded: Spark's `sequence(1, n)` runs DESCENDING
    * for n<1, so short docs get an explicit empty array. */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesOfTokens(TextAnalysis.tokens(text), k)

  /** `df` plus the whitespace token array of `textCol` materialized as
    * attribute `out` — the projection boundary every gram-stream lane
    * must put UNDER its shingle transform. Passing `shingles(text)`
    * straight into explode/array_distinct leaves `tokens(text)` inlined
    * inside the transform lambda, and interpreted HOF lambdas
    * re-evaluate their child per ELEMENT (NOTES lesson #1) — the whole
    * regex tokenization runs once per shingle instead of once per row
    * (measured 3.4× on the sf0.1 corpus gram stream). CollapseProject
    * cannot undo the boundary: the alias is non-cheap and
    * [[shinglesOfTokens]] references it three times. */
  private[graft] def withTokenArray(
      df: DataFrame, textCol: String, out: String = "_toks"): DataFrame =
    df.withColumn(out, TextAnalysis.tokens(col(textCol)))

  /** [[shingles]] over an already-tokenized array column — so a plan
    * that materializes the token array once (as an attribute, see
    * [[withTokenArray]]) can derive shingles without per-element
    * re-tokenization. */
  def shinglesOfTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array())

  /** MinHash signature: element h_i = min over shingles of
    * md5(i || '|' || shingle) — the lexicographic min of a keyed digest
    * is a valid min-hash over a 128-bit permutation space. Array-min of
    * a transform: per-row, no explode, no shuffle. */
  def minhashSignature(sh: Column, numHashes: Int = 16): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(sh, s => md5(concat(lit(s"$i|"), s).cast("binary"))))
    }: _*)

  /** Production variant: xxhash64 instead of md5 (numeric mins). Same
    * LSH algebra, ~5× cheaper; not cross-engine reproducible. */
  def minhashSignatureFast(sh: Column, numHashes: Int = 16): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(sh, s => xxhash64(lit(i), s)))
    }: _*)

  // (the banded bucket keys live in bandFrame, the ONE derivation every
  // dedup path shares — an alternative per-row Column form used to sit
  // here, caller-less, and a future caller mixing the two derivations
  // would have gotten zero matches with no error)

  /** Modulus for the affine minhash lanes: 2^31 − 1 (Mersenne). Keeps
    * every product a_i · (base mod P) < 2^62 — no overflow under ANSI. */
  val MinhashP: Long = 2147483647L

  /** Deterministic affine-lane parameters (a_i ∈ [1, P), b_i ∈ [0, P)),
    * splitmix64-derived so any engine can inline the same literals. */
  def affineParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (splitmix64(0xA11CEL + i) & Long.MaxValue) % (MinhashP - 1) + 1
      val b = (splitmix64(0xB0BL + i) & Long.MaxValue) % MinhashP
      (a, b)
    }

  private def splitmix64(in: Long): Long = {
    var z = in + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Production signature: ONE md5 per shingle (a 60-bit base drawn
    * from its hex prefix), then `numHashes` affine lanes
    * h_i = (a_i · base + b_i) mod 2^31−1 — the classic universal-hash
    * minhash family. 16× less hashing than a keyed digest per lane at
    * identical LSH behavior, and still bit-reproducible in any engine
    * that can parse hex (the q30 oracle mirrors it in DuckDB).
    * Shingles explode to rows rather than a per-row HOF
    * ([[minhashSignature]]), so every hash stays inside whole-stage
    * codegen and the grouped min combines map-side: the shuffle
    * carries one partial signature per (partition, id). Docs with
    * fewer than k tokens have no shingles and drop out. Returns (id,
    * h0 … h{n−1}) as longs. */
  def minhashSignatureAggFast(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      numHashes: Int = 16): DataFrame = {
    val exploded = withTokenArray(fanOut(docs), textCol)
      .select(col(idCol).as("id"),
        explode(shinglesOfTokens(col("_toks"), k)).as("shingle"))
      .withColumn("base",
        conv(substring(md5(col("shingle").cast("binary")), 1, 15), 16, 10)
          .cast("long") % MinhashP)
    val mins = affineParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("base") + lit(b)) % MinhashP).as(s"h$i")
    }
    exploded.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Near-duplicate candidate pairs via MinHash LSH, verified with
    * exact Jaccard on distinct token sets. Returns (a_id, b_id,
    * jaccard) with a_id < b_id, one row per pair.
    *
    * Shuffle discipline: the band self-join carries ONLY (band, id) —
    * token payloads are re-attached to the (tiny) verified candidate
    * set afterwards, so no document content is duplicated through the
    * widest shuffle. Band keys are 16-byte digests ⇒ uniform, skew-free
    * partitioning. */
  def nearDuplicatePairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.5,
      maxBucket: Int = 256,
      saltOversized: Boolean = false): DataFrame =
    nearDuplicatePairsFromSignatures(
      minhashSignatureAggFast(docs, idCol, textCol, k, numHashes),
      docs, idCol, textCol, numHashes, bands, minJaccard, maxBucket, saltOversized)

  /** [[nearDuplicatePairs]] over a precomputed signature frame
    * ((id, h0 … h{n−1}), e.g. [[signaturesFor]]'s persisted one) so
    * repeated near-dup queries over the same corpus skip the dominant
    * shingle+hash pass — the engine-layer analog of the reference's
    * result cache (`/root/reference/streamlit_app.py:99,111`). */
  /** Deterministic sub-bucket salt for the oversized-bucket degraded
    * modes: md5-prefix hash of the member id, NOT xxhash64 — the salt
    * decides which pairs the salted mode emits, and an md5 base makes
    * that split reproducible by any SQL engine (q81's oracle mirrors
    * the exact sub-bucket partition). Cost is confined to members of
    * oversized buckets, where one md5 per row is noise next to the
    * pair expansion it bounds. */
  private def saltOf(id: Column, nSub: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long"), nSub)

  def nearDuplicatePairsFromSignatures(
      sig: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      minJaccard: Double,
      maxBucket: Int,
      saltOversized: Boolean = false): DataFrame = {
    val banded = bandFrame(sig, numHashes, bands)
    // Bucket-local pair generation instead of a band self-join: a
    // self-join would duplicate the whole signature-computation subtree
    // (both join inputs re-derive it) and shuffle every row twice.
    // Grouping ids per bucket computes signatures once and the lambda
    // work runs over materialized attributes, not re-evaluated subtrees.
    //
    // Degenerate-bucket guard: a hot band key (boilerplate shingles,
    // near-empty docs sharing a signature prefix) can put millions of
    // ids in ONE bucket — collect_set would build one giant array row
    // and the pair expansion would go quadratic in a single task. Both
    // window aggregates below spill (WindowExec buffers rows on disk),
    // so sizing every bucket is safe; buckets over `maxBucket` degrade
    // to STAR pairing (every member vs the bucket's min id): O(n)
    // CANDIDATES per hot bucket instead of O(n²). Contract of the
    // degraded mode: candidates still pass the minJaccard verify, so
    // inside a capped bucket BOTH the pair listing AND connectivity
    // are partial — two members that near-dup each other but not the
    // bucket-min member lose their edge (no O(n)-output scheme can
    // emit verified pairs AND guarantee full connectivity; a
    // degenerate bucket's true pair set IS quadratic). In the capped
    // regime the result is a documented approximation that also
    // diverges from the uncapped DuckDB oracle; the verify corpora
    // stay under `maxBucket` (q30/q44/q60 green), and production runs
    // should audit hot bands with [[bandBucketStats]] — raise
    // `maxBucket`, pre-filter boilerplate, or opt into `saltOversized`
    // sub-bucket pairing where richer degraded output matters.
    val byBand = Window.partitionBy("band")
    val stats = banded
      .withColumn("bucket_n", count(lit(1)).over(byBand))
      .withColumn("bucket_min", min(col("id")).over(byBand))
    val ids = array_sort(collect_set(col("id")))
    val smallPairs = stats.filter(col("bucket_n").between(2, maxBucket))
      .groupBy("band").agg(ids.as("ids"))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - lit(1)),
          y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
    val starPairs = stats
      .filter(col("bucket_n") > maxBucket && col("id") =!= col("bucket_min"))
      .select(col("bucket_min").as("a_id"), col("id").as("b_id"))
    // Opt-in richer degraded mode: salt each oversized bucket into
    // ~bucket_n/maxBucket sub-buckets (deterministic hash of the id)
    // and pair EXHAUSTIVELY within each — O(n·maxBucket) candidates
    // per hot bucket instead of star's O(n), recovering the pairs two
    // non-min members share while the star edges (still emitted)
    // bridge sub-buckets for connectivity. Coverage is a strict
    // superset of star mode at bounded cost; the full O(n²) listing
    // inside one bucket remains intentionally out of reach.
    val saltedPairs = if (!saltOversized) smallPairs.limit(0) else {
      val nSub = ((col("bucket_n") + maxBucket - 1) / maxBucket).cast("long")
      stats.filter(col("bucket_n") > maxBucket)
        .withColumn("salt", saltOf(col("id"), nSub))
        .groupBy("band", "salt").agg(ids.as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - lit(1)),
            y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
        .select(col("p.a_id"), col("p.b_id"))
    }
    val cand = smallPairs.union(starPairs).union(saltedPairs)
      .distinct() // same pair can collide in several bands
    val toks = docs.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("toks"))
    cand
      .join(toks.select(col("id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(toks.select(col("id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .withColumn("jaccard",
        size(array_intersect(col("a_toks"), col("b_toks"))).cast("double") /
          size(array_union(col("a_toks"), col("b_toks"))).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** SimHash near-duplicate pairs: docs whose 64-bit [[SimHash64]]
    * fingerprints differ in ≤ `maxHamming` bits (Charikar/Manku web-dedup
    * semantics). Pigeonhole banding makes it sub-quadratic: split the
    * fingerprint into `maxHamming + 1` bands — any pair within the
    * Hamming budget must agree exactly on ≥ 1 band, so candidates come
    * from per-band bucket groups (same bucket-local pair expansion as
    * the MinHash path — no self-join, signatures computed once) and are
    * verified with one XOR popcount. */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = 256,
      saltOversized: Boolean = false): DataFrame =
    simhashNearDupPairsFromSignatures(
      fanOut(docs).select(col(idCol).as("id"),
        SimHash64(TextAnalysis.tokens(col(textCol))).as("sig")),
      sigBits = 64, maxHamming = maxHamming, maxBucket = maxBucket,
      saltOversized = saltOversized)

  /** Cross-engine-mirrorable SimHash signatures: per-token hash = the
    * first `bits`/4 hex chars of md5(token) (the same md5-prefix base
    * the minhash oracle mirror uses), per-bit ±1 sums as
    * `bits` codegen'd aggregates over the exploded token stream (no
    * interpreted HOFs — the per-bit lanes are plain `sum` columns), and
    * the sign vector reassembled into one long. [[SimHash64]] (murmur3,
    * a native codegen'd expression) stays the fast production default;
    * this lane exists so the banded Hamming machinery can be checked
    * end-to-end by an external SQL oracle, bit for bit.
    *
    * Scale shape: one explode + one map-side-combined `groupBy(id)`
    * carrying `bits` long partials per doc — no shuffle wider than
    * #docs rows; same skew behavior as any per-doc aggregate.
    * Ties (bit-sum 0) count as a set bit (`>= 0`), mirrored in SQL. */
  def md5SimHash(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 48): DataFrame = {
    require(bits >= 1 && bits <= 60 && bits % 4 == 0,
      s"bits must be a multiple of 4 in [4, 60], got $bits")
    val tok = fanOut(docs)
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .withColumn("_h", conv(substring(md5(col("_t")), 1, bits / 4), 16, 10).cast("long"))
    val bitSums = (0 until bits).map { b =>
      sum(shiftright(col("_h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"_s$b")
    }
    val sig = (0 until bits).map { b =>
      when(col(s"_s$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sig.as("sig"))
  }

  /** Banded Hamming pairing over precomputed `(id, sig)` fingerprints
    * of width `sigBits` — the signature-agnostic core of
    * [[simhashNearDupPairs]] (same split as [[nearDuplicatePairs]] /
    * [[nearDuplicatePairsFromSignatures]]). Bands are
    * `floor(sigBits / (maxHamming+1))` bits each; when that doesn't
    * tile the width exactly the TOP bits are uncovered, which keeps
    * the pigeonhole guarantee — a pair differing only in uncovered
    * bits has every band equal and is still a candidate (recall can
    * only improve; precision is restored by the XOR-popcount verify). */
  def simhashNearDupPairsFromSignatures(
      sig: DataFrame,
      sigBits: Int = 64,
      maxHamming: Int = 3,
      maxBucket: Int = 256,
      saltOversized: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, "maxHamming out of range")
    val bands = maxHamming + 1
    require(sigBits >= bands && sigBits <= 64,
      s"sigBits ($sigBits) must lie in [maxHamming+1 ($bands), 64]")
    val bandBits = sigBits / bands
    val bandCols = (0 until bands).map { b =>
      // band key = (band index, that band's bit slice)
      struct(lit(b).as("b"),
        col("sig").bitwiseAND(lit(((1L << bandBits) - 1) << (b * bandBits))).as("bits"))
    }
    val banded = sig.select(col("id"), col("sig"), explode(array(bandCols: _*)).as("band"))
    // Same degenerate-bucket guard as [[nearDuplicatePairs]]: buckets
    // over maxBucket (e.g. the all-zero band of boilerplate/empty docs)
    // degrade to star pairing against the bucket's min member — O(n)
    // per hot bucket, identical connected components, partial pairwise
    // listing (each star pair is still Hamming-verified, so no false
    // positives are introduced).
    val byBand = Window.partitionBy("band")
    val stats = banded
      .withColumn("bucket_n", count(lit(1)).over(byBand))
      .withColumn("bucket_min", min(struct(col("id"), col("sig"))).over(byBand))
    val smallPairs = stats.filter(col("bucket_n").between(2, maxBucket))
      .groupBy("band")
      .agg(array_sort(collect_set(struct(col("id"), col("sig")))).as("members"))
      .select(explode(flatten(transform(col("members"), (x, i) =>
        transform(slice(col("members"), i + lit(2), size(col("members")) - i - lit(1)),
          y => struct(x.getField("id").as("a_id"), y.getField("id").as("b_id"),
            x.getField("sig").as("a_sig"), y.getField("sig").as("b_sig")))))).as("p"))
      .select(col("p.a_id"), col("p.b_id"),
        bit_count(col("p.a_sig").bitwiseXOR(col("p.b_sig"))).as("hamming"))
    val starPairs = stats
      .filter(col("bucket_n") > maxBucket && col("id") =!= col("bucket_min.id"))
      .select(col("bucket_min.id").as("a_id"), col("id").as("b_id"),
        bit_count(col("bucket_min.sig").bitwiseXOR(col("sig"))).as("hamming"))
    // Same opt-in salted sub-bucket mode as [[nearDuplicatePairsFromSignatures]]:
    // exhaustive pairing inside ~bucket_n/maxBucket hash-salted slices of each
    // hot bucket — O(n·maxBucket) candidates, strict superset of star coverage.
    val saltedPairs = if (!saltOversized) smallPairs.limit(0) else {
      val nSub = ((col("bucket_n") + maxBucket - 1) / maxBucket).cast("long")
      stats.filter(col("bucket_n") > maxBucket)
        .withColumn("salt", saltOf(col("id"), nSub))
        .groupBy("band", "salt")
        .agg(array_sort(collect_set(struct(col("id"), col("sig")))).as("members"))
        .filter(size(col("members")) >= 2)
        .select(explode(flatten(transform(col("members"), (x, i) =>
          transform(slice(col("members"), i + lit(2), size(col("members")) - i - lit(1)),
            y => struct(x.getField("id").as("a_id"), y.getField("id").as("b_id"),
              x.getField("sig").as("a_sig"), y.getField("sig").as("b_sig")))))).as("p"))
        .select(col("p.a_id"), col("p.b_id"),
          bit_count(col("p.a_sig").bitwiseXOR(col("p.b_sig"))).as("hamming"))
    }
    smallPairs.union(starPairs).union(saltedPairs).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** One memoized build-once slot. The cache maps hold CELLS, not
    * frames, so a per-key build (a full Spark job chain for the
    * pair/component tiers) runs under the cell's own monitor — a
    * concurrent caller of any other key, or invalidateSignatures for
    * an unrelated dir, never blocks behind it (the old single
    * cacheLock serialized every tier behind whichever build was in
    * flight). Same-key callers wait on the cell and share the one
    * build; a losing putIfAbsent racer discards its cell UNFORCED, so
    * nothing double-builds or leaks a persist. Invalidation is
    * per-cell too: it synchronizes on the cell (waiting out an
    * in-flight build of that key — lazy-val init holds the instance
    * monitor), unpersists only if the build ever ran, and the removed
    * cell can never re-insert its frame — a build that loses the race
    * with invalidate finishes into its own discarded cell and the next
    * caller rebuilds over the fresh corpus. */
  private final class Cell(build: => DataFrame) {
    @volatile private var forced = false
    @volatile private var dropped = false
    lazy val value: DataFrame = {
      val v = build; forced = true
      // get-then-invalidate interleave: a caller that fetched this cell
      // BEFORE an invalidate removed it from the map would otherwise
      // build+persist into an unreachable cell no future invalidate can
      // unpersist. The frame stays usable (lineage recomputes); only
      // the orphaned cached blocks are released.
      if (dropped) v.unpersist()
      v
    }
    def drop(): Unit = synchronized {
      dropped = true
      if (forced) value.unpersist()
    }
  }

  private def memo[K](cache: scala.collection.concurrent.TrieMap[K, Cell], key: K)(
      build: => DataFrame): DataFrame = {
    val cell = cache.get(key).getOrElse {
      val fresh = new Cell(build)
      cache.putIfAbsent(key, fresh).getOrElse(fresh)
    }
    cell.value
  }

  private val sigCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Int, Int), Cell]

  /** Memoized persisted signature frame for a documents parquet dir —
    * one row of (id, h0 … h{n−1}) longs per doc, orders of magnitude
    * smaller than the corpus, so MEMORY_AND_DISK holds at any scale
    * the signature aggregation itself holds. Mirrors
    * [[graft.analysis.EventsFact.fact]]'s (session, dir) memoization
    * (the reference's TTL'd result cache, `streamlit_app.py:99,111`);
    * refresh via [[invalidateSignatures]]. */
  def signaturesFor(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      k: Int = 3,
      numHashes: Int = 16): DataFrame =
    memo(sigCache, (spark, sfDir, k, numHashes)) {
      minhashSignatureAggFast(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", k, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val md5SigCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Int), Cell]

  /** Memoized persisted md5-SimHash fingerprint frame (id, sig) for a
    * documents parquet dir — the SimHash sibling of [[signaturesFor]],
    * same serving-state tier: one long per doc, built once per
    * (session, dir), served to every banded-pairing query over the
    * same corpus (the per-token md5 aggregation is the dominant cost
    * of the oracle-mirrorable SimHash lane). Refresh via
    * [[invalidateSignatures]] (all signature tiers drop together). */
  def md5SignaturesFor(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      bits: Int = 48): DataFrame =
    memo(md5SigCache, (spark, sfDir, bits)) {
      md5SimHash(spark.read.parquet(s"$sfDir/documents.parquet"), bits = bits)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val pairsCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Double, Int), Cell]
  private val compCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Double, Int), Cell]

  /** Memoized persisted VERIFIED near-dup pair frame
    * (a_id, b_id, jaccard) for a documents parquet dir — the second
    * tier of the serving-state cache hierarchy after [[signaturesFor]].
    * Every consumer of the corpus pair graph (pair listing, connected
    * components, canonical election, clean-corpus capstones) asks the
    * SAME verified-pair question; recomputing the band join + Jaccard
    * verify per query repeated the dominant dedup cost 4× per session.
    * The pair frame is O(near-dup pairs) ≪ corpus, so MEMORY_AND_DISK
    * holds wherever the signature frame does. Fixed to the
    * engine-default LSH geometry (k=3, 16 hashes, 4 bands) — callers
    * with custom geometry use [[nearDuplicatePairsFromSignatures]]
    * directly. Refresh via [[invalidateSignatures]] (signatures, pairs
    * and components invalidate together: they derive from each other,
    * and a partial refresh would silently mix corpus snapshots). */
  def pairsFor(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      minJaccard: Double = 0.4,
      maxBucket: Int = 256): DataFrame =
    memo(pairsCache, (spark, sfDir, minJaccard, maxBucket)) {
      nearDuplicatePairsFromSignatures(
        signaturesFor(spark, sfDir),
        spark.read.parquet(s"$sfDir/documents.parquet"),
        "doc_id", "text", numHashes = 16, bands = 4,
        minJaccard = minJaccard, maxBucket = maxBucket)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Memoized connected-components frame (id, component) over
    * [[pairsFor]]'s pair graph — the third serving-state tier. The
    * closure is iterative (a driver-blocking job per round), so it is
    * the single most expensive thing to recompute per query; one
    * computation per (session, dir, threshold) serves clustering,
    * canonical election and every capstone built on them. The frame is
    * one row per NON-SINGLETON doc (docs outside the pair graph are
    * absent — callers coalesce to their own id), persisted because the
    * per-round localCheckpoint blocks it would otherwise lean on are
    * GC-reclaimable. */
  def componentsFor(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      minJaccard: Double = 0.4,
      maxBucket: Int = 256): DataFrame =
    memo(compCache, (spark, sfDir, minJaccard, maxBucket)) {
      Components.connectedComponents(
        pairsFor(spark, sfDir, minJaccard, maxBucket).select("a_id", "b_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Attach the served near-dup CLUSTER label to a doc frame: left
    * join against [[componentsFor]]'s closure, singletons fall back to
    * their own id. The shared frame under q92's canonical election,
    * q148's window-rewrite twin and q158's leakage-safe splits — one
    * definition so the lanes cannot silently diverge from the common
    * oracle closure. */
  def withServedClusters(
      docs: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      idCol: String = "doc_id",
      minJaccard: Double = 0.4,
      maxBucket: Int = 256): DataFrame =
    docs
      .join(componentsFor(spark, sfDir, minJaccard, maxBucket)
        .withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol)))
      .drop("component")

  /** Drop the persisted signatures AND the pair/component frames
    * derived from them for a dir (the refresh path — the three tiers
    * invalidate together so no query can join a fresh signature frame
    * against a stale pair graph). Waits out an in-flight build of a
    * stale key (per-cell monitor) but never blocks on other dirs'
    * builds. */
  def invalidateSignatures(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    sigCache.filterInPlace { case ((s, d, _, _), cell) =>
      val stale = (s eq spark) && d == sfDir
      if (stale) cell.drop()
      !stale
    }
    md5SigCache.filterInPlace { case ((s, d, _), cell) =>
      val stale = (s eq spark) && d == sfDir
      if (stale) cell.drop()
      !stale
    }
    pairsCache.filterInPlace { case ((s, d, _, _), cell) =>
      val stale = (s eq spark) && d == sfDir
      if (stale) cell.drop()
      !stale
    }
    compCache.filterInPlace { case ((s, d, _, _), cell) =>
      val stale = (s eq spark) && d == sfDir
      if (stale) cell.drop()
      !stale
    }
  }

  /** Diagnostic: per-band bucket sizes above `threshold`, largest
    * first. Run this when exhaustive pair listing matters — buckets
    * past [[nearDuplicatePairs]]'s `maxBucket` are star-paired (their
    * members stay in one connected component but not every intra-bucket
    * pair is listed), and a persistently hot band usually means
    * boilerplate text that should be routed through
    * [[exactDuplicates]] first. */
  def bandBucketStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Int = 256): DataFrame = {
    val sig = minhashSignatureAggFast(docs, idCol, textCol, k, numHashes)
    // the ONE band-key derivation (bandFrame) — a diagnostic computing
    // its own copy of the digest formula could silently desynchronize
    // from the dedup paths it audits
    bandFrame(sig, numHashes, bands)
      .select("band")
      .groupBy("band").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > threshold)
      .orderBy(col("bucket_n").desc)
  }

  /** (id, band) from a signature frame ((id, h0 … h{n−1})): banded LSH
    * bucket keys as 16-byte digests — shared by the batch self-pair
    * path and the incremental cross-join path. */
  private def bandFrame(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*)
        .cast("binary"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("band"))
  }

  /** Incremental (cross-snapshot) deduplication: flag docs in an
    * `incoming` batch that duplicate the `existing` corpus — the
    * production ingestion mode, where re-deduplicating the whole
    * corpus per batch would be O(corpus) work for O(batch) new data.
    * Nothing existing×existing is ever paired: the existing side
    * contributes only its digest frame and (persisted, see
    * [[signaturesFor]]) minhash signatures, both reusable across
    * batches.
    *
    * Returns one row per duplicate incoming doc:
    * (idCol, kind, match_id) with kind = 'exact' (byte-identical text;
    * match_id = smallest existing id with that digest) or 'near'
    * (shares an LSH band with an existing doc AND verified token-set
    * Jaccard ≥ `minJaccard`; match_id = smallest verified existing
    * id). A doc that is both reports 'exact'. Incoming docs absent
    * from the result are genuinely new — anti-join to keep them.
    *
    * Scale shape: the exact lane joins 16-byte digests (existing side
    * pre-shrunk to one row per distinct digest). The near lane joins
    * (band, id) pairs — band keys are uniform digests, and a hot
    * existing band (> `maxBucket` members) degrades to its smallest-id
    * representative, bounding the candidate fan-out per incoming doc
    * at `bands` × `maxBucket` (same degraded-mode contract as the
    * batch star fallback: a member-only match can be missed inside a
    * capped bucket; audit with [[bandBucketStats]]). Text never
    * shuffles with the bands — token sets are re-attached to the
    * (tiny) verified candidate set. */
  def incrementalDuplicates(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.5,
      maxBucket: Int = 256,
      existingSignatures: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // exact lane: one row per distinct existing digest, then a digest
    // equi-join — the incoming text is hashed once and never shuffled
    val eDigest = existing
      .select(md5(col(textCol).cast("binary")).as("_dig"), col(idCol).as("_e_id"))
      .groupBy("_dig").agg(min("_e_id").as("match_id"))
    val exact = incoming
      .select(col(idCol), md5(col(textCol).cast("binary")).as("_dig"))
      .join(eDigest, Seq("_dig"))
      .select(col(idCol), lit("exact").as("kind"), col("match_id"))
    // near lane: cross-side band join (NOT the batch bucket-local
    // self-pairing — incremental candidates are incoming×existing only)
    val sigE = existingSignatures.getOrElse(
      minhashSignatureAggFast(existing, idCol, textCol, k, numHashes))
    val sigI = minhashSignatureAggFast(incoming, idCol, textCol, k, numHashes)
    val byBand = Window.partitionBy("band")
    val eBand = bandFrame(sigE, numHashes, bands)
      .withColumn("_n", count(lit(1)).over(byBand))
      .withColumn("_min", min(col("id")).over(byBand))
      .filter(col("_n") <= maxBucket || col("id") === col("_min"))
      .select(col("band"), col("id").as("e_id"))
    val iBand = bandFrame(sigI, numHashes, bands)
      .select(col("band"), col("id").as("i_id"))
    val cand = iBand.join(eBand, Seq("band"))
      .select("i_id", "e_id").distinct()
    val eTok = existing.select(col(idCol).as("e_id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("e_toks"))
    val iTok = incoming.select(col(idCol).as("i_id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("i_toks"))
    val near = cand
      .join(iTok, Seq("i_id"))
      .join(eTok, Seq("e_id"))
      .withColumn("jaccard",
        size(array_intersect(col("i_toks"), col("e_toks"))).cast("double") /
          size(array_union(col("i_toks"), col("e_toks"))).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("i_id").as(idCol))
      .agg(min("e_id").as("match_id"))
      .select(col(idCol), lit("near").as("kind"), col("match_id"))
    exact.unionByName(
      near.join(exact.select(idCol), Seq(idCol), "left_anti"))
  }

  /** Sub-document (segment-level) deduplication: across the whole
    * corpus, keep only the FIRST occurrence of every distinct segment
    * (paragraph, sentence window, fixed token chunk — whatever the
    * caller split into `segsCol`), where "first" is the smallest
    * (id, position) holding it — the RefinedWeb/FineWeb-style pass
    * that strips repeated boilerplate paragraphs whole-doc dedup and
    * doc-level minhash both miss.
    *
    * Returns (idCol, n_kept, n_dropped, cleaned) — surviving segments
    * rejoined with `sep` in original order. Docs whose every segment
    * was seen earlier keep n_kept = 0 with an empty `cleaned` (the
    * caller decides whether empty docs survive).
    *
    * Scale shape: first-occurrence election is a map-side-combined
    * `groupBy(seg).agg(min(struct(id, pos)))` — a hot boilerplate
    * segment repeated in millions of docs collapses to one partial
    * per input partition BEFORE the exchange (the window-on-seg
    * formulation would sort ALL of its rows in one task). Each
    * distinct segment then contributes exactly one (doc, pos) row, so
    * docs rebuild straight off the winners frame — nothing ever joins
    * back against the exploded corpus, and no seg-keyed join exists
    * to skew. Per-doc totals ride a per-row `size(segsCol)`
    * projection lane (second source scan, no explode); for an
    * expensive computed `segsCol` pass `materialize = true` — the
    * (id, segments) projection is local-checkpointed once
    * (eager=false RDD blocks, same contract and executor-loss caveat
    * as [[graft.ext.Curation.mixToProportions]]) so segmentation runs
    * once, not once per lane. */
  def dedupSegments(
      docs: DataFrame,
      idCol: String = "doc_id",
      segsCol: String = "segments",
      sep: String = " ",
      materialize: Boolean = false): DataFrame = {
    val input = docs.select(col(idCol), col(segsCol))
    val src = if (materialize) input.localCheckpoint(eager = false) else input
    val seg = src.select(col(idCol), posexplode(col(segsCol)).as(Seq("pos", "seg")))
    val winners = seg
      .groupBy("seg")
      .agg(min(struct(col(idCol).as("id"), col("pos").as("pos"))).as("_w"))
    val kept = winners
      .groupBy(col("_w")("id").as(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("_w")("pos").as("pos"), col("seg"))))
          .as("_kept"))
    // docs with a null/empty segment array never explode -> absent,
    // matching the explode-based contract above
    src
      .filter(size(col(segsCol)) > 0)
      .select(col(idCol), size(col(segsCol)).cast("long").as("_n_total"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("_n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        concat_ws(sep, transform(col("_kept"), k => k("seg"))).as("cleaned"))
  }

  /** Cross-document novelty score: for each doc, the fraction of its
    * DISTINCT word `k`-grams that appear in NO other document —
    * corpus-level quality triage (novelty ≈ 0 means the doc is
    * assembled from text that exists elsewhere: templates, mirrors,
    * quote farms; minhash only catches whole-doc similarity, this
    * catches documents that are pastiches of MANY sources).
    *
    * Returns (idCol, n_grams, n_novel, novelty = n_novel/n_grams) for
    * every doc with ≥ 1 gram (< k tokens ⇒ no grams ⇒ absent, same as
    * the minhash path).
    *
    * Scale shape: per-doc totals are a PER-ROW projection
    * (`size(array_distinct(shingles))` — no explode, no shuffle), and
    * the novel counts ride a `groupBy(gram)` whose map-side combine
    * collapses a hot gram to one partial per input partition BEFORE
    * the exchange — a boilerplate gram appearing in millions of docs
    * costs millions of combiner updates, not a millions-row skewed
    * reduce task (the window-on-gram formulation would sort all of a
    * hot gram's rows in one task). Since grams are per-doc distinct,
    * a gram with global count 1 belongs to exactly the doc `min(id)`
    * reports, so the count-1 rows ARE the per-doc novel tallies —
    * nothing rejoins the corpus-wide gram frame. */
  def crossDocNovelty(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8): DataFrame = {
    val tokDocs = withTokenArray(docs, textCol)
    // the n_grams > 0 guard runs BEFORE the projection as its cheap
    // equivalent size(_toks) >= k (a doc has distinct grams iff it has
    // >= k tokens): filtering on the computed alias instead makes the
    // optimizer substitute the whole array_distinct(shingles) tree
    // into the predicate — the gram array built twice per row
    // (measured 2× on this lane)
    val totals = tokDocs
      .filter(size(col("_toks")) >= k)
      .select(col(idCol),
        size(array_distinct(shinglesOfTokens(col("_toks"), k)))
          .cast("long").as("n_grams"))
    val novel = tokDocs
      .select(col(idCol),
        explode(array_distinct(shinglesOfTokens(col("_toks"), k))).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("_c"), min(col(idCol)).as("_owner"))
      .filter(col("_c") === 1)
      .groupBy(col("_owner").as(idCol))
      .agg(count(lit(1)).as("n_novel"))
    totals
      .join(novel, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Near-dup cluster canonical election by PRIORITY: given the
    * verified near-dup pair graph (e.g. [[nearDuplicatePairs]] output),
    * keep per connected component the member with the HIGHEST
    * `priorityCol` (ties → lowest id) — the "keep the best copy"
    * policy real pipelines want where [[keepCanonical]]'s min-id rule
    * keeps an arbitrary one (a truncated mirror can have the smaller
    * id than the full article it duplicates). Docs outside the pair
    * graph are their own singleton cluster and always survive.
    *
    * Returns the surviving docs with their `cluster` label (the
    * component's min id, = own id for singletons) appended.
    *
    * Scale shape: components via [[Components.connectedComponents]]
    * (frontier label propagation — edge-frame-sized shuffles only),
    * one left join to attach labels (the component frame is duplicate
    * rows only, usually ≪ corpus), and the per-cluster argmax runs
    * through the two-phase [[graft.plans.TopKPerKey]] plan with k = 1:
    * each input partition ships at most ONE row per cluster into the
    * exchange — never a per-cluster sort, never a corpus-wide window. */
  def keepClusterCanonicalBy(
      docs: DataFrame,
      pairs: => DataFrame,
      priorityCol: String,
      idCol: String = "doc_id",
      components: Option[DataFrame] = None): DataFrame = {
    // callers holding a precomputed closure (the [[componentsFor]]
    // serving cache) pass it via `components` — recomputing the
    // iterative closure per election was the q92 hot spot. `pairs` is
    // BY-NAME: when a closure is supplied the pair frame is never even
    // constructed (it would be dead code). The caller owns consistency:
    // a supplied closure MUST be the components of the same pair graph
    // `pairs` denotes (the componentsFor/pairsFor cache tiers guarantee
    // this by construction — they invalidate together).
    val comp = components.getOrElse(Components.connectedComponents(pairs))
      .withColumnRenamed("id", idCol)
    val clustered = docs
      .join(comp, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol)))
      .drop("component")
    graft.plans.TopKPerKey.topKPerKey(
      clustered, Seq("cluster"), priorityCol,
      descending = true, k = 1, tiebreakCols = Seq(idCol))
  }

  /** Intra-document repeated-span removal: within EACH doc, keep only
    * the first occurrence of every distinct segment — the Gopher-style
    * "remove duplicated paragraphs within a document" scrub.
    * Complements [[dedupSegments]], which elects first occurrences
    * CORPUS-wide; here a segment repeated across docs survives in
    * every doc, only repeats inside one doc are dropped.
    *
    * Same output shape as [[dedupSegments]]: (idCol, n_kept,
    * n_dropped, cleaned).
    *
    * Scale shape: a pure per-row projection — `array_distinct` keeps
    * the FIRST occurrence of each element in order (Spark contract),
    * so there is no explode, no window, no shuffle at any scale. */
  def dedupSegmentsWithin(
      docs: DataFrame,
      idCol: String = "doc_id",
      segsCol: String = "segments",
      sep: String = " "): DataFrame = {
    val distinctSegs = array_distinct(col(segsCol))
    docs.select(col(idCol),
      size(distinctSegs).cast("long").as("n_kept"),
      (size(col(segsCol)) - size(distinctSegs)).cast("long").as("n_dropped"),
      concat_ws(sep, distinctSegs).as("cleaned"))
  }

  /** Cross-source overlap report: for every pair of sources (datasets,
    * crawls, dumps), the number of distinct word `k`-grams they share
    * and the containment ratio |A∩B| / min(|A|, |B|) — the
    * dataset-level diagnostic run before mixing corpora ("is dump B
    * just a subset of dump A?"). Pairs sharing zero grams are absent.
    *
    * Scale shape: the corpus collapses to a DISTINCT (source, gram)
    * frame first (map-side-combined; one shuffle on the gram-keyed
    * pair), so the gram self-join fans out per gram only to the
    * sources holding it — bounded by #sources² per gram, never by
    * document count. Sizes and the final ratios live on #sources and
    * #source-pairs rows. */
  def sourceOverlap(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      k: Int = 8): DataFrame = {
    val grams = withTokenArray(docs, textCol)
      .select(col(sourceCol).as("src"),
        explode(array_distinct(shinglesOfTokens(col("_toks"), k))).as("gram"))
      .distinct()
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("n"))
    val shared = grams.select(col("src").as("src_a"), col("gram"))
      .join(grams.select(col("src").as("src_b"), col("gram")), Seq("gram"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("src").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .select("src_a", "src_b", "n_shared", "n_a", "n_b", "containment")
  }

  /** Distinct character n-grams over an ALREADY-NORMALIZED (and
    * ideally attribute-materialized) text column — the gram set of
    * [[ngramJaccard]], exposed so a pairwise plan can build each row's
    * grams ONCE before the join instead of per pair (and so the
    * normalization is not re-run per gram inside the interpreted
    * transform lambda — the [[withTokenArray]] lesson, character
    * edition). */
  def charGramsOfNormalized(s: Column, n: Int = 3): Column =
    when(length(s) >= n,
      array_distinct(transform(sequence(lit(1), length(s) - lit(n - 1)),
        i => s.substr(i, lit(n)))))
      .otherwise(array())

  /** Character n-gram Jaccard similarity of two text columns — the
    * verification kernel, exposed standalone (A/B similarity without
    * LSH). Convenience form: inlines normalization and gram
    * construction per reference, so for anything beyond a few pairs
    * materialize [[TextAnalysis.normalize]] and
    * [[charGramsOfNormalized]] as attributes per side and compute
    * |∩| / (|a| + |b| − |∩|) from the materialized arrays (distinct
    * sets, so that denominator IS the union size). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    def grams(c: Column) = charGramsOfNormalized(TextAnalysis.normalize(c), n)
    val (ga, gb) = (grams(a), grams(b))
    when(size(array_union(ga, gb)) > 0,
      size(array_intersect(ga, gb)).cast("double") /
        size(array_union(ga, gb)).cast("double"))
      .otherwise(lit(0.0))
  }
}
