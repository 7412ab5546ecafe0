package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression
  * scale path of the ANN toolbox (brute force → sign-LSH → IVF → PQ):
  * each vector is split into `m` subspaces; each subspace is encoded
  * as the index of its nearest codebook centroid, so a 64-float
  * embedding becomes `m` small ints (32× smaller at m=8), and query
  * scoring is `m` table lookups per candidate (ADC — asymmetric
  * distance computation) instead of a 64-dim dot product.
  *
  * Division of labor at 100 TB:
  *   - codebook TRAINING reads a bounded deterministic sample to the
  *     driver (≤ `maxTrainRows` × dim doubles — megabytes; same
  *     contract as [[Ivf]]: only the tiny model crosses to the driver);
  *   - ENCODING is a distributed one-pass native expression
  *     ([[PqEncode]] — per row: m × k × dsub multiply-adds, codegen'd);
  *   - SEARCH scans codes with [[PqAdc]] (m array lookups per row) —
  *     the corpus read is code-bytes, not float-bytes.
  */
object Pq {

  /** Codebooks: codebooks(s)(c) = centroid c of subspace s (dsub dims). */
  type Codebooks = Array[Array[Array[Double]]]

  /** Memoized training per (session, key): PQ codebooks are a
    * build-once index artifact exactly like [[Ivf.centroidsFor]]'s
    * centroid matrix — encode/search only probe them; rebuild happens
    * through [[invalidate]] when the corpus at `key` changes. No lock:
    * a losing race trains twice and caches identical codebooks
    * (training is deterministic — hash sample + value-distinct seeds),
    * and nothing persisted can leak (the model is plain arrays). */
  def codebooksFor(
      emb: DataFrame,
      key: String,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 10): Codebooks =
    trainedCache.getOrElseUpdate((emb.sparkSession, key, m, k, iters),
      train(emb, m = m, k = k, iters = iters))

  private val trainedCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Int, Int, Int), Codebooks]

  /** Drop every trained codebook for (session, key) — the refresh path
    * after the corpus at `key` changes (mirrors [[Ivf.invalidate]]). */
  def invalidate(spark: org.apache.spark.sql.SparkSession, key: String): Unit =
    trainedCache.filterInPlace { case ((s, k2, _, _, _), _) => !((s eq spark) && k2 == key) }

  /** Train per-subspace k-means codebooks on a deterministic hash
    * sample (driver-side Lloyd — the model is m·k·dsub doubles). */
  def train(
      emb: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      m: Int = 8,
      k: Int = 16,
      iters: Int = 10,
      maxTrainRows: Int = 4096): Codebooks = {
    val total = emb.count()
    // hash filter + hard limit: the ceil'd threshold floors at 1/1e6,
    // which at extreme corpus sizes (> ~4e9 rows) would keep total/1e6
    // rows — the limit enforces the stated driver-memory bound exactly
    val sampled =
      if (total <= maxTrainRows) emb
      else emb.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) <
          lit(math.ceil(maxTrainRows.toDouble / total * 1000000L).toLong))
        .limit(maxTrainRows)
    // NULL embeddings are excluded from training (a direction-less row
    // trains nothing — the same exclusion every cosine lane applies);
    // MIXED dimensions fail loud: the per-subspace slicing below would
    // otherwise index out of bounds mid-Lloyd with an opaque error
    val rows = sampled.select(col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "empty training sample")
    val dim = rows.head.length
    require(rows.forall(_.length == dim),
      s"Pq.train: mixed embedding dimensions in the training sample " +
        s"(${rows.map(_.length).distinct.sorted.mkString(", ")}) — fix " +
        "the corpus before building a PQ index over it")
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = rows.map(_.slice(s * dsub, (s + 1) * dsub))
      kmeans(sub, k, iters)
    }
  }

  /** Deterministic driver-side Lloyd (seeds = first k VALUE-distinct
    * points — Array equality is by reference, so dedupe via toSeq;
    * duplicate seeds would freeze empty twin centroids forever). */
  private def kmeans(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val distinctSeeds = points.map(_.toSeq).distinct.take(k).map(_.toArray)
    var centroids = Array.tabulate(math.min(k, distinctSeeds.length))(distinctSeeds(_))
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](points.head.length))
      val counts = new Array[Long](centroids.length)
      points.foreach { p =>
        val c = nearest(p, centroids)
        counts(c) += 1
        var d = 0
        while (d < p.length) { sums(c)(d) += p(d); d += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  private def nearest(p: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      while (i < p.length) { val t = p(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Corpus with its PQ index columns attached: `pq_code` (array<int>,
    * length m) and `pq_res` = ‖x − recon(x)‖, the reconstruction
    * residual norm. The residual is computed once AT ENCODE TIME and
    * stored as one double per row — it is the second half of the index
    * artifact that [[topKExact]]'s bound needs, so exact search never
    * re-reads raw floats for it. */
  def withCodes(emb: DataFrame, codebooks: Codebooks,
                vecCol: String = "embedding"): DataFrame = {
    val vecExpr = () => org.apache.spark.sql.GraftColumnBridge
      .expression(col(vecCol).cast("array<double>"))
    emb.withColumn("pq_code",
        org.apache.spark.sql.GraftColumnBridge.column(PqEncode(vecExpr(), codebooks)))
      .withColumn("pq_res",
        org.apache.spark.sql.GraftColumnBridge.column(PqResidual(vecExpr(), codebooks)))
  }

  /** Per-subspace squared distances from the query to every codebook
    * centroid — the ADC lookup table (m × k doubles, built once per
    * query on the driver). */
  private def adcTable(codebooks: Codebooks, query: Array[Double]): Array[Array[Double]] = {
    val m = codebooks.length
    val dsub = query.length / m
    Array.tabulate(m) { s =>
      val q = query.slice(s * dsub, (s + 1) * dsub)
      codebooks(s).map { c =>
        var d = 0.0; var i = 0
        while (i < dsub) { val t = q(i) - c(i); d += t * t; i += 1 }
        d
      }
    }
  }

  private def adcCol(table: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(PqAdc(
      org.apache.spark.sql.GraftColumnBridge.expression(col("pq_code")), table))

  /** ADC top-k: score candidates by summed per-subspace distances from
    * the query to each code's centroid (one table lookup per
    * subspace). Returns approximate L2 distance, ascending. */
  def topK(coded: DataFrame, codebooks: Codebooks, query: Array[Double],
           k: Int, idCol: String = "vec_id"): DataFrame =
    coded.withColumn("pq_dist", adcCol(adcTable(codebooks, query)))
      .orderBy(col("pq_dist"), col(idCol))
      .limit(k)

  /** `df` plus the exact L2 distance to `query` as `_dist` — the diff
    * vector is materialized as an attribute first (interpreted HOF
    * lambdas re-evaluate children per element — the withUnit lesson),
    * then one left-to-right fold for the squared distance. */
  private def withExactDist(df: DataFrame, query: Array[Double], vecCol: String): DataFrame = {
    val qCol = array(query.map(lit): _*)
    df.withColumn("_diff", zip_with(col(vecCol).cast("array<double>"), qCol, (a, b) => a - b))
      .withColumn("_dist", sqrt(Similarity.dot(col("_diff"), col("_diff"))))
  }

  /** EXACT top-k via ADC + the residual bound (the re-rank lane with a
    * guarantee, mirror of [[Ivf.topKExact]]): `pq_dist` is the EXACT
    * squared distance from the query to a row's PQ reconstruction, so
    * by the triangle inequality ‖q−x‖ ≥ √pq_dist − ‖x−recon(x)‖. A
    * provisional exact re-rank of the ADC top-`k·refine` pool yields a
    * k-th distance d_k; only rows whose bound beats d_k (+`eps` float
    * slack — over-probes, never prunes a true neighbour) read their
    * raw floats for the final exact re-rank. The output is provably
    * the brute-force top-k (a plain exact-L2 SQL oracle verifies it)
    * while the corpus-wide scan stays code-bytes; the raw-float read
    * is bound-survivors only — selective exactly when quantization
    * residuals are small against neighbour gaps (clustered real
    * embeddings; uniform-random corpora are PQ's worst case and
    * degrade gracefully to a full re-rank, still exact). `coded` must
    * carry the [[withCodes]] index columns (`pq_code`, `pq_res`).
    * Runs Spark jobs at call time (provisional collect of k
    * distances) — a query API, not a lazy-plan builder. */
  def topKExact(coded: DataFrame, codebooks: Codebooks, query: Array[Double],
                k: Int, refine: Int = 5, eps: Double = 1e-6,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pool = withExactDist(topK(coded, codebooks, query, k * refine, idCol), query, vecCol)
      .orderBy(col("_dist"), col(idCol)).limit(k)
      .select("_dist").collect().map(_.getDouble(0))
    val dK = if (pool.length < k) Double.MaxValue else pool.last
    val survivors = coded
      .withColumn("pq_dist", adcCol(adcTable(codebooks, query)))
      .filter(sqrt(col("pq_dist")) - col("pq_res") <= dK + eps)
    withExactDist(survivors, query, vecCol)
      .withColumn("dist", round(col("_dist"), 6))
      .select(col(idCol), col("label"), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }
}

/** vec → array<int> of per-subspace nearest-centroid indices.
  * One pass: m × k × dsub fused multiply-adds per row, codegen'd. */
case class PqEncode(child: Expression, codebooks: Pq.Codebooks) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any =
    PqEncode.encode(input.asInstanceOf[ArrayData], codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.ext.PqEncode.encode($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  def encode(vec: ArrayData, codebooks: Pq.Codebooks): ArrayData = {
    val m = codebooks.length
    val dsub = vec.numElements() / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cs = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val t = vec.getDouble(s * dsub + i) - cs(c)(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** codes → Σ_s table(s)(code(s)) — the ADC score (approx L2²). */
case class PqAdc(child: Expression, table: Array[Array[Double]]) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(input: Any): Any =
    PqAdc.score(input.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcTable", table, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.ext.PqAdc.score($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)
}

object PqAdc {
  def score(codes: ArrayData, table: Array[Array[Double]]): Double = {
    var acc = 0.0
    var s = 0
    while (s < table.length) { acc += table(s)(codes.getInt(s)); s += 1 }
    acc
  }
}

/** vec → ‖vec − recon(vec)‖: the PQ reconstruction residual norm
  * (sum over subspaces of the nearest-centroid squared distance,
  * rooted). Same m × k × dsub pass as [[PqEncode]]; emitted once at
  * encode time and stored with the code. */
case class PqResidual(child: Expression, codebooks: Pq.Codebooks) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_residual"

  override def nullSafeEval(input: Any): Any =
    PqResidual.residual(input.asInstanceOf[ArrayData], codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.ext.PqResidual.residual($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqResidual =
    copy(child = newChild)
}

object PqResidual {
  def residual(vec: ArrayData, codebooks: Pq.Codebooks): Double = {
    val m = codebooks.length
    val dsub = vec.numElements() / m
    var acc = 0.0
    var s = 0
    while (s < m) {
      val cs = codebooks(s)
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val t = vec.getDouble(s * dsub + i) - cs(c)(i)
          d += t * t
          i += 1
        }
        if (d < bestD) bestD = d
        c += 1
      }
      acc += bestD
      s += 1
    }
    math.sqrt(acc)
  }
}
