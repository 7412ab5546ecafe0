package graft.stats

import org.apache.commons.math3.distribution.TDistribution
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Input sample: a value tagged with which side of the campaign window it
  * falls on (after = true ⇒ the [start, start+post] window). */
final case class WelchIn(value: Double, after: Boolean)

/** Mergeable moment buffer: (n, mean, M2) per side — Chan et al.'s
  * parallel variance formulation, so any partitioning of the input
  * merges to the same result (required: Spark combines partial
  * aggregates in arbitrary order). */
final case class WelchBuf(
    nB: Long, meanB: Double, m2B: Double,
    nA: Long, meanA: Double, m2A: Double)

/** Full Welch result; fields null (boxed None→null) when a side has n<2,
  * mirroring the reference's guard that skips the t-test unless both
  * windows have >1 point (`/root/reference/etl_pipeline.py:136-139`). */
final case class WelchOut(
    n_before: Long, n_after: Long,
    mean_before: Option[Double], mean_after: Option[Double],
    var_before: Option[Double], var_after: Option[Double],
    t_stat: Option[Double], welch_df: Option[Double], p_value: Option[Double])

/** Welch two-sample t-test (unequal variance) as a typed Spark
  * `Aggregator` — the one genuinely custom aggregate the reference
  * surface needs (`scipy.stats.ttest_ind(..., equal_var=False)`,
  * `/root/reference/etl_pipeline.py:137`). Partial-mergeable, so it
  * runs as a normal two-phase (partial + final) hash aggregate with
  * map-side combine: at 100 TB each executor reduces its partitions to
  * one 48-byte buffer per group before the shuffle.
  */
object WelchTTest extends Aggregator[WelchIn, WelchBuf, WelchOut] {

  override def zero: WelchBuf = WelchBuf(0L, 0.0, 0.0, 0L, 0.0, 0.0)

  private def step(n: Long, mean: Double, m2: Double, x: Double): (Long, Double, Double) = {
    val n1 = n + 1
    val d = x - mean
    val mean1 = mean + d / n1
    (n1, mean1, m2 + d * (x - mean1))
  }

  override def reduce(b: WelchBuf, in: WelchIn): WelchBuf =
    if (in.after) {
      val (n, m, m2) = step(b.nA, b.meanA, b.m2A, in.value)
      b.copy(nA = n, meanA = m, m2A = m2)
    } else {
      val (n, m, m2) = step(b.nB, b.meanB, b.m2B, in.value)
      b.copy(nB = n, meanB = m, m2B = m2)
    }

  private def mergeSide(n1: Long, mean1: Double, m21: Double,
                        n2: Long, mean2: Double, m22: Double): (Long, Double, Double) = {
    if (n1 == 0) (n2, mean2, m22)
    else if (n2 == 0) (n1, mean1, m21)
    else {
      val n = n1 + n2
      val d = mean2 - mean1
      // Chan's update: numerically stable for n1 ≈ n2 and n1 >> n2 alike.
      val mean = mean1 + d * n2 / n
      val m2 = m21 + m22 + d * d * n1.toDouble * n2.toDouble / n
      (n, mean, m2)
    }
  }

  override def merge(x: WelchBuf, y: WelchBuf): WelchBuf = {
    val (nb, mb, m2b) = mergeSide(x.nB, x.meanB, x.m2B, y.nB, y.meanB, y.m2B)
    val (na, ma, m2a) = mergeSide(x.nA, x.meanA, x.m2A, y.nA, y.meanA, y.m2A)
    WelchBuf(nb, mb, m2b, na, ma, m2a)
  }

  override def finish(b: WelchBuf): WelchOut = {
    def side(n: Long, mean: Double, m2: Double) =
      (if (n > 0) Some(mean) else None, if (n > 1) Some(m2 / (n - 1)) else None)
    val (meanB, varB) = side(b.nB, b.meanB, b.m2B)
    val (meanA, varA) = side(b.nA, b.meanA, b.m2A)
    Welch.finish(b.nB, meanB, varB, b.nA, meanA, varA)
  }

  override def bufferEncoder: Encoder[WelchBuf] = Encoders.product[WelchBuf]
  override def outputEncoder: Encoder[WelchOut] = Encoders.product[WelchOut]
}

/** Exact-lane buffer: per side n, Σq (q = floor(x·1e6), a long) and
  * Σq²·1e-12 held as a BigDecimal (exact; the 1e-12 scaling keeps the
  * value inside the product-encoder's DECIMAL(38,18) — integer part
  * bound ~1e20, i.e. Σx² < 1e20, ample for percent/price-scale data). */
final case class WelchExactBuf(
    nB: Long, s1B: Long, s2B: BigDecimal,
    nA: Long, s1A: Long, s2A: BigDecimal)

/** [[WelchTTest]]'s bitwise-reproducible sibling: instead of Welford/
  * Chan double moments it accumulates EXACT integer sums of the
  * floor-quantized values ([[graft.stats.ExactMoments]] discipline).
  * Merging integer sums is trivially associative AND exact, so the
  * result is identical under any partitioning — and identical to the
  * relational/DuckDB formula applied to the same integers, which makes
  * the t/df outputs oracle-checkable with no rounding bridge (q39).
  *
  * Trade-off vs [[WelchTTest]]: values are read on the 1e-6 grid
  * (exact for data quantized at ≤6 decimals; a documented 1e-6
  * truncation otherwise) and the domain is |x| < 9e9, Σx² < 1e20.
  * All BigDecimal arithmetic goes through the java.math API — scala's
  * operators apply MathContext.DECIMAL128 (34 digits) and could round. */
object WelchExactTTest extends Aggregator[WelchIn, WelchExactBuf, WelchOut] {

  private val Zero = BigDecimal(java.math.BigDecimal.ZERO)

  override def zero: WelchExactBuf = WelchExactBuf(0L, 0L, Zero, 0L, 0L, Zero)

  private def addExact(x: BigDecimal, y: BigDecimal): BigDecimal =
    BigDecimal(x.bigDecimal.add(y.bigDecimal))

  /** q²·1e-12, exactly (movePointLeft is a scale shift, no rounding). */
  private def sqScaled(q: Long): BigDecimal = {
    val j = java.math.BigDecimal.valueOf(q)
    BigDecimal(j.multiply(j).movePointLeft(12))
  }

  override def reduce(b: WelchExactBuf, in: WelchIn): WelchExactBuf = {
    val q = math.floor(in.value * 1e6).toLong
    if (in.after) b.copy(nA = b.nA + 1, s1A = b.s1A + q, s2A = addExact(b.s2A, sqScaled(q)))
    else b.copy(nB = b.nB + 1, s1B = b.s1B + q, s2B = addExact(b.s2B, sqScaled(q)))
  }

  override def merge(x: WelchExactBuf, y: WelchExactBuf): WelchExactBuf =
    WelchExactBuf(
      x.nB + y.nB, x.s1B + y.s1B, addExact(x.s2B, y.s2B),
      x.nA + y.nA, x.s1A + y.s1A, addExact(x.s2A, y.s2A))

  /** Mirrors ExactMoments.meanOf: toDouble(Σq) / n / 1e6, same op order. */
  private def meanOf(n: Long, s1: Long): Option[Double] =
    if (n > 0) Some(s1.toDouble / n / 1e6) else None

  /** Mirrors ExactMoments.varOf: toDouble(n·Σq² − (Σq)²) / n / (n−1) / 1e12. */
  private def varOf(n: Long, s1: Long, s2: BigDecimal): Option[Double] =
    if (n > 1) {
      val s2q = s2.bigDecimal.movePointRight(12) // Σq², exact integer
      val s1j = java.math.BigDecimal.valueOf(s1)
      val num = s2q.multiply(java.math.BigDecimal.valueOf(n)).subtract(s1j.multiply(s1j))
      Some(num.doubleValue / n / (n - 1) / 1e12)
    } else None

  override def finish(b: WelchExactBuf): WelchOut =
    Welch.finish(b.nB, meanOf(b.nB, b.s1B), varOf(b.nB, b.s1B, b.s2B),
      b.nA, meanOf(b.nA, b.s1A), varOf(b.nA, b.s1A, b.s2A))

  override def bufferEncoder: Encoder[WelchExactBuf] = Encoders.product[WelchExactBuf]
  override def outputEncoder: Encoder[WelchOut] = Encoders.product[WelchOut]
}

/** The one scalar Welch finish both aggregators share: t, df and the
  * two-sided p from per-side (n, mean, var), in the same IEEE op chains
  * as StudentT.welchT / welchDf. No test unless both sides have n>1 —
  * the reference's guard (`etl_pipeline.py:136`). */
private object Welch {
  def finish(nB: Long, meanB: Option[Double], varB: Option[Double],
             nA: Long, meanA: Option[Double], varA: Option[Double]): WelchOut = {
    val test = for { vb <- varB; va <- varA; mb <- meanB; ma <- meanA } yield {
      val (a, c) = (vb / nB, va / nA)
      val se2 = a + c
      val t = (mb - ma) / math.sqrt(se2)
      val df = se2 * se2 / (a * a / (nB - 1) + c * c / (nA - 1))
      val p = 2.0 * (1.0 - new TDistribution(df).cumulativeProbability(math.abs(t)))
      (t, df, p)
    }
    WelchOut(nB, nA, meanB, meanA, varB, varA, test.map(_._1), test.map(_._2), test.map(_._3))
  }
}
