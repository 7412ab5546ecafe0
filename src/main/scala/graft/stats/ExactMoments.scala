package graft.stats

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact (bitwise cross-engine reproducible) second moments via
  * decimal sums of floor-quantized values — the variance/covariance
  * extension of [[graft.analysis.CoverageQueries.exactAvg]]'s
  * discipline (see its scaladoc for why floor-quantization is the only
  * rounding-boundary-free bridge between engines).
  *
  * Each value is quantized once: `q = floor(x·1e6)` (one IEEE multiply,
  * exact floor → identical in every engine). All accumulation then
  * happens on integers held in DECIMAL (Spark) / HUGEINT (DuckDB), so
  * it is exact and order-independent — a plain double `var_samp` is
  * neither (FP addition is non-associative, so even two Spark runs can
  * disagree in the last bits). The final statistic is a short, fixed
  * sequence of IEEE double ops applied to exactly-equal integers, hence
  * bitwise-identical across engines and partitionings:
  *
  *   mean = toDouble(Σq) / n / 1e6                       ([[meanOf]])
  *   var  = toDouble(n·Σq² − (Σq)²) / n / (n−1) / 1e12   ([[varOf]])
  *   cov  = toDouble(n·Σqxqy − Σqx·Σqy) / n / (n−1) / 1e12
  *   corr = toDouble(Nxy) / sqrt(toDouble(Nxx) · toDouble(Nyy))
  *          (the 1/(n(n−1)·1e12) scale cancels exactly in ℝ, so corr
  *          uses the raw integer numerators N)
  *
  * [[meanOf]] and [[varOf]] take the base sums (n, Σq, Σq²) as columns,
  * so a caller that already holds them (the before/after statistics in
  * [[graft.analysis.CoverageQueries]]) finishes them without a second
  * aggregate.
  *
  * Semantics note: these are the exact moments OF THE QUANTIZED values
  * (1e-6 grid). For data already quantized at ≤6 decimals (prices,
  * quantities, percentages — every numeric column in the test tables)
  * they equal the true moments exactly.
  *
  * Domain: |x| < 2^53/1e6 ≈ 9e9 (like exactAvg), and the integer
  * numerator must fit DECIMAL(38,0) / int128 — n·(x·1e6)²·1e12 < 1e38,
  * comfortable for any realistic grouped aggregation (e.g. x ≤ 1e5,
  * n ≤ 1e12 ⇒ numerator ≤ 1e34).
  */
object ExactMoments {

  /** floor(x·1e6) as a decimal — the exact quantized accumuland.
    * (Spark's floor(double) is LongType; DECIMAL(18,0) keeps products
    * inside DECIMAL(37,0) with no precision cap in play.) */
  private[graft] def qd(c: Column): Column = floor(c * lit(1e6)).cast("decimal(18,0)")

  // HUGEINT (int128): q for price-scale values is ~1e11, so q² (~1e22)
  // overflows DuckDB's BIGINT; the Spark side's DECIMAL(18,0) products
  // land in DECIMAL(37,0) and have the same headroom.
  private def qdSql(e: String): String = s"CAST(floor(($e) * 1000000.0) AS HUGEINT)"

  /** Integer numerator n·Σq² − (Σq)² over the base sums. */
  private def varNumOf(n: Column, s1: Column, s2: Column): Column =
    n.cast("decimal(18,0)") * s2 - s1 * s1

  /** [[varNumOf]] of `c` — NULL-safe: rows where `c` is NULL count
    * into neither sum nor n (aggregate null-skip). */
  private def varNum(c: Column): Column =
    varNumOf(count(c), sum(qd(c)), sum(qd(c) * qd(c)))

  private def varNumSql(e: String): String =
    s"count($e) * sum(${qdSql(e)} * ${qdSql(e)}) - sum(${qdSql(e)}) * sum(${qdSql(e)})"

  /** The mean over base sums (n, Σq): toDouble(Σq) / n / 1e6. NULL at
    * n = 0 (Σq is NULL there, and NULL/0 is NULL even under ANSI). */
  def meanOf(n: Column, s1: Column): Column = s1.cast("double") / n / lit(1e6)

  /** The sample variance (ddof=1) over base sums (n, Σq, Σq²); NULL
    * when n < 2 (mirrors var_samp, and keeps the 0/0 path unevaluated
    * so engines can't disagree on NaN-vs-NULL). */
  def varOf(n: Column, s1: Column, s2: Column): Column =
    when(n > 1, varNumOf(n, s1, s2).cast("double") / n / (n - lit(1)) / lit(1e12))

  /** Exact sample variance (ddof=1) of the quantized values. */
  def exactVar(c: Column): Column = varOf(count(c), sum(qd(c)), sum(qd(c) * qd(c)))

  def exactVarSql(e: String): String =
    s"""CASE WHEN count($e) > 1 THEN
       |    CAST(${varNumSql(e)} AS DOUBLE) / count($e) / (count($e) - 1) / 1000000000000.0
       |  END""".stripMargin

  def exactStddev(c: Column): Column = sqrt(exactVar(c))

  def exactStddevSql(e: String): String = s"sqrt(${exactVarSql(e)})"

  // ---- bivariate ----------------------------------------------------
  // covar/corr skip rows where EITHER side is NULL (var_samp-family
  // semantics); the pair mask is applied to both inputs first.

  private def pairMask(x: Column, y: Column): (Column, Column) =
    (when(y.isNotNull, x), when(x.isNotNull, y))

  private def covNum(x: Column, y: Column): Column = {
    val (px, py) = pairMask(x, y)
    count(px).cast("decimal(18,0)") * sum(qd(px) * qd(py)) - sum(qd(px)) * sum(qd(py))
  }

  /** Exact sample covariance (ddof=1) of the quantized pairs. */
  def exactCovar(x: Column, y: Column): Column = {
    val (px, _) = pairMask(x, y)
    when(count(px) > 1,
      covNum(x, y).cast("double") / count(px) / (count(px) - lit(1)) / lit(1e12))
  }

  /** Exact Pearson correlation: integer numerators, scale cancels. */
  def exactCorr(x: Column, y: Column): Column = {
    val (px, py) = pairMask(x, y)
    when(count(px) > 1 && varNum(px) > 0 && varNum(py) > 0,
      covNum(x, y).cast("double") /
        sqrt(varNum(px).cast("double") * varNum(py).cast("double")))
  }

  /** Exact simple linear regression of y on x — the numerators are the
    * same exact integers as covariance/variance, and the 1/(n(n−1)1e12)
    * scale CANCELS in slope and R², so both are pure ratios of exactly-
    * equal values (bitwise cross-engine, like exactCorr):
    *
    *   slope     = Nxy / Nxx
    *   intercept = mean_y − slope · mean_x   (exactAvg means)
    *   r²        = Nxy² / (Nxx · Nyy)
    */
  def exactSlope(y: Column, x: Column): Column = {
    val (px, py) = pairMask(x, y)
    when(count(px) > 1 && varNum(px) > 0,
      covNum(x, y).cast("double") / varNum(px).cast("double"))
  }

  def exactIntercept(y: Column, x: Column): Column = {
    val (px, py) = pairMask(x, y)
    val meanX = meanOf(count(px), sum(qd(px)))
    val meanY = meanOf(count(px), sum(qd(py)))
    when(count(px) > 1 && varNum(px) > 0, meanY - exactSlope(y, x) * meanX)
  }

  def exactR2(y: Column, x: Column): Column = {
    val (px, py) = pairMask(x, y)
    val nxy = covNum(x, y).cast("double")
    when(count(px) > 1 && varNum(px) > 0 && varNum(py) > 0,
      nxy * nxy / (varNum(px).cast("double") * varNum(py).cast("double")))
  }

  def exactSlopeSql(y: String, x: String): String = {
    val px = s"CASE WHEN ($y) IS NOT NULL THEN ($x) END"
    val py = s"CASE WHEN ($x) IS NOT NULL THEN ($y) END"
    val num = s"count($px) * sum(${qdSql(px)} * ${qdSql(py)}) - sum(${qdSql(px)}) * sum(${qdSql(py)})"
    s"""CASE WHEN count($px) > 1 AND ${varNumSql(px)} > 0 THEN
       |    CAST($num AS DOUBLE) / CAST(${varNumSql(px)} AS DOUBLE)
       |  END""".stripMargin
  }

  def exactInterceptSql(y: String, x: String): String = {
    val px = s"CASE WHEN ($y) IS NOT NULL THEN ($x) END"
    val py = s"CASE WHEN ($x) IS NOT NULL THEN ($y) END"
    val meanX = s"CAST(sum(${qdSql(px)}) AS DOUBLE) / count($px) / 1000000.0"
    val meanY = s"CAST(sum(${qdSql(py)}) AS DOUBLE) / count($px) / 1000000.0"
    // parens around meanX: without them DuckDB's left-associative * /
    // would multiply before the divides — a different IEEE op order
    // than Spark's slope * ((sum/count)/1e6), off by an ulp
    s"""CASE WHEN count($px) > 1 AND ${varNumSql(px)} > 0 THEN
       |    $meanY - (${exactSlopeSql(y, x)}) * ($meanX)
       |  END""".stripMargin
  }

  def exactR2Sql(y: String, x: String): String = {
    val px = s"CASE WHEN ($y) IS NOT NULL THEN ($x) END"
    val py = s"CASE WHEN ($x) IS NOT NULL THEN ($y) END"
    val num = s"count($px) * sum(${qdSql(px)} * ${qdSql(py)}) - sum(${qdSql(px)}) * sum(${qdSql(py)})"
    s"""CASE WHEN count($px) > 1 AND ${varNumSql(px)} > 0 AND ${varNumSql(py)} > 0 THEN
       |    CAST($num AS DOUBLE) * CAST($num AS DOUBLE) /
       |      (CAST(${varNumSql(px)} AS DOUBLE) * CAST(${varNumSql(py)} AS DOUBLE))
       |  END""".stripMargin
  }

  /** DuckDB mirrors. `x`/`y` must be plain column names or parenthesized
    * expressions; the pair mask is written out with CASE. */
  def exactCovarSql(x: String, y: String): String = {
    val px = s"CASE WHEN ($y) IS NOT NULL THEN ($x) END"
    val py = s"CASE WHEN ($x) IS NOT NULL THEN ($y) END"
    val num = s"count($px) * sum(${qdSql(px)} * ${qdSql(py)}) - sum(${qdSql(px)}) * sum(${qdSql(py)})"
    s"""CASE WHEN count($px) > 1 THEN
       |    CAST($num AS DOUBLE) / count($px) / (count($px) - 1) / 1000000000000.0
       |  END""".stripMargin
  }

  def exactCorrSql(x: String, y: String): String = {
    val px = s"CASE WHEN ($y) IS NOT NULL THEN ($x) END"
    val py = s"CASE WHEN ($x) IS NOT NULL THEN ($y) END"
    val num = s"count($px) * sum(${qdSql(px)} * ${qdSql(py)}) - sum(${qdSql(px)}) * sum(${qdSql(py)})"
    s"""CASE WHEN count($px) > 1 AND ${varNumSql(px)} > 0 AND ${varNumSql(py)} > 0 THEN
       |    CAST($num AS DOUBLE) /
       |      sqrt(CAST(${varNumSql(px)} AS DOUBLE) * CAST(${varNumSql(py)} AS DOUBLE))
       |  END""".stripMargin
  }
}
