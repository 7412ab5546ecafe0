package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: a Spark plan plus (when SQL-expressible)
  * its DuckDB oracle. Column names/aliases must match between the two —
  * the driver's compare sorts columns by name before hashing.
  *
  * Float discipline (so cross-engine hash comparison is stable):
  *   - per-row arithmetic: left exact (IEEE ops are order-free);
  *   - second moments and the statistics built on them (var/cov/corr/
  *     t/df/regression): exact decimal-integer accumulation
  *     ([[graft.stats.ExactMoments]]) — order-independent AND
  *     bitwise-mirrorable, so q05/q39/q54/q64 compare UNROUNDED
  *     (round-2 upgrade; the old 4-decimal rounding bridge remains
  *     only where a transcendental enters, e.g. q65's ln);
  *   - double sums over RAW decimal-quantized inputs (prices,
  *     quantities — values sitting on their own decimal grid):
  *     accumulated as DECIMAL (exact, order-free) and cast back;
  *   - means over DERIVED doubles (quotients, sqrt — anything off-grid):
  *     floor-quantized integer accumulation
  *     ([[graft.analysis.CoverageQueries.exactAvg]]) — a DECIMAL cast
  *     is NOT safe there: a quotient S/n sits exactly on a .5 rounding
  *     boundary whenever n is even, and engines disagree on half-way
  *     rounding (Spark HALF_UP on the exact binary value, DuckDB
  *     nearest-even on the scaled double). floor has no half-way case.
  *     Found by running the oracle diff at sf0.1: ~50 groups × even n
  *     hit real boundary flips that sf0.01 never exposed.
  *   - sort keys: never nullable (Spark sorts NULLS FIRST, DuckDB
  *     NULLS LAST).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))
}
