package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded inputs and the expected-result model, in plain Scala.
  *
  * Every input the engine sees is derived here from one seed: the wide
  * OWID-shaped CSV snapshots, the tidy fact a table is published from,
  * and the weekly change files. The same objects hold the answer each
  * check compares against, so no expected value comes from the engine.
  *
  * Values are kept as integer tenths of a percent (`-1` = no value), so
  * a value renders to CSV text, parses back to a double and folds into a
  * checksum without any rounding question.
  */
object Gen {

  val Antigens: Vector[String] = Vector(
    "BCG", "DTP1", "DTP3", "HepB3", "HepB_BD", "Hib3", "IPV1", "IPV2",
    "MCV1", "MCV2", "MenA", "PCV3", "Pol3", "RCV1", "RotaC", "YFV")

  /** Years a wide snapshot carries. The first two fall below the
    * ingest's [1980, 2100] filter on purpose. */
  val SnapshotYears: Range = 1978 to 2025
  val FilterLo = 1980
  /** First year a weekly change feed inserts (week w inserts FirstNewYear + w). */
  val FirstNewYear = 2026
  val HoleShare = 0.12
  val DupShare = 0.01
  val RestateShare = 0.03
  val RetractShare = 0.005

  def entityName(e: Int): String = f"Entity $e%04d"
  private def entityCode(e: Int): String = if (e % 20 == 19) "" else f"E$e%04d"

  def tenthsText(t: Int): String = s"${t / 10}.${t % 10}"

  /** One stream per (seed, purpose, index): inputs for week 3 do not
    * depend on how many values week 2 drew. */
  def rng(seed: Long, purpose: Int, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + purpose * 0x632BE59BD9B4E019L + index)

  private def clampTenths(x: Double): Int =
    math.max(0, math.min(1000, math.round(x * 10).toInt))

  /** The tidy table as a dense grid: (entity, antigen, year) → tenths,
    * `-1` where the table has no row. Years run from `yearLo` up. */
  final class Fact(val entities: Int, val yearLo: Int, val years: Int) {
    val cells: Array[Int] = Array.fill(entities * Antigens.size * years)(-1)
    def idx(e: Int, a: Int, year: Int): Int = (e * Antigens.size + a) * years + (year - yearLo)
    def apply(e: Int, a: Int, year: Int): Int =
      if (year < yearLo || year >= yearLo + years) -1 else cells(idx(e, a, year))
    def update(e: Int, a: Int, year: Int, t: Int): Unit = cells(idx(e, a, year)) = t
    def rows: Long = cells.count(_ >= 0).toLong

    /** (year, value) points of one series, ascending by year. */
    def series(e: Int, a: Int): Vector[(Int, Double)] =
      (yearLo until yearLo + years).flatMap { y =>
        val t = this(e, a, y); if (t >= 0) Some(y -> t / 10.0) else None
      }.toVector

    /** Order-independent checksum; the workloads compute the same
      * sum inside the engine (`Workload.countAndChecksum`). */
    def checksum: Long = {
      var s = 0L
      for (e <- 0 until entities; a <- Antigens.indices; y <- yearLo until yearLo + years) {
        val t = this(e, a, y)
        if (t >= 0) s += rowCrc(entityName(e), Antigens(a), y, t)
      }
      s
    }
  }

  def rowCrc(country: String, antigen: String, year: Int, tenths: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s"$country|$antigen|$year|$tenths".getBytes(UTF_8))
    c.getValue
  }

  /** Snapshot `k` of the OWID-shaped source: every (entity, antigen)
    * series has its own level, trend and campaign step from the seed;
    * each snapshot restates the noise (the weekly upstream refresh). */
  def snapshotFact(seed: Long, entities: Int, k: Int): Fact = {
    val f = new Fact(entities, SnapshotYears.start, SnapshotYears.size)
    val shape = rng(seed, 1, 0L)
    val noise = rng(seed, 2, k.toLong)
    for (e <- 0 until entities; a <- Antigens.indices) {
      val level = 40.0 + 55.0 * shape.nextDouble()
      val trend = -0.4 + 0.8 * shape.nextDouble()
      val step = -5.0 + 15.0 * shape.nextDouble()
      for (y <- SnapshotYears) {
        val hole = noise.nextDouble() < HoleShare
        val x = level + trend * (y - 2000) + (if (y >= 2000) step else 0.0) +
          6.0 * (noise.nextDouble() - 0.5)
        if (!hole) f(e, a, y) = clampTenths(x)
      }
    }
    f
  }

  /** The wide CSV of a snapshot: `Entity,Code,Year,coverage__*`, ~12%
    * empty cells and ~1% rows repeated verbatim. */
  def writeWideCsv(seed: Long, f: Fact, k: Int, out: java.io.OutputStream): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(out, UTF_8), 1 << 16)
    val dups = rng(seed, 3, k.toLong)
    w.write("Entity,Code,Year," + Antigens.map("coverage__" + _).mkString(","))
    w.write('\n')
    val sb = new java.lang.StringBuilder(256)
    for (e <- 0 until f.entities; y <- SnapshotYears) {
      sb.setLength(0)
      sb.append(entityName(e)).append(',').append(entityCode(e)).append(',').append(y)
      for (a <- Antigens.indices) {
        sb.append(',')
        val t = f(e, a, y)
        if (t >= 0) sb.append(tenthsText(t))
      }
      sb.append('\n')
      val line = sb.toString
      w.write(line)
      if (dups.nextDouble() < DupShare) w.write(line)
    }
    w.flush()
  }

  /** What the ingest must publish from a snapshot: the in-range rows. */
  def publishedModel(f: Fact): Fact = {
    val m = new Fact(f.entities, FilterLo, f.yearLo + f.years - FilterLo)
    for (e <- 0 until f.entities; a <- Antigens.indices; y <- FilterLo until f.yearLo + f.years)
      m(e, a, y) = f(e, a, y)
    m
  }

  /** A table model with room for `weeks` inserted years. */
  def tableModel(f: Fact, weeks: Int): Fact = {
    val m = new Fact(f.entities, FilterLo, FirstNewYear + weeks - FilterLo)
    for (e <- 0 until f.entities; a <- Antigens.indices; y <- FilterLo until f.yearLo + f.years)
      m(e, a, y) = f(e, a, y)
    m
  }

  def key(e: Int, a: Int, year: Int): String = s"${entityName(e)}|${Antigens(a)}|$year"

  /** The tidy fact as CSV `key,country,antigen,year,coverage_pct`. */
  def writeTidyCsv(m: Fact, out: java.io.OutputStream): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(out, UTF_8), 1 << 16)
    for (e <- 0 until m.entities; a <- Antigens.indices; y <- m.yearLo until m.yearLo + m.years) {
      val t = m(e, a, y)
      if (t >= 0) {
        w.write(key(e, a, y)); w.write(','); w.write(entityName(e)); w.write(',')
        w.write(Antigens(a)); w.write(','); w.write(y.toString); w.write(',')
        w.write(tenthsText(t)); w.write('\n')
      }
    }
    w.flush()
  }

  /** One change row; `old` is the value it replaces (-1 for an insert). */
  final case class Change(op: String, e: Int, a: Int, year: Int, tenths: Int, old: Int) {
    /** What the change does to [[Fact.checksum]]. */
    def checksumDelta: Long = {
      val c = entityName(e); val an = Antigens(a)
      (if (old >= 0) -rowCrc(c, an, year, old) else 0L) +
        (if (op != "delete") rowCrc(c, an, year, tenths) else 0L)
    }
  }

  /** Week `w`'s change file against the model `m`, which it also
    * applies to `m`: ~3% of live cells restated, a new year inserted,
    * ~0.5% retracted. `touched` marks cells an earlier week changed; the
    * feed changes each key at most once, as the merge stream requires. */
  def weekChanges(seed: Long, w: Int, m: Fact, touched: java.util.BitSet): Vector[Change] = {
    val r = rng(seed, 4, w.toLong)
    val out = Vector.newBuilder[Change]
    val newYear = FirstNewYear + w
    for (e <- 0 until m.entities; a <- Antigens.indices) {
      for (y <- m.yearLo until newYear) {
        val i = m.idx(e, a, y)
        val t = m.cells(i)
        if (t >= 0 && !touched.get(i)) {
          val u = r.nextDouble()
          if (u < RetractShare) {
            out += Change("delete", e, a, y, t, t); m.cells(i) = -1; touched.set(i)
          } else if (u < RetractShare + RestateShare) {
            val t2 = clampTenths(t / 10.0 + 8.0 * (r.nextDouble() - 0.5))
            out += Change("update", e, a, y, t2, t); m.cells(i) = t2; touched.set(i)
          }
        }
      }
      if (r.nextDouble() >= HoleShare) {
        val t = clampTenths(40.0 + 60.0 * r.nextDouble())
        out += Change("insert", e, a, newYear, t, -1)
        m(e, a, newYear) = t; touched.set(m.idx(e, a, newYear))
      }
    }
    out.result()
  }

  /** Zipf(s) ranks over `n` items, mapped through a seeded permutation:
    * a few series are hot, most are cold. */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    private val perm: Array[Int] = {
      val p = Array.range(0, n)
      val r = rng(seed, 5, 0L)
      for (i <- n - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  def writeFile(path: java.nio.file.Path)(body: java.io.OutputStream => Unit): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new FileOutputStream(path.toFile)
    try body(out) finally out.close()
  }
}
