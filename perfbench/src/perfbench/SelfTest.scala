package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Checks of the input generator, no Spark involved:
  * `python3 perfbench/run.py --selftest`. Exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(ok: Boolean): Unit =
    if (ok) println(s"ok   $what") else { failures += 1; println(s"FAIL $what") }

  private def within(x: Double, target: Double, tol: Double) = math.abs(x - target) <= tol

  private def csvBytes(seed: Long, entities: Int, k: Int): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    Gen.writeWideCsv(seed, Gen.snapshotFact(seed, entities, k), k, b)
    b.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val entities = 300
    val a = csvBytes(7L, entities, 0)
    expect("one seed gives identical wide-CSV bytes")(java.util.Arrays.equals(a, csvBytes(7L, entities, 0)))
    expect("another seed gives other bytes")(!java.util.Arrays.equals(a, csvBytes(8L, entities, 0)))
    expect("another snapshot gives other bytes")(!java.util.Arrays.equals(a, csvBytes(7L, entities, 1)))

    // parse the CSV back the way the ingest reads it
    val lines = new String(a, UTF_8).split('\n').toSeq
    val header = lines.head.split(',')
    expect("header is Entity,Code,Year + 16 coverage columns")(
      header.take(3).sameElements(Array("Entity", "Code", "Year")) &&
        header.drop(3).forall(_.startsWith("coverage__")) && header.length == 19)
    val rows = lines.tail.map(_.split(",", -1))
    val cells = rows.flatMap(_.drop(3))
    val holes = cells.count(_.isEmpty).toDouble / cells.size
    expect(f"empty-cell share $holes%.4f is ~12%%")(within(holes, Gen.HoleShare, 0.005))
    val dups = (rows.size - rows.map(_.mkString(",")).distinct.size).toDouble / rows.size
    expect(f"duplicate-row share $dups%.4f is ~1%%")(within(dups, Gen.DupShare, 0.003))
    val outOfRange = rows.count(_(2).toInt < Gen.FilterLo).toDouble / rows.size
    expect(f"out-of-range row share $outOfRange%.4f is 2/48")(within(outOfRange, 2.0 / 48, 0.002))

    // the model equals the CSV after the ingest's filter and key dedup
    val tidy = rows.filter(_(2).toInt >= Gen.FilterLo).flatMap { r =>
      r.drop(3).zipWithIndex.collect { case (v, i) if v.nonEmpty =>
        (r(0), Gen.Antigens(i), r(2).toInt, math.round(v.toDouble * 10).toInt) }
    }.distinct
    val model = Gen.publishedModel(Gen.snapshotFact(7L, entities, 0))
    expect("published model has the CSV's tidy rows")(model.rows == tidy.size.toLong)
    expect("published model checksum matches the CSV's")(model.checksum ==
      tidy.map { case (c, an, y, t) => Gen.rowCrc(c, an, y, t) }.sum)

    // weekly change feeds
    def feed(seed: Long) = {
      val m = Gen.tableModel(Gen.snapshotFact(seed, entities, 0), 4)
      val touched = new java.util.BitSet(m.cells.length)
      val weeks = (0 until 4).map(w => Gen.weekChanges(seed, w, m, touched))
      (weeks, m)
    }
    val (weeks, after) = feed(7L)
    expect("one seed gives identical change feeds")(weeks == feed(7L)._1)
    val live0 = model.rows.toDouble
    val w0 = weeks.head
    val restated = w0.count(_.op == "update") / live0
    val retracted = w0.count(_.op == "delete") / live0
    val inserted = w0.count(_.op == "insert").toDouble / (entities * Gen.Antigens.size)
    expect(f"restated share $restated%.4f is ~3%%")(within(restated, Gen.RestateShare, 0.003))
    expect(f"retracted share $retracted%.4f is ~0.5%%")(within(retracted, Gen.RetractShare, 0.001))
    expect(f"new-year share $inserted%.4f is ~88%%")(within(inserted, 1 - Gen.HoleShare, 0.02))
    expect("inserts land in the week's new year")(
      w0.filter(_.op == "insert").forall(_.year == Gen.FirstNewYear))
    val keys = weeks.flatten.map(c => (c.e, c.a, c.year))
    expect("each key changes at most once across the feed")(keys.distinct.size == keys.size)
    expect("the model after four weeks holds the applied changes")(weeks.flatten.forall { c =>
      after(c.e, c.a, c.year) == (if (c.op == "delete") -1 else c.tenths) })

    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all generator checks passed")
  }
}
