package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Plan-regression harness: the formatted physical plan of every
  * query is snapshotted (normalized) and diffed against a golden file
  * under src/test/resources/plans/. A silent de-optimization — an
  * unpushed filter, a lost broadcast, a Window sneaking back in where
  * the custom top-k should plan — shows up as a plan diff even while
  * results stay correct, which is exactly the class of regression the
  * correctness gate cannot see.
  *
  * Regenerate after an INTENTIONAL plan change with:
  * {{{ GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanSnapshotSpec" }}}
  * then review the golden-file diff like any code change.
  *
  * Volatile plan fragments (expression ids, cache/statistics sizes,
  * paths, codegen ids) are normalized away — see [[PlanSnapshot.normalize]].
  */
class PlanSnapshotSpec extends SparkSpec {

  private val goldenDir = Paths.get("src/test/resources/plans")
  private val artifactDir = Paths.get("target/plan-snapshots")
  private val regen = sys.env.contains("GRAFT_REGEN_PLANS")

  test("normalizer strips volatile fragments but keeps plan shape") {
    val raw =
      """* Project (3) [id=#412]
        |+- BroadcastHashJoin [r_regionkey#12L], [n_regionkey#34L], Inner, BuildLeft, false
        |   :- Scan parquet [r_regionkey#12L] Location: InMemoryFileIndex(1 paths)[file:/root/testdata/sf0.001/region.parquet], Statistics(sizeInBytes=1234.5 KiB, rowCount=5)
        |   +- Exchange hashpartitioning(n_regionkey#34L, 32), ENSURE_REQUIREMENTS, [plan_id=77]""".stripMargin
    val norm = PlanSnapshot.normalize(raw)
    assert(!norm.contains("#12"), norm)
    assert(!norm.contains("id=#412") && !norm.contains("plan_id=77"), norm)
    assert(!norm.contains("sizeInBytes=1234.5"), norm)
    assert(!norm.contains("/root/testdata"), norm)
    assert(norm.contains("BroadcastHashJoin"), "join strategy must survive")
    assert(norm.contains("Exchange hashpartitioning"), "shuffle shape must survive")
  }

  test("comparator catches an intentional regression (broadcast lost to SMJ)") {
    val golden = PlanSnapshot.normalize(
      "BroadcastHashJoin [k#1L], [k#2L], Inner, BuildLeft, false")
    val regressed = PlanSnapshot.normalize(
      "SortMergeJoin [k#1L], [k#2L], Inner")
    assert(golden != regressed, "a lost broadcast must produce a diff")
  }

  /** Plans with benign run-to-run permutations the normalizer cannot
    * canonicalize textually. q21: RewriteDistinctAggregates assigns
    * `gid` numbers to the distinct-aggregate groups in hash order, so
    * the two count(DISTINCT) branches swap gids (and Expand projection
    * order) across JVMs — same plan, permuted labels. */
  // q110 hits the same gid permutation through Validation.profile's
  // multi-column exact distincts.
  private val skipSnapshots = Set("q21_distinct_counts", "q110_column_profile")

  test("every query's plan matches its golden snapshot") {
    // metadata strings truncate at a RAW-width cut, so expression-id
    // digit counts (which vary run to run) would shift the "..." point
    // and defeat normalization — render untruncated instead
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    Files.createDirectories(artifactDir)
    if (regen) Files.createDirectories(goldenDir)
    val dir = sf() // sf0.001 — plan shape, not data scale
    // plan over a fact this spec builds itself: a fact an earlier suite
    // persisted and ran would plan as a finished adaptive plan
    graft.analysis.EventsFact.invalidate(spark, dir)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skipSnapshots(q._1)).foreach { case (name, fn) =>
      val plan = PlanSnapshot.normalize(
        fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
      Files.writeString(artifactDir.resolve(s"$name.txt"), plan)
      val goldenFile = goldenDir.resolve(s"$name.txt")
      if (regen) Files.writeString(goldenFile, plan)
      else if (!Files.exists(goldenFile)) failures += s"$name: no golden snapshot (run with GRAFT_REGEN_PLANS=1)"
      else {
        val want = Files.readString(goldenFile)
        if (want != plan)
          failures += s"$name: plan drifted from golden (see ${artifactDir.resolve(name + ".txt")})\n" +
            PlanSnapshot.firstDiff(want, plan)
      }
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }
}

object PlanSnapshot {

  /** Strip fragments that vary run-to-run without changing the plan's
    * meaning: expression/plan/codegen ids, object addresses, absolute
    * paths, statistics and cache sizes, file counts. */
  def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#N")
      // lambda variable names draw from a GLOBAL session counter, so
      // adding a query shifts every later plan's x_NN — not a shape change
      .replaceAll("lambda ([A-Za-z]+)_\\d+", "lambda $1_N")
      // AQE materializes same-shaped sibling stages in nondeterministic
      // order, permuting their QueryStage numbers and the codegen-unit
      // ids riding below them (q30's two identical band-explode
      // subtrees swapped 5/6 across runs — same plan, permuted labels);
      // the tree structure still pins stage COUNT and placement
      .replaceAll("(ShuffleQueryStage|BroadcastQueryStage|ResultQueryStage|TableCacheQueryStage) \\d+", "$1 N")
      .replaceAll("\\*\\(\\d+\\)", "*(C)")
      .replaceAll("(?i)\\[?(plan_)?id=#?(\\d+|N)\\]?", "")
      .replaceAll("@[0-9a-fA-F]{4,}", "@ADDR")
      .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-fA-F]+", "\\$\\$Lambda")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(X)")
      .replaceAll("(sizeInBytes|rowCount|memorySize|diskSize)=[^,)\\]]+", "$1=X")
      .replaceAll("InMemoryFileIndex\\(\\d+ paths?\\)\\[[^\\]]*\\]", "InMemoryFileIndex[X]")
      .replaceAll("file:[^\\s,\\]\\)]+", "PATH")
      .replaceAll("/[-\\w./]*/(testdata|tmp|target)[-\\w./]*", "PATH")
      .replaceAll("Location: \\S+", "Location: PATH")
      .replaceAll("\\(\\d+ paths\\)", "(N paths)")
      .replaceAll("[ \t]+$", "")
      .linesIterator.map(_.stripTrailing()).mkString("\n").trim

  /** First differing line, with one line of context, for the failure
    * message (full files are in target/plan-snapshots/). */
  def firstDiff(want: String, got: String): String = {
    val w = want.linesIterator.toVector
    val g = got.linesIterator.toVector
    val i = w.zipAll(g, "<EOF>", "<EOF>").indexWhere { case (a, b) => a != b }
    if (i < 0) "(no line diff — whitespace only?)"
    else s"  line ${i + 1}:\n    golden: ${w.lift(i).getOrElse("<EOF>")}\n    actual: ${g.lift(i).getOrElse("<EOF>")}"
  }
}
