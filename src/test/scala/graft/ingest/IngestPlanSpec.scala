package graft.ingest

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.model.Schemas

/** Both plan shapes of [[WideCsvIngest.writeFact]] on the golden wide
  * CSV: a raw frame at most `spark.sql.files.openCostInBytes` publishes
  * in one stage (no `Exchange`, one job), a larger one shuffles once on
  * `country` and dedups inside that layout, and both publish the same
  * rows in the same order. Also the job count of a whole
  * [[EtlCli.run]] with a selection. */
class IngestPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val OpenCost = "spark.sql.files.openCostInBytes"
  private val golden = IngestSpec.writeCsv(tempDir("graft_csv"), IngestSpec.GoldenWideCsv)

  /** The golden fixture's fact in PK order; the exact-duplicate India
    * 2000 row collapses to one row per antigen. */
  private val expected = Seq(
    Row("India", "dtp3", 1999, 85.5),
    Row("India", "dtp3", 2000, 86.0),
    Row("India", "mcv1", 2000, 70.0),
    Row("World", "dtp3", 2000, 90.0),
    Row("World", "mcv1", 2000, 80.0))

  private def withOpenCost[T](bytes: Long)(f: => T): T = {
    val prev = spark.conf.get(OpenCost)
    spark.conf.set(OpenCost, bytes.toString)
    try f finally spark.conf.set(OpenCost, prev)
  }

  /** One `writeFact` of the golden CSV into a fresh directory: the jobs
    * it started, its executed plan, and the rows of each part file in
    * file order. */
  private def publish(): (Int, SparkPlan, Seq[Seq[Row]]) = {
    val raw = WideCsvIngest.readWideCsv(spark, golden)
    val out = tempDir("graft_ingest_plan").resolve("fact").toString
    val plan = new AtomicReference[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.toString.contains(out)) plan.set(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the fence inside jobsStarted also drains the (shared, ordered)
    // listener queue that delivers the execution-end event
    val jobs = try jobsStarted(WideCsvIngest.writeFact(raw, out))
    finally spark.listenerManager.unregister(listener)
    val files = new java.io.File(out).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val rows = files.map(f => spark.read.schema(Schemas.coverage).parquet(f).collect().toSeq)
    (jobs, Option(plan.get).getOrElse(fail("no execution-end event for the write")), rows)
  }

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  private def pkOrder(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(r => (r.getString(0), r.getString(1), r.getInt(2)))

  test("a tiny wide CSV publishes in one stage and one job") {
    val (jobs, plan, files) = publish()
    assert(exchanges(plan).isEmpty, s"tiny input must plan with no Exchange:\n$plan")
    assert(jobs === 1)
    assert(files === Seq(expected))
  }

  test("a large wide CSV shuffles once, on country, before the dedup") {
    val csvBytes = Files.size(java.nio.file.Paths.get(golden))
    val (jobs, plan, files) = withOpenCost(csvBytes - 1)(publish())

    val shuffles = exchanges(plan)
    assert(shuffles.size == 1, s"expected one Exchange:\n$plan")
    val shuffle = shuffles.head
    shuffle.outputPartitioning match {
      case HashPartitioning(Seq(key: Attribute), _) => assert(key.name == "country", plan)
      case other => fail(s"expected hashpartitioning(country), got $other")
    }
    // every dedup aggregate (partial and final) sits above that one shuffle
    val dedups = collect(plan) {
      case a: BaseAggregateExec
          if a.groupingExpressions.map(_.name) == Seq("country", "antigen", "year") => a
    }
    assert(dedups.nonEmpty, s"no dedup aggregate:\n$plan")
    dedups.foreach(a => assert(exchanges(a).map(_.id) == Seq(shuffle.id),
      s"a second shuffle below the dedup:\n$plan"))
    assert(jobs === 2) // the shuffle's map stage, then the write

    // the one-stage publish's rows, each file in PK order
    files.foreach(f => assert(f === pkOrder(f), "a part file is not in PK order"))
    assert(pkOrder(files.flatten) === expected)
  }

  test("EtlCli.run with a selection starts exactly 6 Spark jobs") {
    val out = tempDir("graft_ingest_cli").resolve("warehouse").toString
    val cfg = EtlCli.Config(source = golden, out = out,
      country = Some("India"), antigen = Some("dtp3"))
    // CSV header + schema inference, raw write, fact publish, series
    // collect, stats collect: no parquet schema inference, no CSV job
    assert(jobsStarted(EtlCli.run(spark, cfg)) === 6)
  }
}
