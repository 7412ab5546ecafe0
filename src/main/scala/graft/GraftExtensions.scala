package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.ext.SimHash64
import graft.stats.{TCdf, TPpf}

/** The engine as an installable Spark extension: register with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`).
  * Every engine session is built with it, through `GraftExtensions.builder`.
  * The engine's native expressions become SQL functions — the SURVEY
  * §7.3 "(c)" integration path, so a SQL-only user of the library needs
  * no Scala imports:
  *
  *   - `simhash64(tokens)`    — 64-bit SimHash of a string array
  *     ([[graft.ext.SimHash64]])
  *   - `t_cdf(x, df)`         — Student-t CDF ([[graft.stats.TCdf]])
  *   - `t_ppf(p, df)`         — Student-t quantile ([[graft.stats.TPpf]])
  *   - `vec_dot(a, b)`        — array<double> dot product
  *     ([[graft.ext.DotProduct]])
  *   - `text_profile(text)`   — single-pass token/char/stopword struct
  *     ([[graft.ext.TextProfile]])
  *   - `z_value(x, y)` / `z_value3(x, y, z)` — Morton/Z-order curve
  *     index ([[graft.ext.Layout]] — composed bitwise expressions)
  *
  * All are codegen'd `Expression` trees, not UDFs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // the custom grouped-top-k physical operator (graft.plans)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // rewrite row_number-top-k window patterns onto that operator
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
  }
}

object GraftExtensions {

  /** Arity gate for the scalar builders: a wrong-arity SQL call gets
    * a named error instead of a bare IndexOutOfBoundsException out of
    * the analyzer (the table functions carry their own requires). */
  private def nArgs(fn: String, n: Int, children: Seq[Expression]): Seq[Expression] = {
    require(children.size == n,
      s"$fn expects $n argument" + (if (n == 1) "" else "s") +
        s", got ${children.size}")
    children
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "misc_funcs", "", "", "built-in")

  import graft.stats.TDistExpression.toDouble

  /** The SQL function surface. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash fingerprint of an array<string>"),
      (children: Seq[Expression]) => SimHash64(nArgs("simhash64", 1, children).head)),
    (FunctionIdentifier("t_cdf"),
      info("t_cdf", "t_cdf(x, df) - Student-t cumulative distribution function"),
      (children: Seq[Expression]) => { nArgs("t_cdf", 2, children); TCdf(toDouble(children(0)), toDouble(children(1))) }),
    (FunctionIdentifier("t_ppf"),
      info("t_ppf", "t_ppf(p, df) - Student-t quantile (inverse CDF)"),
      (children: Seq[Expression]) => { nArgs("t_ppf", 2, children); TPpf(toDouble(children(0)), toDouble(children(1))) }),
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two array<double> vectors"),
      (children: Seq[Expression]) => { nArgs("vec_dot", 2, children); graft.ext.DotProduct(children(0), children(1)) }),
    (FunctionIdentifier("text_profile"),
      info("text_profile",
        "text_profile(text) - struct(n_tokens, n_distinct, n_punct, n_chars, stop_hits) in one scan"),
      (children: Seq[Expression]) => graft.ext.TextProfile(
        nArgs("text_profile", 1, children).head, graft.ext.TextAnalysis.stopwordsByLang)),
    // z_value builders compose existing codegen'd bitwise expressions
    // (the Layout mask ladder), so SQL users get the layout key
    // without any custom Expression class
    (FunctionIdentifier("z_value"),
      info("z_value", "z_value(x, y) - 2-D Morton/Z-order curve index of two 16-bit dims"),
      (children: Seq[Expression]) => { nArgs("z_value", 2, children)
        graft.ext.Layout.zValueExpr(children(0), children(1)) }),
    (FunctionIdentifier("z_value3"),
      info("z_value3", "z_value3(x, y, z) - 3-D Morton/Z-order curve index of three 21-bit dims"),
      (children: Seq[Expression]) => { nArgs("z_value3", 3, children)
        graft.ext.Layout.zValue3Expr(children(0), children(1), children(2)) }),
    (FunctionIdentifier("cdc_chunks"),
      info("cdc_chunks",
        "cdc_chunks(text) - content-defined chunks (Rabin rolling hash) of a string"),
      (children: Seq[Expression]) => graft.ext.CdcChunks(nArgs("cdc_chunks", 1, children).head)),
  )

  // ---- SQL TABLE functions: the transactional-table surface ----

  /** Evaluate a TVF argument that must be a literal. TVF arguments
    * are table IDENTITY (which table, which version), not per-row
    * data, so they must be known at analysis time — exactly Delta's
    * `delta.'/path'` / `VERSION AS OF` contract in TVF clothing. */
  private def litArg(e: Expression, fn: String, what: String): Any = {
    require(e.foldable, s"$fn(...): $what must be a literal, got $e")
    val v = e.eval()
    require(v != null, s"$fn(...): $what must not be NULL")
    v
  }
  private def litString(e: Expression, fn: String, what: String): String =
    litArg(e, fn, what).toString
  private def litLong(e: Expression, fn: String, what: String): Long =
    litArg(e, fn, what) match {
      case l: Long => l
      case i: Int => i.toLong
      case other => sys.error(s"$fn(...): $what must be an integer, got $other")
    }

  /** The analyzed plan of an engine-built DataFrame, handed back to
    * the analyzer as the TVF's relation. Building it calls the
    * engine's own reader, so manifest file pruning, DV subtraction,
    * schema-per-commit-dir resolution and time travel all behave
    * exactly as the Scala API — the TVF is a NAME for the same plan,
    * not a parallel implementation. */
  private def planOf(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** SQL access to the transactional table layer ([[graft.ext.TxTable]])
    * — a SQL-only user gets snapshots, time travel, DESCRIBE HISTORY
    * and the CDC feed without touching Scala:
    *
    *   - `tx_table('/dir')` / `tx_table('/dir', 3)` — snapshot read,
    *     optionally AS OF a version (DV subtraction, manifest schemas
    *     and skipping stats all apply — it is [[graft.ext.TxTable.read]])
    *   - `tx_history('/dir')` — DESCRIBE HISTORY off the commit log
    *   - `tx_changes('/dir', vFrom, vTo, 'key')` — the net changeset
    *     in [[graft.ext.Cdc.applyChangeSet]]'s input shape
    */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("tx_table"),
      info("tx_table",
        "tx_table(dir[, version | timestamp]) - snapshot (or time-traveled) read of a graft transactional table"),
      (children: Seq[Expression]) => {
        require(children.size == 1 || children.size == 2,
          s"tx_table(dir[, version | timestamp]) takes 1 or 2 arguments, got ${children.size}")
        val dir = litString(children.head, "tx_table", "dir")
        // second argument: an integer is VERSION AS OF; a timestamp
        // (NTZ included — the session's timestampType config decides
        // what TIMESTAMP '…' parses as) or a date is TIMESTAMP AS OF —
        // both Delta travel forms
        import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
        children.lift(1) match {
          case Some(e) if e.dataType == TimestampType ||
              e.dataType == TimestampNTZType || e.dataType == DateType =>
            val micros = litArg(org.apache.spark.sql.catalyst.expressions.Cast(
              e, TimestampType,
              Some(SparkSession.active.sessionState.conf.sessionLocalTimeZone)),
              "tx_table", "timestamp").asInstanceOf[Long]
            planOf(graft.ext.TxTable.readAsOfTimestamp(
              SparkSession.active, dir, micros / 1000L))
          case opt =>
            planOf(graft.ext.TxTable.read(SparkSession.active, dir,
              versionAsOf = opt.map(litLong(_, "tx_table", "version"))))
        }
      }),
    (FunctionIdentifier("tx_history"),
      info("tx_history",
        "tx_history(dir) - DESCRIBE HISTORY of a graft transactional table (one row per version)"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"tx_history(dir) takes 1 argument, got ${children.size}")
        planOf(graft.ext.TxTable.history(
          SparkSession.active, litString(children.head, "tx_history", "dir")))
      }),
    (FunctionIdentifier("tx_detail"),
      info("tx_detail",
        "tx_detail(dir[, version]) - DESCRIBE DETAIL off the manifest alone " +
          "(files, partitions, bytes, exact DV-adjusted rows, skipping columns)"),
      (children: Seq[Expression]) => {
        require(children.size == 1 || children.size == 2,
          s"tx_detail(dir[, version]) takes 1 or 2 arguments, got ${children.size}")
        planOf(graft.ext.TxTable.detail(SparkSession.active,
          litString(children.head, "tx_detail", "dir"),
          versionAsOf = children.lift(1).map(litLong(_, "tx_detail", "version"))))
      }),
    (FunctionIdentifier("tx_changes"),
      info("tx_changes",
        "tx_changes(dir, vFrom, vTo, keyCol) - net CDC changeset turning version vFrom into vTo"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          s"tx_changes(dir, vFrom, vTo, keyCol) takes 4 arguments, got ${children.size}")
        planOf(graft.ext.TxTable.changesBetween(SparkSession.active,
          litString(children(0), "tx_changes", "dir"),
          litLong(children(1), "tx_changes", "vFrom"),
          litLong(children(2), "tx_changes", "vTo"),
          litString(children(3), "tx_changes", "keyCol")))
      }),
  )

  /** The one session builder every engine main and spec goes through:
    * it loads these extensions, pins the session zone to UTC (events.ts
    * is stored NTZ and canonicalized through a cast whose instant
    * depends on the zone, [[graft.analysis.EventsFact.canonicalTs]])
    * and turns the UI off. The master is left to spark-submit. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** `builder()` for a local session: `slots` task slots and as many
    * shuffle partitions. */
  def builder(slots: Int): SparkSession.Builder =
    builder().master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toLong)

  /** Task slots of the local mains: `SPARK_GRAFT_CPUS`, else the
    * machine's core count. */
  def localSlots: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors())(_.toInt)
}
