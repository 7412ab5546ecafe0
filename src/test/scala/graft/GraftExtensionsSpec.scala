package graft

/** The library as a SQL-surfaced Spark extension: the shared spec
  * session, like every engine session, is built by
  * GraftExtensions.builder with spark.sql.extensions=graft.GraftExtensions,
  * so plain SQL calls the native expressions with no Scala imports and
  * no per-session registration. */
class GraftExtensionsSpec extends SparkSpec {

  test("one registration path: the extensions alone plan and resolve everything") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 40).map(i => (s"k${i % 3}", i.toLong)).toDF("k", "v")
    val viaOperator = graft.plans.TopKPerKey.topKPerKey(df, Seq("k"), "v",
      descending = true, k = 2)
    assert(viaOperator.count() == 6L)
    graft.plans.TopKWindowRewrite.scoped(spark) {
      val ranked = df.withColumn("rn",
        row_number().over(Window.partitionBy("k").orderBy(desc("v"))))
        .where(col("rn") <= 2).drop("rn")
      assert(ranked.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    }
    // neither path patched the session's experimental hooks
    val hooks = spark.experimental
    assert(hooks.extraStrategies.isEmpty && hooks.extraOptimizations.isEmpty)
    // ... and the SQL surfaces resolve with no registration call
    assert(!spark.sql("SELECT simhash64(array('a'))").head().isNullAt(0))
    graft.QueryUtil.inTempDir("graft_ext_spec") { tmp =>
      graft.ext.TxTable.commitReplace(spark, s"$tmp/t", df, None)
      assert(spark.sql(s"SELECT count(*) FROM tx_table('$tmp/t')").head().getLong(0) == 40L)
    }
  }

  test("simhash64 is callable from SQL and matches the column API") {
    val viaSql = spark.sql(
      "SELECT simhash64(array('alpha', 'beta', 'gamma')) AS h").head().getLong(0)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val viaApi = Seq(Seq("alpha", "beta", "gamma")).toDF("toks")
      .select(graft.ext.SimHash64(col("toks"))).head().getLong(0)
    assert(viaSql == viaApi)
  }

  test("cdc_chunks is callable from SQL and matches the column API") {
    val text = ("lorem ipsum dolor sit amet " * 40).trim
    val viaSql = spark.sql(s"SELECT cdc_chunks('$text') AS c")
      .head().getSeq[String](0)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val viaApi = Seq(text).toDF("t")
      .select(graft.ext.CdcChunks(col("t"))).head().getSeq[String](0)
    assert(viaSql == viaApi && viaSql.mkString == text)
  }

  test("t_cdf/t_ppf round-trip and match reference values") {
    val r = spark.sql(
      """SELECT t_cdf(2.0, 10.0) AS c,
        |       t_ppf(0.975, 10) AS q,
        |       t_cdf(t_ppf(0.9, 7.0), 7.0) AS roundtrip,
        |       t_ppf(0.975, 0) AS invalid""".stripMargin).head()
    // scipy.stats.t.cdf(2.0, 10) = 0.963305...; t.ppf(0.975, 10) = 2.228138...
    // (commons-math3 incomplete-beta/Brent tolerances: ~1e-10 absolute
    // vs scipy — fine for p-values, documented here)
    assert(math.abs(r.getDouble(0) - 0.9633059826662254) < 1e-9)
    assert(math.abs(r.getDouble(1) - 2.2281388519649385) < 1e-8)
    assert(math.abs(r.getDouble(2) - 0.9) < 1e-8)
    assert(r.isNullAt(3))
  }

  test("t functions appear in the catalog with usage docs") {
    val fns = spark.sql("SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
    assert(Set("simhash64", "t_cdf", "t_ppf", "z_value", "z_value3").subsetOf(fns))
  }

  test("z_value/z_value3 from SQL match the column API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val viaSql = spark.sql("SELECT z_value(12345, 54321) AS z2, z_value3(7, 5, 3) AS z3").head()
    val viaApi = Seq((12345, 54321, 7, 5, 3)).toDF("x", "y", "a", "b", "c")
      .select(graft.ext.Layout.zValue(col("x"), col("y")).as("z2"),
        graft.ext.Layout.zValue3(col("a"), col("b"), col("c")).as("z3"))
      .head()
    assert(viaSql.getLong(0) == viaApi.getLong(0))
    assert(viaSql.getLong(1) == viaApi.getLong(1))
  }

  test("text_profile is callable from SQL") {
    val r = spark.sql(
      """SELECT p.n_tokens, p.n_distinct, p.stop_hits[0] AS en_hits
        |FROM (SELECT text_profile('the quick the fox') AS p)""".stripMargin).head()
    assert(r.getInt(0) == 4, "n_tokens")
    assert(r.getInt(1) == 3, "n_distinct")
    assert(r.getInt(2) == 2, "en stopword hits ('the' twice)")
  }

  test("vec_dot implicit-casts array<float>/array<int> and rejects non-castable input") {
    // float input (the shipped embeddings element type) widens to double
    // at analysis instead of misreading 4-byte lanes as 8-byte doubles
    val f = spark.sql(
      """SELECT vec_dot(array(cast(1.5 as float), cast(2.0 as float)),
        |               array(cast(2.0 as float), cast(3.0 as float))) AS d""".stripMargin)
      .head().getDouble(0)
    assert(f == 1.5 * 2.0 + 2.0 * 3.0)
    val i = spark.sql("SELECT vec_dot(array(1, 2), array(3, 4)) AS d").head().getDouble(0)
    assert(i == 11.0)
    // a non-array input fails analysis, not runtime
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT vec_dot(map('a', 1.0), map('a', 1.0))").head())
  }

  test("simhash64 rejects non-array-of-string input at analysis") {
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT simhash64(map('a', 'b'))").head())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT simhash64('not an array')").head())
  }

  test("wrong-arity scalar calls get a named error, not an index crash") {
    val e = intercept[Exception](spark.sql("SELECT t_cdf(1.0)").head())
    assert(e.getMessage.contains("t_cdf expects 2 arguments"), e.getMessage)
    val e2 = intercept[Exception](spark.sql("SELECT simhash64()").head())
    assert(e2.getMessage.contains("simhash64 expects 1 argument"), e2.getMessage)
  }

  test("tx_table/tx_history/tx_changes: the transactional layer from pure SQL") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.QueryUtil.inTempDir("graft_tvf") { tmp =>
      val dir = s"$tmp/table"
      val base = (0 until 20).map(i => (i.toLong, i * 10.0, (i % 4).toLong))
        .toDF("event_id", "value", "pbucket")
      graft.ext.TxTable.commitReplace(spark, dir, base, Some("pbucket"),
        statsCols = Seq("event_id"))
      graft.ext.TxTable.deleteWhereDv(spark, dir, col("event_id") % 5 === 0)
      // snapshot read applies the DV subtraction, exactly the Scala API
      val viaSql = spark.sql(
        s"SELECT sum(value) AS s, count(*) AS n FROM tx_table('$dir')").head()
      assert(viaSql.getLong(1) == 16L)
      assert(viaSql.getDouble(0) ==
        (0 until 20).filter(_ % 5 != 0).map(_ * 10.0).sum)
      // time travel: version 1 still carries the deleted rows
      assert(spark.sql(s"SELECT count(*) AS n FROM tx_table('$dir', 1)")
        .head().getLong(0) == 20L)
      // TVFs join like any relation (here: self-join new vs old state)
      val joined = spark.sql(
        s"""SELECT count(*) AS n
           |FROM tx_table('$dir') cur
           |JOIN tx_table('$dir', 1) old USING (event_id)""".stripMargin)
        .head().getLong(0)
      assert(joined == 16L)
      // DESCRIBE HISTORY off the log: v1 replace, v2 DV delete
      val hist = spark.sql(
        s"SELECT version, op FROM tx_history('$dir') ORDER BY version")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(hist.map(_._1).toSeq == Seq(1L, 2L))
      assert(hist(1)._2 == "delete-dv")
      // the CDC feed: v1 -> v2 is exactly the four deleted keys
      val changes = spark.sql(
        s"""SELECT op, count(*) AS n FROM tx_changes('$dir', 1, 2, 'event_id')
           |GROUP BY op""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(changes == Map("delete" -> 4L))
      // table identity must be a literal, not per-row data
      val e = intercept[Exception](spark.sql(
        s"SELECT * FROM tx_table(concat('$dir', event_id)) t").head())
      assert(e.getMessage.contains("literal") ||
        e.getMessage.contains("resolve"), e.getMessage)
      // TIMESTAMP AS OF: a timestamp second argument travels by the
      // commit clock (v2's commit instant sees the post-delete state;
      // a pre-table instant fails loud, same as the Scala API)
      val ts2 = spark.sql(s"SELECT commit_ts FROM tx_history('$dir') " +
        "WHERE version = 2").head().getLong(0)
      assert(spark.sql(
        s"SELECT count(*) AS n FROM tx_table('$dir', timestamp_millis($ts2))")
        .head().getLong(0) == 16L)
      val tooEarly = intercept[Exception](spark.sql(
        s"SELECT * FROM tx_table('$dir', TIMESTAMP '1994-01-01 00:00:00')").head())
      assert(tooEarly.getMessage.contains("no version at or before"),
        tooEarly.getMessage)
      // DESCRIBE DETAIL off the manifest alone: exact DV-adjusted rows
      // at the current version, pre-delete rows at v1
      val det = spark.sql(
        s"""SELECT version, n_files, total_rows, n_dv_files
           |FROM tx_detail('$dir')""".stripMargin).head()
      assert(det.getLong(0) == 2L && det.getLong(2) == 16L &&
        det.getLong(3) > 0L)
      assert(spark.sql(s"SELECT total_rows FROM tx_detail('$dir', 1)")
        .head().getLong(0) == 20L)
      // manifest NDV surfaces through the TVF — same rounded estimate
      // as the Scala metaNdv face, near the 20 true distinct ids
      val ndvSql = spark.sql(s"SELECT ndv FROM tx_detail('$dir')")
        .head().getString(0)
      val est = graft.ext.TxTable.metaNdv(spark, dir, "event_id").get
      assert(ndvSql == s"event_id=${math.round(est)}", ndvSql)
      assert(math.abs(est - 20.0) <= 3.0, s"estimate $est far from 20")
      val badArity = intercept[Exception](spark.sql(
        s"SELECT * FROM tx_detail('$dir', 1, 2)").head())
      assert(badArity.getMessage.contains("1 or 2 arguments"), badArity.getMessage)
    }
  }
}
