package graft

import org.apache.spark.sql.functions._
import QueryUtil.inTempDir

/** Operator-level specs for the warehouse batch (q121–q128): the
  * properties the DuckDB oracle cannot see — executed-plan shapes
  * (dynamic partition pruning), graph-algorithm equivalence against a
  * brute-force reference, SCD2 interval invariants, and the
  * algebraic-merge law behind incremental aggregation. */
class WarehouseSpec extends SparkSpec {

  // ---------------------------------------------------------------- DPP

  test("q121's join shape prunes fact partitions at runtime " +
      "(DynamicPruning on the partitioned scan)") {
    inTempDir("graft_dpp_spec") { pdir =>
      val ev = graft.analysis.EventsFact.events(spark, sf())
        .select(col("event_id"), col("value"), col("ts").cast("date").as("day"))
      ev.repartition(4, col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(pdir)
      val fact = spark.read.parquet(pdir)
      val dim = graft.analysis.EventsFact.events(spark, sf())
        .select(col("ts").cast("date").as("dim_day")).distinct()
        .where(dayofmonth(col("dim_day")) % 3 === 0)
      val joined = fact.join(broadcast(dim), col("day") === col("dim_day"))
        .groupBy("day").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"expected a DynamicPruning partition filter on the fact scan:\n$plan")
      // and the pruned result equals the static-filter equivalent
      val static = fact.where(dayofmonth(col("day")) % 3 === 0)
        .groupBy("day").agg(count(lit(1)).as("n"))
      assert(joined.orderBy("day").collect().toSeq ==
        static.orderBy("day").collect().toSeq)
    }
  }

  // ---------------------------------------------------------- triangles

  /** Brute-force reference over an explicit edge set. */
  private def bruteTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    def has(a: Long, b: Long) = edges.contains((math.min(a, b), math.max(a, b)))
    val tris = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if has(a, b) && has(b, c) && has(a, c)
    } yield (a, b, c)
    tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  private def countsOf(edges: Set[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    graft.ext.Graph.triangleCounts(edges.toSeq.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangleCounts equals brute force on a deterministic random graph") {
    val rnd = new scala.util.Random(13)
    val edges = (for {
      a <- 0L until 25L; b <- (a + 1) until 25L
      if rnd.nextDouble() < 0.25
    } yield (a, b)).toSet
    assert(countsOf(edges) == bruteTriangles(edges))
  }

  test("triangleCounts: star graph has none; K5 gives C(4,2)=6 per node; " +
      "hub with a pendant triangle credits exactly its corners") {
    // pure star: no closing edges
    val star = (1L to 10L).map(i => (0L, i)).toSet
    assert(countsOf(star) == Map.empty[Long, Long])
    // K5: every node in C(4,2) = 6 triangles
    val k5 = (for { a <- 0L until 5L; b <- (a + 1) until 5L } yield (a, b)).toSet
    assert(countsOf(k5) == (0L until 5L).map(_ -> 6L).toMap)
    // hub (high degree, the skew case degree orientation exists for)
    // plus one closed triangle hanging off it
    val hub = (1L to 20L).map(i => (0L, i)).toSet + ((1L, 2L))
    assert(countsOf(hub) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  // --------------------------------------------------------------- SCD2

  test("q122 SCD2 output: contiguous versions, strictly increasing " +
      "intervals chained by valid_to, adjacent runs differ, counts conserve") {
    val out = SparkEntry.queries("q122_scd2_history")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val events = graft.analysis.EventsFact.events(spark, sf())
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byUser = out.groupBy(_._1)
    assert(byUser.keySet == events.keySet, "every user has a history")
    for ((u, rows) <- byUser) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"user $u: versions must be contiguous from 1")
      // intervals chain: valid_to(k) == valid_from(k+1); last is open (-1)
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray)) {
        assert(a._5 == b._4, s"user $u: interval chain broken at v${a._2}")
        assert(a._3 != b._3, s"user $u: adjacent runs must differ in type")
        assert(a._4 < b._4, s"user $u: valid_from must strictly increase")
      }
      assert(sorted.last._5 == -1L, s"user $u: last interval open")
      assert(sorted.map(_._6).sum == events(u), s"user $u: event count conserved")
    }
  }

  // ------------------------------------------------- incremental merge

  test("partial-aggregate merge law: decimal sums, counts, min/max " +
      "combine to the full recompute under any split") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (1 to 500).map(i =>
      (s"t${i % 4}", rnd.nextInt(1000) / 7.0, i % 3))
    val df = rows.toDF("k", "v", "part")
    def partials(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("k").agg(count(lit(1)).as("pn"),
        sum(col("v").cast("decimal(18,6)")).as("psum"),
        min("v").as("pmin"), max("v").as("pmax"))
    val merged = partials(df.where(col("part") === 0))
      .unionAll(partials(df.where(col("part") === 1)))
      .unionAll(partials(df.where(col("part") === 2)))
      .groupBy("k").agg(sum("pn").as("n"),
        sum("psum").cast("double").as("s"),
        min("pmin").as("mn"), max("pmax").as("mx"))
      .orderBy("k").collect().toSeq
    val full = df.groupBy("k").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,6)")).cast("double").as("s"),
        min("v").as("mn"), max("v").as("mx"))
      .orderBy("k").collect().toSeq
    assert(merged == full)
  }

  // ------------------------------------------------------ fuzzy resolve

  test("blocked fuzzy resolution recovers the original nation for every " +
      "corrupted name at distance exactly 1") {
    val nation = spark.read.parquet(s"${sf()}/nation.parquet")
    val clean = nation.select(col("n_name"))
    val dirty = nation.select(col("n_nationkey"), col("n_name").as("orig"),
      expr("substring(n_name, 1, 2) || substring(n_name, 4)").as("corrupt"))
    val best = dirty.join(broadcast(clean),
        substring(col("corrupt"), 1, 1) === substring(col("n_name"), 1, 1))
      .withColumn("dist", levenshtein(col("corrupt"), col("n_name")))
      .groupBy("n_nationkey", "orig")
      .agg(min(struct(col("dist").as("d"), col("n_name").as("nm"))).as("b"))
      .select(col("orig"), col("b.nm").as("resolved"), col("b.d").as("dist"))
      .collect()
    assert(best.nonEmpty)
    for (r <- best) {
      assert(r.getString(0) == r.getString(1),
        s"corrupted ${r.getString(0)} resolved to ${r.getString(1)}")
      assert(r.getInt(2) == 1, s"${r.getString(0)}: distance ${r.getInt(2)}")
    }
  }

  // --------------------------------------------------------------- BM25

  test("BM25 ranks by term-frequency saturation and multi-term coverage") {
    import spark.implicits._
    inTempDir("graft_bm25_spec") { dir =>
      // equal-length docs so the length normalization cancels
      Seq(
        (1L, "join join join pad", "en", "s", 18L),
        (2L, "join pad pad pad", "en", "s", 16L),
        (3L, "none here at all", "en", "s", 16L),
        (4L, "join scan filter pad", "en", "s", 20L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("q125_bm25")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!out.contains(3L), "a doc with no query terms never scores")
      assert(out(4L) > out(2L), "three matched terms beat one")
      assert(out(1L) > out(2L), "higher tf beats lower tf on equal length")
      assert(out(4L) > out(1L), "coverage of distinct terms beats tf saturation")
    }
  }

  // ------------------------------------------------------ co-occurrence

  test("co-occurrence lift is exact integer cross-multiplication") {
    val out = SparkEntry.queries("q123_cooccurrence")(spark, sf())
      .collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (nxy, nx, ny) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(r.getLong(5) % nxy == 0, "lift_num = n_xy * total")
      assert(r.getLong(6) == nx * ny, "lift_den = n_x * n_y")
      assert(nxy <= math.min(nx, ny), "pair count bounded by marginals")
    }
  }
}
