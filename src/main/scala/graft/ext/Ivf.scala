package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the second scale
  * path next to sign-LSH ([[Similarity.annTopK]]): partition the corpus
  * into k spherical-k-means cells, search only the `nProbe` cells whose
  * centroids are closest to the query.
  *
  * Training is Lloyd iterations expressed as DataFrame jobs: assign =
  * per-row argmax of `k` codegen'd dot products against broadcast
  * centroids; update = per-cell dimension means via posexplode +
  * grouped avg. Only the k×dim centroid matrix ever reaches the driver
  * (that is the IVF contract — the index itself stays distributed; at
  * rest, `cell` is the partition key so a probe is an nProbe-partition
  * read, not a corpus scan).
  *
  * Determinism: init picks the k lowest vec_ids; every subsequent step
  * is a deterministic plan, so the index is reproducible run-to-run.
  */
object Ivf {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Argmax cell id for a unit vector against broadcast centroids. */
  private def cellOf(unit: Column, centroids: Array[Array[Double]]): Column = {
    val dots = array(centroids.map(c =>
      Similarity.dot(unit, array(c.map(lit): _*))): _*)
    // array_position is 1-based; ties resolve to the lowest cell id
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Unit-normalized corpus projection: (vec_id, label, unit) — via
    * [[Similarity.withUnit]] (norm materialized as an attribute; the
    * inline [[Similarity.unitVec]] form re-evaluates the norm per
    * element, O(dim²) per corpus row). */
  private def unitized(emb: DataFrame): DataFrame =
    Similarity.withUnit(emb, asDouble(col("embedding")), "unit")
      .select(col("vec_id"), col("label"), col("unit"))

  /** Memoized training per (session, key): an IVF index is a
    * build-once artifact (at rest it is the `cell` partition layout +
    * the k×dim centroid matrix); queries only probe it. Mirrors
    * [[graft.analysis.EventsFact.fact]]'s cache layer. */
  def centroidsFor(emb: DataFrame, key: String, k: Int, iters: Int): Array[Array[Double]] =
    trainedCache.getOrElseUpdate((emb.sparkSession, key, k, iters),
      trainCentroids(emb, k, iters))

  private val trainedCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Int, Int), Array[Array[Double]]]

  /** Drop every trained index for (session, key) — the refresh path
    * after the underlying corpus at `key` changes (mirrors
    * [[graft.analysis.EventsFact.invalidate]] and
    * [[Dedup.invalidateSignatures]]; without it [[centroidsFor]] would
    * silently serve stale centroids forever). Radii and the persisted
    * cell-assignment frame are part of the same index artifact, so
    * they drop together. */
  def invalidate(spark: org.apache.spark.sql.SparkSession, key: String): Unit = {
    trainedCache.filterInPlace { case ((s, k2, _, _), _) => !((s eq spark) && k2 == key) }
    radiiCache.filterInPlace { case ((s, k2, _), _) => !((s eq spark) && k2 == key) }
    cellsCache.synchronized {
      cellsCache.filterInPlace { case ((s, k2, _), df) =>
        val drop = (s eq spark) && k2 == key
        if (drop) df.unpersist()
        !drop
      }
    }
  }

  /** The cell-assigned unitized corpus, persisted per (session, key,
    * centroid identity) — the at-rest half of the IVF index next to
    * the centroid/radii memos. Every probe job ([[topKExact]]'s query
    * lookup, provisional pass and final pass) reads THIS frame; without
    * it each job re-derives unit vectors + k dot products per row over
    * the whole corpus (q45 paid that 3–4× per call). Keyed on the
    * centroid content digest like [[radiiFor]] — cells are only valid
    * against the centroids they were assigned by. MEMORY_AND_DISK:
    * (id, label, unit, cell) is the corpus projection an IVF index IS;
    * at rest this would be the `cell`-partitioned table layout. */
  def cellsFor(emb: DataFrame, key: String, centroids: Array[Array[Double]]): DataFrame =
    cellsCache.synchronized { // losing getOrElseUpdate racer would leak its persist
      cellsCache.getOrElseUpdate(
        (emb.sparkSession, key, centroidDigest(centroids)),
        withCells(emb, centroids)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

  private val cellsCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Long), DataFrame]

  /** Train spherical k-means centroids (unit-normalized).
    *
    * Training reads a bounded deterministic sample (≈`maxTrainRows`,
    * selected by a uniform hash of vec_id — scale-independent and
    * reproducible; the hash keep-fraction floors at 1e-6, so beyond
    * ~4e9 rows the sample grows as corpus/1e6 — still distributed, a
    * hard limit here would coalesce the training input to one
    * partition): k-means cell boundaries converge on a sample long
    * before they converge on the corpus, and at 100 TB a full-corpus
    * Lloyd pass per iteration would dominate the whole index build.
    * Search quality is unaffected — [[withCells]] still assigns EVERY
    * corpus row to its nearest centroid. The sample is persisted for
    * the duration of training (each iteration runs 1 assign+update
    * job over it) and released after. */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int,
                     maxTrainRows: Int = 8192): Array[Array[Double]] = {
    val allUnits = unitized(emb).filter(col("unit").isNotNull)
    val total = allUnits.count()
    val sampled =
      if (total <= maxTrainRows) allUnits
      else allUnits.filter( // keep ≈maxTrainRows by uniform hash of the id
        pmod(xxhash64(col("vec_id")), lit(1000000L)) <
          lit(math.ceil(maxTrainRows.toDouble / total * 1000000L).toLong))
    val units = sampled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic seed: the k lowest vec_ids of the sample
      var centroids: Array[Array[Double]] = units.orderBy("vec_id").limit(k)
        .select("unit").collect().map(_.getSeq[Double](0).toArray)
      for (_ <- 0 until iters) {
        val assigned = units.withColumn("cell", cellOf(col("unit"), centroids))
        val dimMeans = assigned
          .select(col("cell"), posexplode(col("unit")).as(Seq("pos", "v")))
          .groupBy("cell", "pos").agg(avg("v").as("m"))
          .collect()
        val byCell = dimMeans.groupBy(_.getInt(0))
        centroids = centroids.indices.map { c =>
          byCell.get(c) match {
            case Some(rows) =>
              val mean = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
              val norm = math.sqrt(mean.map(x => x * x).sum)
              if (norm > 0) mean.map(_ / norm) else centroids(c) // empty-ish cell keeps its centroid
            case None => centroids(c)
          }
        }.toArray
      }
      centroids
    } finally units.unpersist()
  }

  /** Corpus with its IVF cell assignment (the at-rest partition key).
    * NULL/zero-norm embeddings get a NULL cell — excluded from every
    * probe, the same exclusion every cosine lane applies (a
    * direction-less vector has no nearest cell). A DIMENSION MISMATCH
    * against the trained centroids fails LOUD instead: the NULL dot
    * would otherwise silently drop the row from the index — the exact
    * failure mode the LSH lane's dimension assert already guards. */
  def withCells(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val cell = cellOf(col("unit"), centroids)
    unitized(emb).withColumn("cell",
      when(col("unit").isNull, lit(null).cast("int"))
        .otherwise(when(assert_true(cell.isNotNull,
          lit("Ivf.withCells: embedding dimension differs from the " +
            "trained centroids' — retrain on this corpus or fix the " +
            "mismatched rows; a silent NULL cell would drop them from " +
            "the index")).isNull, cell)))
  }

  /** Per-cell angular radii: max L2 distance from a member's unit
    * vector to its own cell centroid — the other half of the
    * exact-probe index next to the centroid matrix. One distributed
    * pass (per-cell max is map-side combined; only k doubles reach the
    * driver), memoized per (session, key) like [[centroidsFor]]. */
  def radiiFor(emb: DataFrame, key: String, centroids: Array[Array[Double]]): Array[Double] =
    radiiCache.getOrElseUpdate(
      (emb.sparkSession, key, centroidDigest(centroids)),
      // measure over the persisted cell frame: the radii pass is the
      // first consumer, so it both builds the shared cells cache and
      // avoids its own full unitize+assign scan
      cellRadiiOf(cellsFor(emb, key, centroids), centroids))

  /** Content digest of the centroid matrix for the radii memo key:
    * radii are only valid AGAINST the centroids they were measured to,
    * so the key must carry the centroid IDENTITY — a (k, iters)-less
    * key (e.g. just centroids.length) would pair retrained centroids
    * with stale radii and silently break topKExact's exactness bound. */
  private def centroidDigest(centroids: Array[Array[Double]]): Long =
    centroids.foldLeft(1125899906842597L) { (acc, row) =>
      row.foldLeft(acc * 31 + row.length) { (a, v) =>
        a * 6364136223846793005L + java.lang.Double.doubleToLongBits(v)
      }
    }

  private val radiiCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Long), Array[Double]]

  def cellRadii(emb: DataFrame, centroids: Array[Array[Double]]): Array[Double] =
    cellRadiiOf(withCells(emb, centroids), centroids)

  private def cellRadiiOf(cells: DataFrame, centroids: Array[Array[Double]]): Array[Double] = {
    val centroidLookup = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val rows = cells
      .filter(col("unit").isNotNull)
      // materialize the looked-up centroid as an attribute before the
      // dot (interpreted-HOF discipline: one lookup per row, not per
      // element), then dist² = 2 − 2·dot on unit vectors
      .withColumn("_c", element_at(centroidLookup, col("cell") + 1))
      .withColumn("_d", sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * Similarity.dot(col("unit"), col("_c")))))
      .groupBy("cell").agg(max("_d").as("r"))
      .collect()
    val radii = new Array[Double](centroids.length)
    rows.foreach(r => radii(r.getInt(0)) = r.getDouble(1))
    radii
  }

  /** EXACT top-k with IVF pruning (the re-rank / bound lane next to
    * the recall-traded [[topK]]): probe the `nProbe0` nearest cells
    * for a provisional k-th similarity, then widen only to cells whose
    * triangle-inequality bound could still beat it. For any member x
    * of cell j, ‖q−x‖ ≥ ‖q−c_j‖ − r_j, so on unit vectors
    * sim(q,x) ≤ 1 − max(0, ‖q−c_j‖ − r_j)²/2 — a cell failing that
    * bound cannot contribute a top-k row and is never read.
    *
    * The output is therefore provably the brute-force top-k (the
    * driver oracle is plain exact-cosine SQL) while the scan stays an
    * nProbe-cells read whenever the corpus clusters. The provisional
    * pass collects exactly `topK` sims (bounded, like the query-vector
    * lookup); `eps` widens the bound so float error only ever
    * over-probes, never prunes a true neighbour. Runs Spark jobs at
    * call time (lookup + provisional top-k) — this is a query API, not
    * a lazy-plan builder. */
  def topKExact(emb: DataFrame, queryVecId: Long, topK: Int,
                centroids: Array[Array[Double]], radii: Array[Double],
                nProbe0: Int = 3, eps: Double = 1e-6): DataFrame =
    exactPlan(withCells(emb, centroids), queryVecId, topK, centroids, radii, nProbe0, eps)._1

  /** [[topKExact]] over the PERSISTED per-(session, key) cell frame
    * ([[cellsFor]]): the query-serving shape — lookup, provisional and
    * final passes all read the cached assignment instead of re-deriving
    * unit vectors and k dot products per corpus row per job. */
  def topKExactCached(emb: DataFrame, key: String, queryVecId: Long, topK: Int,
                      centroids: Array[Array[Double]], radii: Array[Double],
                      nProbe0: Int = 3, eps: Double = 1e-6): DataFrame =
    exactPlan(cellsFor(emb, key, centroids), queryVecId, topK, centroids, radii,
      nProbe0, eps)._1

  /** [[topKExact]] AND its probed-cell diagnostic from ONE probe pass.
    * The single-value entry points each run the driver-side query-unit
    * lookup + provisional top-k jobs at call time — a caller wanting
    * both (result + diagnostic) should take this pair instead of
    * paying the probe twice. */
  def topKExactProbed(emb: DataFrame, queryVecId: Long, topK: Int,
                      centroids: Array[Array[Double]], radii: Array[Double],
                      nProbe0: Int = 3, eps: Double = 1e-6): (DataFrame, Seq[Int]) =
    exactPlan(withCells(emb, centroids), queryVecId, topK, centroids, radii, nProbe0, eps)

  /** The query row's unit vector, with NAMED failures for the two
    * states `.head().getSeq(0)` would turn into opaque exceptions: a
    * missing id (NoSuchElementException out of an empty iterator) and
    * a zero-norm/NULL embedding (NPE off the null unit). */
  private def queryUnitOf(cells: DataFrame, queryVecId: Long): Array[Double] = {
    val rows = cells.filter(col("vec_id") === queryVecId)
      .select("unit").take(1)
    require(rows.nonEmpty, s"query vec_id $queryVecId not found in the corpus")
    val u = rows.head.getSeq[Double](0)
    require(u != null, s"query vec_id $queryVecId has a NULL or zero-norm " +
      "embedding — a direction-less vector cannot be searched for")
    u.toArray
  }

  private def exactPlan(cells: DataFrame, queryVecId: Long, topK: Int,
                        centroids: Array[Array[Double]], radii: Array[Double],
                        nProbe0: Int, eps: Double): (DataFrame, Seq[Int]) = {
    val qUnit = queryUnitOf(cells, queryVecId)
    val centroidSims = centroids.map(_.zip(qUnit).map { case (a, b) => a * b }.sum)
    val phase1 = centroidSims.zipWithIndex.sortBy(-_._1).take(nProbe0).map(_._2).toSeq
    val qCol = array(qUnit.map(lit): _*)
    def exactIn(probe: Seq[Int]) = cells
      .filter(col("cell").isin(probe: _*) && col("vec_id") =!= queryVecId)
      .withColumn("sim", Similarity.dot(col("unit"), qCol))
    val provisional = exactIn(phase1)
      .orderBy(col("sim").desc, col("vec_id")).limit(topK)
      .select("sim").collect().map(_.getDouble(0))
    val sK = if (provisional.length < topK) -2.0 else provisional.last
    val probes = centroids.indices.filter { j =>
      phase1.contains(j) || {
        val dQC = math.sqrt(math.max(0.0, 2.0 - 2.0 * centroidSims(j)))
        val gap = math.max(0.0, dQC - radii(j))
        1.0 - gap * gap / 2.0 >= sK - eps
      }
    }
    val result = exactIn(probes)
      .withColumn("sim", round(col("sim"), 6))
      .select("vec_id", "label", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(topK)
    (result, probes)
  }

  /** FREEZE a trained centroid matrix as a versioned [[TxTable]]
    * asset (the [[Vocab.freeze]] pattern for the ANN index): train on
    * `emb`, publish the (cell, centroid) frame as a commit at
    * `assetDir`, return the version. An ANN index at 100 TB is a
    * SHIPPED ARTIFACT — queries must route through the same cell
    * boundaries across corpus recomputes and retrains, or cached cell
    * assignments, probe plans and downstream evaluations silently
    * disagree. Each retrain freezes one more version of the same
    * asset: time travel is the index registry, and loading AS OF a
    * version reproduces the exact search behavior of that deploy.
    *
    * Radii are deliberately NOT frozen: [[topKExact]]'s exactness
    * bound needs radii measured against the LIVE corpus (a vector
    * appended outside a frozen radius would break the triangle bound
    * and silently drop true neighbours) — re-measure via [[radiiFor]]
    * per corpus snapshot; that pass is one map-side-combined scan. */
  def freeze(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
             k: Int, iters: Int, assetDir: String): Long = {
    import spark.implicits._
    val cents = trainCentroids(emb, k, iters)
    val df = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    TxTable.commitReplace(spark, assetDir, df)
  }

  /** Load a frozen centroid matrix AS OF a version (latest when None)
    * back into the driver-held k×dim shape every probe API takes.
    * Bounded by construction (k rows) and validated LOUD: duplicate or
    * non-contiguous cell ids, ragged dimensions and NULL rows are
    * corrupt-asset states, not inputs to guess around. The bound is
    * ENFORCED before the collect (r16 ADVICE): pointed at a wrong or
    * huge table, a bare collect would OOM the driver before any "k
    * rows" expectation fired — `maxCells` caps the read first. */
  def loadAsOf(spark: org.apache.spark.sql.SparkSession, assetDir: String,
               versionAsOf: Option[Long] = None,
               maxCells: Int = 65536): Array[Array[Double]] = {
    val frame = TxTable.read(spark, assetDir, versionAsOf)
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
    // bounded probe: limit(maxCells+1) can never pull more than the
    // cap plus one witness row to the driver, whatever the table is
    val rows = frame.limit(maxCells + 1).collect()
    require(rows.length <= maxCells,
      s"frozen IVF asset at $assetDir holds more than $maxCells rows — " +
        "not a centroid asset (or raise maxCells deliberately)")
    require(rows.nonEmpty, s"frozen IVF asset at $assetDir is empty")
    val byCell = rows.map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"frozen IVF asset at $assetDir carries a NULL cell or centroid")
      r.getInt(0) -> r.getSeq[Double](1).toArray
    }
    require(byCell.map(_._1).sorted.toSeq == (0 until rows.length),
      s"frozen IVF asset at $assetDir: cell ids must be exactly 0..${rows.length - 1}")
    val dims = byCell.map(_._2.length).distinct
    require(dims.length == 1,
      s"frozen IVF asset at $assetDir carries ragged centroid dimensions: " +
        dims.sorted.mkString(","))
    byCell.sortBy(_._1).map(_._2)
  }

  /** ANN top-k: exact cosine, restricted to the `nProbe` cells whose
    * centroids are closest to the query vector. nProbe = k degenerates
    * to exact brute force. */
  def topK(emb: DataFrame, queryVecId: Long, topK: Int,
           centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    val cells = withCells(emb, centroids)
    val qUnit = queryUnitOf(cells, queryVecId)
    val probes = centroids.zipWithIndex
      .map { case (c, i) => (i, c.zip(qUnit).map { case (a, b) => a * b }.sum) }
      .sortBy(-_._2).take(nProbe).map(_._1)
    val qCol = array(qUnit.map(lit): _*)
    cells
      .filter(col("cell").isin(probes.toIndexedSeq: _*) && col("vec_id") =!= queryVecId)
      .withColumn("sim", round(Similarity.dot(col("unit"), qCol), 6))
      .select("vec_id", "label", "cell", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(topK)
  }
}
