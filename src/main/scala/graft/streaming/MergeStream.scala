package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming MERGE into a [[graft.ext.TxTable]]: a change feed
  * (insert/update/delete rows) drained micro-batch by micro-batch, each
  * non-empty batch ONE atomic version — the incremental-upsert shape
  * that replaces "recompute the snapshot nightly" with "apply the day's
  * changes", and the streaming face of [[graft.ext.Cdc.applyChangeSet]].
  * [[mergeAvailableVersioned]] commits to one table (copy-on-write or
  * merge-on-read); [[pairAvailable]] moves a fact and its derived view
  * in one multi-table intent.
  *
  * Per batch the touched partition values are the distinct change
  * buckets (a bounded driver collect), and the merge reads and rewrites
  * only those partitions' files; every other file carries forward by
  * reference. Cost per batch ∝ touched partitions, not table size.
  *
  * Correctness contract: at most one change per key across the whole
  * feed (CDC-compacted upstream), so batch boundaries and file order
  * cannot change the final state; the result equals the one-shot
  * batch [[graft.ext.Cdc.applyChangeSet]] — which is exactly what the
  * stream-merge oracle replays relationally.
  *
  * Exactly-once: foreachBatch is at-least-once, so every batch carries
  * an (appId, batchId) tag in the table's idempotent-writer ledger
  * (Delta's transaction identifiers) and ANY replay — including a fully
  * rebuilt stream checkpoint — is a no-op.
  */
object MergeStream {

  /** Observable counters for the best-effort maintenance cadence —
    * named Spark accumulators, so the ticks/publishes/skips show up
    * in the Spark UI and the status API instead of vanishing into
    * stderr (a production operator alarms on `skipped` climbing while
    * `published` stalls: the table's layout debt is then growing
    * unswept). One instance per (session, table), memoized so the
    * stream and the operator's monitoring read the SAME counters. */
  final case class MaintenanceMetrics(
      attempted: org.apache.spark.util.LongAccumulator,
      published: org.apache.spark.util.LongAccumulator,
      skipped: org.apache.spark.util.LongAccumulator)

  // WEAK-keyed by session: a long-lived process that creates many
  // sessions must not retain every stopped session (and its registered
  // accumulators) through this cache forever — a session's entry (and
  // its per-table inner map) dies with the session's last strong
  // reference. MaintenanceMetrics holds no session back-reference, so
  // the weak key is the ONLY thing keeping the entry alive. The outer
  // map is synchronized (WeakHashMap is not thread-safe); the inner
  // per-table map is concurrent, so the steady-state lookup contends
  // only on the brief outer get.
  private val metricsCache: java.util.Map[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, MaintenanceMetrics]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, MaintenanceMetrics]]())

  /** The default ledger app id of a stream over `changesDir`:
    * `prefix:` plus the FileSystem-qualified URI of the directory. The
    * raw string is NOT stable enough — "changes/" vs "./changes" vs an
    * absolute spelling would mint a fresh ledger and silently defeat
    * replay dedup — while the qualified URI collapses relative paths,
    * trailing slashes and scheme defaults to one canonical form. */
  private def canonicalAppId(
      spark: SparkSession, prefix: String, changesDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(changesDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    s"$prefix:${fs.makeQualified(p).toUri}"
  }

  def maintenanceMetrics(
      spark: SparkSession, tableDir: String): MaintenanceMetrics =
    metricsCache.computeIfAbsent(spark, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, MaintenanceMetrics]())
      .computeIfAbsent(tableDir, _ =>
        MaintenanceMetrics(
          spark.sparkContext.longAccumulator(
            s"graft.maintenance.attempted:$tableDir"),
          spark.sparkContext.longAccumulator(
            s"graft.maintenance.published:$tableDir"),
          spark.sparkContext.longAccumulator(
            s"graft.maintenance.skipped:$tableDir")))

  /** The one change-feed driver: check the column contract, drain
    * `changesDir` as an AvailableNow stream of `maxFilesPerTrigger`
    * files per micro-batch, and run `body(changes, touched, batchId)`
    * on every micro-batch — empty ones included — with the batch
    * evaluated once ([[graft.ext.TxTable.withMaterializedChanges]]:
    * `touched` holds its distinct `partitionCol` values, empty for an
    * empty batch; the collect that finds them is the materializing
    * job). Returns when the feed is drained. */
  private def drainChanges(
      spark: SparkSession, changesDir: String,
      changesSchema: org.apache.spark.sql.types.StructType, checkpoint: String,
      keyCol: String, opCol: String, partitionCol: String,
      maxFilesPerTrigger: Int)(
      body: (DataFrame, Seq[Any], Long) => Unit): Unit = {
    require(maxFilesPerTrigger >= 1,
      s"maxFilesPerTrigger must be >= 1: $maxFilesPerTrigger")
    Seq(keyCol, opCol, partitionCol).foreach { c =>
      require(changesSchema.fieldNames.contains(c),
        s"changesSchema must carry '$c': ${changesSchema.fieldNames.mkString(", ")}")
    }
    spark.readStream
      .schema(changesSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(changesDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawChanges: DataFrame, batchId: Long) =>
        graft.ext.TxTable.withMaterializedChanges(rawChanges, partitionCol) {
          (changes, touched) => body(changes, touched, batchId)
        }
      }
      .start()
      .awaitTermination()
  }

  /** One BEST-EFFORT maintenance attempt ([[graft.ext.TxTable
    * .maintainIfNeeded]] under the OCC retry loop). Maintenance is
    * optional by definition — the batch's own merge has already
    * committed — so a pass that still loses after the retries, or
    * fails for any environmental reason, must NOT kill the ingest
    * stream it runs inside: the decay it failed to sweep is simply
    * still there for the next cadence tick. Returns whether a
    * compaction version was published; every outcome lands in the
    * table's [[MaintenanceMetrics]] (attempted / published / skipped)
    * so the skip is VISIBLE to monitoring, not just a stderr line. */
  private[streaming] def runMaintenance(
      spark: SparkSession, tableDir: String, partitionCol: String): Boolean = {
    val metrics = maintenanceMetrics(spark, tableDir)
    metrics.attempted.add(1L)
    try {
      val published = graft.ext.TxTable.withConflictRetry() {
        graft.ext.TxTable.maintainIfNeeded(spark, tableDir, partitionCol)
      }.isDefined
      if (published) metrics.published.add(1L)
      published
    } catch {
      case scala.util.control.NonFatal(e) =>
        metrics.skipped.add(1L)
        System.err.println(
          s"[merge-stream] maintenance pass on $tableDir skipped: ${e.getMessage}")
        false
    }
  }

  /** Drain the change feed into the [[graft.ext.TxTable]] at
    * `tableDir`, one atomic version per non-empty micro-batch.
    * [[graft.ext.TxTable.mergeChangeSet]] rewrites only the files of
    * partitions the batch touches and carries every other file forward
    * by reference; readers racing the stream see only complete
    * committed versions (and can time-travel to any previous batch
    * boundary), concurrent writers conflict loudly, and a partition the
    * feed empties simply has no files in the new manifest.
    * `tableDir` must hold an initialized TxTable (version ≥ 1).
    * Returns the number of versions committed.
    *
    * Column contract: `changesSchema` must carry `keyCol` (the merge
    * key), `opCol` ∈ {insert, update, delete} and `partitionCol` (the
    * table's partition column); the defaults are the registry lanes'
    * names.
    *
    * `moR = true` switches each batch to merge-on-read
    * ([[graft.ext.TxTable.mergeChangeSetDv]]): identical content and
    * exactly-once semantics, but a batch writes tombstone sidecars +
    * its own rows instead of rewriting every touched partition — the
    * sustainable shape for a steady trickle against a huge table
    * (per-trigger cost ∝ batch, not ∝ touched partitions).
    *
    * `maintainEvery = n` closes that loop: after every `n`th batch the
    * stream asks [[graft.ext.TxTable.maintainIfNeeded]] (a manifest-
    * only decision — one log read) whether the layout decayed past its
    * budgets, and compacts only then, under [[graft.ext.TxTable
    * .withConflictRetry]] so a racing producer never kills the
    * maintenance pass. Maintenance is deliberately OUTSIDE the batch's
    * txn tag: compaction is content-identical, so replaying a batch
    * whose maintenance ran is harmless, and a maintenance commit
    * interleaving with another writer is just a normal OCC loser.
    * Maintenance versions are NOT counted in the returned number of
    * committed versions (the return stays "batches ingested", the
    * replay-dedup observable), and a cadence tick landing on an EMPTY
    * micro-batch still runs — the sweep is deferred by decay, never by
    * an idle CDC window.
    *
    * `maxFilesPerTrigger` batches that many change FILES per
    * micro-batch (default 1 preserves the historical one-file-one-
    * commit cadence). A consumer catching up on a long feed then pays
    * one commit per N files instead of per file; correctness is
    * untouched because the feed contract (at most one change per key
    * across the WHOLE feed) makes any batching of the files equal to
    * the one-shot apply, and the (appId, batchId) ledger tag covers a
    * batch of any width — replay semantics are unchanged (a rebuilt
    * checkpoint re-plans the same deterministic file order into the
    * same batches). */
  def mergeAvailableVersioned(
      spark: SparkSession,
      tableDir: String,
      changesDir: String,
      changesSchema: org.apache.spark.sql.types.StructType,
      checkpoint: String,
      keyCol: String = "event_id",
      opCol: String = "op",
      partitionCol: String = "pbucket",
      txnAppId: String = null,
      moR: Boolean = false,
      maintainEvery: Int = 0,
      maxFilesPerTrigger: Int = 1): Long = {
    // foreachBatch is AT-LEAST-ONCE: a crash between the table commit
    // and the stream's checkpoint commit replays the batch on restart
    // (and a deleted/fresh checkpoint replays ALL batches). Each merge
    // therefore carries a (txnAppId, batchId) tag — TxTable's
    // idempotent-writer ledger turns any re-application into a no-op
    // instead of a double apply (inserts would duplicate). The app id
    // must be stable across restarts of the SAME logical pipeline:
    // default is the source directory (one feed = one producer), which
    // also survives a rebuilt checkpoint re-numbering its batches over
    // the same deterministic file order ([[canonicalAppId]]).
    val appId = Option(txnAppId).getOrElse {
      val canonical = canonicalAppId(spark, "merge-stream", changesDir)
      // tables written before the canonical-URI default hold their
      // ledger under the RAW-string key. Adopting the canonical key
      // there would orphan that history (a rebuilt checkpoint replaying
      // old batches would re-apply them), so such a table is refused
      // until the caller names the key it continues.
      val legacy = s"merge-stream:$changesDir"
      val ledger = graft.ext.TxTable.snapshot(spark, tableDir)
        .fold(Map.empty[String, Long])(_.txns)
      if (legacy != canonical &&
          ledger.contains(legacy) && !ledger.contains(canonical))
        throw new IllegalStateException(
          s"the table at $tableDir holds its merge-stream ledger under the " +
            s"legacy key '$legacy'; pass txnAppId = \"$legacy\" to continue that ledger")
      canonical
    }
    val committed = new java.util.concurrent.atomic.AtomicLong(0L)
    drainChanges(spark, changesDir, changesSchema, checkpoint,
        keyCol, opCol, partitionCol, maxFilesPerTrigger) { (changes, touched, batchId) =>
      // the touched values ride down to the merge as a hint so they
      // are never collected twice; the merge's remaining consumptions
      // (vacating-key join, image projection) read the same
      // materialized blocks. The merge reports the base it opened, so
      // "did this batch publish" costs no log listing of its own.
      if (touched.nonEmpty) {
        val (base, after) = graft.ext.TxTable.mergeChanges(
          spark, tableDir, changes, keyCol, opCol, partitionCol, moR,
          txn = Some((appId, batchId)), touchedHint = Some(touched))
        if (after != base) committed.incrementAndGet()
      }
      if (maintainEvery > 0 && batchId % maintainEvery == maintainEvery - 1)
        runMaintenance(spark, tableDir, partitionCol)
    }
    committed.get()
  }

  /** Streaming fact + derived view moving IN STEP (r18): each
    * non-empty micro-batch commits ONE multi-table intent —
    * [[graft.ext.PairTxn.MergeDvCommit]] applies the batch to the
    * fact at merge-on-read economics (tombstone sidecars + fresh
    * rows, zero rewrites) and a replace side publishes the view over
    * the post-batch state — so a reader NEVER sees a fact the view
    * lags behind past the roll-forward window, at any crash point
    * (the [[graft.ext.PairTxn]] matrix; each intent first rolls
    * forward any predecessor, so the stream self-heals).
    *
    * Exactly-once under at-least-once foreachBatch: the fact side
    * carries the (appId, batchId) ledger tag — a replayed batch
    * re-applies NOTHING (it stages an empty delta; the group still
    * moves in step) — and the view content is derived from what the
    * LEDGER says, not from blind recomputation: a batch the ledger
    * already records is applied IN the current fact, so the view
    * recompute is literally `viewOf(currentFact)`; a fresh batch
    * recomputes as anti-join the batch's keys out, union the batch's
    * insert/update images back — which equals `viewOf` of the
    * post-merge fact because the INSERT CONTRACT below forbids the
    * one divergent case. Same canonical-URI appId derivation as
    * [[mergeAvailableVersioned]].
    *
    * INSERT CONTRACT (enforced loudly, the r18 ADVICE hole): an
    * `op = 'insert'` key must be ABSENT from the current fact.
    * [[graft.ext.TxTable.mergeChangeSetDv]] tombstones only
    * update/delete keys, so an insert-of-existing-key would DUPLICATE
    * the row in the committed fact while the view recompute replaced
    * it — silently breaking the group invariant `view ==
    * viewOf(fact)`. The batch fails BEFORE anything stages (nothing
    * of the intent exists yet); the producer re-tags the row as
    * `update` for upsert semantics. The check is one semi-join
    * LIMIT 1 against the fact's key column — column-pruned, and only
    * on the not-yet-applied path (a replayed batch skips it: its
    * insert keys are in the fact by construction).
    *
    * `maxFilesPerTrigger` batches that many change files per intent
    * (default 1 = one intent per file, the historical cadence) —
    * same argument as [[mergeAvailableVersioned]]: the feed contract
    * (at most one change per key across the whole feed) makes any
    * file batching equal to the one-shot apply, the ledger tag is
    * per-BATCH, and the view is recomputed from the post-batch fact
    * either way, so a catch-up consumer pays one intent (two staged
    * commits + a view recompute) per N files instead of per file.
    *
    * `viewOf` maps the post-batch fact frame to the view's content —
    * the pipeline's own aggregate. Returns the number of intents
    * committed. */
  def pairAvailable(
      spark: SparkSession,
      coordDir: String,
      factDir: String,
      viewDir: String,
      changesDir: String,
      changesSchema: org.apache.spark.sql.types.StructType,
      checkpoint: String,
      viewOf: DataFrame => DataFrame,
      keyCol: String = "event_id",
      opCol: String = "op",
      partitionCol: String = "pbucket",
      txnAppId: String = null,
      maxFilesPerTrigger: Int = 1): Long = {
    val appId = Option(txnAppId)
      .getOrElse(canonicalAppId(spark, "pair-stream", changesDir))
    val committed = new java.util.concurrent.atomic.AtomicLong(0L)
    drainChanges(spark, changesDir, changesSchema, checkpoint,
        keyCol, opCol, partitionCol, maxFilesPerTrigger) { (changes, touched, batchId) =>
      // the one evaluation serves the insert-contract semi-join, the
      // view recompute's anti-join keys + images and the MoR
      // staging's three consumptions (the staged merge detects the
      // existing checkpoint and passes through); the touched values
      // ride down to the staged merge
      if (touched.nonEmpty) {
        // roll forward any crashed predecessor BEFORE opening the
        // fact: the snapshot pins its version when opened (the frame,
        // kept or fresh, reads exactly that version's live files), and
        // a view derived from a pre-recovery snapshot would silently
        // miss the recovered batch. This stream writes nothing to the
        // coordinator between here and the commit, so the commit skips
        // commitAll's second roll-forward.
        graft.ext.PairTxn.recoverPairs(spark, coordDir)
        // ONE snapshot serves the frame (read's memo) and the ledger
        val m = graft.ext.TxTable.openSnapshot(spark, factDir, None)
        val cur = graft.ext.TxTable.frameOf(spark, factDir, m)
        // the LEDGER decides the recompute shape: a batch already
        // recorded is applied IN `cur`, so anti-join/union would
        // re-add its insert images (duplicating them in the view's
        // input) — the identity is the only correct replay recompute
        val applied =
          if (m.applied(Some((appId, batchId)))) cur
          else {
            // insert contract (see the scaladoc): enforced BEFORE
            // anything stages, so a violating batch leaves no debris
            val insertKeys = changes.where(col(opCol) === "insert")
              .select(col(keyCol)).distinct()
            require(cur.join(insertKeys, Seq(keyCol), "left_semi").isEmpty,
              s"pairAvailable batch $batchId: an op='insert' key already " +
                s"exists in the fact at $factDir — the MoR merge would " +
                "duplicate the row while the view recompute replaced it, " +
                "breaking view == viewOf(fact); re-tag the change as " +
                "op='update' for upsert semantics")
            val images = changes
              .where(col(opCol).isin("insert", "update"))
              .select(cur.columns.map(col).toSeq: _*)
            cur.join(changes.select(col(keyCol)).distinct(),
                Seq(keyCol), "left_anti")
              .unionByName(images)
          }
        graft.ext.PairTxn.commitRecovered(spark, coordDir, Seq(
          graft.ext.PairTxn.MergeDvCommit(factDir, changes, keyCol,
            opCol, partitionCol, txn = Some((appId, batchId)),
            touchedHint = Some(touched)),
          graft.ext.PairTxn.PairCommit(viewDir, viewOf(applied),
            replace = true)))
        committed.incrementAndGet()
      }
    }
    committed.get()
  }
}
