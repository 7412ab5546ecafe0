package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MergeStreamSpec extends SparkSpec {

  private val changesSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("op", StringType),
    StructField("value", DoubleType), StructField("pbucket", LongType)))

  private def inTempDir[T](f: String => T): T =
    graft.QueryUtil.inTempDir("graft_merge_spec")(f)

  /** Log listings `body` makes, counted on whichever store is bound. */
  private def listings(dir: String)(body: => Any): Int = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val counting = new graft.ext.CountingLogStore(graft.ext.TxTable.logStoreFactory(fs))
    graft.ext.TxTable.withLogStore(_ => counting)(body)
    counting.listed.get()
  }

  test("versioned merge: a batch that deletes a partition's last row " +
      "leaves no file in that bucket") {
    import spark.implicits._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      graft.ext.TxTable.commitReplace(spark, table,
        Seq((1L, 1.0, 0L), (2L, 2.0, 1L)).toDF("event_id", "value", "pbucket"),
        Some("pbucket"))
      Seq((2L, "delete", 0.0, 1L)).toDF("event_id", "op", "value", "pbucket")
        .coalesce(1).write.parquet(s"$tmp/changes")
      assert(MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt") === 1L)
      val m = graft.ext.TxTable.readManifest(spark, table, 2L)
      assert(!m.files.exists(_.bucket.contains("1")),
        s"the emptied bucket must hold no file: ${m.files.map(_.path)}")
      assert(graft.ext.TxTable.readPruned(spark, table, Set("1")).count() === 0L)
      val rows = graft.ext.TxTable.read(spark, table)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((1L, 1.0)), "only the untouched partition survives")
    }
  }

  test("versioned streamed merge: one atomic version per batch, final " +
      "state equals the batch apply, untouched files byte-identical, " +
      "time travel to the initial snapshot") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      val snapshot = (0L until 40L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.TxTable.commitReplace(spark, table, snapshot, Some("pbucket"))
      val changes = Seq(
        (0L, "delete", 0.0, 0L), (4L, "update", 999.0, 0L),
        (41L, "insert", 41.0, 1L), (9L, "update", 888.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      changes.where(col("pbucket") === 0).coalesce(1)
        .write.mode("append").parquet(s"$tmp/changes")
      changes.where(col("pbucket") === 1).coalesce(1)
        .write.mode("append").parquet(s"$tmp/changes")
      val v1Bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(table, "data"))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
      val versionsCommitted = MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt")
      assert(versionsCommitted == 2, s"expected 2 commits, got $versionsCommitted")
      assert(graft.ext.TxTable.latestVersion(spark, table) === Some(3L))
      // v1's data files are byte-identical after both commits
      v1Bytes.foreach { case (p, bytes) =>
        assert(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)).toSeq == bytes, s"file mutated: $p")
      }
      val expected = graft.ext.Cdc.applyChangeSet(snapshot, changes, "event_id", "op")
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = graft.ext.TxTable.read(spark, table)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == expected)
      // time travel: version 1 is still the untouched initial snapshot
      val v1 = graft.ext.TxTable.read(spark, table, versionAsOf = Some(1L))
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(v1 == snapshot.orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      // CRASH REPLAY: a lost/rebuilt stream checkpoint re-delivers every
      // batch (foreachBatch is at-least-once) — the (appId, batchId)
      // ledger must turn each re-application into a no-op, or the
      // inserts would double
      val replayed = MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt_rebuilt")
      assert(replayed === 0L, s"replayed batches must not re-apply: $replayed")
      assert(graft.ext.TxTable.latestVersion(spark, table) === Some(3L))
      val afterReplay = graft.ext.TxTable.read(spark, table)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(afterReplay == expected, "state must be unchanged by the replay")
    }
  }

  test("merge-on-read versioned stream (moR = true): same final state " +
      "and exactly-once semantics, ZERO files rewritten, crash replay " +
      "no-ops, compact reconciles") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      val snapshot = (0L until 40L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.TxTable.commitReplace(spark, table, snapshot, Some("pbucket"))
      val changes = Seq(
        (0L, "delete", 0.0, 0L), (4L, "update", 999.0, 0L),
        (41L, "insert", 41.0, 1L), (9L, "update", 888.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      changes.where(col("pbucket") === 0).coalesce(1)
        .write.mode("append").parquet(s"$tmp/changes")
      changes.where(col("pbucket") === 1).coalesce(1)
        .write.mode("append").parquet(s"$tmp/changes")
      val v1Bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(table, "data"))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
      val committed = MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt", moR = true)
      assert(committed == 2, s"expected 2 commits, got $committed")
      // the MoR contract is stronger than COW's: EVERY v1 file (touched
      // partitions included) is byte-identical after the whole stream
      v1Bytes.foreach { case (p, bytes) =>
        assert(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)).toSeq == bytes, s"file mutated: $p")
      }
      val expected = graft.ext.Cdc.applyChangeSet(snapshot, changes, "event_id", "op")
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def state() = graft.ext.TxTable.read(spark, table)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(state() == expected)
      assert(graft.ext.TxTable.metaCount(spark, table) === expected.size.toLong)
      // rebuilt checkpoint: the (appId, batchId) ledger must no-op both
      // re-delivered batches — MoR double-apply would double-tombstone
      val replayed = MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt_rebuilt",
        moR = true)
      assert(replayed === 0L, s"replayed batches must not re-apply: $replayed")
      assert(state() == expected)
      // maintenance cadence: compact sweeps the stream's DV debt
      graft.ext.TxTable.compact(spark, table, "pbucket")
      assert(state() == expected)
      val m = graft.ext.TxTable.readManifest(spark, table,
        graft.ext.TxTable.latestVersion(spark, table).get)
      assert(m.files.forall(_.dvs.isEmpty))
    }
  }

  test("maintainEvery: the stream runs its own maintenance cadence — " +
      "content identical, DV debt swept when the budget is crossed") {
    import spark.implicits._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      // small table + update/delete-heavy feed: tombstoned rows cross
      // the 10% default budget immediately, so the cadence MUST fire
      val snapshot = (0L until 20L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.TxTable.commitReplace(spark, table, snapshot, Some("pbucket"))
      val changes = Seq(
        (0L, "delete", 0.0, 0L), (4L, "update", 999.0, 0L),
        (1L, "delete", 0.0, 1L), (9L, "update", 888.0, 1L),
        (2L, "delete", 0.0, 2L), (41L, "insert", 41.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      (0 to 2).foreach { b =>
        changes.where(col("pbucket") === b).coalesce(1)
          .write.mode("append").parquet(s"$tmp/changes")
      }
      MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt",
        moR = true, maintainEvery = 2)
      val expected = graft.ext.Cdc.applyChangeSet(snapshot, changes, "event_id", "op")
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(graft.ext.TxTable.read(spark, table)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == expected)
      val hist = graft.ext.TxTable.history(spark, table)
        .select("op").collect().map(_.getString(0))
      // the cadence picks the cheapest sweep for what actually decayed:
      // DV debt alone purges (file-granular); fragmentation compacts
      assert(hist.contains("compact") || hist.contains("purge"),
        s"the cadence must have swept the crossed DV budget: ${hist.toSeq}")
      assert(graft.ext.TxTable.metaCount(spark, table) === expected.size.toLong)
    }
  }

  test("a failing maintenance pass is best-effort: it must not kill the stream") {
    // maintainIfNeeded on an uninitialized table throws — the cadence
    // wrapper must swallow it (the batch's own merge already
    // committed; the decay waits for the next tick) instead of
    // surfacing a StreamingQueryException out of foreachBatch
    inTempDir { tmp =>
      assert(!MergeStream.runMaintenance(spark, s"$tmp/never_created", "pbucket"))
    }
  }

  test("maintenance outcomes are VISIBLE metrics: attempted/published/" +
      "skipped counters, not just stderr") {
    import spark.implicits._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      val snapshot = (0L until 20L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.TxTable.commitReplace(spark, table, snapshot, Some("pbucket"))
      // cross the DV budget so maintenance genuinely wants to publish
      graft.ext.TxTable.deleteWhereDv(spark, table, col("event_id") % 4 === 0)
      val m = MergeStream.maintenanceMetrics(spark, table)
      val (a0, p0, s0) = (m.attempted.value, m.published.value, m.skipped.value)
      // force the failure mode: a log store whose publishes always
      // lose — the OCC retries exhaust, the wrapper swallows, and the
      // skip must land in the counter a monitor can alarm on
      val losing = new graft.ext.LogStore {
        def inner(fs: org.apache.hadoop.fs.FileSystem) =
          new graft.ext.HadoopLogStore(fs)
        val fs = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(spark.sessionState.newHadoopConf())
        override def list(d: org.apache.hadoop.fs.Path) = inner(fs).list(d)
        override def read(p: org.apache.hadoop.fs.Path) = inner(fs).read(p)
        override def writeIfAbsent(p: org.apache.hadoop.fs.Path, c: String) = false
        override def delete(p: org.apache.hadoop.fs.Path) = inner(fs).delete(p)
      }
      graft.ext.TxTable.withLogStore(_ => losing) {
        assert(!MergeStream.runMaintenance(spark, table, "pbucket"))
      }
      assert(m.attempted.value === a0 + 1)
      assert(m.skipped.value === s0 + 1, "the forced failure must be countable")
      assert(m.published.value === p0)
      // and the healthy pass counts as published
      assert(MergeStream.runMaintenance(spark, table, "pbucket"))
      assert(m.attempted.value === a0 + 2)
      assert(m.published.value === p0 + 1)
      assert(m.skipped.value === s0 + 1)
    }
  }

  test("a table whose ledger sits under the legacy raw-string appId is " +
      "refused by default and continues under an explicit txnAppId") {
    import spark.implicits._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      val changesDir = s"$tmp/changes"
      val snapshot = (0L until 20L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.TxTable.commitReplace(spark, table, snapshot, Some("pbucket"))
      val changes = Seq(
        (0L, "delete", 0.0, 0L), (41L, "insert", 41.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      changes.where(col("pbucket") === 0).coalesce(1)
        .write.mode("append").parquet(changesDir)
      changes.where(col("pbucket") === 1).coalesce(1)
        .write.mode("append").parquet(changesDir)
      // simulate the PRE-upgrade engine: both batches committed under
      // the RAW-string appId (the old default) — note changesDir here
      // is an absolute path WITHOUT the scheme the canonical URI adds
      val legacyApp = s"merge-stream:$changesDir"
      graft.ext.TxTable.mergeChangeSet(spark, table,
        changes.where(col("pbucket") === 0), "event_id", "op", "pbucket",
        txn = Some((legacyApp, 0L)))
      graft.ext.TxTable.mergeChangeSet(spark, table,
        changes.where(col("pbucket") === 1), "event_id", "op", "pbucket",
        txn = Some((legacyApp, 1L)))
      val vBefore = graft.ext.TxTable.latestVersion(spark, table)
      val expected = graft.ext.TxTable.read(spark, table)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // the default (canonical) appId would start an empty ledger and
      // double-apply the inserts on replay: the stream refuses before
      // anything commits, naming the key to continue
      val e = intercept[IllegalStateException] {
        MergeStream.mergeAvailableVersioned(
          spark, table, changesDir, changesSchema, s"$tmp/ckpt_default")
      }
      assert(e.getMessage.contains(s"'$legacyApp'") && e.getMessage.contains("txnAppId"),
        e.getMessage)
      assert(graft.ext.TxTable.latestVersion(spark, table) === vBefore,
        "a refused stream commits nothing")
      // passing the legacy key continues that ledger: a fresh
      // checkpoint replays both batches and the ledger no-ops each one
      val replayed = MergeStream.mergeAvailableVersioned(
        spark, table, changesDir, changesSchema, s"$tmp/ckpt_rebuilt",
        txnAppId = legacyApp)
      assert(replayed === 0L,
        s"replayed batches must dedup via the legacy ledger: $replayed")
      assert(graft.ext.TxTable.latestVersion(spark, table) === vBefore)
      val after = graft.ext.TxTable.read(spark, table)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(after == expected, "state must be unchanged by the replay")
    }
  }

  test("pairAvailable enforces the insert contract loudly: an insert " +
      "whose key exists in the fact fails BEFORE anything stages") {
    import spark.implicits._
    inTempDir { tmp =>
      val fact = s"$tmp/fact"; val view = s"$tmp/view"
      def viewOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy((col("event_id") % 2).as("k"))
          .agg(count(lit(1)).as("n"))
      val seed = (0L until 10L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.PairTxn.commitAll(spark, tmp, Seq(
        graft.ext.PairTxn.PairCommit(fact, seed, replace = true,
          partitionCol = Some("pbucket")),
        graft.ext.PairTxn.PairCommit(view, viewOf(seed), replace = true)))
      // key 4 ALREADY EXISTS in the fact — an op='insert' for it would
      // duplicate the fact row while the view recompute replaced it
      Seq((4L, "insert", 999.0, 0L))
        .toDF("event_id", "op", "value", "pbucket")
        .coalesce(1).write.parquet(s"$tmp/changes")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        MergeStream.pairAvailable(spark, tmp, fact, view, s"$tmp/changes",
          changesSchema, s"$tmp/ckpt", viewOf)
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(chain.exists(_.contains("op='insert'")),
        s"failure must name the insert contract: $chain")
      // nothing of the batch committed: both tables still at the seed
      assert(graft.ext.TxTable.latestVersion(spark, fact) === Some(1L))
      assert(graft.ext.TxTable.latestVersion(spark, view) === Some(1L))
      assert(graft.ext.TxTable.read(spark, fact).count() == 10L)
    }
  }

  test("pairAvailable maxFilesPerTrigger: ceil(files/N) intents, final " +
      "state equals the batch apply, replay on a rebuilt checkpoint is " +
      "identity — including re-added insert keys (the ledger-aware " +
      "recompute, not blind anti-join/union)") {
    import spark.implicits._
    inTempDir { tmp =>
      val fact = s"$tmp/fact"; val view = s"$tmp/view"
      def viewOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy((col("event_id") % 3).as("k"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      val seed = (0L until 20L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.PairTxn.commitAll(spark, tmp, Seq(
        graft.ext.PairTxn.PairCommit(fact, seed, replace = true,
          partitionCol = Some("pbucket")),
        graft.ext.PairTxn.PairCommit(view, viewOf(seed), replace = true)))
      // 5 change files (keys cover every %5 residue so no file is
      // empty), one change per key across the whole feed
      val changes = Seq(
        (0L, "delete", 0.0, 0L), (13L, "update", 999.0, 1L),
        (21L, "insert", 21.0, 1L), (9L, "update", 888.0, 1L),
        (22L, "insert", 22.0, 2L))
        .toDF("event_id", "op", "value", "pbucket")
      (0 until 5).foreach { i =>
        changes.where(col("event_id") % 5 === i).coalesce(1)
          .write.mode("append").parquet(s"$tmp/changes")
      }
      val intents = MergeStream.pairAvailable(spark, tmp, fact, view,
        s"$tmp/changes", changesSchema, s"$tmp/ckpt", viewOf,
        maxFilesPerTrigger = 2)
      assert(intents == 3, s"5 files at N=2 must drain in 3 intents: $intents")
      val expected = graft.ext.Cdc.applyChangeSet(
          seed, changes, "event_id", "op")
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = graft.ext.TxTable.read(spark, fact)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == expected)
      val viewRows = graft.ext.TxTable.read(spark, view)
        .orderBy("k").collect().toSeq
      // REBUILT checkpoint: every batch re-fires. The fact side no-ops
      // via the ledger; the view recompute must be the IDENTITY — with
      // the old blind anti-join/union it would re-union the replayed
      // insert images (21, 22) into the view's input
      val replayIntents = MergeStream.pairAvailable(spark, tmp, fact, view,
        s"$tmp/changes", changesSchema, s"$tmp/ckpt2", viewOf,
        maxFilesPerTrigger = 2)
      assert(replayIntents == 3)
      assert(graft.ext.TxTable.read(spark, fact)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == expected,
        "a replayed feed must not re-apply")
      assert(graft.ext.TxTable.read(spark, view)
        .orderBy("k").collect().toSeq == viewRows,
        "the replayed view must be bit-identical")
      // the group still moved in step through the replay
      assert(graft.ext.TxTable.latestVersion(spark, fact) ===
        graft.ext.TxTable.latestVersion(spark, view))
    }
  }

  test("versioned merge maxFilesPerTrigger: ceil(files/N) commits, same " +
      "final state as one-file-per-trigger") {
    import spark.implicits._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      val snapshot = (0L until 12L).map(i => (i, i * 1.0, i % 3))
        .toDF("event_id", "value", "pbucket")
      graft.ext.TxTable.commitReplace(spark, table, snapshot, Some("pbucket"))
      // keys cover every %3 residue so no change file is empty
      val changes = Seq(
        (0L, "delete", 0.0, 0L), (1L, "update", 101.0, 1L),
        (14L, "insert", 14.0, 2L))
        .toDF("event_id", "op", "value", "pbucket")
      (0 until 3).foreach { i =>
        changes.where(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(s"$tmp/changes")
      }
      val committed = MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt",
        maxFilesPerTrigger = 2)
      assert(committed == 2, s"3 files at N=2 must commit twice: $committed")
      val expected = graft.ext.Cdc.applyChangeSet(
          snapshot, changes, "event_id", "op")
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(graft.ext.TxTable.read(spark, table)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == expected)
    }
  }

  test("an empty change feed leaves the snapshot untouched (0 batches)") {
    import spark.implicits._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      graft.ext.TxTable.commitReplace(spark, table,
        Seq((1L, 1.0, 0L)).toDF("event_id", "value", "pbucket"), Some("pbucket"))
      Seq.empty[(Long, String, Double, Long)]
        .toDF("event_id", "op", "value", "pbucket")
        .write.parquet(s"$tmp/changes")
      val committed = MergeStream.mergeAvailableVersioned(
        spark, table, s"$tmp/changes", changesSchema, s"$tmp/ckpt")
      assert(committed == 0)
      assert(graft.ext.TxTable.latestVersion(spark, table) === Some(1L))
      assert(graft.ext.TxTable.read(spark, table).count() == 1)
    }
  }

  /** Log listings of a 2-batch versioned drain at `moR`. */
  private def versionedDrainListings(moR: Boolean): Int = {
    import spark.implicits._
    inTempDir { tmp =>
      val table = s"$tmp/table"
      graft.ext.TxTable.commitReplace(spark, table,
        (0L until 20L).map(i => (i, i * 1.0, i % 4)).toDF("event_id", "value", "pbucket"),
        Some("pbucket"))
      val changes = Seq((0L, "delete", 0.0, 0L), (41L, "insert", 41.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      (0 to 1).foreach { b =>
        changes.where(col("pbucket") === b).coalesce(1)
          .write.mode("append").parquet(s"$tmp/changes")
      }
      listings(table) {
        assert(MergeStream.mergeAvailableVersioned(spark, table, s"$tmp/changes",
          changesSchema, s"$tmp/ckpt", moR = moR) === 2L)
      }
    }
  }

  // one listing resolves the default app id's ledger, one per batch
  // opens the merge's base (which also tells whether the batch published)
  test("a copy-on-write versioned drain lists the log once per batch") {
    assert(versionedDrainListings(moR = false) === 3)
  }

  test("a merge-on-read versioned drain lists the log once per batch") {
    assert(versionedDrainListings(moR = true) === 3)
  }

  test("a pair drain opens the fact once per intent") {
    import spark.implicits._
    inTempDir { tmp =>
      val fact = s"$tmp/fact"; val view = s"$tmp/view"
      def viewOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy((col("event_id") % 2).as("k")).agg(count(lit(1)).as("n"))
      val seed = (0L until 20L).map(i => (i, i * 1.0, i % 4))
        .toDF("event_id", "value", "pbucket")
      graft.ext.PairTxn.commitAll(spark, tmp, Seq(
        graft.ext.PairTxn.PairCommit(fact, seed, replace = true,
          partitionCol = Some("pbucket")),
        graft.ext.PairTxn.PairCommit(view, viewOf(seed), replace = true)))
      val changes = Seq((0L, "delete", 0.0, 0L), (41L, "insert", 41.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      (0 to 1).foreach { b =>
        changes.where(col("pbucket") === b).coalesce(1)
          .write.mode("append").parquet(s"$tmp/changes")
      }
      val n = listings(fact) {
        assert(MergeStream.pairAvailable(spark, tmp, fact, view, s"$tmp/changes",
          changesSchema, s"$tmp/ckpt", viewOf) === 2L)
      }
      // per intent: the stream's roll-forward lists the coordinator,
      // opens the fact once for the view recompute and opens both
      // sides to stage them
      assert(n === 8, s"listings: $n")
      assert(graft.ext.TxTable.read(spark, fact).count() === 20L)
    }
  }
}
