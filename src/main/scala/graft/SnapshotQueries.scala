package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import QueryUtil.{dsum, inTempDir, localized}

/** Round-10 batch: snapshot-isolated table commits (graft.ext.TxTable
  * — manifest commit log, atomic version swap, time travel) in both
  * their batch (q146) and streaming (q147) faces, plus the rn = 1
  * dedup idiom through the TopKWindowRewrite optimizer rule against
  * q92's oracle (q148). The TxTable oracles replay every version's
  * changeset relationally — which is exactly what the commit log
  * promises a reader at any version sees.
  */
object SnapshotQueries {

  val all: Seq[Q] = Seq(

    // Versioned MERGE with time travel: base snapshot (v1), two CDC
    // changesets committed as v2 and v3 (each rewriting only touched
    // pbucket files, untouched entries carried by reference), then ALL
    // THREE versions read back AFTER the last commit — the per-version
    // aggregates prove every historical version is intact under later
    // commits. The oracle replays the changeset chain relationally.
    Q("q146_tx_time_travel", SnapshotOracles.txTimeTravel) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_tx") { tmp =>
        val table = s"$tmp/table"
        ChangeFeedFixture.commitChain(s, table, ev)
        // every read below TIME-TRAVELS from the final (v3) log state
        localized(ChangeFeedFixture.perVersion(s, table, 1 to 3))
      }
    },

    // Streaming MERGE onto the commit log: the q138 change feed
    // drained one file per micro-batch, each non-empty batch one
    // ATOMIC TxTable version (readers racing the stream see only
    // committed versions; emptied partitions vanish structurally).
    // Final state must equal the one-shot relational apply — the same
    // oracle as q138, which drains the same three files in one commit.
    Q("q147_stream_merge_versioned", DataOpsOracles.streamMerge) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txs") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        ChangeFeedFixture.changesA(ev).repartition(3, col("pbucket"))
          .write.parquet(s"$tmp/changes")
        graft.streaming.MergeStream.mergeAvailableVersioned(
          s, table, s"$tmp/changes", ChangeFeedFixture.changeSchema, s"$tmp/ckpt")
        localized(ChangeFeedFixture.bySeven(graft.ext.TxTable.read(s, table)).orderBy("k"))
      }
    },

    // OPTIMIZE as a version: a deliberately fragmented table (12-way
    // repartition before the commit puts ~12 files in every pbucket
    // dir) compacted to one file per partition — published as a
    // normal atomic commit, so the rewrite is invisible to content
    // (this oracle: plain SQL over the slice) while TxTableSpec pins
    // the file counts and the old version's integrity.
    Q("q149_tx_compact", SnapshotOracles.txCompact) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txc") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s,
          table,
          ChangeFeedFixture.seed(ev).repartition(12),
          Some("pbucket"))
        graft.ext.TxTable.compact(s, table, "pbucket")
        localized(graft.ext.TxTable.read(s, table)
          .groupBy((col("event_id") % 9).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
      }
    },

    // CDC read: the NET changeset between version 1 and version 3 of
    // the q146 chain, in applyChangeSet's own input shape — what an
    // incremental downstream consumes instead of re-diffing
    // snapshots. Only partitions whose manifest file sets differ are
    // read (the immutability invariant makes equal file lists proof
    // of equal content). The oracle full-outer-diffs the replayed s1
    // and s3 relationally.
    Q("q150_tx_change_feed", SnapshotOracles.txChangeFeed) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txf") { tmp =>
        val table = s"$tmp/table"
        ChangeFeedFixture.commitChain(s, table, ev)
        // aggregate BEFORE localizing: the raw changeset is
        // corpus-proportional (~|events|·8/15 keys), and localized()'s
        // fail-loud bound is for output-sized frames — the per-(op,
        // bucket) aggregate checks the same op classifications and
        // values at any SF
        localized(graft.ext.TxTable.changesBetween(s, table, 1L, 3L, "event_id")
          .groupBy(col("op"), (col("event_id") % 7).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("op", "k"))
      }
    },

    // Additive schema evolution through the commit log: the changeset
    // carries a NEW column (src = 'feed'); the evolving merge writes
    // it only into the rewritten partitions' files, carried-forward
    // old-shape files read NULL through the allowMissingColumns union
    // — and version 1 still time-travels WITHOUT the column at all.
    // The oracle replays the merge with NULL src for surviving rows.
    Q("q151_tx_schema_evolution", SnapshotOracles.txSchemaEvolution) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txe") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        val changes = ChangeFeedFixture.changesA(ev).withColumn("src", lit("feed"))
        graft.ext.TxTable.mergeChangeSet(s, table, changes,
          "event_id", "op", "pbucket", evolveSchema = true)
        localized(graft.ext.TxTable.read(s, table)
          .groupBy(coalesce(col("src"), lit("(legacy)")).as("src"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("src"))
      }
    },

    // Manifest-stats file skipping: the table is committed
    // range-clustered on event_id with per-file min/max recorded in
    // the manifest; the range read prunes files on the MANIFEST (no
    // footer ever opened for skipped files) and then applies the
    // exact row filter — so the result equals the plain predicate,
    // which is the oracle. TxTableSpec asserts the scan touches a
    // strict subset of the files.
    Q("q154_tx_file_skipping", SnapshotOracles.txFileSkipping) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txr") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s,
          table,
          ev.where(col("event_id") % 2 === 0)
            .select(col("event_id"), col("value"))
            .repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          partitionCol = None, statsCols = Seq("event_id"))
        localized(graft.ext.TxTable.readRange(s, table, "event_id", 1000L, 3000L)
          .groupBy((col("event_id") % 5).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
      }
    },

    // Predicate DML through the commit log: DELETE WHERE then UPDATE
    // WHERE as two atomic versions — only files CONTAINING matching
    // rows are rewritten (one match-location pass, bounded collect of
    // file names), everything else carries by reference, and the
    // pre-DML version still time-travels. The right-to-be-forgotten
    // purge and the backfill correction in one recipe; oracle replays
    // both statements relationally.
    Q("q159_tx_dml", SnapshotOracles.txDml) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txd") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s,
          table,
          ev.where(col("event_id") % 2 === 0)
            .select(col("event_id"), col("user_id"), col("value"),
              (col("event_id") % 8).as("pbucket")),
          Some("pbucket"))
        // the forget-this-user purge
        graft.ext.TxTable.deleteWhere(s, table,
          col("user_id") % 100 === 7, Some("pbucket"))
        // the backfill correction
        graft.ext.TxTable.updateWhere(s, table,
          col("value") < 0,
          Seq("value" -> (col("value") * -1)), Some("pbucket"))
        localized(graft.ext.TxTable.read(s, table)
          .groupBy((col("event_id") % 6).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
      }
    },

    // The commit log AS a stream: graft.streaming.ChangeFeedStream
    // subscribes to _graft_log through the file source (exactly-once
    // version delivery via the stream checkpoint — a manifest, once
    // processed, is never re-delivered) and hands each version's NET
    // changeset to the consumer. Here the q146 chain is consumed from
    // version 1: two deliveries (v2, v3), each aggregated per (op,
    // bucket); the oracle replays diff(s1,s2) ∪ diff(s2,s3) — note
    // v3's feed contains only B's EFFECTIVE ops (a delete of a key A
    // already removed is absent), which is exactly what "net
    // changeset" means.
    Q("q162_tx_change_stream", SnapshotOracles.txChangeStream) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txcs") { tmp =>
        val table = s"$tmp/table"
        ChangeFeedFixture.commitChain(s, table, ev)
        val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        graft.streaming.ChangeFeedStream.followAvailable(
          s, table, "event_id", s"$tmp/ckpt") { (v, changes) =>
          acc += localized(changes
            .groupBy(col("op"), (col("event_id") % 7).as("k"))
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
            .withColumn("version", lit(v.toInt)))
        }
        acc.reduce(_ unionByName _)
          .select("version", "op", "k", "n", "value_sum")
          .orderBy("version", "op", "k")
      }
    },

    // Incremental view maintenance from the change feed: a per-bucket
    // (count, floor-quantized sum) aggregate of version 1 is brought
    // to version 3 by DELTAS ONLY — each feed row contributes
    // (−before, +after) through changesBetweenImages, so updates
    // subtract the old value and add the new, never touching the
    // table. The oracle aggregates the FINAL state directly: equality
    // proves baseline + Σdeltas = full recompute, which is the whole
    // point of maintaining a 100 TB rollup without re-scanning it.
    // Quantized longs make the delta arithmetic exact (a float
    // baseline would accumulate different rounding than the direct
    // aggregation).
    Q("q163_tx_incremental_view", SnapshotOracles.txIncrementalView) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txiv") { tmp =>
        val table = s"$tmp/table"
        ChangeFeedFixture.commitChain(s, table, ev)
        def q(c: org.apache.spark.sql.Column) =
          coalesce(floor(c * lit(1000000.0)).cast("long"), lit(0L))
        // the maintained view starts as version 1's aggregate...
        val baseline = graft.ext.TxTable.read(s, table, versionAsOf = Some(1L))
          .groupBy((col("event_id") % 7).as("k"))
          .agg(count(lit(1)).as("dn"), sum(q(col("value"))).as("dq"))
        // ...and every version's feed contributes (−before, +after)
        val deltas = (2L to 3L).map { v =>
          graft.ext.TxTable.changesBetweenImages(s, table, v - 1, v, "event_id")
            .groupBy((col("event_id") % 7).as("k"))
            .agg(
              sum(when(col("after").isNotNull, 1L).otherwise(0L) -
                when(col("before").isNotNull, 1L).otherwise(0L)).as("dn"),
              sum(when(col("after").isNotNull, q(col("after.value"))).otherwise(0L) -
                when(col("before").isNotNull, q(col("before.value"))).otherwise(0L)).as("dq"))
        }
        localized((baseline +: deltas).reduce(_ unionByName _)
          .groupBy("k")
          .agg(sum(col("dn")).as("n"), sum(col("dq")).as("value_q"))
          .where(col("n") > 0)
          .orderBy("k"))
      }
    },

    // The composed pipeline: versioned source -> exactly-once change
    // stream -> VERSIONED rollup. The view is itself a TxTable
    // (rollups are #keys-sized, so full-replace per refresh is the
    // right commit shape); every source version becomes one view
    // version via the (−before, +after) delta merge, and the refresh
    // reads the view's OLD files while committing NEW ones — no
    // overwrite-from-own-input, no checkpoint staging, and a reader
    // of the view never sees a half-refresh. Same oracle as q163:
    // the maintained view must equal the direct aggregate of the
    // final source state.
    Q("q164_tx_streaming_view", SnapshotOracles.txIncrementalView) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txsv") { tmp =>
        val table = s"$tmp/table"
        val viewDir = s"$tmp/view"
        ChangeFeedFixture.commitChain(s, table, ev)
        def q(c: org.apache.spark.sql.Column) =
          coalesce(floor(c * lit(1000000.0)).cast("long"), lit(0L))
        // view version 1 = the baseline rollup of source version 1
        graft.ext.TxTable.commitReplace(s, viewDir,
          graft.ext.TxTable.read(s, table, versionAsOf = Some(1L))
            .groupBy((col("event_id") % 7).as("k"))
            .agg(count(lit(1)).as("n"), sum(q(col("value"))).as("value_q")))
        // every delivered source version refreshes the view by deltas
        graft.streaming.ChangeFeedStream.followAvailable(
          s, table, "event_id", s"$tmp/ckpt") { (v, _) =>
          val deltas = graft.ext.TxTable
            .changesBetweenImages(s, table, v - 1, v, "event_id")
            .groupBy((col("event_id") % 7).as("k"))
            .agg(
              sum(when(col("after").isNotNull, 1L).otherwise(0L) -
                when(col("before").isNotNull, 1L).otherwise(0L)).as("n"),
              sum(when(col("after").isNotNull, q(col("after.value"))).otherwise(0L) -
                when(col("before").isNotNull, q(col("before.value"))).otherwise(0L))
                .as("value_q"))
          val refreshed = graft.ext.TxTable.read(s, viewDir)
            .unionByName(deltas)
            .groupBy("k")
            .agg(sum(col("n")).as("n"), sum(col("value_q")).as("value_q"))
            .where(col("n") > 0)
          // the view refresh is txn-gated on the SOURCE version: a
          // replayed delivery (foreachBatch is at-least-once) must not
          // stack the deltas a second time
          graft.ext.TxTable.commitReplace(s, viewDir, refreshed,
            txn = Some(("view-refresh", v)))
        }
        localized(graft.ext.TxTable.read(s, viewDir)
          .select("k", "n", "value_q").orderBy("k"))
      }
    },

    // q92's canonical election asked through the PLAIN window idiom
    // (rn = 1 over the cluster partition) under the TopKWindowRewrite
    // rule: the rn = 1 dedup shape — not just rn <= k (q144) — must
    // land on TopKPerKeyExec's bounded heaps, with q92's oracle
    // unchanged. TopKWindowRewriteSpec asserts the executed plan
    // (TopKPerKeyExec present, WindowExec gone) for this exact shape;
    // here the ROWS are held to the recursive-CTE oracle. localized()
    // forces optimization inside scoped() (the q144 discipline; the
    // result is one row per cluster — #docs-bounded at any SF this
    // lane runs at; the production form stays q92's explicit
    // keepClusterCanonicalBy operator).
    Q("q148_canonical_window_rewrite", CorpusOpsQueries.canonicalByQualityOracle) { (s, dir) =>
      val clustered = graft.ext.Dedup.withServedClusters(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), s, dir)
      graft.plans.TopKWindowRewrite.scoped(s) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster").orderBy(desc("n_chars"), asc("doc_id"))
        localized(clustered.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).drop("rn")
          .select("doc_id", "cluster", "n_chars")
          .orderBy("doc_id"))
      }
    },

    // The CHECKPOINTED commit log under a version chain past the
    // cadence: 7 versions (one replace + 6 single-partition DELETEs)
    // at checkpointInterval = 4, so checkpoints land at v1 (full) and
    // v4 — reading v7 reconstructs from checkpoint 4 + three delta
    // manifests, and v4 is served from its checkpoint DIRECTLY, with
    // no delta replay at all (both reconstruction paths, held to the
    // relational replay; TxTableSpec pins the ≤-interval log-read
    // bound with a counting LogStore). Each delete's manifest is
    // change-sized: one removed + one added file entry, not the live
    // list — the write-amplification fix for per-micro-batch commit
    // streams. (The interval override is restored on every exit path;
    // the registry runs queries serially by contract.)
    Q("q165_tx_checkpointed_log", SnapshotOracles.txCheckpointedLog) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txck") { tmp =>
        val table = s"$tmp/table"
        val prevInterval = graft.ext.TxTable.checkpointInterval
        graft.ext.TxTable.checkpointInterval = 4
        try {
          graft.ext.TxTable.commitReplace(s, table,
            ev.where(col("event_id") % 4 === 0)
              .select(col("event_id"), col("value"), (col("event_id") % 32).as("pbucket")),
            Some("pbucket"))
          // versions 2..7; delete i touches exactly one pbucket (4i mod 32)
          (1 to 6).foreach { i =>
            graft.ext.TxTable.deleteWhere(s, table,
              col("event_id") % 96 === (4L * i), Some("pbucket"))
          }
          localized(ChangeFeedFixture.perVersion(s, table, Seq(4, 7)))
        } finally graft.ext.TxTable.checkpointInterval = prevInterval
      }
    },

    // Multi-column manifest stats over a Z-ordered layout: the commit
    // records per-file min/max for BOTH dimensions, the Z-curve keeps
    // both tight per file, and a 2-D box prunes files on the manifest
    // alone — the second predicate skips files the first would keep
    // (TxTableSpec asserts the strict file-subset chain; here the box
    // is held to the plain two-predicate SQL). At 100 TB this is the
    // scan reducer for range queries on two correlated keys.
    Q("q166_tx_zorder_skipping", SnapshotOracles.txZorderSkipping) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txz") { tmp =>
        val table = s"$tmp/table"
        // y spreads user_id across the dim even at tiny SFs (sf0.001
        // holds only 15 distinct users — a bare % 256 leaves the
        // [96, 127] band empty there)
        val df = ev.select(col("event_id"), col("user_id"), col("value"))
          .withColumn("x", col("event_id") % 256)
          .withColumn("y", (col("user_id") * 17) % 256)
        graft.ext.TxTable.commitReplace(s, table,
          graft.ext.Layout.zOrderBy(df, col("x"), col("y"), 16),
          partitionCol = None, statsCols = Seq("x", "y"))
        localized(ChangeFeedFixture.bySeven(graft.ext.TxTable.readRanges(s, table,
            Seq(("x", 32L, 63L), ("y", 96L, 127L)))).orderBy("k"))
      }
    },

    // IVM beyond algebraic aggregates: the rollup maintains count/sum
    // by (−before, +after) deltas (q163), but v3's DELETE removes
    // rows that include per-key MAXes — not expressible as a delta, so
    // graft.ext.Ivm recomputes max ONLY for the keys the feed touched,
    // over the manifest-pruned partition slice (cost ∝ changed
    // partitions — the q150 property, asserted in IvmSpec). The oracle
    // aggregates the FINAL state directly: maintained == recomputed,
    // max included, exactly.
    Q("q167_tx_ivm_minmax", SnapshotOracles.txIvmMinmax) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txim") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        graft.ext.TxTable.mergeChangeSet(s, table, ChangeFeedFixture.changesA(ev),
          "event_id", "op", "pbucket")
        // v3: a broad DELETE — in every bucket it has a ~1/3 chance of
        // taking the current max with it, which is the lane under test
        graft.ext.TxTable.deleteWhere(s, table,
          col("event_id") % 6 === 0, Some("pbucket"))
        var view = localized(graft.ext.Ivm.baseline(s, table, 1L, "pbucket", "value"))
        (2L to 3L).foreach { v =>
          view = localized(graft.ext.Ivm.maintainStep(
            s, table, view, v, "event_id", "pbucket", "value"))
        }
        localized(view.select("k", "n", "value_q", "min_q", "max_q").orderBy("k"))
      }
    },

    // The change feed COMPOSED WITH a sink: followAvailableFrames hands
    // each trigger ONE version-stamped DataFrame, appended verbatim to
    // a parquet sink — the CDC-replication recipe (feed → append-only
    // audit log) with exactly-once per version from the stream
    // checkpoint. The sink's content must equal q162's per-version
    // net diffs — same oracle, delivery shape upgraded from callback
    // to frame.
    Q("q168_tx_feed_to_sink", SnapshotOracles.txChangeStream) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txfs") { tmp =>
        val table = s"$tmp/table"
        ChangeFeedFixture.commitChain(s, table, ev)
        graft.streaming.ChangeFeedStream.followAvailableFrames(
          s, table, "event_id", s"$tmp/ckpt") { frame =>
          frame.write.mode("append").parquet(s"$tmp/sink")
        }
        localized(s.read.parquet(s"$tmp/sink")
          .groupBy(col("_commit_version").cast("int").as("version"),
            col("op"), (col("event_id") % 7).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .select("version", "op", "k", "n", "value_sum")
          .orderBy("version", "op", "k"))
      }
    },

    // Round-11 capstone — every new piece composed: versioned source →
    // BATCHED exactly-once change stream (followAvailableFrames as the
    // version-notification channel) → VERSIONED rollup maintained with
    // the NON-ALGEBRAIC lane (count/sum by deltas, min/max by
    // manifest-pruned affected-key recompute), one atomic view commit
    // per source version. Readers of the view never see a
    // half-refresh; the maintained view must equal the direct
    // aggregate of the final source state — q167's oracle, delivery
    // upgraded from batch loop to stream.
    Q("q170_tx_streaming_ivm", SnapshotOracles.txIvmMinmax) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txsi") { tmp =>
        val table = s"$tmp/table"
        val viewDir = s"$tmp/view"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        graft.ext.TxTable.mergeChangeSet(s, table, ChangeFeedFixture.changesA(ev),
          "event_id", "op", "pbucket")
        graft.ext.TxTable.deleteWhere(s, table,
          col("event_id") % 6 === 0, Some("pbucket"))
        // view version 1 = the baseline rollup of source version 1
        graft.ext.TxTable.commitReplace(s, viewDir,
          graft.ext.Ivm.baseline(s, table, 1L, "pbucket", "value"))
        // the stream drains source versions (bounded versions per
        // trigger); each one refreshes the view as an atomic commit
        graft.streaming.ChangeFeedStream.followAvailableFrames(
          s, table, "event_id", s"$tmp/ckpt") { frame =>
          val vs = frame.select(col("_commit_version")).distinct()
            .collect().map(_.getLong(0)).sorted
          vs.foreach { v =>
            // txn-gated on the source version: a replayed delivery
            // must not re-maintain (count/sum deltas would stack)
            graft.ext.TxTable.commitReplace(s, viewDir,
              graft.ext.Ivm.maintainStep(s, table,
                graft.ext.TxTable.read(s, viewDir), v,
                "event_id", "pbucket", "value"),
              txn = Some(("view-refresh", v)))
          }
        }
        localized(graft.ext.TxTable.read(s, viewDir)
          .select("k", "n", "value_q", "min_q", "max_q").orderBy("k"))
      }
    },

    // RESTORE as a commit: after the q146 chain, the table rolls back
    // to version 1 BY REFERENCE — one delta manifest re-listing v1's
    // files, zero data copied (TxTableSpec asserts byte-for-byte
    // untouched data dirs), and the rolled-back-over v3 still
    // time-travels for the postmortem. The read at v4 must equal the
    // base slice; the read at v3 the fully-merged chain.
    Q("q171_tx_restore", SnapshotOracles.txRestore) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txre") { tmp =>
        val table = s"$tmp/table"
        ChangeFeedFixture.commitChain(s, table, ev)
        graft.ext.TxTable.restore(s, table, 1L)
        localized(ChangeFeedFixture.perVersion(s, table, Seq(3, 4)))
      }
    },

    // Bloom-pruned point lookup on an UNCLUSTERED key: the table is
    // committed in a shuffled layout (every file's event_id min/max
    // spans the whole domain — range stats are useless here), with a
    // per-file Bloom filter recorded in the manifest instead. The
    // point read opens only files whose bloom might contain one of the
    // probed ids (false positives cost extra reads, never rows) —
    // TxTableSpec asserts the strict file subset; the oracle is the
    // plain IN filter.
    Q("q169_tx_bloom_point", SnapshotOracles.txBloomPoint) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txbp") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ev.select(col("event_id"), col("user_id"), col("value")).repartition(16),
          partitionCol = None, bloomCol = Some("event_id"))
        val ids = Seq(12L, 57L, 123L, 400L, 731L)
        localized(graft.ext.TxTable.readPoint(s, table, "event_id", ids.map(_.toString))
          .select(col("event_id"), col("user_id"), col("value"))
          .orderBy("event_id"))
      }
    },
  )
}

object SnapshotOracles {
  import ChangeFeedFixture.{perVersionSql, replayA, replayAB, withCtes}

  /** The q129/q138 merge recipe applied twice, aggregated per version
    * — DuckDB replays the chain; the engine reads each version from
    * the commit log AFTER all commits. */
  val txTimeTravel: String =
    withCtes(replayAB, perVersionSql(1 -> "s1", 2 -> "s2", 3 -> "s3"))

  /** Compaction is content-invisible — the oracle is the plain slice. */
  val txCompact: String =
    """SELECT CAST(event_id % 9 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events WHERE event_id % 2 = 0
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** DELETE then UPDATE replayed relationally. */
  val txDml: String =
    """WITH s AS (SELECT event_id, user_id, value FROM events
      |  WHERE event_id % 2 = 0),
      |d AS (SELECT * FROM s
      |  WHERE NOT coalesce(user_id % 100 = 7, false)),
      |u AS (SELECT event_id, user_id,
      |    CASE WHEN value < 0 THEN value * -1 ELSE value END AS value
      |  FROM d)
      |SELECT CAST(event_id % 6 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM u GROUP BY 1 ORDER BY k""".stripMargin

  /** The maintained view must equal the DIRECT aggregate of the final
    * state — baseline(v1) + Σ deltas == full recompute of s3. NULL
    * values quantize to 0 on both paths (coalesce in the engine, the
    * CASE here), so null-valued rows count toward n but not the sum. */
  val txIncrementalView: String =
    withCtes(replayAB,
      """SELECT CAST(event_id % 7 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(coalesce(CAST(floor(value * 1000000.0) AS BIGINT), 0))
      |    AS BIGINT) AS value_q
      |FROM s3 GROUP BY 1 ORDER BY k""".stripMargin)

  /** Per-version net diffs of the q146 chain: diff(s1,s2) tagged
    * version 2 plus diff(s2,s3) tagged version 3 (delete rows carry
    * the BEFORE image, insert/update the AFTER — changesBetween's
    * contract), aggregated per (op, bucket). */
  val txChangeStream: String =
    withCtes(replayAB,
      """d2 AS (SELECT coalesce(s1.event_id, s2.event_id) AS event_id,
      |    CASE WHEN s1.event_id IS NULL THEN 'insert'
      |      WHEN s2.event_id IS NULL THEN 'delete'
      |      ELSE 'update' END AS op,
      |    CASE WHEN s2.event_id IS NULL THEN s1.value ELSE s2.value END AS value
      |  FROM s1 FULL OUTER JOIN s2 ON s1.event_id = s2.event_id
      |  WHERE s1.event_id IS NULL OR s2.event_id IS NULL
      |    OR s1.value <> s2.value),
      |d3 AS (SELECT coalesce(s2.event_id, s3.event_id) AS event_id,
      |    CASE WHEN s2.event_id IS NULL THEN 'insert'
      |      WHEN s3.event_id IS NULL THEN 'delete'
      |      ELSE 'update' END AS op,
      |    CASE WHEN s3.event_id IS NULL THEN s2.value ELSE s3.value END AS value
      |  FROM s2 FULL OUTER JOIN s3 ON s2.event_id = s3.event_id
      |  WHERE s2.event_id IS NULL OR s3.event_id IS NULL
      |    OR s2.value <> s3.value),
      |u AS (SELECT 2 AS version, * FROM d2
      |  UNION ALL SELECT 3 AS version, * FROM d3)
      |SELECT version, op, CAST(event_id % 7 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM u GROUP BY 1, 2, 3 ORDER BY version, op, k""".stripMargin)

  /** File skipping is a pure scan optimization — the oracle is the
    * plain range predicate. */
  val txFileSkipping: String =
    """SELECT CAST(event_id % 5 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events WHERE event_id % 2 = 0 AND event_id BETWEEN 1000 AND 3000
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** Evolving merge replay: surviving snapshot rows have NULL in the
    * added column, insert/update rows carry the changeset's value. */
  val txSchemaEvolution: String =
    """WITH s AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |c AS (SELECT event_id,
      |    CASE WHEN event_id % 2 <> 0 THEN 'insert'
      |      WHEN event_id % 12 = 0 THEN 'delete'
      |      ELSE 'update' END AS op,
      |    value + 500 AS value, 'feed' AS src
      |  FROM events WHERE event_id % 3 = 0),
      |m AS (
      |  SELECT s.event_id, s.value, CAST(NULL AS VARCHAR) AS src FROM s
      |  LEFT JOIN c ON s.event_id = c.event_id AND c.op IN ('update', 'delete')
      |  WHERE c.event_id IS NULL
      |  UNION ALL
      |  SELECT event_id, value, src FROM c WHERE op IN ('insert', 'update'))
      |SELECT coalesce(src, '(legacy)') AS src, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM m GROUP BY 1 ORDER BY src""".stripMargin

  /** Net diff of the replayed s1 vs s3 — insert where only s3 has the
    * key, delete where only s1, update where the payload differs
    * (value carries the AFTER image except for deletes). */
  val txChangeFeed: String =
    withCtes(replayAB,
      """d AS (SELECT coalesce(s1.event_id, s3.event_id) AS event_id,
      |    CASE WHEN s1.event_id IS NULL THEN 'insert'
      |      WHEN s3.event_id IS NULL THEN 'delete'
      |      ELSE 'update' END AS op,
      |    CASE WHEN s3.event_id IS NULL THEN s1.value ELSE s3.value END AS value
      |  FROM s1 FULL OUTER JOIN s3 ON s1.event_id = s3.event_id
      |  WHERE s1.event_id IS NULL OR s3.event_id IS NULL
      |    OR s1.value <> s3.value)
      |SELECT op, CAST(event_id % 7 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM d GROUP BY 1, 2 ORDER BY op, k""".stripMargin)

  /** The 7-version delete chain replayed relationally: delete i
    * removes residue 4i (mod 96) — all multiples of 4 in [4, 12] by
    * v4, in [4, 24] by v7; the base slice (event_id % 4 = 0) only
    * ever holds multiples-of-4 residues, so BETWEEN is exact. */
  val txCheckpointedLog: String =
    withCtes("base AS (SELECT event_id, value FROM events WHERE event_id % 4 = 0)",
      perVersionSql(4 -> "base WHERE NOT (event_id % 96 BETWEEN 4 AND 12)",
        7 -> "base WHERE NOT (event_id % 96 BETWEEN 4 AND 24)"))

  /** File skipping is a pure scan optimization — the oracle is the
    * plain 2-D box predicate (a NULL user_id fails the BETWEEN in
    * both engines). */
  val txZorderSkipping: String =
    """SELECT CAST(event_id % 7 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events
      |WHERE event_id % 256 BETWEEN 32 AND 63
      |  AND (user_id * 17) % 256 BETWEEN 96 AND 127
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** The maintained rollup (count/sum by deltas, max by affected-key
    * recompute) must equal the DIRECT aggregate of the final state —
    * max included: the v3 delete removes per-key maxes, which no delta
    * can express. NULL values quantize to 0 in the sum but stay NULL
    * under max (both engines skip them). */
  val txIvmMinmax: String =
    withCtes(replayA,
      """s3 AS (SELECT * FROM s2 WHERE NOT (event_id % 6 = 0))
      |SELECT CAST(event_id % 8 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(coalesce(CAST(floor(value * 1000000.0) AS BIGINT), 0))
      |    AS BIGINT) AS value_q,
      |  CAST(min(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS min_q,
      |  CAST(max(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS max_q
      |FROM s3 GROUP BY 1 ORDER BY k""".stripMargin)

  /** v3 is the fully-merged chain (s3), v4 the restore back to the
    * base slice (s1) — content-identity under rollback-by-reference. */
  val txRestore: String =
    withCtes(replayAB, perVersionSql(3 -> "s3", 4 -> "s1"))

  /** Bloom pruning is a pure scan optimization — the oracle is the
    * plain IN filter over the raw columns. */
  val txBloomPoint: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_id IN (12, 57, 123, 400, 731)
      |ORDER BY event_id""".stripMargin
}
