package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import QueryUtil.{dsum, inTempDir, localized}

/** Round-11 continuation batch: table-governance faces of the commit
  * log — the predicate-driven MERGE INTO surface (q172), commit-time
  * CHECK constraints, metadata-only aggregates, and zero-copy clones.
  * Same oracle discipline as [[SnapshotQueries]]: every TxTable query
  * is replayed relationally in DuckDB, which is exactly the content
  * contract the log promises a reader.
  */
object GovernanceQueries {

  val all: Seq[Q] = Seq(

    // Conditional MERGE INTO: no op column anywhere — the action per
    // row is decided by predicates over BOTH sides (t = stored row,
    // s = source row): matched rows are deleted when s.event_id%12=0,
    // updated (value += s.nv) when s.nv > 0, kept otherwise;
    // source-only rows insert only when their value clears 100. The
    // oracle replays the same clause order (delete first) over a full
    // outer join. Only partitions present in the source are rewritten;
    // everything else carries forward by reference (TxTableSpec proves
    // byte-identity of untouched files).
    Q("q172_tx_merge_into", GovernanceOracles.mergeInto) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_mi") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        val source = ev.where(col("event_id") % 3 === 0)
          .select(col("event_id"), (col("value") + 500).as("value"),
            col("value").as("nv"), (col("event_id") % 8).as("pbucket"))
        graft.ext.TxTable.mergeInto(s, table, source, "event_id", "pbucket",
          whenMatchedDelete = Some(col("s.event_id") % 12 === 0),
          whenMatchedUpdate = Seq("value" ->
            (coalesce(col("t.value"), lit(0.0)) + coalesce(col("s.nv"), lit(0.0)))),
          whenMatchedUpdateCond = Some(col("s.nv") > lit(0.0)),
          whenNotMatchedInsert = Some(col("s.value") > lit(100.0)))
        localized(graft.ext.TxTable.read(s, table)
          .groupBy((col("event_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("bucket"))
      }
    },

    // Commit-time CHECK constraints: the table is governed by
    // `value IS NOT NULL` (added as a metadata-only commit after a
    // whole-table validation scan); a changeset smuggling NULL values
    // is REJECTED atomically — the table provably stays at the
    // pre-commit version with its content intact — and only the
    // cleaned changeset lands. The oracle replays base + cleaned
    // changeset; the rejected commit is invisible to it, which is
    // exactly the atomicity claim. Enforcement costs one
    // conditional-agg pass over the commit's OWN files (carried files
    // were validated when written — the induction addCheckConstraint's
    // scan grounds), zero when a table has no constraints.
    Q("q173_tx_check_constraint", GovernanceOracles.checkConstraint) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_ck") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ChangeFeedFixture.seed(ev).where(col("value").isNotNull), Some("pbucket"))
        graft.ext.TxTable.addCheckConstraint(s, table, "value_present",
          "value IS NOT NULL")
        val changes = ChangeFeedFixture.changesA(ev).withColumn("value",
          when(col("event_id") % 9 === 0, lit(null).cast("double")).otherwise(col("value")))
        // the dirty changeset (NULL values on %9 rows) must be refused
        // with the table left exactly at the constraint commit
        val rejected =
          try { graft.ext.TxTable.mergeChangeSet(s, table, changes,
            "event_id", "op", "pbucket"); false }
          catch { case _: graft.ext.TxTable.ConstraintViolationException => true }
        require(rejected, "constraint violation was not detected")
        require(graft.ext.TxTable.latestVersion(s, table).contains(2L),
          "rejected commit moved the table version")
        val cleaned = changes.where(col("op") === "delete" || col("value").isNotNull)
        graft.ext.TxTable.mergeChangeSet(s, table, cleaned,
          "event_id", "op", "pbucket")
        localized(graft.ext.TxTable.read(s, table)
          .groupBy((col("event_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("bucket"))
      }
    },

    // Metadata-only aggregates: COUNT(*) and MIN/MAX answered from the
    // commit log ALONE — every commit records each fresh file's exact
    // row count (and the statsCols min/max it already carried), so the
    // manifest sum is exact at any version. The proof is structural:
    // the query DELETES every data file after the commits and still
    // answers — at 100 TB that is a log read instead of a table scan.
    // The oracle replays the q146 changeset chain relationally and
    // computes the same per-version count/min/max from the data.
    Q("q174_tx_meta_aggregates", GovernanceOracles.metaAggregates) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_meta") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"),
          statsCols = Seq("event_id"))
        graft.ext.TxTable.mergeChangeSet(s, table, ChangeFeedFixture.changesA(ev),
          "event_id", "op", "pbucket")
        graft.ext.TxTable.mergeChangeSet(s, table, ChangeFeedFixture.changesB(ev),
          "event_id", "op", "pbucket")
        // the structural proof: no data file survives, only the log
        graft.Fs.deleteTree(java.nio.file.Paths.get(s"$table/data"))
        import s.implicits._
        (1L to 3L).map { v =>
          // ONE manifest replay per version (r20): count + range come
          // off the same log read instead of one replay per question
          val (n, range) = graft.ext.TxTable.metaSummary(s, table, "event_id", Some(v))
          val (lo, hi) = range.get
          (v, n, lo, hi)
        }.toDF("version", "n", "id_min", "id_max").orderBy("version")
      }
    },

    // Merge-on-read DELETE via deletion vectors: each delete tombstones
    // its matches in a (file, pos) sidecar dataset referenced from the
    // manifest — the matched files' BYTES never change (TxTableSpec
    // proves byte-identity; only DV files are written), and readers
    // subtract the tombstones as a scan-time anti-join. At 100 TB this
    // is what makes a point delete on an UNCLUSTERED predicate (which
    // can touch every file) affordable: one predicate scan + an
    // O(matches) sidecar write, versus copy-on-write rewriting the
    // table. Two stacked deletes compose; the aggregate is computed
    // THROUGH the DV read (exercising the anti-join), then compact
    // reconciles the DVs away and the query proves read-equivalence.
    // The oracle replays both predicates relationally.
    Q("q175_tx_delete_vectors", GovernanceOracles.deleteVectors) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_dv") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ev.where(col("event_id") % 2 === 0)
            .select(col("event_id"), col("user_id"), col("value"),
              (col("event_id") % 8).as("pbucket")),
          Some("pbucket"))
        // the forget-this-user purge — unclustered, touches every file
        graft.ext.TxTable.deleteWhereDv(s, table, col("user_id") % 100 === 7)
        // a second, STACKED deletion vector
        graft.ext.TxTable.deleteWhereDv(s, table, col("value") < 25)
        def agg(df: DataFrame): DataFrame = localized(df
          .groupBy((col("event_id") % 6).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
        val viaDv = agg(graft.ext.TxTable.read(s, table)).cache()
        // metadata-only COUNT stays exact under DVs (tombstone counts
        // ride the manifest)
        require(graft.ext.TxTable.metaCount(s, table) ==
          viaDv.agg(sum("n")).collect().head.getLong(0),
          "metaCount must stay exact under deletion vectors")
        // compact reconciles: physically-deleted result == DV result
        graft.ext.TxTable.compact(s, table, "pbucket")
        val compacted = agg(graft.ext.TxTable.read(s, table))
        require(viaDv.collect().toSeq == compacted.collect().toSeq,
          "compact must preserve the DV-visible content")
        viaDv
      }
    },

    // Merge-on-read UPDATE via deletion vectors + appended images:
    // the matched rows' old images are tombstoned (q175's sidecar
    // mechanics) and their NEW images land as fresh files in the SAME
    // atomic commit — no matched file's bytes change (TxTableSpec
    // proves byte-identity), readers see tombstones + images or
    // nothing. At 100 TB this is the affordable point-UPDATE on an
    // unclustered predicate: one predicate scan + O(matches) writes
    // versus copy-on-write rewriting every touched file. The update
    // STACKS with a MoR delete whose predicate can only be satisfied
    // by post-update values (proving the delete's scan reads THROUGH
    // the update's tombstone+image state), metaCount stays exact off
    // the log, and compact reconciles it all physically. The oracle
    // replays update-then-delete relationally.
    Q("q176_tx_update_vectors", GovernanceOracles.updateVectors) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_dvu") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ev.where(col("event_id") % 2 === 0)
            .select(col("event_id"), col("user_id"), col("value"),
              (col("event_id") % 8).as("pbucket")),
          Some("pbucket"))
        // unclustered MoR update — touches matches in every file
        graft.ext.TxTable.updateWhereDv(s, table,
          col("user_id") % 40 === 3,
          Seq("value" -> (col("value") * 2 + 1)), Some("pbucket"))
        // stacked MoR delete satisfiable ONLY by post-update values
        graft.ext.TxTable.deleteWhereDv(s, table, col("value") > 700)
        def agg(df: DataFrame): DataFrame = localized(df
          .groupBy((col("event_id") % 6).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
        val viaDv = agg(graft.ext.TxTable.read(s, table)).cache()
        require(graft.ext.TxTable.metaCount(s, table) ==
          viaDv.agg(sum("n")).collect().head.getLong(0),
          "metaCount must stay exact under update DVs")
        graft.ext.TxTable.compact(s, table, "pbucket")
        val compacted = agg(graft.ext.TxTable.read(s, table))
        require(viaDv.collect().toSeq == compacted.collect().toSeq,
          "compact must preserve the MoR-update-visible content")
        viaDv
      }
    },

    // MERGE INTO as merge-on-read, STACKED on a prior MoR delete:
    // the merge's pruned slice reads THROUGH the delete's tombstones,
    // so keys the delete removed re-enter via the NOT-MATCHED insert
    // clause, matched rows tombstone+append (delete wins over update,
    // NULL conditions false — q172's exact clause semantics at MoR
    // economics: O(changed rows) written, zero target files rewritten.
    // At 100 TB this is the trickle-upsert that COW merge cannot
    // afford when each batch grazes many partitions). metaCount stays
    // exact off the log; compact reconciles physically. The oracle
    // replays delete-then-merge over a full outer join.
    Q("q177_tx_merge_vectors", GovernanceOracles.mergeVectors) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_mdv") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        graft.ext.TxTable.deleteWhereDv(s, table, col("value") < 100)
        val source = ev.where(col("event_id") % 3 === 0)
          .select(col("event_id"), (col("value") + 500).as("value"),
            col("value").as("nv"), (col("event_id") % 8).as("pbucket"))
        graft.ext.TxTable.mergeIntoDv(s, table, source, "event_id", "pbucket",
          whenMatchedDelete = Some(col("s.event_id") % 12 === 0),
          whenMatchedUpdate = Seq("value" ->
            (coalesce(col("t.value"), lit(0.0)) + coalesce(col("s.nv"), lit(0.0)))),
          whenMatchedUpdateCond = Some(col("s.nv") > lit(0.0)),
          whenNotMatchedInsert = Some(col("s.value") > lit(100.0)))
        def agg(df: DataFrame): DataFrame =
          localized(ChangeFeedFixture.bySeven(df).orderBy("k"))
        val viaDv = agg(graft.ext.TxTable.read(s, table)).cache()
        require(graft.ext.TxTable.metaCount(s, table) ==
          viaDv.agg(sum("n")).collect().head.getLong(0),
          "metaCount must stay exact under merge DVs")
        graft.ext.TxTable.compact(s, table, "pbucket")
        val compacted = agg(graft.ext.TxTable.read(s, table))
        require(viaDv.collect().toSeq == compacted.collect().toSeq,
          "compact must preserve the MoR-merge-visible content")
        viaDv
      }
    },

    // OPTIMIZE ... ZORDER BY as a commit: a deliberately SHUFFLED
    // write (every file spans both dimensions — manifest range stats
    // prune nothing) takes a MoR delete wave, then one re-layout
    // commit re-clusters the live rows along the (x, y) Z-curve,
    // reconciling the tombstones physically and making each file a
    // tight 2-D box. The require proves the box query then reads a
    // STRICT subset of files off the manifest alone — the property a
    // 100 TB table's maintenance cadence exists to restore (layout
    // decays under DML; re-clustering is a content-invisible,
    // time-travelable commit, not a table rebuild). Oracle: the plain
    // relational box over delete-filtered rows.
    Q("q178_tx_optimize_zorder", GovernanceOracles.optimizeZorder) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_oz") { tmp =>
        val table = s"$tmp/table"
        val base = ev.select(col("event_id"),
          (col("event_id") % 64).as("x"),
          (coalesce(col("user_id"), lit(0L)) % 64).as("y"),
          col("value"))
        graft.ext.TxTable.commitReplace(s, table, base.repartition(16),
          partitionCol = None, statsCols = Seq("x", "y"))
        graft.ext.TxTable.deleteWhereDv(s, table, col("value") < 100)
        graft.ext.TxTable.compactClustered(s, table, None, "x", "y", 16)
        val box = graft.ext.TxTable.readRanges(s, table,
          Seq(("x", 8L, 23L), ("y", 8L, 23L)))
        require(box.inputFiles.length < 16,
          "the re-clustered layout must let the 2-D box prune files")
        localized(box
          .groupBy((col("x") % 4).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
      }
    },

    // q147's streaming versioned MERGE at merge-on-read economics:
    // the same change feed drained micro-batch by micro-batch, each
    // non-empty batch ONE atomic version — but a batch writes
    // tombstone sidecars + its own rows instead of rewriting every
    // touched partition (the sustainable trigger cost for a steady
    // trickle against a huge table). DELIBERATELY the same oracle as
    // q147: same answer, economics flipped — then metaCount exactness
    // and compact-reconciliation are required on top, proving the MoR
    // stack is maintenance-clean after a whole stream of DV commits.
    Q("q179_tx_stream_merge_mor", DataOpsOracles.streamMerge) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txsm") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        ChangeFeedFixture.changesA(ev).repartition(3, col("pbucket"))
          .write.parquet(s"$tmp/changes")
        graft.streaming.MergeStream.mergeAvailableVersioned(s, table, s"$tmp/changes",
          ChangeFeedFixture.changeSchema, s"$tmp/ckpt", moR = true)
        def agg(df: DataFrame): DataFrame =
          localized(ChangeFeedFixture.bySeven(df).orderBy("k"))
        val viaDv = agg(graft.ext.TxTable.read(s, table)).cache()
        require(graft.ext.TxTable.metaCount(s, table) ==
          viaDv.agg(sum("n")).collect().head.getLong(0),
          "metaCount must stay exact after a stream of MoR batches")
        graft.ext.TxTable.compact(s, table, "pbucket")
        require(viaDv.collect().toSeq ==
          agg(graft.ext.TxTable.read(s, table)).collect().toSeq,
          "compact must preserve the streamed MoR content")
        viaDv
      }
    },

    // The transactional layer from PURE SQL: `GraftExtensions`
    // registers tx_table / tx_history / tx_changes as TABLE functions
    // (SparkSessionExtensions.injectTableFunction — the §7.3 "(c)"
    // integration path at relation granularity), so a SQL-only user
    // gets snapshots, VERSION AS OF time travel and the CDC feed with
    // zero Scala. The statement below exercises all three in ONE
    // query — current snapshot (DV subtraction applies), the
    // pre-delete version, and the v1→v2 changeset — joined like any
    // relations; the TVFs are NAMES for the engine's own read plans
    // (manifest pruning, per-commit-dir schemas, bitmap DV probe),
    // not a parallel reader. The oracle replays the three states
    // relationally.
    Q("q180_tx_sql_tvf", GovernanceOracles.sqlTvf) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_tvf") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        graft.ext.TxTable.deleteWhereDv(s, table, col("value") < 100)
        localized(s.sql(
          s"""SELECT CAST(o.event_id % 6 AS BIGINT) AS k,
             |  count(*) AS n_old,
             |  count(c.event_id) AS n_cur,
             |  count(d.event_id) AS n_deleted,
             |  CAST(sum(CAST(coalesce(c.value, 0) AS DECIMAL(18,6))) AS DOUBLE)
             |    AS cur_sum
             |FROM tx_table('$table', 1) o
             |LEFT JOIN tx_table('$table') c ON o.event_id = c.event_id
             |LEFT JOIN (SELECT event_id
             |           FROM tx_changes('$table', 1, 2, 'event_id')
             |           WHERE op = 'delete') d ON o.event_id = d.event_id
             |GROUP BY 1 ORDER BY k""".stripMargin))
      }
    },

    // TIMESTAMP AS OF time travel, surface parity with VERSION AS OF:
    // the same TVF takes a TIMESTAMP literal (Delta's `timestampAsOf`
    // contract — the state as of a wall-clock instant, resolved by
    // binary search over manifest headers, no replay). The query joins
    // the timestamp-traveled read (an instant strictly inside [v1, v2))
    // against the current snapshot; the requires pin the resolution —
    // the traveled frame must BE version 1, on both the SQL TVF and
    // the Scala readAsOfTimestamp faces. Oracle: v1 and v2 replayed
    // relationally (n_at_ts ≡ the v1 expression by the resolution
    // contract, which is exactly what the requires prove).
    Q("q181_tx_timestamp_travel", GovernanceOracles.timestampTravel) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_tt") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        // distinct commit milliseconds: versionAtTimestamp resolves
        // ties to the LATER commit, so the travel target below must
        // sit strictly between the two commit instants
        Thread.sleep(5)
        graft.ext.TxTable.deleteWhereDv(s, table, col("value") < 100)
        val ts = graft.ext.TxTable.history(s, table)
          .select("version", "commit_ts").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val target = ts(2L) - 1
        require(ts(1L) <= target && target < ts(2L),
          s"commit instants must bracket the travel target: $ts")
        // Scala face resolves to the same version the TVF will
        require(graft.ext.TxTable.versionAtTimestamp(s, table, target)
          .contains(1L), "timestamp must resolve to version 1")
        val instant = java.time.Instant.ofEpochMilli(target)
          .atZone(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
        localized(s.sql(
          s"""SELECT CAST(o.event_id % 6 AS BIGINT) AS k,
             |  count(*) AS n_at_ts,
             |  count(c.event_id) AS n_cur,
             |  CAST(sum(CAST(o.value AS DECIMAL(18,6))) AS DOUBLE) AS ts_sum
             |FROM tx_table('$table', TIMESTAMP '$instant') o
             |LEFT JOIN tx_table('$table') c ON o.event_id = c.event_id
             |GROUP BY 1 ORDER BY k""".stripMargin))
      }
    },

    // Additive schema evolution at MERGE-ON-READ economics: the
    // changeset carries a column the target lacks (`note`), and
    // `mergeChangeSetDv(evolveSchema = true)` lands it WITHOUT
    // rewriting a single target file — tombstones ride the DV
    // sidecar, the new column rides only the fresh appended files,
    // and every carried file reads NULL in it through the
    // allowMissingColumns union (the q151 contract, at q175
    // economics). The require proves the no-rewrite claim off the
    // manifest: every v1 data file is still present (DV refs aside)
    // in the evolved version. Oracle: the evolving merge replayed
    // relationally — kept rows NULL note, change rows their own.
    Q("q182_tx_evolve_mor", GovernanceOracles.evolveMor) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_emor") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        val v1Files = graft.ext.TxTable.readManifest(s, table, 1L)
          .files.map(_.path).toSet
        val changes = ChangeFeedFixture.changesA(ev).withColumn("note", col("event_id") % 5)
        graft.ext.TxTable.mergeChangeSetDv(s, table, changes,
          "event_id", "op", "pbucket", evolveSchema = true)
        val v2 = graft.ext.TxTable.readManifest(s, table, 2L)
        require(v1Files.subsetOf(v2.files.map(_.path).toSet),
          "MoR evolution must carry every target file by reference")
        localized(graft.ext.TxTable.read(s, table)
          .groupBy((col("event_id") % 7).as("k"))
          .agg(count(lit(1)).as("n"),
            dsum(col("value")).as("value_sum"),
            count(col("note")).as("note_n"),
            sum(col("note")).cast("long").as("note_sum"))
          .orderBy("k"))
      }
    },

    // REORG … APPLY (PURGE): after a MoR delete wave, purge rewrites
    // ONLY the deletion-vector-carrying files (finer than compact's
    // partition granularity — TxTableSpec proves a clean same-
    // partition sibling carries byte-identically) so the tombstoned
    // rows vanish PHYSICALLY — the minimal-IO hard-delete pass a
    // right-to-erasure workflow runs, completed by vacuum retiring
    // the pre-purge versions. Content-invisible by construction: the
    // requires pin a DV-free manifest and the named op; the oracle is
    // the plain delete-filtered aggregate.
    Q("q183_tx_purge", GovernanceOracles.purge) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_purge") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table, ChangeFeedFixture.seed(ev), Some("pbucket"))
        graft.ext.TxTable.deleteWhereDv(s, table, col("value") < 100)
        val v = graft.ext.TxTable.purgeTombstoned(s, table, Some("pbucket"))
        val m = graft.ext.TxTable.readManifest(s, table, v)
        require(m.files.forall(_.dvs.isEmpty),
          "purge must materialize every deletion vector")
        require(graft.ext.TxTable.history(s, table)
          .where(col("version") === v).select("op")
          .collect().head.getString(0) == "purge")
        localized(graft.ext.TxTable.read(s, table)
          .groupBy((col("event_id") % 6).as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
      }
    },

    // Manifest NDV: per-file HyperLogLog register sketches recorded at
    // commit (same single stats pass as min/max/rowcount), merged by
    // element-wise max across the live file set — so DISTINCT-count is
    // an estimate off the LOG ALONE, the input a cost-based
    // join-order/selectivity decision needs at 100 TB. Structural
    // proof mirrors q174: compact first (sketches must survive the
    // rewrite — the lane table property pins the hash), then DELETE
    // every data file; count and both NDVs still answer. The oracle
    // recomputes the identical estimates from the data via the q105
    // md5-lane recipe (exact integer register fold + one double
    // division; only the linear-counting ln branch needs round(4)).
    Q("q185_tx_ndv", GovernanceOracles.manifestNdv) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_ndv") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ev.select(col("event_id"), (col("user_id") % 256).as("uid"),
            (col("event_id") % 8).as("pbucket")),
          Some("pbucket"), statsCols = Seq("event_id", "uid"),
          ndvMirrorable = true)
        graft.ext.TxTable.compact(s, table, "pbucket")
        // the structural proof: no data file survives, only the log
        graft.Fs.deleteTree(java.nio.file.Paths.get(s"$table/data"))
        import s.implicits._
        // same rounding bridge as q105: Spark round(_, 4) both here and
        // in the oracle, so the ln-carrying linear-counting branch
        // cannot drift in the last ulp
        Seq((graft.ext.TxTable.metaCount(s, table),
          graft.ext.TxTable.metaNdv(s, table, "event_id").get,
          graft.ext.TxTable.metaNdv(s, table, "uid").get))
          .toDF("n_rows", "ndv_event_id", "ndv_uid")
          .select(col("n_rows"),
            round(col("ndv_event_id"), 4).as("ndv_event_id"),
            round(col("ndv_uid"), 4).as("ndv_uid"))
      }
    },

    // Manifest-NDV-elected semi join (the r15 "recorded but consumed
    // by nothing" payoff): a fact frame filtered by membership in a
    // TxTable's key set, with the build-side strategy decided from the
    // LOG ALONE — the merged HLL sketch says the dim holds ~40
    // distinct keys, so the distinct-key frame broadcasts and the fact
    // side never shuffles (the plan every IN-subquery wants at 100 TB
    // when the IN-set is small). The lane PINS the elected plan (a
    // regression to a shuffled join fails the require, not just the
    // golden snapshot); the oracle replays the semi join relationally.
    // Election conservatism under DVs: TxTableSpec proves a
    // mass-deleted dim keeps the same (over-)estimate and stays
    // row-correct.
    Q("q186_tx_ndv_join", GovernanceOracles.ndvJoin) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_ndvjoin") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ev.where(col("user_id") % 5 === 0)
            .select((col("user_id") % 200).as("uid"), col("event_id")),
          statsCols = Seq("uid"), ndvMirrorable = true)
        val fact = ev.select((col("user_id") % 200).as("k"), col("value"))
        val joined = graft.ext.TxTable.joinOnKey(s, table, fact, "k", "uid")
        require(joined.queryExecution.explainString(
            org.apache.spark.sql.execution.SimpleMode)
          .contains("BroadcastHashJoin"),
          "manifest NDV (~40 keys) must elect the broadcast semi join")
        localized(joined
          .groupBy("k")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("k"))
      }
    },

    // Multi-table ATOMIC commit (r14/r15 gap closed): a fact table and
    // its derived summary move under ONE intent-coordinated
    // transaction ([[graft.ext.PairTxn]]) — seed pair-commit, then a
    // second pair-commit appending a fact delta while replacing the
    // summary. The lane PINS the pair invariant (summary read-back ==
    // re-aggregated fact at the shared post-txn state); PairTxnSpec
    // kills the writer in every crash-matrix cell and proves
    // roll-forward. The oracle replays the final summary relationally.
    Q("q187_tx_pair_commit", GovernanceOracles.pairCommit) { (s, dir) =>
      import graft.ext.PairTxn
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_pair") { tmp =>
        val fact = s"$tmp/fact"
        val summary = s"$tmp/summary"
        def summarize(df: DataFrame): DataFrame =
          df.groupBy((col("event_id") % 6).as("k"))
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        val seed = ChangeFeedFixture.seed(ev)
        PairTxn.commitPair(s, tmp,
          PairTxn.PairCommit(fact, seed, replace = true, Some("pbucket")),
          PairTxn.PairCommit(summary, summarize(seed), replace = true))
        val delta = ev.where(col("event_id") % 2 === 1)
          .select(col("event_id"), col("value"), (col("event_id") % 8).as("pbucket"))
        val (vF, vS) = PairTxn.commitPair(s, tmp,
          PairTxn.PairCommit(fact, delta, partitionCol = Some("pbucket")),
          PairTxn.PairCommit(summary, summarize(seed.unionByName(delta)),
            replace = true))
        require(vF == 2L && vS == 2L, s"pair must move in step: $vF/$vS")
        // the pair invariant at the shared post-txn state: the summary
        // IS the aggregate of the fact it was committed with
        val fromFact = summarize(graft.ext.TxTable.read(s, fact))
          .orderBy("k").collect().toSeq
        val stored = graft.ext.TxTable.read(s, summary)
          .orderBy("k").collect().toSeq
        require(fromFact == stored,
          "summary must equal the re-aggregated fact at the shared version")
        localized(graft.ext.TxTable.read(s, summary).orderBy("k"))
      }
    },

    // N-TABLE atomic commit (r17: the [[PairTxn.commitAll]] lift of
    // q187's pair) — a fact and TWO derived views move under ONE
    // intent: seed txn replaces all three, the second txn appends a
    // fact delta while replacing both views. The lane pins the
    // group invariant (each view's read-back == re-aggregation of the
    // fact at the shared post-txn state) and that versions move in
    // step; PairTxnSpec kills the writer at every publish point of
    // the 3-table matrix and proves prefix-only visibility +
    // roll-forward. The oracle replays the SECOND view relationally
    // (q187 already oracle-covers the first's shape).
    Q("q190_tx_multi_commit", GovernanceOracles.multiCommit) { (s, dir) =>
      import graft.ext.PairTxn
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_multi") { tmp =>
        val fact = s"$tmp/fact"
        val byK = s"$tmp/by_k"
        val byU = s"$tmp/by_u"
        def viewK(df: DataFrame): DataFrame =
          df.groupBy((col("event_id") % 6).as("k"))
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        def viewU(df: DataFrame): DataFrame =
          df.groupBy((col("user_id") % 7).as("u"))
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        val seed = ev.where(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("value"),
            (col("event_id") % 8).as("pbucket"))
        PairTxn.commitAll(s, tmp, Seq(
          PairTxn.PairCommit(fact, seed, replace = true, Some("pbucket")),
          PairTxn.PairCommit(byK, viewK(seed), replace = true),
          PairTxn.PairCommit(byU, viewU(seed), replace = true)))
        val delta = ev.where(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("value"),
            (col("event_id") % 8).as("pbucket"))
        val all = seed.unionByName(delta)
        val vs = PairTxn.commitAll(s, tmp, Seq(
          PairTxn.PairCommit(fact, delta, partitionCol = Some("pbucket")),
          PairTxn.PairCommit(byK, viewK(all), replace = true),
          PairTxn.PairCommit(byU, viewU(all), replace = true)))
        require(vs == Seq(2L, 2L, 2L), s"group must move in step: $vs")
        // the group invariant at the shared post-txn state: each view
        // IS the aggregate of the fact it was committed with
        val factNow = graft.ext.TxTable.read(s, fact)
        require(viewK(factNow).orderBy("k").collect().toSeq ==
          graft.ext.TxTable.read(s, byK).orderBy("k").collect().toSeq,
          "view byK must equal the re-aggregated fact at the shared version")
        require(viewU(factNow).orderBy("u").collect().toSeq ==
          graft.ext.TxTable.read(s, byU).orderBy("u").collect().toSeq,
          "view byU must equal the re-aggregated fact at the shared version")
        localized(graft.ext.TxTable.read(s, byU).orderBy("u"))
      }
    },

    // Manifest-NDV-elected AGGREGATION strategy (the sketches' second
    // plan consumer, after q186's join election): groupBy on a
    // NEAR-UNIQUE key (sketch estimate ≈ recorded rows) elects the
    // SKIP-PARTIAL plan — raw rows exchange first, aggregate once
    // after — because a map-side combine there emits ~one row per
    // input row (hash-table churn + spill exposure bought for zero
    // shuffle reduction); a low-NDV key keeps the default
    // partial-heavy plan whose combine collapses each task to ~NDV
    // rows before the wire. Both decisions are read off the LOG ALONE
    // and PINNED via the printed operator order (a plan regression
    // fails the require, not just a golden); rows are
    // decision-independent, which is what the shared oracle checks.
    // Missing-sketch conservatism (default plan, never a surprise
    // raw-row shuffle) is TxTableSpec's cell.
    Q("q191_tx_agg_ndv", GovernanceOracles.aggNdv) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_aggndv") { tmp =>
        import org.apache.spark.sql.execution.SimpleMode
        // operator order in the printed tree (root first): the final
        // HashAggregate always leads; DEFAULT plan = Exchange between
        // the two aggregates (partial below the wire), SKIP-PARTIAL
        // plan = Exchange below BOTH (raw rows shuffled once)
        def planShape(df: DataFrame): (Int, Int, Int) = {
          val p = df.queryExecution.explainString(SimpleMode)
          val h1 = p.indexOf("HashAggregate")
          val h2 = p.indexOf("HashAggregate", h1 + 1)
          val ex = p.indexOf("Exchange")
          require(h1 >= 0 && h2 > h1 && ex >= 0, s"unexpected plan:\n$p")
          (h1, h2, ex)
        }
        val hi = s"$tmp/hi"
        graft.ext.TxTable.commitReplace(s, hi,
          ev.select(col("event_id"), col("value")),
          statsCols = Seq("event_id"))
        val hiAgg = graft.ext.TxTable.aggOnKey(s, hi, "event_id",
          Seq(count(lit(1)).as("n"), dsum(col("value")).as("value_sum")))
        locally { val (_, h2, ex) = planShape(hiAgg)
          require(ex > h2, "near-unique key (NDV≈rows from the manifest " +
            "sketch) must elect the skip-partial plan") }
        val lo = s"$tmp/lo"
        graft.ext.TxTable.commitReplace(s, lo,
          ev.select((col("user_id") % 16).as("k"), col("value")),
          statsCols = Seq("k"))
        val loAgg = graft.ext.TxTable.aggOnKey(s, lo, "k",
          Seq(count(lit(1)).as("n"), dsum(col("value")).as("value_sum")))
        locally { val (h1, h2, ex) = planShape(loAgg)
          require(ex > h1 && ex < h2, "low-NDV key (16 ≪ rows) must keep " +
            "the default partial-heavy plan") }
        // rows are decision-independent: both elected plans feed one
        // result (the near-unique side re-bucketed to stay compact)
        localized(hiAgg
          .groupBy((col("event_id") % 10).as("k"))
          .agg(sum(col("n")).as("n"), dsum(col("value_sum")).as("value_sum"))
          .withColumn("side", lit("hi"))
          .unionByName(loAgg.withColumn("side", lit("lo")))
          .select("side", "k", "n", "value_sum")
          .orderBy("side", "k"))
      }
    },

    // Manifest-stats TOP-K file skipping (the third plan consumer of
    // commit-time statistics, after q186's join election and q191's
    // aggregation election): on a range-clustered layout, "largest 50
    // by user_id" derives a value bound from per-file (min, max, live
    // rows) in the LOG ALONE and opens only the files that can hold a
    // qualifying row — at 100 TB the whole table but one or two files
    // skips before any footer I/O. The lane PINS the pruning (≤2 of
    // ≥8 files survive, a layout/bound regression fails the require);
    // the oracle is the plain ORDER BY ... LIMIT with the same
    // tiebreak. TxTableSpec carries the DV-shifted-boundary and
    // missing-stats conservatism cells.
    Q("q192_tx_topk_skipping", GovernanceOracles.topkSkipping) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_topk") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ev.select(col("event_id"), col("user_id"))
            .repartitionByRange(8, col("user_id"))
            .sortWithinPartitions("user_id"),
          statsCols = Seq("user_id"))
        val m = graft.ext.TxTable.readManifest(s, table, 1L)
        val hit = graft.ext.TxTable.topKCandidates(m, "user_id", 50)
        require(m.files.size >= 8 && hit.size <= 2,
          s"range-clustered layout must prune top-50 to ≤2 of " +
            s"${m.files.size} files; got ${hit.size}")
        localized(graft.ext.TxTable
          .readTopK(s, table, "user_id", 50, tieBreak = "event_id"))
      }
    },

    // The ASCENDING face of manifest-stats top-k skipping ("oldest k"
    // is as common a maintenance query as "latest k") on a NULLABLE
    // stats column — the r17 contract hole closed and exercised in one
    // lane: commit-time stats now record per-file NULL counts, the
    // candidate walk counts only VALUED live rows (a NULL-holding file
    // can no longer satisfy the cumulative count with rows that carry
    // no value), and the read pins NULLS LAST in both directions so
    // the bound's "values beat NULLs" argument holds. The lane PINS
    // both the pruning (≤2 of ≥8 files survive the smallest-50 walk)
    // and that NULLs were genuinely present (a file with a nonzero
    // recorded null count), so a regression to the old rows-only walk
    // fails the require before the oracle even runs.
    Q("q193_tx_topk_asc", GovernanceOracles.topkAsc) { (s, dir) =>
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_topk_asc") { tmp =>
        val table = s"$tmp/table"
        graft.ext.TxTable.commitReplace(s, table,
          ev.select(col("event_id"),
              when(col("user_id") % 89 === 0, lit(null))
                .otherwise(col("user_id")).as("uid"))
            .repartitionByRange(8, col("uid"))
            .sortWithinPartitions("uid"),
          statsCols = Seq("uid"))
        val m = graft.ext.TxTable.readManifest(s, table, 1L)
        require(m.files.exists(_.nulls.get("uid").exists(_ > 0)),
          "lane must exercise the null-count walk: no file recorded a " +
            "nonzero NULL count for uid")
        val hit = graft.ext.TxTable.topKCandidates(m, "uid", 50, desc = false)
        require(m.files.size >= 8 && hit.size <= 2,
          s"range-clustered layout must prune smallest-50 to ≤2 of " +
            s"${m.files.size} files; got ${hit.size}")
        localized(graft.ext.TxTable
          .readTopK(s, table, "uid", 50, tieBreak = "event_id",
            desc = false))
      }
    },

    // Merge-on-read DML under the MULTI-TABLE intent (r18): a fact at
    // trickle-upsert cadence and its derived view move in ONE
    // transaction — the changeset's deletes/updates become tombstone
    // sidecars (ZERO fact files rewritten; the carried entries are
    // byte-identical, pinned below), the update images and inserts
    // ride fresh files, and the view replaces, all under one intent so
    // a crash at any publish point rolls forward (PairTxnSpec's
    // extended matrix covers the sidecar window). The oracle replays
    // the merge relationally; the lane additionally `require`s the
    // group invariant (view == aggregate of the merged fact) and the
    // MoR shape (stacked DV refs, no rewritten entry).
    Q("q194_tx_mor_multi_commit", GovernanceOracles.morMultiCommit) { (s, dir) =>
      import graft.ext.{PairTxn, TxTable}
      val ev = graft.analysis.EventsFact.events(s, dir)
      def viewOf(df: DataFrame): DataFrame =
        df.groupBy(col("pb"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      inTempDir("graft_mor_txn") { tmp =>
        val fact = s"$tmp/fact"; val view = s"$tmp/view"
        val base = ev.select(col("event_id"), col("user_id"), col("value"),
          (col("user_id") % 4).as("pb"))
        PairTxn.commitAll(s, tmp, Seq(
          PairTxn.PairCommit(fact, base, replace = true,
            partitionCol = Some("pb")),
          PairTxn.PairCommit(view, viewOf(base), replace = true)))
        val updates = base.where(col("user_id") % 5 === 0)
          .select(col("event_id"), col("user_id"),
            (col("value") + 1000).as("value"), col("pb"), lit("update").as("op"))
        val deletes = base.where(col("user_id") % 5 =!= 0 &&
            col("event_id") % 7 === 3)
          .select(col("event_id"), col("user_id"), col("value"), col("pb"),
            lit("delete").as("op"))
        val inserts = base.where(col("event_id") % 11 === 0)
          .select((-col("event_id") - 1).as("event_id"), col("user_id"),
            col("value"), col("pb"), lit("insert").as("op"))
        val changes = updates.unionByName(deletes).unionByName(inserts)
        val merged = base
          .where(col("user_id") % 5 =!= 0 && col("event_id") % 7 =!= 3)
          .unionByName(updates.drop("op"))
          .unionByName(inserts.drop("op"))
        val carriedBefore = TxTable.readManifest(s, fact, 1L)
          .files.map(_.path).toSet
        val vs = PairTxn.commitAll(s, tmp, Seq(
          PairTxn.MergeDvCommit(fact, changes, "event_id", "op", "pb"),
          PairTxn.PairCommit(view, viewOf(merged), replace = true)))
        require(vs == Seq(2L, 2L),
          s"fact and view must move in step under one intent: $vs")
        val m2 = TxTable.readManifest(s, fact, 2L)
        require(m2.files.exists(_.dvs.nonEmpty),
          "MoR merge must stack deletion vectors, not rewrite")
        require(carriedBefore.subsetOf(m2.files.map(_.path).toSet),
          "MoR merge must carry every base file by reference")
        // group invariant at the committed state
        val viewRows = TxTable.read(s, view)
          .select("pb", "n", "value_sum").collect().toSet
        val factAgg = viewOf(TxTable.read(s, fact))
          .select("pb", "n", "value_sum").collect().toSet
        require(viewRows == factAgg,
          "the committed view must equal the aggregate of the merged fact")
        localized(TxTable.read(s, view)
          .select("pb", "n", "value_sum").orderBy("pb"))
      }
    },

    // Post-shuffle WIDTH elected from manifest NDV (the FOURTH stats
    // consumer, after q186's join build side, q191's aggregation
    // strategy and q192's top-k file set): a groupBy can never emit
    // more rows than the key's NDV, so when the sketch says 3 groups
    // under a 32-partition shuffle width, 29 reduce tasks are provably
    // empty — folded away STATICALLY (`Coalesce w` above the final
    // aggregate; no extra exchange, map-side combine untouched) from
    // the log alone, zero runtime statistics — what AQE discovers at
    // runtime, answered before any job launches. The lane pins BOTH
    // faces: the sketched side's plan carries the elected width, the
    // sketch-free twin keeps the default; rows are width-independent,
    // so one plain groupBy oracles both.
    Q("q195_tx_agg_width", GovernanceOracles.aggWidth) { (s, dir) =>
      import graft.ext.TxTable
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_aggwidth") { tmp =>
        import org.apache.spark.sql.execution.SimpleMode
        def planOf(df: DataFrame): String =
          df.queryExecution.explainString(SimpleMode)
        val aggs = Seq(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
        val sk = s"$tmp/sketched"
        TxTable.commitReplace(s, sk,
          ev.select((col("user_id") % 3).as("k"), col("value")),
          statsCols = Seq("k"))
        val m = TxTable.readManifest(s, sk, 1L)
        val default = s.sessionState.conf.numShufflePartitions
        val w = TxTable.electAggWidth(m, "k", default)
        require(w.exists(_ < default),
          s"3-group sketch must elect a width under $default: $w")
        val elected = TxTable.aggOnKey(s, sk, "k", aggs)
        require(planOf(elected).contains(s"Coalesce ${w.get}"),
          s"the log-elected width must pin the plan:\n${planOf(elected)}")
        val bare = s"$tmp/bare"
        TxTable.commitReplace(s, bare,
          ev.select((col("user_id") % 3).as("k"), col("value")))
        val conservative = TxTable.aggOnKey(s, bare, "k", aggs)
        require(!planOf(conservative).contains("Coalesce"),
          s"no sketch must keep the default width:\n${planOf(conservative)}")
        // rows are width-independent: both sides feed one result
        localized(elected.withColumn("side", lit("elected"))
          .unionByName(conservative.withColumn("side", lit("bare")))
          .select("side", "k", "n", "value_sum")
          .orderBy("side", "k"))
      }
    },

    // NULL-ness predicate file skipping from the manifest (the second
    // consumer of r18's per-file null counts, after q193's top-k
    // walk): on a nullness-clustered layout (here a partition column
    // derived from nullness — the ingest shape that segregates
    // incomplete records) `IS NULL` opens only the null-carrying
    // files and `IS NOT NULL` skips the all-null mass entirely, both
    // decided from the log before any footer I/O. The lane PINS both
    // prunings via the scan's input files; the oracle replays the two
    // faces relationally — pruning changes which files open, never
    // which rows return.
    Q("q196_tx_null_skipping", GovernanceOracles.nullSkipping) { (s, dir) =>
      import graft.ext.TxTable
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_nullskip") { tmp =>
        val table = s"$tmp/table"
        TxTable.commitReplace(s, table,
          ev.select(col("event_id"),
              when(col("user_id") % 89 === 0, lit(null))
                .otherwise(col("user_id")).as("uid"))
            .withColumn("side",
              when(col("uid").isNull, lit("n")).otherwise(lit("x"))),
          partitionCol = Some("side"), statsCols = Seq("uid"))
        val nulls = TxTable.readNullness(s, table, "uid", wantNull = true)
        val valued = TxTable.readNullness(s, table, "uid", wantNull = false)
        require(nulls.inputFiles.nonEmpty &&
            nulls.inputFiles.forall(_.contains("side=n")),
          "IS NULL must open only the null-carrying partition's files")
        require(valued.inputFiles.nonEmpty &&
            valued.inputFiles.forall(_.contains("side=x")),
          "IS NOT NULL must skip the all-null partition's files")
        // the log-only answer agrees with the data before any file opens
        require(TxTable.metaNullCount(s, table, "uid") == nulls.count(),
          "metaNullCount must equal the scanned IS NULL count")
        localized(
          nulls.agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
            .withColumn("face", lit("null"))
          .unionByName(
            valued.agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
              .withColumn("face", lit("valued")))
          .select("face", "n", "s").orderBy("face"))
      }
    },

    // The streaming face of the multi-table intent (r18): a change
    // feed drained micro-batch by micro-batch, each non-empty batch
    // ONE intent — the fact moves at merge-on-read economics
    // (MergeDvCommit: tombstone sidecars, zero rewrites) and its
    // derived view replaces over the post-batch state, so no reader
    // ever catches the view lagging the fact past the roll-forward
    // window. Exactly-once under at-least-once foreachBatch: the fact
    // side rides the (appId, batchId) ledger, the view recompute is
    // idempotent by construction (anti-join keys out, union images
    // back) — the lane REPLAYS the whole feed on a REBUILT checkpoint
    // (the strongest replay: every batch re-fires) and requires the
    // view bit-identical while versions keep moving in step.
    // DELIBERATELY q138/q179's oracle: same final state, third
    // economics (one-table copy-on-write → one-table MoR → fact+view
    // txn).
    Q("q197_tx_stream_pair", DataOpsOracles.streamMerge) { (s, dir) =>
      import graft.ext.{PairTxn, TxTable}
      val ev = graft.analysis.EventsFact.events(s, dir)
      inTempDir("graft_txsp") { tmp =>
        val fact = s"$tmp/fact"; val view = s"$tmp/view"
        val viewOf: DataFrame => DataFrame = ChangeFeedFixture.bySeven
        val seed = ChangeFeedFixture.seed(ev)
        PairTxn.commitAll(s, tmp, Seq(
          PairTxn.PairCommit(fact, seed, replace = true,
            partitionCol = Some("pbucket")),
          PairTxn.PairCommit(view, viewOf(seed), replace = true)))
        // six BUCKET-CLUSTERED change files + maxFilesPerTrigger=3 pins
        // the r19 trigger-batching economics IN-LANE: a catch-up drain
        // pays ceil(6/3) = 2 intents, not 6 — same final state, same
        // oracle, same replay guarantees, at a third of the commit
        // traffic. Clustering matters: a round-robin split would put
        // every pbucket in every file, so each batch's MoR semi-join
        // would slice the WHOLE fact instead of its own buckets (tried,
        // measured 1.5x the lane cost — partition locality of the feed
        // is part of the economics, exactly as a real CDC feed shards
        // by key).
        val ch = ChangeFeedFixture.changesA(ev)
        Seq(Seq(0L), Seq(1L), Seq(2L), Seq(3L), Seq(4L, 5L), Seq(6L, 7L))
          .foreach { bs =>
            ch.where(col("pbucket").isin(bs: _*)).coalesce(1)
              .write.mode("append").parquet(s"$tmp/changes")
          }
        val schema = ChangeFeedFixture.changeSchema
        val intents = graft.streaming.MergeStream.pairAvailable(
          s, tmp, fact, view, s"$tmp/changes", schema, s"$tmp/ckpt", viewOf,
          maxFilesPerTrigger = 3)
        require(intents == 2,
          s"6 change files at maxFilesPerTrigger=3 must drain in 2 intents: $intents")
        val afterFirst = (TxTable.latestVersion(s, fact).get,
          TxTable.latestVersion(s, view).get)
        require(afterFirst._1 == afterFirst._2,
          s"fact and view must move in step: $afterFirst")
        val viewRows = TxTable.read(s, view).orderBy("k").collect().toSeq
        // REBUILT checkpoint: every batch replays — the ledger no-ops
        // the fact, the ledger-aware recompute republishes the same view
        graft.streaming.MergeStream.pairAvailable(
          s, tmp, fact, view, s"$tmp/changes", schema, s"$tmp/ckpt2", viewOf,
          maxFilesPerTrigger = 3)
        require(TxTable.read(s, view).orderBy("k").collect().toSeq == viewRows,
          "a full replay must republish the identical view")
        require(TxTable.read(s, fact).count() ==
          viewRows.map(_.getLong(1)).sum,
          "the committed view must aggregate the merged fact")
        val afterReplay = (TxTable.latestVersion(s, fact).get,
          TxTable.latestVersion(s, view).get)
        require(afterReplay._1 == afterReplay._2 &&
            afterReplay._1 > afterFirst._1,
          s"replayed batches still move the group in step: $afterReplay")
        localized(TxTable.read(s, view).orderBy("k"))
      }
    }
  )
}

object GovernanceOracles {

  /** q185: the manifest-NDV estimates recomputed from the data —
    * verbatim [[graft.ext.Hll]] md5-lane math (the q105 recipe): 60-bit
    * hex prefix, register = top 8 bits, rho from bin() length, exact
    * integer fold, one double division; round(4) bridges the
    * linear-counting ln branch. The engine answers the SAME numbers
    * with every data file deleted. */
  val manifestNdv: String = {
    val num = graft.ext.Hll.Numerator.toString
    def est(expr: String, alias: String) =
      s"""r_$alias AS (
         |  SELECT (h60 >> 52) AS reg,
         |    max(CASE WHEN (h60 & ((CAST(1 AS BIGINT) << 52) - 1)) = 0 THEN 53
         |      ELSE 53 - length(bin(h60 & ((CAST(1 AS BIGINT) << 52) - 1))) END) AS m
         |  FROM (SELECT CAST(('0x' || substring(md5(CAST($expr AS VARCHAR)), 1, 15))
         |          AS BIGINT) AS h60 FROM src) GROUP BY 1),
         |s_$alias AS (
         |  SELECT CAST(256 - count(*) AS BIGINT) AS v_empty,
         |    CAST(sum(CAST(1 AS BIGINT) << (53 - m)) AS BIGINT)
         |      + CAST(256 - count(*) AS BIGINT) * (CAST(1 AS BIGINT) << 53) AS s_total
         |  FROM r_$alias),
         |e_$alias AS (
         |  SELECT round(CASE WHEN v_empty > 0 AND $num / CAST(s_total AS DOUBLE) <= 640.0
         |    THEN 256.0 * ln(256.0 / v_empty)
         |    ELSE $num / CAST(s_total AS DOUBLE) END, 4) AS est
         |  FROM s_$alias)""".stripMargin
    s"""WITH src AS (SELECT event_id, user_id % 256 AS uid FROM events),
       |${est("event_id", "e")},
       |${est("uid", "u")}
       |SELECT (SELECT count(*) FROM src) AS n_rows,
       |  (SELECT est FROM e_e) AS ndv_event_id,
       |  (SELECT est FROM e_u) AS ndv_uid""".stripMargin
  }

  /** q187: the pair-committed summary is, by the pair invariant, the
    * plain aggregate over ALL events (seed ∪ delta = everything). */
  val pairCommit: String =
    """SELECT event_id % 6 AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q186: the NDV-elected semi join replayed relationally — the
    * election changes the PLAN, never the rows, so the oracle is the
    * plain IN-subquery. */
  val ndvJoin: String =
    """SELECT user_id % 200 AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events
      |WHERE user_id % 200 IN (
      |  SELECT DISTINCT user_id % 200 FROM events WHERE user_id % 5 = 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q190: the second derived view of the 3-table txn is, by the
    * group invariant, the plain per-user aggregate over ALL events
    * (seed ∪ delta = everything). */
  val multiCommit: String =
    """SELECT user_id % 7 AS u, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q191: both NDV-elected aggregation plans replayed relationally —
    * the election moves the exchange, never the rows, so each side is
    * the plain groupBy (the near-unique side re-bucketed mod 10 the
    * way the engine compacts it). */
  val aggNdv: String =
    """WITH hi AS (
      |  SELECT 'hi' AS side, event_id % 10 AS k, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |  FROM events GROUP BY 2),
      |lo AS (
      |  SELECT 'lo' AS side, user_id % 16 AS k, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |  FROM events GROUP BY 2)
      |SELECT side, k, n, value_sum FROM hi
      |UNION ALL SELECT side, k, n, value_sum FROM lo
      |ORDER BY side, k""".stripMargin

  /** q192: top-k file skipping replayed relationally — the bound
    * changes which FILES open, never which rows win, so the oracle is
    * the plain ordered head with the same tiebreak. */
  val topkSkipping: String =
    """SELECT event_id, user_id FROM events
      |ORDER BY user_id DESC, event_id LIMIT 50""".stripMargin

  /** q193: the ascending (smallest-k) face over a nullable column —
    * the walk changes which FILES open, never which rows win; NULLS
    * LAST is pinned on both engines (the engine sorts
    * asc_nulls_last, DuckDB's ASC default is already NULLS LAST). */
  val topkAsc: String =
    """SELECT event_id,
      |  CASE WHEN user_id % 89 = 0 THEN NULL ELSE user_id END AS uid
      |FROM events
      |ORDER BY uid ASC, event_id LIMIT 50""".stripMargin

  /** q194: the MoR changeset replayed relationally — survivors keep
    * their rows, updated keys carry the +1000 image, inserts mint
    * negative ids (collision-free against the non-negative id
    * surface); the intent changes WHEN the group becomes visible,
    * never what it holds. */
  val morMultiCommit: String =
    """WITH base AS (
      |  SELECT event_id, user_id, value, user_id % 4 AS pb FROM events),
      |merged AS (
      |  SELECT * FROM base WHERE user_id % 5 <> 0 AND event_id % 7 <> 3
      |  UNION ALL
      |  SELECT event_id, user_id, value + 1000 AS value, pb
      |  FROM base WHERE user_id % 5 = 0
      |  UNION ALL
      |  SELECT -event_id - 1 AS event_id, user_id, value, pb
      |  FROM base WHERE event_id % 11 = 0)
      |SELECT pb, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** q196: both nullness faces replayed relationally — skipping
    * changes which FILES open, never which rows return. */
  val nullSkipping: String =
    """WITH t AS (
      |  SELECT event_id,
      |    CASE WHEN user_id % 89 = 0 THEN NULL ELSE user_id END AS uid
      |  FROM events)
      |SELECT 'null' AS face, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS s
      |FROM t WHERE uid IS NULL
      |UNION ALL
      |SELECT 'valued' AS face, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS s
      |FROM t WHERE uid IS NOT NULL
      |ORDER BY face""".stripMargin

  /** q195: the width election moves the number of reduce tasks, never
    * the rows — both sides are the same plain groupBy. */
  val aggWidth: String =
    """WITH g AS (
      |  SELECT user_id % 3 AS k, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |  FROM events GROUP BY 1)
      |SELECT side, k, n, value_sum
      |FROM (SELECT 'elected' AS side, * FROM g
      |      UNION ALL SELECT 'bare' AS side, * FROM g)
      |ORDER BY side, k""".stripMargin

  /** The q172 MERGE replayed over a FULL OUTER JOIN with the engine's
    * fixed clause order: delete wins over update on matched rows; a
    * NULL condition is false (row kept / not inserted). */
  val mergeInto: String =
    """WITH t AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |s AS (SELECT event_id, value + 500 AS value, value AS nv
      |  FROM events WHERE event_id % 3 = 0),
      |m AS (
      |  SELECT
      |    coalesce(t.event_id, s.event_id) AS event_id,
      |    CASE
      |      WHEN t.event_id IS NULL THEN s.value
      |      WHEN s.event_id IS NULL THEN t.value
      |      WHEN coalesce(s.nv > 0, false)
      |        THEN coalesce(t.value, 0) + coalesce(s.nv, 0)
      |      ELSE t.value END AS value,
      |    CASE
      |      WHEN t.event_id IS NULL THEN coalesce(s.value > 100, false)
      |      WHEN s.event_id IS NULL THEN true
      |      ELSE NOT (s.event_id % 12 = 0) END AS keep
      |  FROM t FULL OUTER JOIN s ON t.event_id = s.event_id)
      |SELECT CAST(event_id % 10 AS BIGINT) AS bucket, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM m WHERE keep GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q173: base (non-NULL values) + the CLEANED changeset — the
    * rejected dirty commit is invisible, which is the atomicity
    * claim under test. */
  val checkConstraint: String =
    """WITH s1 AS (SELECT event_id, value FROM events
      |  WHERE event_id % 2 = 0 AND value IS NOT NULL),
      |c0 AS (SELECT event_id,
      |    CASE WHEN event_id % 2 <> 0 THEN 'insert'
      |      WHEN event_id % 12 = 0 THEN 'delete'
      |      ELSE 'update' END AS op,
      |    CASE WHEN event_id % 9 = 0 THEN NULL
      |      ELSE value + 500 END AS value
      |  FROM events WHERE event_id % 3 = 0),
      |ca AS (SELECT * FROM c0 WHERE op = 'delete' OR value IS NOT NULL),
      |s2 AS (
      |  SELECT s1.event_id, s1.value FROM s1
      |  LEFT JOIN ca ON s1.event_id = ca.event_id AND ca.op IN ('update', 'delete')
      |  WHERE ca.event_id IS NULL
      |  UNION ALL
      |  SELECT event_id, value FROM ca WHERE op IN ('insert', 'update'))
      |SELECT CAST(event_id % 10 AS BIGINT) AS bucket, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM s2 GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q174: per-version COUNT(*)/MIN/MAX of the replayed q146 chain —
    * the engine answers these from the manifest with the data files
    * deleted. */
  val metaAggregates: String =
    ChangeFeedFixture.withCtes(ChangeFeedFixture.replayAB,
      """SELECT version, n, id_min, id_max FROM (
      |  SELECT 1 AS version, count(*) AS n, min(event_id) AS id_min,
      |    max(event_id) AS id_max FROM s1
      |  UNION ALL
      |  SELECT 2, count(*), min(event_id), max(event_id) FROM s2
      |  UNION ALL
      |  SELECT 3, count(*), min(event_id), max(event_id) FROM s3)
      |ORDER BY version""".stripMargin)

  /** q175: the two DV deletes replayed relationally — NULL predicate
    * evaluations KEEP the row on both sides (coalesce(pred, false)),
    * matching [[graft.ext.TxTable.deleteWhereDv]]'s contract. */
  val deleteVectors: String =
    """WITH s AS (SELECT event_id, user_id, value FROM events
      |  WHERE event_id % 2 = 0),
      |d1 AS (SELECT * FROM s WHERE NOT coalesce(user_id % 100 = 7, false)),
      |d2 AS (SELECT * FROM d1 WHERE NOT coalesce(value < 25, false))
      |SELECT CAST(event_id % 6 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM d2 GROUP BY 1 ORDER BY k""".stripMargin

  /** The q176 MoR UPDATE + stacked delete replayed relationally:
    * update first (RHS on the old row), then the delete over the
    * updated values — exactly the version order the commits publish. */
  val updateVectors: String =
    """WITH s AS (SELECT event_id, user_id, value FROM events
      |  WHERE event_id % 2 = 0),
      |u AS (SELECT event_id, user_id,
      |  CASE WHEN coalesce(user_id % 40 = 3, false)
      |    THEN value * 2 + 1 ELSE value END AS value FROM s),
      |d AS (SELECT * FROM u WHERE NOT coalesce(value > 700, false))
      |SELECT CAST(event_id % 6 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM d GROUP BY 1 ORDER BY k""".stripMargin

  /** The q177 MoR-delete-then-MoR-merge replayed relationally: the
    * target of the merge is the base MINUS the deleted rows (the
    * merge reads through the tombstones), clause order is q172's
    * (delete wins; NULL conditions false). */
  val mergeVectors: String =
    """WITH t0 AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |t AS (SELECT * FROM t0 WHERE NOT coalesce(value < 100, false)),
      |s AS (SELECT event_id, value + 500 AS value, value AS nv
      |  FROM events WHERE event_id % 3 = 0),
      |m AS (
      |  SELECT
      |    coalesce(t.event_id, s.event_id) AS event_id,
      |    CASE
      |      WHEN t.event_id IS NULL THEN s.value
      |      WHEN s.event_id IS NULL THEN t.value
      |      WHEN coalesce(s.nv > 0, false)
      |        THEN coalesce(t.value, 0) + coalesce(s.nv, 0)
      |      ELSE t.value END AS value,
      |    CASE
      |      WHEN t.event_id IS NULL THEN coalesce(s.value > 100, false)
      |      WHEN s.event_id IS NULL THEN true
      |      ELSE NOT (s.event_id % 12 = 0) END AS keep
      |  FROM t FULL OUTER JOIN s ON t.event_id = s.event_id)
      |SELECT CAST(event_id % 7 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM m WHERE keep GROUP BY 1 ORDER BY k""".stripMargin

  /** q180: the SQL-TVF three-way (v1 snapshot × current snapshot ×
    * v1→v2 changeset) replayed relationally — old is the full base,
    * current is the base minus the DV delete, the changeset's delete
    * half is exactly the complement. */
  val sqlTvf: String =
    """WITH old AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |cur AS (SELECT * FROM old WHERE NOT coalesce(value < 100, false)),
      |del AS (SELECT event_id FROM old WHERE coalesce(value < 100, false))
      |SELECT CAST(o.event_id % 6 AS BIGINT) AS k,
      |  count(*) AS n_old,
      |  count(c.event_id) AS n_cur,
      |  count(d.event_id) AS n_deleted,
      |  CAST(sum(CAST(coalesce(c.value, 0) AS DECIMAL(18,6))) AS DOUBLE)
      |    AS cur_sum
      |FROM old o
      |LEFT JOIN cur c ON o.event_id = c.event_id
      |LEFT JOIN del d ON o.event_id = d.event_id
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** q181: the timestamp-traveled read IS version 1 (the lane's
    * requires pin the resolution), so the oracle replays v1 joined
    * against the post-delete current state. */
  val timestampTravel: String =
    """WITH o AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |c AS (SELECT event_id FROM o WHERE NOT coalesce(value < 100, false))
      |SELECT CAST(o.event_id % 6 AS BIGINT) AS k,
      |  count(*) AS n_at_ts,
      |  count(c.event_id) AS n_cur,
      |  CAST(sum(CAST(o.value AS DECIMAL(18,6))) AS DOUBLE) AS ts_sum
      |FROM o LEFT JOIN c ON o.event_id = c.event_id
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** q182: the evolving MoR merge replayed relationally — update/
    * delete keys vacate the base, insert/update rows append WITH the
    * new column, kept base rows read NULL in it. */
  val evolveMor: String =
    """WITH t AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |c AS (SELECT event_id,
      |    CASE WHEN event_id % 2 <> 0 THEN 'insert'
      |         WHEN event_id % 12 = 0 THEN 'delete'
      |         ELSE 'update' END AS op,
      |    value + 500 AS value,
      |    CAST(event_id % 5 AS BIGINT) AS note
      |  FROM events WHERE event_id % 3 = 0),
      |kept AS (SELECT t.event_id, t.value, CAST(NULL AS BIGINT) AS note
      |  FROM t WHERE NOT EXISTS (SELECT 1 FROM c
      |    WHERE c.event_id = t.event_id AND c.op IN ('update', 'delete'))),
      |m AS (SELECT * FROM kept UNION ALL
      |      SELECT event_id, value, note FROM c
      |      WHERE op IN ('insert', 'update'))
      |SELECT CAST(event_id % 7 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
      |  count(note) AS note_n, CAST(sum(note) AS BIGINT) AS note_sum
      |FROM m GROUP BY 1 ORDER BY k""".stripMargin

  /** q183: purge is content-invisible (the lane's requires pin the
    * physical claims), so the oracle is the delete-filtered aggregate. */
  val purge: String =
    """WITH o AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |c AS (SELECT * FROM o WHERE NOT coalesce(value < 100, false))
      |SELECT CAST(event_id % 6 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM c GROUP BY 1 ORDER BY k""".stripMargin

  /** q178: the OPTIMIZE-ZORDER pipeline is content-invisible, so the
    * oracle is simply the 2-D box over the delete-filtered rows. */
  val optimizeZorder: String =
    """WITH b AS (SELECT event_id, event_id % 64 AS x,
      |  coalesce(user_id, 0) % 64 AS y, value FROM events),
      |d AS (SELECT * FROM b WHERE NOT coalesce(value < 100, false))
      |SELECT CAST(x % 4 AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM d WHERE x BETWEEN 8 AND 23 AND y BETWEEN 8 AND 23
      |GROUP BY 1 ORDER BY k""".stripMargin
}
