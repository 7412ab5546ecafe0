package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Snapshot-isolated, versioned parquet tables via a manifest commit
  * log — the missing atomicity layer under plain-directory MERGE
  * (r9's standing hazard: [[Cdc.applyChangeSet]] + dynamic partition
  * overwrite REWRITES live directories, so a reader racing a merge
  * sees a half-written snapshot and two writers corrupt each other).
  *
  * Layout (the Delta/Iceberg commit-log shape, reduced to its core):
  * {{{
  *   table/
  *     data/v<N>-<token>/...            immutable data files, one dir per commit
  *     _graft_log/<N padded>.json       manifest of version N: header + the
  *                                      commit's ADD/REMOVE delta ("kind":"delta"),
  *                                      or the complete live-file list for
  *                                      full-replace commits ("kind":"full")
  *     _graft_log/_ckpt-<N padded>.json checkpoint: the COMPLETE live-file list
  *                                      at version N — derivable, written every
  *                                      [[checkpointInterval]] versions and at
  *                                      every full commit; underscore-prefixed so
  *                                      Spark file sources (the change feed) skip it
  * }}}
  *
  * Invariants that buy the isolation:
  *   - data files are IMMUTABLE: a commit only ever writes into its
  *     own fresh `data/v<N>-<token>/` directory — no existing file is
  *     touched, so every already-published version stays byte-stable
  *     under any number of concurrent commits;
  *   - a version is BORN ATOMICALLY: the manifest is published through
  *     [[LogStore.writeIfAbsent]] — readers either see version N
  *     complete or not at all, never half a commit;
  *   - conflicts are DETECTED, not merged: a commit targets manifest
  *     `base+1`; if a competing writer published it first the publish
  *     refuses and the commit throws (first writer wins) — the loser's
  *     data files are orphans that [[vacuum]] reclaims, and the table
  *     is still exactly the winner's version. A crash BEFORE the
  *     publish likewise leaves only orphan data files: the table stays
  *     at N−1 by construction.
  *
  * Scale shape: a DELTA manifest is change-sized, so a streaming table
  * committing per micro-batch writes O(changed files) log bytes per
  * version — NOT O(live files) (the r10 full-manifest trade-off,
  * retired). Reconstructing any version reads ONE checkpoint plus at
  * most [[checkpointInterval]] delta manifests (never all V), and the
  * checkpoint REPLACES directory listing at read-planning time — the
  * object-store listing tax disappears, and manifest-level pruning
  * ([[readPruned]], [[readRanges]]) selects files before Spark ever
  * sees a path. [[mergeChangeSet]] rewrites only the files of touched
  * partitions (cost ∝ touched data, the q138 property) and carries
  * every untouched file entry forward by reference. A partition whose
  * rows are all deleted simply contributes NO files to the new
  * manifest, so no stale partition directory can outlive its rows.
  * Checkpoints are pure read optimization: correctness never depends
  * on them (a "full" manifest encountered mid-replay resets state), so
  * a crash between manifest publish and checkpoint write costs a few
  * extra delta reads, nothing else.
  *
  * Log I/O rides the [[LogStore]] seam ([[logStoreFactory]]) — the
  * HDFS/local impl ships; S3-style stores swap in a put-if-absent
  * coordinated implementation without touching this layer. Remaining
  * documented trade-offs: schema is carried by the parquet files
  * themselves; partition values are rendered as path strings — keys
  * should be integral/simple-string typed (the Spark partition-dir
  * value contract, enforced loud by [[requirePathSafe]]).
  *
  * Multi-table transactions: NOT by gated visibility — that would
  * break this design's load-bearing invariant that a PUBLISHED
  * manifest file IS a durable version (the change feed and streaming
  * log subscriptions read `_graft_log/` as a plain file source and
  * would observe uncommitted versions; every reader/replayer/vacuum
  * would need gate-resolution logic with its own failure modes).
  * What IS supported (r16): [[PairTxn]] — write-ahead intent +
  * roll-forward. Both sides are staged to bytes, ONE intent record is
  * published, then the manifests publish in order as ordinary durable
  * versions; a crash anywhere is completed by byte replay
  * ([[PairTxn.recoverPairs]]), so the pair can lag but never diverge,
  * and no reader ever needs to resolve a gate. The lighter-weight
  * composition also remains: per-table atomicity + the
  * idempotent-writer ledger ((appId, batchId) tags replayed to
  * convergence — the contract the streaming sinks prove).
  */
object TxTable {

  /** Per-file Bloom filter over a point-lookup column (`col` hashed on
    * its canonical STRING rendering; `k` double-hash probes over the
    * base64-packed bit array). Range stats prune on CLUSTERED columns;
    * the bloom prunes point lookups on columns the layout does NOT
    * cluster — each file answers "definitely absent" without being
    * opened. False positives only cost extra reads, never rows. */
  final case class FileBloom(col: String, k: Int, b64: String) {
    lazy val bits: Array[Long] = {
      val bytes = java.util.Base64.getDecoder.decode(b64)
      val buf = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(bytes.length / 8)(buf.getLong())
    }
  }

  /** One deletion-vector reference: `dir` is a sidecar parquet
    * dataset (relative to the table root, under `dv/`) holding
    * (file, pos) tombstones written by one merge-on-read DML commit;
    * `rows` is the EXACT number of tombstones in that dataset for the
    * owning file (counts are disjoint across stacked refs because
    * each DV commit matches only still-visible rows, so
    * [[metaCount]] stays a pure log computation). */
  final case class DvRef(dir: String, rows: Long)

  /** One live data file: `path` relative to the table root; `bucket`
    * is the partition value rendered as Spark renders it into the
    * `col=value` directory name (None for unpartitioned commits);
    * `stats` maps a skipping column to its per-file (min, max) for
    * LONG-valued columns — [[readRanges]] prunes on it, conservatively
    * keeping any file without stats for a queried column; `bloom` is
    * the optional per-file point-lookup filter ([[readPoint]]);
    * `bytes` is the file length (0 = unrecorded) — [[detail]] and
    * compaction planning read sizes off the manifest instead of
    * stat-ing files; `rows` is the file's exact row count (−1 =
    * unrecorded, pre-upgrade manifests) — [[metaCount]] answers
    * COUNT(*) from the log alone, no data file opened; `dvs` are the
    * deletion vectors stacked on this file by [[deleteWhereDv]] —
    * the file's BYTES never change under merge-on-read DML, readers
    * subtract the tombstoned positions at scan time, and [[compact]]
    * reconciles them away. Stats/blooms stay valid under DVs (deletes
    * only shrink the value set — skipping can over-admit, never
    * over-skip). */
  final case class FileEntry(
      path: String,
      bucket: Option[String],
      stats: Map[String, (Long, Long)] = Map.empty,
      bloom: Option[FileBloom] = None,
      bytes: Long = 0L,
      rows: Long = -1L,
      dvs: Seq[DvRef] = Seq.empty,
      /** per-column HyperLogLog register sketches (col → base64 of the
        * 256-byte register array, [[HllRegs]]) recorded for the same
        * columns as `stats` — mergeable NDV off the manifest alone
        * ([[metaNdv]]); absent on pre-upgrade manifests. Like range
        * stats, sketches stay valid-but-conservative under deletion
        * vectors (deletes only shrink the value set, so the estimate
        * can only over-count). Purely additive log field — protocol
        * unbumped, old readers ignore it. */
      hll: Map[String, String] = Map.empty,
      /** per-column NULL counts (col → exact count of rows whose cast
        * value is NULL in this file) recorded for the same columns as
        * `stats` — the field that makes [[topKCandidates]]' live-row
        * walk valid on NULLABLE columns: min/max ignore NULLs, so the
        * walk must count only rows that CARRY a value, and a recorded
        * zero is knowledge ("this file proves 64 valued rows") while
        * an ABSENT key is ignorance (pre-upgrade manifests) that the
        * walk treats as contributing nothing. Purely additive log
        * field — protocol unbumped, old readers ignore it. */
      nulls: Map[String, Long] = Map.empty)

  /** `schemas` maps a commit DATA DIRECTORY (`data/vN-token`) to the
    * read-back schema (StructType JSON, partition column included) of
    * the files it holds — carried by the log so reads NEVER open
    * parquet footers for schema inference (at 100 TB that is one
    * footer round-trip per live commit dir per query, and locally it
    * was the single largest cost of every TxTable operation). A dir
    * absent from the map falls back to inference.
    *
    * `txns` maps a writer application id to the highest transaction
    * version it has committed (accumulated along the log; checkpoints
    * carry the full map) — the idempotent-writer ledger: an
    * at-least-once producer (foreachBatch replays its last micro-batch
    * after a crash between table commit and stream checkpoint) tags
    * each commit with (appId, batchId), and a re-application of an
    * already-recorded version is SKIPPED instead of double-applying
    * the changeset.
    *
    * `props` are table properties accumulated along the log (each
    * commit header carries only the entries it SETS; checkpoints carry
    * the full map) — they SURVIVE full-replace commits, like the txn
    * ledger: a compaction around a governed table must not drop its
    * constraints. Keys under `constraint.` are CHECK constraints
    * ([[addCheckConstraint]]) enforced on every commit's fresh data. */
  final case class Manifest(
      version: Long, files: Seq[FileEntry],
      schemas: Map[String, String] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty) {

    /** True when the ledger already records `txn` (its app at this
      * version or later): the idempotent-writer gate every tagged
      * commit checks before it writes anything. */
    private[graft] def applied(txn: Option[(String, Long)]): Boolean =
      txn.exists { case (app, ver) => txns.get(app).exists(_ >= ver) }
  }

  final class CommitConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  final class ConstraintViolationException(msg: String)
    extends IllegalStateException(msg)

  /** Full live-file checkpoint cadence: every Nth version (and every
    * full-replace commit) also writes a `_ckpt-` snapshot, bounding any
    * version reconstruction at one checkpoint + < N delta manifests.
    * Tunable for tests; 10 keeps the read fan-in small while keeping
    * checkpoint write amplification ≤ 1/10 of a full manifest per
    * commit (amortized). */
  @volatile var checkpointInterval: Int = 10

  /** Directory under a table root where [[PairTxn]] stamps open-intent
    * sentinels (`v{N}` files claiming version N's staged dirs).
    * [[vacuum]] honors a claim that names a STILL-OPEN multi-table
    * txn regardless of file age — the coordinator's intent log is
    * otherwise invisible to a table-level vacuum, and reclaiming an
    * open intent's staged files would make its roll-forward publish a
    * manifest naming deleted data. */
  private[ext] val IntentSentinelDir = "_graft_intent"

  /** The [[LogStore]] seam: all commit-log I/O resolves its store
    * through this factory. Deployments targeting object stores install
    * a put-if-absent-coordinated implementation; tests install
    * counting/racing fakes via [[withLogStore]]. */
  @volatile var logStoreFactory: FileSystem => LogStore =
    fs => new HadoopLogStore(fs)

  /** Run `body` with a replacement [[LogStore]] factory, restoring the
    * previous one on ANY exit path (test seam — the suite runs its
    * specs sequentially in one JVM). */
  def withLogStore[T](factory: FileSystem => LogStore)(body: => T): T = {
    val prev = logStoreFactory
    logStoreFactory = factory
    try body finally logStoreFactory = prev
  }

  /** Partition values ride in `col=value` directory names AND raw in
    * manifests/deletes: Spark ESCAPES non-literal characters when
    * writing the directory (space → %20, null → a sentinel dir), so a
    * raw-string match against an exotic value silently misses — fail
    * loud at the boundary instead. Shared with
    * [[graft.streaming.MergeStream]]'s emptied-partition delete. */
  private[graft] def requirePathSafe(values: Iterable[String], colName: String): Unit =
    // ASCII only: Spark URL-encodes non-ASCII partition values in the
    // scan's rendered paths but the directory/manifest carry them raw,
    // so a Unicode "letter" re-opens exactly the raw-vs-rendered
    // mismatch this guard exists to refuse
    values.find(v => v == "null" || !v.forall(c =>
      (c.isLetterOrDigit && c < 128) || c == '-' || c == '_' || c == '.')).foreach { bad =>
      throw new IllegalArgumentException(
        s"partition column '$colName' value '$bad' is not path-literal " +
          "(ASCII letters/digits/-_./ only, non-null): Spark escapes other values " +
          "in directory names, so raw-string partition matching would silently " +
          "miss — use an integral or simple-string partition key")
    }

  private[ext] def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private[ext] def storeOf(spark: SparkSession, dir: String): (LogStore, Path) = {
    val (fs, root) = fsOf(spark, dir)
    (logStoreFactory(fs), root)
  }

  private def logDir(root: Path) = new Path(root, "_graft_log")
  private[ext] def manifestPath(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.json")
  private[ext] def checkpointPath(root: Path, v: Long) =
    new Path(logDir(root), f"_ckpt-$v%020d.json")

  private val ManifestName = """(\d{20})\.json""".r
  private val CheckpointName = """_ckpt-(\d{20})\.json""".r

  /** One parsed log file (manifest or checkpoint): `kind` ∈
    * full/delta/checkpoint; full and checkpoint carry the COMPLETE
    * live-file list in `adds`. `schema` is the read-back schema of
    * THIS commit's own data dir; `schemas` is the full dir→schema map
    * (checkpoints only). */
  private[graft] final case class ParsedLog(
      version: Long, base: Long, op: String, kind: String,
      adds: Seq[FileEntry], removes: Seq[String],
      schema: Option[String] = None,
      schemas: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None,
      txns: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty,
      ts: Long = 0L)

  /** Manifest/checkpoint (de)serialization — Jackson on both sides
    * (one shared writer/parser pair, WITH string escaping: a path or
    * bucket containing quotes/spaces round-trips instead of silently
    * drifting between a hand-built writer and a regex reader — the r10
    * finding). JSON-lines: one header object, then one object per add
    * (`{"a":{...}}`) or remove (`{"r":"path"}`). */
  private[graft] object ManifestJson {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    private val mapper = new ObjectMapper() // thread-safe for read/write

    /** Log-format protocol this engine writes and the highest it can
      * read. A FUTURE format change that old readers cannot safely
      * ignore (new delta kinds, a different DV coordinate system)
      * bumps the written number; an old engine then refuses the table
      * LOUDLY instead of replaying manifests it half-understands into
      * a silently wrong file list — the lakehouse formats'
      * reader-version gate. Headers without the field (every log
      * written before the gate) read as protocol 1; a header must
      * still declare its kind ([[parse]]). Purely additive fields do
      * NOT bump it. */
    val SupportedProtocol = 1

    private def entryNode(f: FileEntry): ObjectNode = {
      val n = mapper.createObjectNode()
      n.put("path", f.path)
      f.bucket.foreach(b => n.put("bucket", b))
      if (f.stats.nonEmpty) {
        val st = n.putObject("stats")
        // sorted for deterministic bytes (checkpoint writers may race;
        // identical content makes the race harmless)
        f.stats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
          val a = st.putArray(c); a.add(lo); a.add(hi)
        }
      }
      f.bloom.foreach { bl =>
        val bn = n.putObject("bloom")
        bn.put("c", bl.col); bn.put("k", bl.k); bn.put("b", bl.b64)
      }
      if (f.hll.nonEmpty) {
        val hn = n.putObject("hll")
        f.hll.toSeq.sortBy(_._1).foreach { case (c, b64) => hn.put(c, b64) }
      }
      if (f.nulls.nonEmpty) {
        val nn = n.putObject("nn")
        f.nulls.toSeq.sortBy(_._1).foreach { case (c, v) => nn.put(c, v) }
      }
      if (f.bytes != 0L) n.put("sz", f.bytes)
      if (f.rows >= 0L) n.put("rc", f.rows)
      if (f.dvs.nonEmpty) {
        val dn = n.putArray("dv")
        // stacking order preserved: refs are applied as a union, but a
        // deterministic rendering keeps racing checkpoint writers
        // byte-identical
        f.dvs.foreach { r =>
          val e = dn.addObject(); e.put("d", r.dir); e.put("n", r.rows)
        }
      }
      n
    }

    def render(
        version: Long, base: Long, op: String, kind: String,
        adds: Seq[FileEntry], removes: Seq[String],
        schema: Option[String] = None,
        schemas: Map[String, String] = Map.empty,
        txn: Option[(String, Long)] = None,
        txns: Map[String, Long] = Map.empty,
        props: Map[String, String] = Map.empty): String = {
      val sb = new StringBuilder
      val h = mapper.createObjectNode()
      h.put("version", version); h.put("base", base)
      h.put("protocol", SupportedProtocol)
      h.put("op", op); h.put("kind", kind)
      h.put("ts", System.currentTimeMillis())
      h.put("n_add", adds.size); h.put("n_remove", removes.size)
      schema.foreach(s => h.put("schema", s))
      if (schemas.nonEmpty) {
        val sn = h.putObject("schemas")
        schemas.toSeq.sortBy(_._1).foreach { case (d, s) => sn.put(d, s) }
      }
      txn.foreach { case (app, ver) =>
        val tn = h.putObject("txn"); tn.put("app", app); tn.put("ver", ver)
      }
      if (txns.nonEmpty) {
        val tn = h.putObject("txns")
        txns.toSeq.sortBy(_._1).foreach { case (a, v) => tn.put(a, v) }
      }
      if (props.nonEmpty) {
        val pn = h.putObject("props")
        props.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
      }
      sb.append(mapper.writeValueAsString(h)).append('\n')
      removes.foreach { p =>
        val n = mapper.createObjectNode(); n.put("r", p)
        sb.append(mapper.writeValueAsString(n)).append('\n')
      }
      adds.foreach { f =>
        val n = mapper.createObjectNode(); n.set[ObjectNode]("a", entryNode(f))
        sb.append(mapper.writeValueAsString(n)).append('\n')
      }
      sb.toString
    }

    private def parseEntry(node: com.fasterxml.jackson.databind.JsonNode): FileEntry = {
      val stats =
        if (!node.has("stats")) Map.empty[String, (Long, Long)]
        else {
          val st = node.get("stats")
          val it = st.fieldNames()
          val b = Map.newBuilder[String, (Long, Long)]
          while (it.hasNext) {
            val c = it.next(); val a = st.get(c)
            b += c -> (a.get(0).asLong(), a.get(1).asLong())
          }
          b.result()
        }
      val bloom = Option(node.get("bloom")).map(b =>
        FileBloom(b.get("c").asText(), b.get("k").asInt(), b.get("b").asText()))
      val dvs = Option(node.get("dv")).fold(Seq.empty[DvRef]) { arr =>
        (0 until arr.size()).map { i =>
          val e = arr.get(i); DvRef(e.get("d").asText(), e.get("n").asLong())
        }
      }
      val hll =
        if (!node.has("hll")) Map.empty[String, String]
        else {
          val hn = node.get("hll")
          val it = hn.fieldNames()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val c = it.next(); b += c -> hn.get(c).asText() }
          b.result()
        }
      val nulls =
        if (!node.has("nn")) Map.empty[String, Long]
        else {
          val nn = node.get("nn")
          val it = nn.fieldNames()
          val b = Map.newBuilder[String, Long]
          while (it.hasNext) { val c = it.next(); b += c -> nn.get(c).asLong() }
          b.result()
        }
      FileEntry(node.get("path").asText(),
        Option(node.get("bucket")).map(_.asText()), stats, bloom,
        Option(node.get("sz")).map(_.asLong()).getOrElse(0L),
        Option(node.get("rc")).map(_.asLong()).getOrElse(-1L),
        dvs, hll, nulls)
    }

    def parse(text: String, src: String): ParsedLog = {
      val lines = text.linesIterator.filter(_.nonEmpty)
      require(lines.hasNext, s"empty log file: $src")
      val h = mapper.readTree(lines.next())
      require(h.has("version"), s"malformed header in $src")
      val protocol = Option(h.get("protocol")).map(_.asInt()).getOrElse(1)
      require(protocol <= SupportedProtocol,
        s"$src was written at log protocol $protocol; this engine reads " +
          s"up to $SupportedProtocol — upgrade the engine before touching " +
          "this table (replaying half-understood manifests would derive " +
          "a silently wrong file list)")
      // a header must declare its kind: the body alone cannot tell a
      // full list from a delta, and replaying a delta as full would
      // reset state and drop every carried-forward file
      require(h.has("kind"),
        s"kind-less manifest header in $src — this engine reads only " +
          "manifests that declare their kind (full or delta)")
      val adds = Seq.newBuilder[FileEntry]
      val removes = Seq.newBuilder[String]
      lines.foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("a")) adds += parseEntry(n.get("a"))
        else if (n.has("r")) removes += n.get("r").asText()
        else sys.error(s"malformed manifest line in $src: $line")
      }
      val schemas =
        if (!h.has("schemas")) Map.empty[String, String]
        else {
          val sn = h.get("schemas"); val it = sn.fieldNames()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val d = it.next(); b += d -> sn.get(d).asText() }
          b.result()
        }
      val txns =
        if (!h.has("txns")) Map.empty[String, Long]
        else {
          val tn = h.get("txns"); val it = tn.fieldNames()
          val b = Map.newBuilder[String, Long]
          while (it.hasNext) { val a = it.next(); b += a -> tn.get(a).asLong() }
          b.result()
        }
      val props =
        if (!h.has("props")) Map.empty[String, String]
        else {
          val pn = h.get("props"); val it = pn.fieldNames()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val k = it.next(); b += k -> pn.get(k).asText() }
          b.result()
        }
      ParsedLog(h.get("version").asLong(),
        Option(h.get("base")).map(_.asLong()).getOrElse(h.get("version").asLong() - 1),
        Option(h.get("op")).map(_.asText()).getOrElse("unknown"),
        h.get("kind").asText(),
        adds.result(), removes.result(),
        Option(h.get("schema")).map(_.asText()), schemas,
        Option(h.get("txn")).map(t => (t.get("app").asText(), t.get("ver").asLong())),
        txns, props,
        Option(h.get("ts")).map(_.asLong()).getOrElse(0L))
    }
  }

  /** The commit data dir (`data/vN-token`) a file entry belongs to. */
  private def dirOf(path: String): String = path.split('/').take(2).mkString("/")

  /** Manifest and checkpoint versions present in the log — ONE
    * listing. */
  private def listLog(store: LogStore, root: Path): (Seq[Long], Seq[Long]) = {
    val names = store.list(logDir(root))
    (names.collect { case ManifestName(d) => d.toLong }.sorted,
      names.collect { case CheckpointName(d) => d.toLong }.sorted)
  }

  /** Highest published version, if any — one log-dir listing. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val (store, root) = storeOf(spark, dir)
    listLog(store, root)._1.lastOption
  }

  /** Reconstruct the live-file list at each requested version from
    * `listing` (the log's [[listLog]]): the nearest checkpoint at or
    * below the smallest request, then a single forward delta replay —
    * ≤ checkpointInterval + (max − min) log reads TOTAL, never O(V). A
    * "full" manifest encountered mid-replay resets state, so
    * correctness never depends on a checkpoint having been written. */
  private def readSnapshots(
      store: LogStore, root: Path, listing: (Seq[Long], Seq[Long]),
      versions: Seq[Long]): Map[Long, Manifest] = {
    require(versions.nonEmpty, "readSnapshots needs at least one version")
    val want = versions.distinct.sorted
    val wantSet = want.toSet
    val (manifestVs, ckptVs) = listing
    require(manifestVs.nonEmpty || ckptVs.nonEmpty, s"no committed version at $root")
    val manifestSet = manifestVs.toSet
    val base = ckptVs.filter(_ <= want.head).lastOption
    val state = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    val dirSchemas = scala.collection.mutable.HashMap.empty[String, String]
    val txns = scala.collection.mutable.HashMap.empty[String, Long]
    val props = scala.collection.mutable.HashMap.empty[String, String]
    base.foreach { b =>
      val ck = ManifestJson.parse(store.read(checkpointPath(root, b)), s"ckpt $b")
      ck.adds.foreach(e => state.update(e.path, e))
      dirSchemas ++= ck.schemas
      txns ++= ck.txns
      props ++= ck.props
    }
    def snap(v: Long) =
      Manifest(v, state.values.toSeq, dirSchemas.toMap, txns.toMap, props.toMap)
    val out = Map.newBuilder[Long, Manifest]
    if (base.contains(want.head)) out += want.head -> snap(want.head)
    var v = base.getOrElse(0L) + 1
    while (v <= want.last) {
      require(manifestSet.contains(v),
        s"manifest for version $v is missing under ${logDir(root)} " +
          "(vacuumed past its retention horizon, or never published)")
      val pm = ManifestJson.parse(store.read(manifestPath(root, v)), s"manifest $v")
      // txn ledger SURVIVES full commits: a replace/compact around a
      // streaming writer must not make its replayed batch re-apply
      if (pm.kind == "full") { state.clear(); dirSchemas.clear() }
      pm.removes.foreach(state.remove)
      pm.adds.foreach(e => state.update(e.path, e))
      pm.schema.foreach(s => pm.adds.map(e => dirOf(e.path)).distinct
        .foreach(d => dirSchemas.update(d, s)))
      // a multi-dir commit (RESTORE re-references old dirs) carries an
      // explicit dir→schema map instead of the single-schema field
      dirSchemas ++= pm.schemas
      pm.txn.foreach { case (app, ver) =>
        txns.update(app, math.max(ver, txns.getOrElse(app, Long.MinValue)))
      }
      // table properties accumulate like the ledger — and likewise
      // SURVIVE full commits (a replace must not shed constraints)
      props ++= pm.props
      if (wantSet.contains(v)) out += v -> snap(v)
      v += 1
    }
    out.result()
  }

  /** The one snapshot resolver: the manifest at `version`, or at the
    * latest published version when `version` is None, from ONE log
    * listing. The latest version is read off the very listing the
    * replay then walks ([[readSnapshots]]), so opening the latest
    * snapshot never lists the log a second time the way
    * [[latestVersion]] followed by [[readManifest]] would. None only
    * when no version is asked for and the log holds none; an asked-for
    * version that was vacuumed or never published is refused by the
    * replay. Every read, metadata answer and mutation of this object
    * opens its snapshot here ([[openSnapshot]], [[openTable]]), and so
    * do [[PairTxn]] and [[graft.streaming.MergeStream]]. */
  private[graft] def snapshot(
      spark: SparkSession, dir: String, version: Option[Long] = None): Option[Manifest] = {
    val (store, root) = storeOf(spark, dir)
    val listing = listLog(store, root)
    version.orElse(listing._1.lastOption)
      .map(v => readSnapshots(store, root, listing, Seq(v))(v))
  }

  /** The live-file list (and dir→schema map) of `version` — see
    * [[snapshot]]. */
  def readManifest(spark: SparkSession, dir: String, version: Long): Manifest =
    snapshot(spark, dir, Some(version)).get

  /** [[readManifest]] for several versions sharing ONE listing and ONE
    * replay — what the change-feed consumer uses to resolve a batch of
    * versions without per-version log walks. */
  private[graft] def readManifests(
      spark: SparkSession, dir: String, versions: Seq[Long]): Map[Long, Manifest] = {
    val (store, root) = storeOf(spark, dir)
    readSnapshots(store, root, listLog(store, root), versions)
  }

  /** The snapshot a read or metadata answer works on: `versionAsOf`,
    * or else the latest version ([[snapshot]]). */
  private[graft] def openSnapshot(
      spark: SparkSession, dir: String, versionAsOf: Option[Long]): Manifest =
    snapshot(spark, dir, versionAsOf).getOrElse(sys.error(s"no committed version at $dir"))

  /** The manifest a mutation builds on: version `at` (a caller's
    * optimistic base) or else the latest one ([[snapshot]]). */
  private def openTable(
      spark: SparkSession, dir: String, op: String,
      at: Option[Long] = None): Manifest =
    snapshot(spark, dir, at).getOrElse(uninitialized(op, dir))

  /** Refuse mutation `op` on a table with no published version. */
  private[ext] def uninitialized(op: String, dir: String): Nothing =
    sys.error(s"$op needs an initialized table at $dir")

  /** DESCRIBE HISTORY: one row per RETAINED version — (version, op,
    * base, n_files, n_added, n_carried). One read per delta manifest
    * (change-sized) in a single forward replay; on a vacuumed table the
    * replay starts from the retention-horizon checkpoint. Driver-built
    * frame, bounded by #versions. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (store, root) = storeOf(spark, dir)
    val (manifestVs, ckptVs) = listLog(store, root)
    if (manifestVs.isEmpty)
      return Seq.empty[(Long, String, Long, Long, Long, Long, Long)]
        .toDF("version", "op", "base", "n_files", "n_added", "n_carried",
          "commit_ts")
    // start state: the checkpoint at (first manifest − 1) when the
    // table was vacuumed exactly to a horizon; empty for a fresh table
    val start = ckptVs.filter(_ < manifestVs.head).lastOption
    val state = scala.collection.mutable.LinkedHashSet.empty[String]
    start.foreach { b =>
      ManifestJson.parse(store.read(checkpointPath(root, b)), s"ckpt $b")
        .adds.foreach(e => state += e.path)
    }
    // if the horizon checkpoint sits AT the first manifest's version
    // (vacuum's contract), the first row's carried count is derived
    // from its own delta (n_files − n_added) rather than a parent diff
    val rows = manifestVs.map { v =>
      val pm = ManifestJson.parse(store.read(manifestPath(root, v)), s"manifest $v")
      val prevPaths = state.toSet
      if (pm.kind == "full") state.clear()
      pm.removes.foreach(state -= _)
      pm.adds.foreach(state += _.path)
      val nFiles =
        if (v == manifestVs.head && ckptVs.contains(v) && prevPaths.isEmpty && pm.kind != "full") {
          // horizon row of a vacuumed table: the parent state is gone;
          // the checkpoint AT v is the ground truth for n_files
          val ck = ManifestJson.parse(store.read(checkpointPath(root, v)), s"ckpt $v")
          state.clear(); ck.adds.foreach(state += _.path)
          state.size.toLong
        } else state.size.toLong
      // adds whose path was already live are MODIFIED carried entries
      // (a DV commit re-publishes the same path with a new tombstone
      // ref) — counting them as "added" would report a zero-rewrite
      // merge-on-read delete as a full rewrite
      val nAdded = pm.adds.count(a => !prevPaths.contains(a.path)).toLong
      (v, pm.op, pm.base, nFiles, nAdded, nFiles - nAdded, pm.ts)
    }
    rows.toDF("version", "op", "base", "n_files", "n_added", "n_carried",
      "commit_ts")
  }

  /** A commit fully RENDERED but not yet published: the version it
    * targets, the manifest bytes, and the checkpoint bytes when the
    * cadence (or a full commit) calls for one. Staging is pure — no
    * log I/O — which is what lets [[PairTxn]] persist both sides of a
    * cross-table transaction in its intent record BEFORE either
    * publishes, making roll-forward deterministic byte replay. */
  private[ext] final case class StagedCommit(
      version: Long, manifest: String, checkpoint: Option[String])

  private[ext] def stageCommit(
      baseManifest: Manifest,
      newFiles: Seq[FileEntry], newSchema: Option[String],
      op: String, full: Boolean,
      extraSchemas: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None,
      extraProps: Map[String, String] = Map.empty): StagedCommit = {
    val version = baseManifest.version + 1
    val baseFiles = if (full) Seq.empty else baseManifest.files
    val baseByPath = baseFiles.map(f => f.path -> f).toMap
    val newPaths = newFiles.map(_.path).toSet
    // an add is a NEW path or a MODIFIED entry (same path, changed
    // content — a deletion-vector ref stacked by merge-on-read DML);
    // replay's state.update(path, entry) replaces the old entry either
    // way, so deltas stay proportional to what actually changed
    val adds = newFiles.filterNot(f => baseByPath.get(f.path).contains(f))
    val removes = baseFiles.collect { case f if !newPaths.contains(f.path) => f.path }
    val content =
      if (full) ManifestJson.render(version, baseManifest.version, op, "full",
        newFiles, Seq.empty, schema = newSchema, schemas = extraSchemas, txn = txn,
        props = extraProps)
      else ManifestJson.render(version, baseManifest.version, op, "delta",
        adds, removes, schema = newSchema, schemas = extraSchemas, txn = txn,
        props = extraProps)
    val ckpt =
      if (full || version % checkpointInterval == 0) {
        val liveDirs = newFiles.map(f => dirOf(f.path)).toSet
        val schemas = (baseManifest.schemas ++ extraSchemas)
          .view.filterKeys(liveDirs).toMap ++
          newSchema.flatMap(s => adds.headOption.map(a => dirOf(a.path) -> s))
        val ledger = txn.fold(baseManifest.txns) { case (app, ver) =>
          baseManifest.txns + (app ->
            math.max(ver, baseManifest.txns.getOrElse(app, Long.MinValue)))
        }
        Some(ManifestJson.render(version, version, "checkpoint", "checkpoint",
          newFiles, Seq.empty, schemas = schemas, txns = ledger,
          props = baseManifest.props ++ extraProps))
      } else None
    StagedCommit(version, content, ckpt)
  }

  /** Publish a staged commit: the manifest through put-if-absent (the
    * atomic birth of the version), then the checkpoint as a derivable
    * artifact — put-if-absent and IGNORE a loss (racing writers of the
    * same checkpoint render equivalent content; entries/stats/ledger
    * are deterministically ordered and only the unused header ts can
    * differ), a missing checkpoint only costs replay depth, never
    * correctness. */
  private[ext] def publishStaged(
      store: LogStore, root: Path, staged: StagedCommit): Long = {
    if (!store.writeIfAbsent(manifestPath(root, staged.version), staged.manifest))
      throw new CommitConflictException(
        s"version ${staged.version} already published at " +
          s"${manifestPath(root, staged.version)} — " +
          "concurrent writer won; re-read the table and retry the merge " +
          "against the new base")
    staged.checkpoint.foreach(c =>
      store.writeIfAbsent(checkpointPath(root, staged.version), c))
    staged.version
  }

  /** Publish version `base + 1`: a change-sized DELTA manifest (adds =
    * fresh paths, removes = base paths absent from the new state) or a
    * "full" manifest for replace commits; plus a checkpoint when the
    * version hits the [[checkpointInterval]] cadence or the commit is
    * full. Refuses (and throws [[CommitConflictException]]) if that
    * manifest already exists — the competing writer won; this writer's
    * data files are orphans for [[vacuum]]. */
  private def commit(
      store: LogStore, root: Path, baseManifest: Manifest,
      newFiles: Seq[FileEntry], newSchema: Option[String],
      op: String, full: Boolean,
      extraSchemas: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None,
      extraProps: Map[String, String] = Map.empty): Long =
    publishStaged(store, root, stageCommit(baseManifest, newFiles, newSchema,
      op, full, extraSchemas, txn, extraProps))

  /** RESTORE: publish a new version CONTENT-IDENTICAL to an earlier
    * one by carrying that version's file list BY REFERENCE — zero data
    * copied or moved, one delta manifest (the bad-deploy rollback that
    * keeps the bad versions time-travelable for the postmortem until
    * [[vacuum]] retires them). The restored entries keep their stats,
    * blooms, sizes and dir schemas; conflict detection applies as to
    * any commit. Restoring to the current version is a no-op.
    * CHECK constraints are NOT re-validated here (nothing fresh is
    * written; a restore past an [[addCheckConstraint]] can resurrect
    * pre-constraint rows — the operator running a rollback owns that
    * call, same stance as Delta's RESTORE). */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val (store, root) = storeOf(spark, dir)
    // both versions come off ONE listing and one replay
    val listing = listLog(store, root)
    val base = listing._1.lastOption.getOrElse(uninitialized("restore", dir))
    if (toVersion == base) return base
    val ms = readSnapshots(store, root, listing, Seq(toVersion, base))
    // carry only the dirs the restored version actually references —
    // the replay-accumulated map may hold since-retired dirs
    val liveDirs = ms(toVersion).files.map(f => dirOf(f.path)).toSet
    commit(store, root, ms(base), ms(toVersion).files, newSchema = None,
      op = "restore", full = false,
      extraSchemas = ms(toVersion).schemas.view.filterKeys(liveDirs).toMap)
  }

  /** Table properties at the latest version (accumulated along the
    * log; see [[Manifest.props]]). */
  def tableProperties(spark: SparkSession, dir: String): Map[String, String] =
    openSnapshot(spark, dir, None).props

  /** Set a table property as a METADATA-ONLY commit: the delta
    * manifest carries no adds/removes, just the property — O(1) log
    * bytes, no data touched, normal conflict detection. */
  def setTableProperty(
      spark: SparkSession, dir: String, key: String, value: String): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "setTableProperty")
    commit(store, root, m, m.files, newSchema = None, op = "setprop",
      full = false, extraProps = Map(key -> value))
  }

  /** ADD CONSTRAINT `name` CHECK (`exprSql`): validates the EXISTING
    * table in one scan (the whole-table pass that grounds the
    * induction — after this, every commit validates only its own
    * fresh files), then publishes the constraint as a metadata-only
    * commit AGAINST THE VALIDATED VERSION, so a competing commit that
    * lands between scan and publish conflicts loudly instead of
    * slipping unvalidated rows under the new constraint. NULL
    * evaluations VIOLATE (a CHECK must hold definitively — write
    * `col IS NULL OR ...` to admit NULLs). */
  def addCheckConstraint(
      spark: SparkSession, dir: String, name: String, exprSql: String): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "addCheckConstraint")
    if (m.files.nonEmpty) {
      val bad = readFiles(spark, root, m.files, m.schemas)
        .where(!coalesce(expr(exprSql), lit(false))).count()
      if (bad > 0) throw new ConstraintViolationException(
        s"cannot add constraint '$name' CHECK ($exprSql): " +
          s"$bad existing rows violate it")
    }
    commit(store, root, m, m.files, newSchema = None, op = "addconstraint",
      full = false, extraProps = Map(s"constraint.$name" -> exprSql))
  }

  private def constraintsOf(props: Map[String, String]): Seq[(String, String)] =
    props.collect { case (k, v) if k.startsWith("constraint.") =>
      k.stripPrefix("constraint.") -> v }.toSeq.sortBy(_._1)

  /** Which per-file skipping metadata a commit's fresh files record
    * ([[gatherFileMeta]]): min/max, NDV sketch and NULL count for each
    * of `statsCols`, an optional (col, mBits, numHashes) Bloom filter,
    * and the NDV hash lane (`ndvMirrorable` = the md5 oracle lane, see
    * [[NdvLaneProp]]). A replace states it; every other commit
    * inherits it from its base ([[inheritedMeta]]). */
  private[ext] final case class FileMetaSpec(
      statsCols: Seq[String],
      bloom: Option[(String, Int, Int)] = None,
      ndvMirrorable: Boolean = false)

  /** Re-derive the skipping metadata the BASE manifest carried (range
    * stats columns, NDV sketches, the bloom column) for a commit's
    * FRESH files, so file skipping SURVIVES merges/DML/compaction
    * instead of decaying to conservative must-read on every rewritten
    * file (a long-lived table is mostly rewrites — without this,
    * skipping quality halves with every wave of DML). Columns absent
    * from the rewritten schema (an evolution that dropped them) are
    * skipped. The NDV hash lane follows the table property the base
    * commit recorded ([[NdvLaneProp]]): per-file register sketches
    * only compose when every file hashed the same way, so a rewrite
    * must never flip lanes. */
  private def inheritedMeta(
      base: Manifest, written: org.apache.spark.sql.types.StructType): FileMetaSpec = {
    val freshCols = written.fieldNames.toSeq
    FileMetaSpec(
      base.files.flatMap(_.stats.keys).distinct.filter(freshCols.contains),
      base.files.flatMap(_.bloom).map(b => (b.col, b.bits.length * 64, b.k))
        .distinct.headOption.filter { case (c, _, _) => freshCols.contains(c) },
      base.props.get(NdvLaneProp).contains("md5"))
  }

  /** The one write path of every commit that adds data files (replace,
    * merges, DML, compaction, [[PairTxn]] sides): writes `rows` into a
    * fresh `data/v<base+1>-<token>/` dir (`col=value` subdirs when
    * `partitionCol` is set), lists what the write produced, records
    * each file's metadata in ONE column-pruned pass over those files
    * only ([[gatherFileMeta]]: exact row count even with no stats
    * columns, so every commit keeps COUNT(*) metadata-only) and, in
    * that same pass, validates them against the table's CHECK
    * constraints. `meta` = None inherits the base's metadata spec
    * ([[inheritedMeta]]); a replace passes its own. Returns the commit
    * dir (a caller that finds nothing to publish deletes it) and the
    * fresh entries; nothing is published.
    *
    * Only the fresh files are validated: carried-forward files were
    * validated by the commit that wrote them, and
    * [[addCheckConstraint]]'s whole-table scan grounds that induction.
    * A violation throws [[ConstraintViolationException]] before
    * anything publishes, so the table stays untouched (the written dir
    * is a vacuum-able orphan, the crash shape the protocol already
    * absorbs). A constraint on a column the evolved schema dropped
    * fails analysis here — loud, by design.
    *
    * `checked = false` is for compaction alone (`compact`,
    * `purgeTombstoned`, `compactClustered`): it rewrites rows that
    * are already live, each validated by the commit that wrote it (or
    * by [[addCheckConstraint]]'s whole-table scan), and adds none, so
    * validating would re-prove what the log already guarantees — and
    * a [[restore]] past a constraint can make live rows that would
    * fail it. */
  private[ext] def writeCommitFiles(
      spark: SparkSession, root: Path, base: Manifest, rows: DataFrame,
      partitionCol: Option[String], meta: Option[FileMetaSpec] = None,
      checked: Boolean = true): (Path, Seq[FileEntry]) = {
    val commitDir = new Path(new Path(root, "data"),
      s"v${base.version + 1}-${java.util.UUID.randomUUID().toString.take(8)}")
    val writer = rows.write.mode("errorifexists")
    partitionCol.fold(writer)(writer.partitionBy(_)).parquet(commitDir.toString)
    val listed = listCommitFiles(
      root.getFileSystem(spark.sessionState.newHadoopConf()), root, commitDir, partitionCol)
    val fresh =
      if (listed.isEmpty) listed
      else gatherFileMeta(spark, root, commitDir, listed,
        meta.getOrElse(inheritedMeta(base, rows.schema)), rows.schema,
        if (checked) constraintsOf(base.props) else Seq.empty)
    (commitDir, fresh)
  }

  /** List the parquet files a commit's write produced, as entries
    * relative to the table root, with partition values parsed from the
    * `col=value` directory names when `partitionCol` is set. */
  private def listCommitFiles(
      fs: FileSystem, root: Path, commitDir: Path,
      partitionCol: Option[String]): Seq[FileEntry] = {
    val it = fs.listFiles(commitDir, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    val rootStr = root.toString + "/"
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toString
      if (st.isFile && p.endsWith(".parquet")) {
        val rel = p.stripPrefix(rootStr)
        val bucket = partitionCol.flatMap { c =>
          val re = (java.util.regex.Pattern.quote(c) + "=([^/]+)/").r
          re.findFirstMatchIn(rel + "/").map(_.group(1))
        }
        out += FileEntry(rel, bucket, bytes = st.getLen)
      }
    }
    out.toSeq
  }

  /** ALL per-file skipping metadata for the files just written in ONE
    * bounded scan of the commit's own data (column-pruned to the stats
    * + bloom columns; just the count when there are none), collected
    * as #files rows:
    *
    *   - exact row count — what makes COUNT(*) metadata-only forever
    *     after ([[metaCount]]);
    *   - min/max of each LONG stats column ([[readRanges]] pruning);
    *   - the 256-byte HyperLogLog register sketch of each stats column
    *     ([[HllRegs]]): sketches merge by element-wise max
    *     ([[Hll.mergeRegisters]]), so any file subset answers
    *     DISTINCT-count off the log alone ([[metaNdv]]);
    *   - optionally a per-file Bloom filter over `bloom`'s
    *     (col, mBits, numHashes) for [[readPoint]]: [[BloomPack]] ORs
    *     key positions straight into a fixed mBits/64-long buffer,
    *     partials combine map-side and merge by OR at the exchange —
    *     shuffle bytes equal manifest bytes, no explode blow-up, no
    *     position list, no UDF.
    *
    * The same pass counts each file's rows that fail one of `checks`
    * (name, CHECK expression; a NULL result fails) and throws
    * [[ConstraintViolationException]] when any does.
    *
    * Every aggregate is partial-mergeable with fixed-size state, so
    * the pass costs one map-side-combined exchange of #files ×
    * O(manifest-entry) bytes regardless of row count. A file whose
    * column is all-NULL records NO stats/bloom for it (the read side's
    * conservative must-read path) instead of NPE-ing the commit. The
    * files are read under `commitDir` as base path with the schema
    * the commit wrote (`written`), so a CHECK on the partition column
    * sees the values the `col=value` dir names carry, and no parquet
    * schema-inference job runs — one Spark job and a footer read per
    * commit. */
  private def gatherFileMeta(
      spark: SparkSession, root: Path, commitDir: Path, entries: Seq[FileEntry],
      meta: FileMetaSpec, written: org.apache.spark.sql.types.StructType,
      checks: Seq[(String, String)]): Seq[FileEntry] = {
    val FileMetaSpec(statsCols, bloom, ndvMirrorable) = meta
    bloom.foreach { case (_, mBits, _) =>
      // mirror Bloom.build's contract: a non-multiple-of-64 width would
      // allocate floor(mBits/64) longs while Bloom.positions yields
      // positions up to mBits-1 — an executor-side AIOOBE mid-commit
      require(mBits % 64 == 0 && mBits > 0,
        s"bloomBits must be a positive multiple of 64: $mBits")
    }
    val statAggs = statsCols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"_lo_$c"),
      max(col(c).cast("long")).as(s"_hi_$c"),
      HllRegs.agg(Hll.hash60(col(c), mirrorable = ndvMirrorable)).as(s"_hll_$c"),
      // non-NULL count AFTER the same cast the min/max lane applies, so
      // rows - valued = the exact NULL count [[topKCandidates]] must
      // subtract from a file's live-row contribution (min/max ignore
      // NULLs; the same rule makes an uncastable string a NULL here
      // and a NULL in the stats, never a disagreement between lanes)
      count(col(c).cast("long")).as(s"_nn_$c")))
    val bloomAgg = bloom.map { case (c, mBits, k) =>
      BloomPack.agg(col(c).cast("string"), mBits, k).as("_bloom") }.toSeq
    val checkAggs = checks.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(false)), 1L).otherwise(0L)).as(s"_ck_$n") }
    val aggs = count(lit(1)).as("_rc") +: (statAggs ++ bloomAgg ++ checkAggs)
    val bloomIdx = 2 + 4 * statsCols.size
    val checkIdx = bloomIdx + bloomAgg.size
    // a parquet read-back reports every field nullable
    val perFile = spark.read.option("basePath", commitDir.toString)
      .schema(org.apache.spark.sql.types.StructType(written.map(_.copy(nullable = true))))
      .parquet(entries.map(f => new Path(root, f.path).toString): _*)
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val violated = checks.zipWithIndex.flatMap { case ((n, e), i) =>
      val bad = perFile.map(_.getLong(checkIdx + i)).sum
      Option.when(bad > 0)(s"'$n' CHECK ($e): $bad rows")
    }
    if (violated.nonEmpty) throw new ConstraintViolationException(
      s"commit rejected, constraint violations in fresh data — " +
        violated.mkString("; "))
    val byFile = perFile
      .map { r =>
        val m = statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(2 + 4 * i) || r.isNullAt(3 + 4 * i)) None
          else Some(c -> (r.getLong(2 + 4 * i), r.getLong(3 + 4 * i)))
        }.toMap
        val hll = statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(4 + 4 * i)) None
          else Some(c -> java.util.Base64.getEncoder.encodeToString(
            r.getAs[Array[Byte]](4 + 4 * i)))
        }.toMap
        val nn = statsCols.zipWithIndex.map { case (c, i) =>
          c -> (r.getLong(1) - r.getLong(5 + 4 * i))
        }.toMap
        val b64 = bloom.flatMap(_ =>
          if (r.isNullAt(bloomIdx)) None else Some(r.getString(bloomIdx)))
        r.getString(0) -> (r.getLong(1), m, hll, nn, b64)
      }.toMap
    entries.map { f =>
      val abs = new Path(root, f.path).toString
      // input_file_name renders a URI; match on suffix to be
      // scheme-normalization-proof
      byFile.collectFirst { case (k, v) if k.endsWith(f.path) || k == abs => v }
        .fold(f) { case (rc, m, hll, nn, b64) =>
          val withBloom = (bloom, b64) match {
            case (Some((c, _, k)), Some(bits)) =>
              f.copy(bloom = Some(FileBloom(c, k, bits)))
            case _ => f
          }
          withBloom.copy(stats = m, rows = rc, hll = hll, nulls = nn)
        }
    }
  }

  /** Estimated distinct count (NDV) of all sketch-carrying columns at
    * a version, merged across the manifest's per-file [[HllRegs]]
    * register sketches — the log-only answer a cost-based join-order /
    * selectivity decision needs. A column qualifies only when EVERY
    * live file carries its sketch (a partial merge would silently
    * under-count); ~6.5 % standard error (m = 256), and an
    * over-estimate on DV-tombstoned rows (deletes shrink the value
    * set — documented, same conservativeness as range stats). */
  private def manifestNdv(m: Manifest): Seq[(String, Double)] = {
    if (m.files.isEmpty) return Seq.empty
    m.files.head.hll.keys.toSeq.sorted
      .filter(c => m.files.forall(_.hll.contains(c)))
      .map { c =>
        val merged = m.files.map(f =>
            java.util.Base64.getDecoder.decode(f.hll(c)))
          .reduce(Hll.mergeRegisters)
        c -> Hll.estimateFromRegisters(merged)
      }
  }

  /** Log-only NDV estimate for one column (see [[manifestNdv]] for the
    * semantics); None when any live file lacks the sketch. */
  def metaNdv(
      spark: SparkSession, dir: String, column: String,
      versionAsOf: Option[Long] = None): Option[Double] = {
    manifestNdv(openSnapshot(spark, dir, versionAsOf)).collectFirst {
      case (c, est) if c == column => est
    }
  }

  /** DESCRIBE DETAIL: one row summarizing a version straight off the
    * manifest — no file system access beyond the log (sizes ride the
    * manifest; `ndv` renders [[metaNdv]]'s merged-sketch estimates as
    * `col=rounded` pairs for every column all live files sketch). */
  def detail(
      spark: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val m = openSnapshot(spark, dir, versionAsOf)
    Seq((m.version, m.files.size.toLong,
      m.files.flatMap(_.bucket).distinct.size.toLong,
      m.files.map(_.bytes).sum,
      if (m.files.forall(_.rows >= 0L))
        m.files.map(f => f.rows - f.dvs.map(_.rows).sum).sum
      else -1L,
      m.files.flatMap(_.stats.keys).distinct.sorted.mkString(","),
      m.files.flatMap(_.bloom.map(_.col)).distinct.sorted.mkString(","),
      m.schemas.size.toLong,
      m.files.count(_.dvs.nonEmpty).toLong,
      m.files.flatMap(_.dvs).map(_.rows).sum,
      manifestNdv(m).map { case (c, est) => s"$c=${math.round(est)}" }
        .mkString(",")))
      .toDF("version", "n_files", "n_partitions", "total_bytes", "total_rows",
        "stats_cols", "bloom_cols", "n_commit_dirs", "n_dv_files",
        "total_dv_rows", "ndv")
  }

  /** COUNT(*) answered from the MANIFEST ALONE — zero data files
    * opened: every commit records each fresh file's exact row count
    * and carried entries keep theirs, so the sum is exact at any
    * version. At 100 TB this is the difference between a log read and
    * a table scan. Fails loud if any live entry predates row-count
    * recording (no silent fallback to a scan the caller didn't ask
    * for). */
  def metaCount(
      spark: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): Long = {
    metaCountOf(openSnapshot(spark, dir, versionAsOf))
  }

  private def metaCountOf(m: Manifest): Long = {
    m.files.find(_.rows < 0L).foreach(f => sys.error(
      s"metaCount: ${f.path} carries no row count (pre-upgrade manifest) — " +
        "rewrite it (compact/merge) to upgrade, or aggregate the data"))
    // deletion vectors subtract exactly: per-file tombstone counts are
    // recorded at DV-commit time and disjoint across stacked refs
    m.files.map(f => f.rows - f.dvs.map(_.rows).sum).sum
  }

  /** [[metaCount]] + [[metaRange]] from ONE manifest read (r20): a
    * caller asking both questions of the same version — the
    * metadata-aggregate report shape — paid one full log replay PER
    * question; the answers come off the same [[Manifest]], so batch
    * them. Same semantics and the same loud failures as the
    * single-question faces. */
  def metaSummary(
      spark: SparkSession, dir: String, column: String,
      versionAsOf: Option[Long] = None): (Long, Option[(Long, Long)]) = {
    val m = openSnapshot(spark, dir, versionAsOf)
    (metaCountOf(m), metaRangeOf(m, column))
  }

  /** MIN/MAX of a manifest-stats column answered from the log alone —
    * min of file minima / max of file maxima, exact because the
    * per-file stats are exact (computed on the commit's own data, not
    * sampled). `None` on an empty version. Fails loud if any live
    * file lacks stats for `column` (its true extremum could hide
    * there). */
  def metaRange(
      spark: SparkSession, dir: String, column: String,
      versionAsOf: Option[Long] = None): Option[(Long, Long)] = {
    metaRangeOf(openSnapshot(spark, dir, versionAsOf), column)
  }

  private def metaRangeOf(
      m: Manifest, column: String): Option[(Long, Long)] = {
    if (m.files.isEmpty) return None
    // fail loud under deletion vectors: a file's extremum row may be
    // tombstoned, making the manifest min/max an over-approximation —
    // "exact" is this method's contract, so refuse rather than drift
    m.files.find(_.dvs.nonEmpty).foreach(f => sys.error(
      s"metaRange: ${f.path} carries deletion vectors — per-file stats " +
        "are only upper bounds under merge-on-read deletes; compact " +
        "first, or aggregate the data"))
    val ranges = m.files.map { f =>
      f.stats.getOrElse(column, sys.error(
        s"metaRange: ${f.path} has no '$column' stats — commit with " +
          s"statsCols including '$column' (or rewrite to propagate them)"))
    }
    Some((ranges.map(_._1).min, ranges.map(_._2).max))
  }

  /** Exact NULL count of `column` at a version, answered from the log
    * alone — the meta* family member the r18 per-file null counts
    * complete ([[metaCount]] rows, [[metaNdv]] distincts, [[metaRange]]
    * extrema, this one unvalued rows: the data-quality number a
    * 100 TB ingest monitors per snapshot, for free). Per-file counts
    * add exactly. Same loud contracts as [[metaRange]]: every live
    * file must carry the count (commit with statsCols including
    * `column`, or rewrite to propagate), and deletion vectors refuse —
    * a tombstone's nullness is not recorded, so the log cannot adjust
    * the sum; an approximation from an exact-sounding API is the
    * silent-degradation class this repo refuses. NULL-ness is in the
    * stats pass's cast domain (cast(long)), matching [[readNullness]].
    */
  def metaNullCount(
      spark: SparkSession, dir: String, column: String,
      versionAsOf: Option[Long] = None): Long = {
    val m = openSnapshot(spark, dir, versionAsOf)
    m.files.find(_.dvs.nonEmpty).foreach(f => sys.error(
      s"metaNullCount: ${f.path} carries deletion vectors — recorded " +
        "null counts predate the tombstones; compact first, or " +
        "aggregate the data"))
    m.files.map { f =>
      f.nulls.getOrElse(column, sys.error(
        s"metaNullCount: ${f.path} has no '$column' null count — commit " +
          s"with statsCols including '$column' (or rewrite to propagate)"))
    }.sum
  }

  /** Table property recording which 60-bit hash lane the per-file NDV
    * sketches use ("xx" = xxhash64 production default, "md5" = the
    * SQL-mirrorable oracle lane). Set by every [[commitReplace]] and
    * honored by every rewrite ([[inheritedMeta]]): registers only
    * compose across files hashed the same way. */
  val NdvLaneProp = "graft.ndv.lane"

  /** Publish `df` as the COMPLETE next version (full replace; also the
    * init path for version 1). Partitioned layout when `partitionCol`
    * is set — required later for [[mergeChangeSet]]'s pruning.
    * `statsCols` records per-file min/max of long columns in the
    * manifest for [[readRanges]] file skipping — pair it with a
    * range-clustered `df` (repartitionByRange + sortWithinPartitions,
    * or [[Layout.zOrderBy]] for two dimensions) so file ranges are
    * tight and skipping actually bites. `bloomCol` additionally
    * records a per-file Bloom filter for [[readPoint]] lookups on a
    * column the layout does NOT cluster (where min/max spans
    * everything and range stats are useless). `bloomBits` trades
    * manifest bytes (mBits/8 per file, base64-inflated ×4/3) against
    * the false-positive rate — size it ~10× the expected distinct
    * keys per file for ~1 % FPP; a production deployment would
    * side-car filters past a few KB instead of inlining them. */
  def commitReplace(
      spark: SparkSession, dir: String, df: DataFrame,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCol: Option[String] = None,
      bloomBits: Int = 1 << 16,
      txn: Option[(String, Long)] = None,
      ndvMirrorable: Boolean = false): Long = {
    val (store, root) = storeOf(spark, dir)
    // the REAL base manifest (when one exists), not an empty stand-in:
    // a full commit wipes the file state but the idempotent-writer txn
    // ledger must ride through into this commit's checkpoint
    val baseManifest = snapshot(spark, dir).getOrElse(Manifest(0L, Seq.empty))
    // idempotent-writer gate (see mergeChangeSet): a replayed refresh
    // of a materialized view must not stack a second application —
    // checked BEFORE any data is written, so the replay costs one log
    // replay, not a wasted commit dir
    if (baseManifest.applied(txn)) return baseManifest.version
    val (_, entries) = writeCommitFiles(spark, root, baseManifest, df, partitionCol,
      Some(FileMetaSpec(statsCols, bloomCol.map(c => (c, bloomBits, 4)), ndvMirrorable)))
    // the lane prop is (re)stated on every full replace — a full
    // commit DEFINES the file population, so its lane overrides any
    // earlier one and rewrites propagate it consistently
    commit(store, root, baseManifest, entries,
      Some(df.schema.json), "replace", full = true, txn = txn,
      extraProps = Map(NdvLaneProp -> (if (ndvMirrorable) "md5" else "xx")))
  }

  /** Bloom-pruned POINT lookup: read only files whose Bloom filter
    * might contain AT LEAST ONE of `values` (canonical string
    * rendering — the build side hashed the same cast), plus,
    * conservatively, files without a bloom for the column; then apply
    * the exact IN filter. The complement of [[readRanges]]: range
    * stats prune the CLUSTERED dimension, the bloom prunes point
    * probes on unclustered ones — at 100 TB a needle lookup opens a
    * handful of files instead of scanning the table. */
  def readPoint(
      spark: SparkSession, dir: String, pointCol: String, values: Seq[String],
      versionAsOf: Option[Long] = None): DataFrame = {
    require(values.nonEmpty, "readPoint needs at least one value")
    val probes = values.map(org.apache.spark.unsafe.types.UTF8String.fromString)
    // the skipping families COMPOSE: a file is read only if the bloom
    // AND the range stats (when the probes parse as longs) both admit
    // at least one probed value
    val longProbes = values.flatMap(v0 => scala.util.Try(v0.toLong).toOption)
    val allLong = longProbes.size == values.size
    readSlice(spark, dir, versionAsOf)(_.files.filter { f =>
      val bloomAdmits = f.bloom match {
        case Some(bl) if bl.col == pointCol =>
          probes.exists(p => Bloom.mightContain(p, bl.bits, bl.k))
        case _ => true // no bloom for this column -> must read
      }
      val statsAdmit = f.stats.get(pointCol) match {
        case Some((lo, hi)) if allLong => longProbes.exists(p => p >= lo && p <= hi)
        case _ => true
      }
      bloomAdmits && statsAdmit
    }).where(col(pointCol).cast("string").isin(values: _*))
  }

  /** Manifest-stats file skipping over ONE long column — see
    * [[readRanges]]. */
  def readRange(
      spark: SparkSession, dir: String, statsCol: String, lo: Long, hi: Long,
      versionAsOf: Option[Long] = None): DataFrame =
    readRanges(spark, dir, Seq((statsCol, lo, hi)), versionAsOf)

  /** Manifest-stats file skipping over MULTIPLE columns: read only
    * files whose recorded [min, max] OVERLAPS [lo, hi] for EVERY
    * queried column — plus, conservatively, files without stats for a
    * column — then apply the exact row filters. With a Z-ordered
    * layout ([[Layout.zOrderBy]]) both dimensions' per-file ranges are
    * tight, so a 2-D box prunes on the manifest alone, before any
    * footer is opened — the 100 TB scan reducer for multi-predicate
    * range queries on the clustering keys. */
  def readRanges(
      spark: SparkSession, dir: String, ranges: Seq[(String, Long, Long)],
      versionAsOf: Option[Long] = None): DataFrame = {
    require(ranges.nonEmpty, "readRanges needs at least one (col, lo, hi)")
    readSlice(spark, dir, versionAsOf)(_.files.filter { f =>
      ranges.forall { case (c, lo, hi) =>
        f.stats.get(c) match {
          case Some((fLo, fHi)) => fLo <= hi && fHi >= lo
          case None => true // no stats for this column -> must read
        }
      }
    }).where(ranges.map { case (c, lo, hi) =>
      col(c).cast("long").between(lo, hi)
    }.reduce(_ && _))
  }

  /** NULL-ness predicate file skipping from the manifest alone — the
    * second consumer of the per-file null counts ([[readTopK]]'s walk
    * is the first): `wantNull = true` (the `IS NULL` face — audit
    * queries hunting rows that never got a value) skips every file
    * whose recorded null count is ZERO; `wantNull = false` (`IS NOT
    * NULL`) skips every file recorded ALL-NULL (nulls == rows; on a
    * layout that clusters the null rows — e.g. a partition column
    * derived from nullness, or ingest streams that segregate
    * incomplete records — that is the whole unvalued mass of a 100 TB
    * table skipped before any footer I/O). Valid under deletion
    * vectors in BOTH directions: tombstones only remove rows — a file
    * with no null rows cannot grow one, and an all-null file's
    * survivors are still null. Conservative: a file without a
    * recorded null count (pre-upgrade manifests), or without a row
    * count on the all-null face, is always read. NULL-ness is in the
    * CAST domain the stats pass records (`cast(long)` — an uncastable
    * string IS a recorded null), and the exact filter applies on top
    * in the same domain, so pruning and filter can never disagree. */
  def readNullness(
      spark: SparkSession, dir: String, statsCol: String, wantNull: Boolean,
      versionAsOf: Option[Long] = None): DataFrame = {
    val c = col(statsCol).cast("long")
    readSlice(spark, dir, versionAsOf)(_.files.filter { f =>
      f.nulls.get(statsCol) match {
        case None => true // unrecorded -> must read
        case Some(nn) =>
          if (wantNull) nn > 0L
          else f.rows < 0L || nn < f.rows
      }
    }).where(if (wantNull) c.isNull else c.isNotNull)
  }

  /** The file set that can contain a top-`k`-by-`statsCol` row,
    * decided from the manifest alone (the pruning kernel of
    * [[readTopK]]). Bound derivation (descending face; the ascending
    * face mirrors every comparison): walk stats-carrying files in
    * descending file-max order, accumulating live VALUED row counts
    * (rows minus recorded DV tombstones minus the file's recorded
    * NULL count for `statsCol` — min/max ignore NULLs, so only rows
    * that carry a value may vouch for the bound) until ≥ k — those
    * files alone hold ≥ k live values, each ≥ its own file min, so
    * the k-th largest value overall is ≥ the MINIMUM of the walked
    * files' mins. Any file whose max is strictly below that bound
    * holds only values strictly smaller than the k-th largest and can
    * never contribute (its NULL rows can't either: ≥ k values exist,
    * and NULLs order after every value under the read's
    * nulls-last sort). Conservative everywhere: a file without stats,
    * row counts, OR a recorded null count (pre-upgrade manifests) is
    * always read AND never contributes to the walk — ignorance reads,
    * it never prunes; fewer than k known live valued rows ⇒ read
    * everything. Valid under deletion vectors: tombstones shrink the
    * walked counts by their full size even when they deleted NULL
    * rows (the subtraction can only UNDER-count a file's valued rows,
    * walking further and weakening the bound — never past it). */
  private[graft] def topKCandidates(
      m: Manifest, statsCol: String, k: Int,
      desc: Boolean = true): Seq[FileEntry] = {
    val known = m.files.filter(f =>
      f.stats.contains(statsCol) && f.rows >= 0L && f.nulls.contains(statsCol))
    val ordered =
      if (desc) known.sortBy(f => -f.stats(statsCol)._2)
      else known.sortBy(f => f.stats(statsCol)._1)
    var cum = 0L
    val walked = ordered.takeWhile { f =>
      val need = cum < k
      cum += math.max(0L,
        f.rows - f.dvs.map(_.rows).sum - f.nulls(statsCol))
      need
    }
    if (cum < k) m.files
    else if (desc) {
      val bound = walked.map(_.stats(statsCol)._1).min
      m.files.filter(f => f.stats.get(statsCol).forall(_._2 >= bound))
    } else {
      val bound = walked.map(_.stats(statsCol)._2).max
      m.files.filter(f => f.stats.get(statsCol).forall(_._1 <= bound))
    }
  }

  /** Top-k rows by a manifest-stats column with FILE PRUNING decided
    * from the log alone — the third plan consumer of commit-time
    * statistics (after [[joinOnKey]]'s build-side election and
    * [[aggOnKey]]'s partial-aggregation election): on a
    * range-clustered layout ([[Layout.zOrderBy]] /
    * repartitionByRange + sortWithinPartitions — the same layouts
    * that make [[readRanges]] bite) a "latest / largest k" query
    * opens the one or two files that can hold the answer and skips
    * the rest of a 100 TB table before any footer I/O. The scan that
    * remains is the ordinary TakeOrderedAndProject (per-file top-k,
    * merged at the driver — never a global sort). `desc = false`
    * mirrors the walk for the SMALLEST k ("oldest k" is as common a
    * maintenance query as "latest k"): files walk in ascending
    * file-min order, the bound is the max of the walked maxes, and a
    * file whose min exceeds it is skipped.
    *
    * NULL contract is ENFORCED BY THE WALK, not by operator
    * discipline: commit-time stats record each file's per-column NULL
    * count and [[topKCandidates]] subtracts it, so a NULL-holding
    * file vouches only for its valued rows and the bound stays valid
    * on nullable columns. Ordering pins NULLS LAST in BOTH
    * directions (matching ANSI `ORDER BY ... DESC` defaults and
    * making asc/desc faces agree that values beat NULLs) — a NULL
    * row can reach the result only when the table holds fewer than k
    * values, which is exactly the read-everything branch of the walk.
    * `tieBreak` makes the k-th-place cut deterministic (the q43
    * lesson: a plateau without a total order hands the cut to
    * noise). */
  def readTopK(
      spark: SparkSession, dir: String, statsCol: String, k: Int,
      tieBreak: String, versionAsOf: Option[Long] = None,
      desc: Boolean = true): DataFrame = {
    require(k > 0, s"top-k needs k > 0: $k")
    val key = if (desc) col(statsCol).cast("long").desc_nulls_last
              else col(statsCol).cast("long").asc_nulls_last
    readSlice(spark, dir, versionAsOf)(topKCandidates(_, statsCol, k, desc))
      .orderBy(key, col(tieBreak))
      .limit(k)
  }

  /** Broadcast election for [[joinOnKey]]'s KEY-ONLY build side,
    * answered from the MANIFEST ALONE (no data file opened, no Spark
    * job — the r15 "NDV recorded but consumed by nothing" gap): true
    * iff EVERY live file sketches `key` and the merged-register NDV
    * estimate fits `maxKeys`. Conservative in both failure directions:
    * a missing sketch elects the shuffle plan (never an unsized
    * broadcast), and deletion vectors only SHRINK the true key set
    * below the sketch estimate (registers are never decremented), so a
    * DV-heavy table can at worst shuffle when it could have broadcast
    * — never broadcast a side bigger than estimated. */
  private[graft] def electBroadcastKeys(
      m: Manifest, key: String, maxKeys: Long): Boolean =
    manifestNdv(m).exists { case (c, est) => c == key && est <= maxKeys }

  /** Broadcast election for a FULL-ROW build side, answered from the
    * manifest alone — rows, bytes AND the log-carried schema combined
    * (r16 shipped a flat `bytes × 4` decode-expansion guess; columnar
    * encodings make that headroom meaningless in both directions: a
    * delta-encoded narrow table decodes 20× its parquet bytes and a
    * stored-near-raw blob barely 1×). The in-memory hash relation
    * costs, per row, its UnsafeRow STRUCTURE — one 8-byte slot per
    * field plus the null bitset words — plus ~32 B of hash-map entry
    * bookkeeping; that part is exact from (rows, schema), no
    * compression guess at all. Only the VARIABLE-WIDTH payload
    * (strings/binaries/nested) still needs a decode-expansion factor
    * over the recorded compressed bytes (4×, the old headroom, now
    * scoped to the var region only) — a table of fixed-width columns
    * elects on a fully principled size. Conservative refusals, never
    * a guess: unrecorded bytes or rows (pre-upgrade manifests) or a
    * live dir without a log-carried schema elect the shuffle plan;
    * DV'd rows stay counted (deletes only shrink the true build
    * side). */
  private[graft] def electBroadcastRows(m: Manifest, maxBytes: Long): Boolean = {
    if (m.files.isEmpty) return true
    val recorded = m.files.forall(f => f.bytes > 0L && f.rows >= 0L)
    val liveDirs = m.files.map(f => dirOf(f.path)).distinct
    if (!recorded || !liveDirs.forall(m.schemas.contains)) return false
    def isVarWidth(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.BooleanType |
           _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.FloatType |
           _: org.apache.spark.sql.types.DoubleType |
           _: org.apache.spark.sql.types.DateType |
           _: org.apache.spark.sql.types.TimestampType |
           _: org.apache.spark.sql.types.TimestampNTZType |
           _: org.apache.spark.sql.types.DayTimeIntervalType |
           _: org.apache.spark.sql.types.YearMonthIntervalType => false
      case d: org.apache.spark.sql.types.DecimalType => d.precision > 18
      case _ => true // string/binary/array/map/struct/wide decimal
    }
    val perSchema = liveDirs.map { d =>
      val st = org.apache.spark.sql.types.DataType.fromJson(m.schemas(d))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val structural = 8L * ((st.size + 63) / 64) + 8L * st.size
      (structural, st.fields.exists(f => isVarWidth(f.dataType)))
    }
    val rows = m.files.map(_.rows).sum
    val hashEntryOverhead = 32L
    val structuralBytes =
      rows * (perSchema.map(_._1).max + hashEntryOverhead)
    val varPayload =
      if (perSchema.exists(_._2)) m.files.map(_.bytes).sum * 4 else 0L
    structuralBytes + varPayload <= maxBytes
  }

  /** Join `left` against this table's snapshot with the BUILD-SIDE
    * STRATEGY elected from manifest statistics alone — the consumer of
    * the commit-time sketch pass ([[gatherFileMeta]]): at 100 TB the
    * difference between a broadcast and a shuffle of the fact side is
    * the whole query, and this decision costs one log read, zero data
    * files, zero Spark jobs.
    *
    *   - `leftsemi` / `leftanti`: the build side reduces to the
    *     table's DISTINCT keys, so its size is NDV × key-width — the
    *     number the manifest's merged HLL registers estimate
    *     ([[metaNdv]]). Estimate ≤ `maxBroadcastKeys` ⇒ broadcast the
    *     distinct-key frame (the IN-set plan: one map-side-combined
    *     distinct, then a broadcast probe with zero fact shuffle);
    *     otherwise a shuffled semi join. The distinct pre-aggregation
    *     rides either plan — its exchange output is already hash-
    *     partitioned on the key, which the shuffled join then reuses.
    *   - any other join type carries FULL rows, so the election keys
    *     on recorded file bytes ([[electBroadcastRows]]).
    *
    * Correctness is decision-independent: the key frame always reads
    * through the DV-filtered snapshot ([[read]]), so tombstoned rows
    * never contribute keys even while the sketch still counts them
    * (stale-but-conservative — see [[electBroadcastKeys]]). */
  def joinOnKey(
      spark: SparkSession, dir: String, left: DataFrame, leftKey: String,
      txKey: String, joinType: String = "leftsemi",
      versionAsOf: Option[Long] = None,
      maxBroadcastKeys: Long = 1L << 20,
      maxBroadcastBytes: Long = 32L << 20): DataFrame = {
    val m = openSnapshot(spark, dir, versionAsOf)
    val snapshot = frameOf(spark, dir, m)
    val keyOnly = joinType == "leftsemi" || joinType == "leftanti"
    // reserved name: left-side columns survive a semi/anti join, so the
    // probe key must not collide with any left column. Collision is
    // checked the way Spark RESOLVES names — case-insensitively unless
    // spark.sql.caseSensitive — or a left column named 'UID' would slip
    // past a sensitive compare and still hit the ambiguous-reference
    // failure downstream (r16 ADVICE)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def collides(name: String): Boolean = left.columns.exists(c =>
      if (caseSensitive) c == name else c.equalsIgnoreCase(name))
    val probeKey = "__graft_join_key"
    require(!collides(probeKey),
      s"left frame carries the reserved join column '$probeKey'")
    // a row-carrying join renames the probe back to txKey afterwards:
    // a left frame ALREADY holding a txKey-named column would end up
    // with two identical names and fail only on first reference —
    // refuse upfront (the silent-degradation class this repo bans)
    require(keyOnly || !collides(txKey),
      s"left frame already carries a column named '$txKey'; rename it " +
        s"(or the table key) before a row-carrying $joinType join")
    val side =
      if (keyOnly) snapshot.select(col(txKey).as(probeKey)).distinct()
      else snapshot.withColumnRenamed(txKey, probeKey)
    val elected =
      if (keyOnly) electBroadcastKeys(m, txKey, maxBroadcastKeys)
      else electBroadcastRows(m, maxBroadcastBytes)
    val built = if (elected) broadcast(side) else side
    val joined = left.join(built, col(leftKey) === col(probeKey), joinType)
    if (keyOnly) joined else joined.withColumnRenamed(probeKey, txKey)
  }

  /** Partial-aggregation election for a groupBy on `key`, answered
    * from the manifest alone — the SECOND consumer of the commit-time
    * NDV sketches (r16's [[joinOnKey]] was the first): true iff the
    * merged-sketch estimate says the key is NEAR-UNIQUE (NDV ≥
    * `highNdvRatio` × recorded rows), i.e. map-side partial
    * aggregation would emit ~one row per input row — pure hash-table
    * churn and spill exposure bought for no shuffle reduction.
    * Conservative: a missing sketch or unrecorded row counts keep the
    * default partial-heavy plan (never a surprise raw-row shuffle).
    * Rows are the RAW recorded counts, not DV-adjusted — tombstones
    * shrink both the true row count and the true key set, so neither
    * ratio direction is knowable from the log; a heavily-DV'd table
    * should compact before its plan statistics are trusted, same
    * caveat as [[metaRange]]. */
  private[graft] def electSkipPartial(
      m: Manifest, key: String, highNdvRatio: Double): Boolean = {
    if (m.files.isEmpty || !m.files.forall(_.rows >= 0L)) return false
    val rows = m.files.map(_.rows).sum
    rows > 0L && manifestNdv(m).exists { case (c, est) =>
      c == key && est >= highNdvRatio * rows
    }
  }

  /** Post-shuffle WIDTH election for [[aggOnKey]]'s final aggregate,
    * answered from the manifest alone — the FOURTH plan consumer of
    * commit-time statistics (after [[joinOnKey]]'s build side,
    * [[electSkipPartial]]'s aggregation strategy and [[readTopK]]'s
    * file set): a groupBy can never emit more rows than the key's
    * NDV, so when the sketch estimate is BELOW the session's shuffle
    * width, `defaultParts − round(NDV)` of the reduce tasks are
    * provably empty — pure scheduler overhead, the tail cost AQE's runtime
    * coalescing exists to claw back, decided here STATICALLY from the
    * log with zero runtime statistics. Applied as `coalesce(w)` above
    * the aggregate: the final-aggregate stage then LAUNCHES w tasks
    * (each draining several map-output partitions in place — no extra
    * exchange, map-side combine untouched), and downstream operators
    * inherit w sensible partitions instead of a mostly-empty default.
    * Conservative: a missing sketch, unrecorded rows, or an estimate
    * at/above the default elect None — the default width, never a
    * narrowed guess. The 6.5 % sketch error can under-size w by a
    * task or two (a group lands beside a neighbor — correctness
    * unaffected); a single HOT group dominates its task at any width,
    * the same skew caveat as every hash aggregate. */
  private[graft] def electAggWidth(
      m: Manifest, key: String, defaultParts: Int): Option[Int] = {
    if (m.files.isEmpty || !m.files.forall(_.rows >= 0L)) return None
    // ROUND the estimate, don't ceil: linear counting reads 3 distinct
    // as ~3.02, and a sizing decision tolerates a group landing beside
    // a neighbor (see the error caveat above) — a width of NDV+1 for
    // every small key would just keep one provably-empty task around
    manifestNdv(m).collectFirst {
      case (c, est) if c == key && math.rint(est) < defaultParts.toDouble =>
        math.max(1, math.rint(est).toInt)
    }
  }

  /** GroupBy-aggregate over this table's snapshot with the PARTIAL-
    * AGGREGATION strategy elected from manifest statistics alone
    * ([[electSkipPartial]]); same decision discipline as [[joinOnKey]]
    * — one log read, zero data files, zero Spark jobs spent deciding.
    *
    *   - key near-unique (sketch estimate ≥ `highNdvRatio` of rows):
    *     pre-partition the RAW rows on the key and aggregate after the
    *     exchange — the map-side combine is skipped where it could
    *     only have rewritten every input row into a doomed hash table
    *     (the classic high-cardinality aggregation pathology: partial
    *     output ≈ partial input, paid for with build + spill).
    *   - otherwise (or no sketch — conservative): the default plan,
    *     whose map-side partial collapses each task's rows to ~NDV
    *     before the wire — at 100 TB the shuffle shrinks by orders of
    *     magnitude, which is why it stays the default.
    *
    * Result rows are identical either way — the election moves the
    * exchange, not the semantics. */
  def aggOnKey(
      spark: SparkSession, dir: String, key: String,
      aggs: Seq[org.apache.spark.sql.Column],
      versionAsOf: Option[Long] = None,
      highNdvRatio: Double = 0.8): DataFrame = {
    require(aggs.nonEmpty, "aggOnKey needs at least one aggregate")
    val m = openSnapshot(spark, dir, versionAsOf)
    val snapshot = frameOf(spark, dir, m)
    val shaped =
      if (electSkipPartial(m, key, highNdvRatio)) snapshot.repartition(col(key))
      else snapshot
    val agged = shaped.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    // fourth stats consumer: fold provably-empty reduce tasks away
    // when the log already knows the group count ([[electAggWidth]])
    electAggWidth(m, key,
      spark.sessionState.conf.numShufflePartitions).fold(agged)(agged.coalesce)
  }

  /** Reserved physical-row-identity columns projected by
    * `withRowId` reads: the ROOT-RELATIVE file path (exactly the
    * manifest's `FileEntry.path`, e.g. `data/v3-ab12cd34/pbucket=6/
    * part-….parquet`) and the in-file row position from the scan's
    * metadata columns. This (path, pos) pair is the deletion-vector
    * coordinate system: positions are stable because merge-on-read
    * never rewrites bytes, and the root-RELATIVE path (not the
    * absolute URI) keeps tombstones valid across table relocation.
    * The bare file NAME would NOT do: one partitioned write job
    * reuses the same `part-00000-<jobUUID>…` name in every
    * `col=value` directory, so names collide table-wide by
    * construction. */
  private[graft] val DvFileCol = "__graft_dv_file"
  private[graft] val DvPosCol = "__graft_dv_pos"

  /** The tombstones one merge-on-read commit adds: its sidecar dir
    * (root-relative, under `dv/`) and the exact tombstone count of each
    * file it hits. Empty when nothing matched; the sidecar is then
    * already deleted. */
  private final case class Tombstones(dir: String, counts: Map[String, Long]) {
    def isEmpty: Boolean = counts.isEmpty

    /** `files` with this commit's [[DvRef]] stacked on every entry it
      * tombstones; the others unchanged. */
    def stackOn(files: Seq[FileEntry]): Seq[FileEntry] =
      files.map(f => counts.get(f.path).fold(f)(n => f.copy(dvs = f.dvs :+ DvRef(dir, n))))
  }

  /** Write `doomed`'s ([[DvFileCol]], [[DvPosCol]]) row identities as
    * the deletion-vector sidecar of the commit on `base`
    * (`dv/v<base+1>-<token>`) — ONE row per tombstoned file,
    * `(file: root-relative path, bits: packed bitmap, n: count)` — and
    * return the per-file tombstone counts for the manifest's
    * [[DvRef]]s. A sidecar that tombstones nothing is deleted at once,
    * so no caller publishes or leaves an empty one. Bitmap sizing:
    * dense container ∝ position span/8, sparse ∝ 8·count, whichever
    * is smaller per file ([[DvBitmap]]);
    * versus a row-per-tombstone sidecar this drops the path string
    * from every tombstone and turns the read side's per-row anti-join
    * probe into a static bitmap test. The position gather is the
    * partial-mergeable [[DvPack]] aggregate: per-partition partials
    * accumulate straight into bitmap containers (bounded by
    * min(8·count, file-span/8) bytes) and merge by OR at the
    * exchange, so a predicate tombstoning MOST of a 10M-row file
    * costs ~1.25 MB of buffer, not an 80 MB sorted long array — the
    * whole-file mass-delete edge the former
    * `sort_array(collect_list(pos))` gather carried. Positions are
    * distinct by construction at every call site (a predicate scan
    * yields each visible row once; the changeset path vacates keys
    * via one semi-join). */
  private def writeDvSidecar(
      spark: SparkSession, root: Path, base: Manifest,
      doomed: DataFrame): Tombstones = {
    val dvRel = s"dv/v${base.version + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
    val dvPath = new Path(root, dvRel)
    doomed.select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
      .groupBy("file")
      .agg(DvPack.agg(col("pos")).as("bits"),
        count(lit(1)).as("n"))
      .write.mode("errorifexists").parquet(dvPath.toString)
    // bounded collect: one row per touched FILE (column-pruned read —
    // the bitmap bytes stay on disk). The schema is declared (we wrote
    // this sidecar two lines up) so the read-back skips the
    // schema-inference job; `bits` is simply never requested
    val counts = spark.read.schema("file STRING, n BIGINT").parquet(dvPath.toString)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty)
      root.getFileSystem(spark.sessionState.newHadoopConf()).delete(dvPath, true)
    Tombstones(dvRel, counts)
  }

  /** Root-relative path of the scanned file, as a Column. Derived
    * from `_metadata.file_path` by DECODING the rendered URI and
    * cutting at the root's PATH component (`root.toUri.getPath`) —
    * the metadata column percent-encodes non-URI characters (a table
    * under `/tmp/a dir/` scans as `file:/tmp/a%20dir/…`) while the
    * manifest stores driver-listed, decoded paths, so a raw substring
    * in the encoded domain would silently derive garbage coordinates
    * for such roots. [[RelPath]] decodes, matches in the decoded
    * domain, and fails loud if the marker is absent. */
  private def relPathCol(root: Path): org.apache.spark.sql.Column =
    RelPath(col("_metadata.file_path"), root.toUri.getPath + "/")

  /** Read entries as one DataFrame, with no DV application. Files are
    * grouped by their commit directory so each group reads with its
    * own `basePath` (restoring the partition column the `col=value`
    * layout encodes); the union is bounded by the number of commits
    * still contributing files. Groups whose dir has a log-carried
    * schema read WITHOUT opening a single parquet footer (the declared
    * schema covers data + the partition column, which Spark fills from
    * the dir value at the declared type); unknown dirs fall back to
    * inference. */
  private def rawRead(
      spark: SparkSession, root: Path, files: Seq[FileEntry],
      schemas: Map[String, String], withRowId: Boolean): DataFrame = {
    val byCommit = files.groupBy(f => dirOf(f.path))
    byCommit.toSeq.sortBy(_._1).map { case (commitRel, fs0) =>
      val reader = spark.read
        .option("basePath", new Path(root, commitRel).toString)
      val df = schemas.get(commitRel)
        .map(s => reader.schema(
          org.apache.spark.sql.types.DataType.fromJson(s)
            .asInstanceOf[org.apache.spark.sql.types.StructType]))
        .getOrElse(reader)
        .parquet(fs0.map(f => new Path(root, f.path).toString): _*)
      // the metadata columns must be projected AT THE SCAN (they are
      // hidden columns of the file source, not of derived plans)
      if (withRowId)
        df.select(col("*"),
          relPathCol(root).as(DvFileCol),
          col("_metadata.row_index").as(DvPosCol))
      else df
    // allowMissingColumns: commits published under an EVOLVED schema
    // (mergeChangeSet evolveSchema=true) coexist with carried-forward
    // files of the old shape in the same version — older files read
    // NULL in the added columns, exactly the additive-evolution
    // contract. Identical-schema groups are unaffected.
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read entries as one DataFrame, applying any deletion vectors.
    * Entries WITHOUT DVs read exactly as before (no metadata
    * projection — the common case pays nothing). For entries WITH DVs,
    * every sidecar dir of the version is read in ONE scan under the
    * declared `file STRING, bits BINARY` schema (no inference job, no
    * driver-side footer probe), the per-commit bitmap STACK is
    * OR-merged into ONE container per file ([[DvUnion]] — dense
    * partials adopted by reference, never replayed), and the merged
    * per-file map is collected, broadcast and probed inside the scan
    * filter ([[DvMapContains]]). So a compaction-starved table hit by
    * N DML waves still carries one bitmap per file and the scan probes
    * ONE container per row. That collect is the read-build's only
    * job, up to `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) stacked sidecar dirs; past it Spark lists them with a job of
    * its own. A sidecar without a `bits` column (the pre-bitmap row form)
    * fails it loudly, naming the file, instead of reading as "nothing
    * tombstoned". `withRowId` additionally exposes
    * [[DvFileCol]]/[[DvPosCol]] to DML writers. */
  private def readFiles(
      spark: SparkSession, root: Path, files: Seq[FileEntry],
      schemas: Map[String, String] = Map.empty,
      withRowId: Boolean = false): DataFrame = {
    require(files.nonEmpty,
      "cannot read an empty version (schema lives in the data files)")
    val (dved, plain) = files.partition(_.dvs.nonEmpty)
    val parts = Seq(
      Option.when(plain.nonEmpty)(
        rawRead(spark, root, plain, schemas, withRowId)),
      Option.when(dved.nonEmpty) {
        val dvDirs = dved.flatMap(_.dvs.map(_.dir)).distinct
          .map(d => new Path(root, d).toString)
        // coalesce(1): the one-row-per-file result goes to the driver
        // anyway, so one task merges it and the union is ONE job (no
        // shuffle stage)
        val dvMap = spark.read.schema("file STRING, bits BINARY")
          .parquet(dvDirs: _*)
          .select(col("file"), coalesce(col("bits"), raise_error(concat(
            lit("row-form deletion-vector sidecar (no bits column): "),
            col("_metadata.file_path"),
            lit("; this engine reads only bitmap sidecars")))).as("bits"))
          .coalesce(1)
          .groupBy("file").agg(DvUnion.agg(col("bits")))
          .collect()
          .map(r => UTF8String.fromString(r.getString(0)) ->
            r.getAs[Array[Byte]](1)).toMap
        val bcast = spark.sparkContext.broadcast(dvMap)
        val filtered = rawRead(spark, root, dved, schemas, withRowId = true)
          .where(!DvMapContains(col(DvFileCol), col(DvPosCol), bcast, dvMap.size))
        if (withRowId) filtered else filtered.drop(DvFileCol, DvPosCol)
      }).flatten
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** `hit`'s rows when non-empty; otherwise a ZERO-ROW frame shaped
    * like the table — from the live files when any exist, else from
    * the manifest's newest recorded schema. A fully-emptied table
    * (zero live files) is a legal state a changeset can produce, and
    * it must still merge, diff and re-insert — without this the slice
    * constructions would refuse the read and brick the table until a
    * `commitReplace`. */
  private def sliceOrEmpty(
      spark: SparkSession, root: Path, hit: Seq[FileEntry],
      all: Seq[FileEntry], schemas: Map[String, String],
      withRowId: Boolean = false): DataFrame =
    if (hit.nonEmpty) readFiles(spark, root, hit, schemas, withRowId)
    else if (all.nonEmpty)
      readFiles(spark, root, all, schemas, withRowId).limit(0)
    else {
      def seqOf(d: String): Long =
        "v(\\d+)-".r.findFirstMatchIn(d).map(_.group(1).toLong).getOrElse(0L)
      val schemaJson = schemas.toSeq.sortBy { case (d, _) => seqOf(d) }
        .lastOption.map(_._2).getOrElse(sys.error(
          "zero live files and no schema recorded in the manifest — " +
            "cannot shape an empty read; re-initialize with commitReplace"))
      val base = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val schema = if (withRowId)
        base.add(DvFileCol, org.apache.spark.sql.types.StringType)
          .add(DvPosCol, org.apache.spark.sql.types.LongType)
      else base
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  private type FrameKey = (SparkSession, Path, Seq[FileEntry], Map[String, String])

  /** Upper bound on the snapshot frames [[read]] keeps. */
  private val FrameMemoSize = 16

  /** [[read]]'s frames, least recently read first. Guarded by itself. */
  private val frames =
    new java.util.LinkedHashMap[FrameKey, DataFrame](FrameMemoSize, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[FrameKey, DataFrame]): Boolean =
        size() > FrameMemoSize
    }

  /** How many of [[read]]'s kept frames read the table at `dir`. */
  private[ext] def framesKept(spark: SparkSession, dir: String): Int = {
    import scala.jdk.CollectionConverters._
    val root = fsOf(spark, dir)._2
    frames.synchronized(frames.keySet.asScala.count(_._2 == root))
  }

  /** Snapshot read: latest version, or `versionAsOf` (time travel).
    *
    * The version is resolved and its manifest replayed on every call,
    * so freshness, the refusal to read vacuumed versions and the
    * manifest checks are those of the log. The frame itself is built
    * once per snapshot content: it is kept under (session, table root,
    * live files, commit schemas) and a later read that replays to the
    * same key returns the same frame, with no file index to build and
    * no deletion-vector collect job to run. The key names the rows:
    * data files and DV sidecars live under per-commit dirs with a
    * random suffix, so a new version, or a table deleted and recreated
    * at the same path, keys differently, and a frame is only ever
    * served for the very files it reads. At most 16 frames are kept
    * ([[FrameMemoSize]]), least recently read evicted first; an
    * evicted frame is not destroyed (a caller may still hold it) and
    * its DV broadcast is freed once nothing references it. A build
    * that throws keeps nothing. Two threads that miss together both
    * build, and both get the frame kept first.
    *
    * A kept frame is analyzed once, under the session conf of its
    * first read; queries derived from it are still optimized and
    * planned under the conf current when they run. */
  def read(
      spark: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): DataFrame =
    frameOf(spark, dir, openSnapshot(spark, dir, versionAsOf))

  /** The frame of snapshot `m` of the table at `dir`, kept per
    * snapshot content — [[read]]'s memo, see there. */
  private[graft] def frameOf(spark: SparkSession, dir: String, m: Manifest): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val key: FrameKey = (spark, root, m.files, m.schemas)
    Option(frames.synchronized(frames.get(key))).getOrElse {
      val built = sliceOrEmpty(spark, root, m.files, m.files, m.schemas)
      Option(frames.synchronized(frames.putIfAbsent(key, built))).getOrElse(built)
    }
  }

  /** TIMESTAMP time travel: the latest version whose commit timestamp
    * is ≤ `tsMillis` (None if the table did not exist yet). Commit
    * timestamps are the WRITER's clock at manifest render; publishes
    * serialize (version N+1 strictly follows N), so they are monotone
    * under one clock and monotone-up-to-skew across writers — the
    * same exposure Delta's timestampAsOf documents. Binary search over
    * the manifest headers: O(log V) header reads, no replay. */
  def versionAtTimestamp(
      spark: SparkSession, dir: String, tsMillis: Long): Option[Long] = {
    val (store, root) = storeOf(spark, dir)
    val (manifestVs, _) = listLog(store, root)
    if (manifestVs.isEmpty) return None
    def tsOf(v: Long): Long =
      ManifestJson.parse(store.read(manifestPath(root, v)), s"manifest $v").ts
    var lo = 0
    var hi = manifestVs.size - 1
    if (tsOf(manifestVs(lo)) > tsMillis) return None
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (tsOf(manifestVs(mid)) <= tsMillis) lo = mid else hi = mid - 1
    }
    Some(manifestVs(lo))
  }

  /** [[read]] at the state as of a wall-clock instant — see
    * [[versionAtTimestamp]] for the clock contract. */
  def readAsOfTimestamp(
      spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val v = versionAtTimestamp(spark, dir, tsMillis).getOrElse(
      sys.error(s"no version at or before $tsMillis at $dir"))
    read(spark, dir, versionAsOf = Some(v))
  }

  /** Manifest-level partition pruning: read only the files whose
    * bucket is in `buckets` — no listing, no footer reads for pruned
    * files. Empty selection yields an empty frame shaped like the
    * full table (schema from one representative file). */
  def readPruned(
      spark: SparkSession, dir: String, buckets: Set[String],
      versionAsOf: Option[Long] = None): DataFrame =
    readSlice(spark, dir, versionAsOf)(_.files.filter(_.bucket.exists(buckets)))

  /** The pruned reads' one tail: open the snapshot ([[openSnapshot]]),
    * keep the files `pick` admits and read them — a zero-row frame
    * shaped like the table when it admits none ([[sliceOrEmpty]]). */
  private def readSlice(
      spark: SparkSession, dir: String, versionAsOf: Option[Long])(
      pick: Manifest => Seq[FileEntry]): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val m = openSnapshot(spark, dir, versionAsOf)
    val hit = pick(m)
    sliceOrEmpty(spark, root, hit, m.files, m.schemas)
  }

  /** Evaluate `changes` ONCE for the whole merge, and return its
    * distinct `partitionCol` values alongside: both merge paths
    * consume the changeset several times (the touched-partition
    * collect, the vacating-key side of the anti/semi join, and the
    * insert/update image projection), and a changeset that is itself a
    * derived pipeline would execute that many times over — the guide's
    * "don't compute things twice" in its simplest form.
    *
    * The touched-partition collect IS the materializing action (r20):
    * a lazy localCheckpoint (RDD blocks, never CacheManager — the
    * house materialization pattern) is driven to completion by the
    * `distinct().collect()` on the calling thread, whose job computes
    * and persists every block and finalizes the checkpoint (lineage
    * cut at job end) before `body` ever sees the frame — so the
    * streaming callers' former per-batch job triple (checkpoint
    * materialization + isEmpty probe + touched collect) is ONE job,
    * and `body` runs against fully-persisted blocks. Materialization
    * completing BEFORE `body` matters: r19 shipped `eager = false`
    * with the first consumer inside `body`, and AQE
    * broadcast/subquery side threads racing the main action on first
    * materialization stalled the test suite at the driver (stage
    * under withThreadLocalCaptured never completing). The blocks are
    * released deterministically when the merge finishes (success OR
    * failure), so a long-lived streaming writer never accumulates
    * per-batch blocks. Changesets are batch-sized by contract, so the
    * blocks are bounded.
    *
    * `touchedHint`: a caller that already collected the distinct
    * partition values from these very blocks (the streaming wrappers,
    * which gate on batch emptiness via `touched.isEmpty`) passes them
    * back down so the merge does not collect them a second time;
    * honored as-is with an already-checkpointed frame (the hint and
    * the blocks are then the same evaluation). A not-yet-checkpointed
    * frame with a hint still pays one full-scan `count()` so the
    * blocks exist before `body`.
    *
    * An input that IS already a local checkpoint (a streaming caller
    * that materialized the batch once for its own pre-merge checks —
    * [[graft.streaming.MergeStream]]) passes through untouched: its
    * blocks are the single evaluation, and re-checkpointing would copy
    * them for nothing. Ownership follows the checkpoint: the caller
    * that created the blocks releases them. */
  private[graft] def withMaterializedChanges[T](
      changes: DataFrame, partitionCol: String,
      touchedHint: Option[Seq[Any]] = None)(
      body: (DataFrame, Seq[Any]) => T): T = {
    def touchedOf(df: DataFrame): Seq[Any] =
      df.select(col(partitionCol)).distinct().collect()
        .map(_.get(0)).toIndexedSeq
    if (org.apache.spark.sql.GraftCheckpointBridge.checkpointRdd(changes).isDefined)
      body(changes, touchedHint.getOrElse(touchedOf(changes)))
    else {
      val ch = changes.localCheckpoint(eager = false)
      try {
        val touched = touchedHint match {
          case Some(t) => ch.count(); t
          case None => touchedOf(ch)
        }
        body(ch, touched)
      } finally org.apache.spark.sql.GraftCheckpointBridge.checkpointRdd(ch)
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** The distinct `partitionCol` values of a merge source — a
    * bounded driver collect, ≤ #partition values by definition. */
  private def sourcePartitions(source: DataFrame, partitionCol: String): Seq[Any] =
    source.select(col(partitionCol)).distinct().collect().map(_.get(0)).toIndexedSeq

  /** Every merge's preamble: the partition values a merge touches,
    * rendered as the manifest records them and refused unless
    * path-literal ([[requirePathSafe]]), split `m`'s files into the
    * untouched ones (carried forward by reference) and the touched
    * ones, and read the touched ones (a zero-row frame shaped like the
    * table when none is live; `withRowId` for merge-on-read). Returns
    * (untouched files, touched slice). */
  private def touchedSlice(
      spark: SparkSession, root: Path, m: Manifest, touchedValues: Seq[Any],
      partitionCol: String, withRowId: Boolean = false): (Seq[FileEntry], DataFrame) = {
    val touched = touchedValues.map(String.valueOf(_)).toSet
    requirePathSafe(touched, partitionCol)
    val (touchedFiles, keep) = m.files.partition(_.bucket.exists(touched))
    (keep, sliceOrEmpty(spark, root, touchedFiles, m.files, m.schemas, withRowId))
  }

  /** MERGE a changeset (the [[Cdc.applyChangeSet]] contract: `keyCol`,
    * `opCol` ∈ insert/update/delete, full payload columns) into the
    * table as one atomic commit. Only the files of TOUCHED partitions
    * are read and rewritten; untouched entries carry forward by
    * reference (and never appear in the delta manifest at all).
    * Readers at any published version are unaffected; a concurrent
    * commit on the same base makes this one throw
    * [[CommitConflictException]] with the table left at the winner's
    * version. Returns the new version.
    *
    * Partition-immutability contract (shared with
    * [[graft.streaming.MergeStream]]): `partitionCol` must be a pure
    * function of `keyCol` (every lane derives it as `key % N`), so an
    * update/delete row always lands in the partition its stored row
    * lives in. A changeset row carrying a DIFFERENT partition value
    * for an existing key would leave the old row alive in a
    * carried-forward file (the touched set comes from the changeset's
    * partition values) — that is a key-relocation, which in a
    * partition-pruned merge is modeled as delete-in-old + insert-in-new.
    * Partition values must also be path-literal (integral / simple
    * strings) — enforced by the merge, because Spark ESCAPES exotic
    * values in directory names while the manifest carries them raw. */
  def mergeChangeSet(
      spark: SparkSession, dir: String, changes: DataFrame,
      keyCol: String, opCol: String, partitionCol: String,
      expectedBase: Option[Long] = None,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      touchedHint: Option[Seq[Any]] = None): Long =
    mergeChanges(spark, dir, changes, keyCol, opCol, partitionCol, moR = false,
      expectedBase, evolveSchema, txn, touchedHint)._2

  /** [[mergeChangeSet]] at MERGE-ON-READ economics — identical content
    * semantics ([[Cdc.applyChangeSet]]: update/delete keys vacate the
    * snapshot, insert/update rows append; an insert whose key exists
    * duplicates, exactly as the batch apply would), but no target file
    * is rewritten: matched update/delete keys tombstone into a
    * deletion-vector sidecar and the insert/update rows land as fresh
    * files, one atomic commit. The trickle-upsert shape for streaming
    * producers against a huge table — per-batch cost is one
    * partition-pruned semi-join + O(batch) writes, where the COW
    * [[mergeChangeSet]] rewrites every touched partition per batch
    * (at 100 TB a steady trickle touching many partitions pays a
    * rewrite wave per trigger; here [[compact]] amortizes the
    * reconciliation to maintenance cadence). Tombstone duplication
    * cannot arise: the vacating keys are applied as one semi-join, so
    * each matched target row tombstones once no matter how many
    * change rows share its key. Idempotent under the same `txn`
    * ledger; CHECK constraints are enforced on the appended rows.
    *
    * Additive schema evolution (`evolveSchema = true`): changeset
    * columns the target lacks ride ONLY the fresh appended files —
    * carried-forward files keep their old shape and read NULL in the
    * added columns through `readFiles`' allowMissingColumns union,
    * the exact q151/COW-evolution contract at merge-on-read
    * economics (zero target files rewritten even while the schema
    * widens). Without the flag, extra columns fail loud — a typo'd
    * column must not silently mint a table column. */
  def mergeChangeSetDv(
      spark: SparkSession, dir: String, changes: DataFrame,
      keyCol: String, opCol: String, partitionCol: String,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      touchedHint: Option[Seq[Any]] = None): Long =
    mergeChanges(spark, dir, changes, keyCol, opCol, partitionCol, moR = true,
      evolveSchema = evolveSchema, txn = txn, touchedHint = touchedHint)._2

  /** The changeset merges' one face: [[mergeChangeSetDv]] when `moR`,
    * else [[mergeChangeSet]]. Returns the version of the base the merge
    * opened with the version it leaves the table at; they differ
    * exactly when the merge published, so a caller that counts commits
    * ([[graft.streaming.MergeStream]]) needs no second log listing. */
  private[graft] def mergeChanges(
      spark: SparkSession, dir: String, changes: DataFrame,
      keyCol: String, opCol: String, partitionCol: String, moR: Boolean,
      expectedBase: Option[Long] = None,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      touchedHint: Option[Seq[Any]] = None): (Long, Long) = {
    val (store, root) = storeOf(spark, dir)
    // expectedBase = optimistic concurrency from a version the caller
    // read earlier: if someone else committed since, the publication
    // of expectedBase+1 conflicts and this merge throws instead of
    // silently dropping the competing commit's changes
    val m = openTable(spark, dir,
      if (moR) "mergeChangeSetDv" else "mergeChangeSet", expectedBase)
    val after =
      if (moR) stageMergeDv(spark, dir, m, changes, keyCol, opCol, partitionCol,
        evolveSchema, txn, touchedHint).fold(m.version)(publishStaged(store, root, _))
      // idempotent-writer gate: an at-least-once producer (foreachBatch
      // replaying its last batch after a crash between table commit and
      // stream checkpoint) tags commits with a monotone (appId,
      // version); a changeset whose version the ledger already records
      // is a no-op at the current version instead of a DOUBLE
      // APPLICATION (inserts would duplicate — applyChangeSet treats
      // them as new keys)
      else if (m.applied(txn)) m.version
      // bounded driver collect: ≤ #partition values by definition —
      // rides the materializing job (or the caller's hint)
      else withMaterializedChanges(changes, partitionCol, touchedHint) { (ch, touched) =>
        val (keep, slice) = touchedSlice(spark, root, m, touched, partitionCol)
        // the merge READS version `base`'s files and WRITES a brand-new
        // commit dir, so it never overwrites its own input. Schema
        // evolution touches only the REWRITTEN partitions' files;
        // carried-forward files keep the old shape and read NULL in
        // the new columns through readFiles' allowMissingColumns union
        val merged = Cdc.applyChangeSet(slice, ch, keyCol, opCol, evolveSchema)
        val (_, fresh) = writeCommitFiles(spark, root, m, merged, Some(partitionCol))
        commit(store, root, m, keep ++ fresh, Some(merged.schema.json),
          "merge", full = false, txn = txn)
      }
    (m.version, after)
  }

  /** [[mergeChangeSetDv]]'s WRITE PHASE factored out (r18): tombstone
    * sidecar and fresh data files land on disk exactly as the ordinary
    * path writes them, the manifest is RENDERED but not published —
    * which is what lets [[PairTxn]] carry a DV-writing fact side
    * inside a multi-table intent (the rendered bytes ride the intent
    * record; roll-forward replays them verbatim, sidecars included).
    * `m` is the base the caller opened ([[openTable]]). Returns None
    * when the commit would have NO effect (an already-recorded
    * idempotent-writer txn, or a changeset that tombstones nothing and
    * inserts nothing) — any just-written sidecar/commit debris is
    * already deleted on that path. */
  private[ext] def stageMergeDv(
      spark: SparkSession, dir: String, m: Manifest, changes: DataFrame,
      keyCol: String, opCol: String, partitionCol: String,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      touchedHint: Option[Seq[Any]] = None): Option[StagedCommit] = {
    val (fs, root) = fsOf(spark, dir)
    if (m.applied(txn)) return None
    // bounded driver collect: ≤ #partition values by definition —
    // rides the materializing job (or the caller's hint)
    withMaterializedChanges(changes, partitionCol, touchedHint) { (ch, touched) =>
    val (_, slice) = touchedSlice(spark, root, m, touched, partitionCol, withRowId = true)
    val targetCols = slice.columns
      .filterNot(c => c == DvFileCol || c == DvPosCol).toSeq
    val extras = ch.columns.filterNot(c =>
      c == opCol || targetCols.contains(c)).toSeq
    require(extras.isEmpty || evolveSchema,
      s"changeset carries columns the target lacks (${extras.mkString(", ")}) " +
        "— pass evolveSchema=true for additive evolution (new columns " +
        "ride the fresh files; carried rows read NULL)")
    // ONE semi-join finds every target row a vacating key claims —
    // tombstones are naturally distinct regardless of changeset dups
    val gone = ch.where(col(opCol).isin("update", "delete"))
      .select(col(keyCol))
    val tombs = writeDvSidecar(spark, root, m, slice.join(gone, Seq(keyCol), "left_semi"))
    val tSchema = slice.schema
    val added = ch.where(col(opCol).isin("insert", "update"))
      .select(targetCols.map(c =>
        col(c).cast(tSchema(c).dataType).as(c)) ++ extras.map(col): _*)
    val (commitDir, fresh) = writeCommitFiles(spark, root, m, added, Some(partitionCol))
    if (tombs.isEmpty && fresh.isEmpty) {
      // no tombstones, nothing appended: the commit would be a no-op —
      // delete the debris and stage nothing
      fs.delete(commitDir, true); None
    } else {
      Some(stageCommit(m, tombs.stackOn(m.files) ++ fresh, newSchema = None,
        op = "merge-cs-dv", full = false,
        extraSchemas = fresh.headOption
          .map(f => dirOf(f.path) -> added.schema.json).toMap,
        txn = txn))
    }
    }
  }

  /** The standard multi-writer optimistic-concurrency loop, usable
    * around ANY single mutation here (DML, merges — COW and MoR —,
    * compaction): on a [[CommitConflictException]] the body re-runs,
    * and because every mutation re-derives its inputs from the then-
    * LATEST version (nothing of a failed attempt is reused; its data
    * files are vacuum-able orphans), the retry recomputes against the
    * winner's state. Mutations carrying a `txn` stay exactly-once
    * across retries: if a prior attempt's publish actually landed
    * (success response lost), the retry reads the ledger and no-ops. */
  def withConflictRetry[T](maxRetries: Int = 5)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Conditional MERGE INTO (the SQL `MERGE INTO t USING s ON
    * t.key = s.key WHEN MATCHED [AND cond] THEN UPDATE/DELETE WHEN NOT
    * MATCHED [AND cond] THEN INSERT` surface, as a library call):
    * unlike [[mergeChangeSet]] the source carries NO op column — the
    * action per row is DECIDED BY PREDICATES evaluated over both
    * sides. Conditions and update right-hand sides reference the
    * target row as struct `t` and the source row as struct `s`
    * (`col("t.value")`, `col("s.value")`); clause order is fixed
    * delete-then-update (a matched row satisfying both conditions is
    * deleted, the SQL standard's first-clause-wins with delete first).
    *
    * Semantics per joined row:
    *   - matched, `whenMatchedDelete` true            → row dropped
    *   - matched, `whenMatchedUpdateCond` true (or no
    *     condition given with nonempty assignments)   → assignments
    *     applied (unassigned columns keep target values; RHS sees the
    *     OLD `t` and the `s` structs — never earlier assignments)
    *   - matched, neither                             → target kept
    *   - source-only, `whenNotMatchedInsert` true     → inserted from
    *     the source's same-named columns (missing ones NULL)
    *   - target-only                                  → kept verbatim
    *
    * A NULL condition is false (the row is kept / not inserted) —
    * same discipline as [[deleteWhere]].
    *
    * Contracts shared with [[mergeChangeSet]]: source keys must be
    * UNIQUE (duplicate source keys would fan a target row out — the
    * SQL MERGE cardinality error, documented rather than scanned
    * for); `partitionCol` must be a pure function of the key (a
    * relocation is delete+insert); partition values path-literal.
    * Economics identical: only files of partitions PRESENT IN THE
    * SOURCE are read and rewritten, everything else carries forward
    * by reference — cost ∝ touched data at any table size. */
  def mergeInto(
      spark: SparkSession, dir: String, source: DataFrame,
      keyCol: String, partitionCol: String,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
      whenMatchedUpdate: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty,
      whenMatchedUpdateCond: Option[org.apache.spark.sql.Column] = None,
      whenNotMatchedInsert: Option[org.apache.spark.sql.Column] = None,
      txn: Option[(String, Long)] = None): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "mergeInto")
    if (m.applied(txn)) return m.version
    val (keep, slice) = touchedSlice(spark, root, m,
      sourcePartitions(source, partitionCol), partitionCol)
    val targetSchema = slice.schema
    val joined = slice.select(struct(slice.columns.map(col): _*).as("t"))
      .join(source.select(struct(source.columns.map(col): _*).as("s")),
        col("t").getField(keyCol) === col("s").getField(keyCol), "full_outer")
    val deleteCond = coalesce(
      whenMatchedDelete.getOrElse(lit(false)), lit(false))
    val updateCond = coalesce(
      if (whenMatchedUpdate.isEmpty) lit(false)
      else whenMatchedUpdateCond.getOrElse(lit(true)), lit(false))
    val insertCond = coalesce(
      whenNotMatchedInsert.getOrElse(lit(false)), lit(false))
    val matched = col("t").isNotNull && col("s").isNotNull
    val keepRow =
      when(col("t").isNull, insertCond)    // source-only: insert or drop
        .when(col("s").isNull, lit(true))  // target-only: carry
        .otherwise(!deleteCond)            // matched: delete wins first
    val assign = whenMatchedUpdate.toMap
    val srcCols = source.columns.toSet
    val outCols = targetSchema.fields.map { f =>
      val fromT = col("t").getField(f.name)
      val fromS =
        if (srcCols.contains(f.name)) col("s").getField(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)
      when(col("t").isNull, fromS)
        .when(matched && !deleteCond && updateCond,
          assign.getOrElse(f.name, fromT).cast(f.dataType))
        .otherwise(fromT)
        .as(f.name)
    }
    val merged = joined.where(keepRow).select(outCols.toIndexedSeq: _*)
    val (_, fresh) = writeCommitFiles(spark, root, m, merged, Some(partitionCol))
    commit(store, root, m, keep ++ fresh, Some(merged.schema.json),
      "merge", full = false, txn = txn)
  }

  /** OPTIMIZE: rewrite every partition holding more than one file
    * into a single file per partition, published as a normal commit —
    * content-identical, atomic, conflict-detected, and every previous
    * version still time-travels (the old small files stay referenced
    * by the old manifests until [[vacuum]] retires them). Partitions
    * already at one file carry forward by reference. Returns the new
    * version, or the current one if nothing needed compaction.
    *
    * Scale shape: the `repartition(partitionCol)` puts each rewritten
    * partition in exactly one task → exactly one output file; cost ∝
    * the fragmented partitions' bytes, never the table. The
    * size-targeted variant for over-large partitions is
    * [[graft.ingest.Compaction]]'s byte math — here the streaming-
    * sink fragmentation case (many tiny files per partition) is the
    * one the commit log itself creates. */
  def compact(spark: SparkSession, dir: String, partitionCol: String): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "compact")
    val byBucket = m.files.groupBy(_.bucket)
    // a partition needs work when fragmented OR carrying deletion
    // vectors: compaction is also the DV reconciler — the rewrite
    // reads DV-aware, so tombstoned rows vanish physically and the
    // fresh entries are DV-free
    val fragmented = byBucket.filter { case (_, fs0) =>
      fs0.size > 1 || fs0.exists(_.dvs.nonEmpty)
    }.keys.toSet
    if (fragmented.isEmpty) return m.version
    val (doomed, keep) = m.files.partition(f => fragmented(f.bucket))
    val merged = readFiles(spark, root, doomed, m.schemas)
      .repartition(col(partitionCol))
    val (_, fresh) = writeCommitFiles(spark, root, m, merged, Some(partitionCol),
      checked = false)
    commit(store, root, m, keep ++ fresh, Some(merged.schema.json),
      "compact", full = false)
  }

  /** Refuse a bucket-less rewrite of a partitioned table: files
    * written without `partitionCol` land outside the bucket dirs and
    * would be invisible to partition-pruned merges. */
  private def requireLayoutKept(
      dir: String, m: Manifest, partitionCol: Option[String]): Unit =
    require(m.files.forall(_.bucket.isEmpty) || partitionCol.isDefined,
      s"table at $dir is partitioned — pass partitionCol so the written " +
        "files keep the bucket dirs partition-pruned merges rely on")

  /** REORG … APPLY (PURGE): physically materialize the deletion
    * vectors by rewriting ONLY the files that carry them — finer than
    * [[compact]] (partition-granular: a partition with one
    * DV-carrying file among a hundred clean ones rewrites all
    * hundred) and the minimal-IO hard-delete pass a
    * right-to-erasure workflow runs: cost ∝ tombstone-carrying
    * bytes, never the partition, never the table. DV-free files —
    * including same-partition siblings of purged ones — carry
    * forward by reference, byte-identical. One atomic,
    * conflict-detected, content-identical commit (`op = "purge"`).
    * The erasure completes only once [[vacuum]] retires the versions
    * that still reference the pre-purge files — same two-step
    * contract as the lakehouse formats' REORG + VACUUM. */
  def purgeTombstoned(
      spark: SparkSession, dir: String,
      partitionCol: Option[String] = None): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "purgeTombstoned")
    val (doomed, keep) = m.files.partition(_.dvs.nonEmpty)
    if (doomed.isEmpty) return m.version // nothing tombstoned — no-op
    requireLayoutKept(dir, m, partitionCol)
    // DV-aware read of ONLY the carrying files: tombstoned rows vanish
    // physically, surviving rows rewrite verbatim
    val merged = readFiles(spark, root, doomed, m.schemas)
    val (_, fresh) = writeCommitFiles(spark, root, m, merged, partitionCol,
      checked = false)
    commit(store, root, m, keep ++ fresh, Some(merged.schema.json),
      "purge", full = false)
  }

  /** Maintenance POLICY over the manifest alone: sweep when the layout
    * has decayed past either threshold, with the CHEAPEST op that
    * clears it —
    *
    *   - fragmentation: any partition holds more than
    *     `maxFilesPerPartition` live files (streaming sinks and
    *     trickle-merges create exactly this) → [[compact]], which also
    *     reconciles any DVs in the partitions it rewrites;
    *   - DV debt alone: tombstoned rows exceed `maxDvRatio` of the
    *     manifest's recorded rows (every merge-on-read DML adds to the
    *     read side's bitmap probe until reconciled) →
    *     [[purgeTombstoned]], file-granular — only the carrying files
    *     rewrite.
    *
    * The DECISION reads zero data files — one log read at any scale —
    * and the compact it triggers costs only the affected partitions.
    * This is the knob a steady-state MoR pipeline calls at its
    * maintenance cadence (e.g. after every Nth streaming batch, or
    * from a scheduled job) instead of hand-deciding when to reconcile.
    * Returns Some(version) when compaction published, None when the
    * layout is within budget. */
  def maintainIfNeeded(
      spark: SparkSession, dir: String, partitionCol: String,
      maxFilesPerPartition: Int = 8, maxDvRatio: Double = 0.1): Option[Long] = {
    require(maxFilesPerPartition > 0 && maxDvRatio >= 0.0,
      "thresholds must be positive")
    val m = openTable(spark, dir, "maintainIfNeeded")
    if (m.files.isEmpty) return None
    val fragmented = m.files.groupBy(_.bucket)
      .exists { case (_, fs0) => fs0.size > maxFilesPerPartition }
    val liveRows = m.files.map(f => math.max(f.rows, 0L)).sum
    val dvRows = m.files.flatMap(_.dvs).map(_.rows).sum
    // rows = -1 marks entries predating row-count gathering (legacy
    // manifests stay readable): debt against an UNKNOWN denominator
    // reconciles rather than silently never firing — the alternative
    // is an ever-growing bitmap probe on every read of that table
    val unknownRows = m.files.exists(_.rows < 0)
    val indebted = dvRows > 0 && (unknownRows ||
      (liveRows > 0 && dvRows.toDouble / liveRows > maxDvRatio))
    // the cheapest sweep that clears the crossed budget: fragmentation
    // needs [[compact]] (partition-granular — it also reconciles any
    // DVs in the partitions it rewrites), but DV debt ALONE purges at
    // FILE granularity ([[purgeTombstoned]]) — on a well-compacted
    // table hit by DML waves, that rewrites only the tombstone-carrying
    // files instead of every file in every touched partition (at scale
    // the difference between sweeping the debt and rewriting the table)
    if (fragmented) Some(compact(spark, dir, partitionCol))
    else if (indebted) Some(purgeTombstoned(spark, dir, Some(partitionCol)))
    else None
  }

  /** OPTIMIZE … ZORDER BY: rewrite the table re-clustered along the
    * Z-curve of two manifest-stats dimensions into `targetFiles`
    * output files, each owning a contiguous curve segment (≈ a tight
    * (x, y) box), so [[readRanges]] 2-D boxes prune on the manifest
    * again after DML waves and appends have eroded the write-time
    * layout. Reads DV-aware — tombstoned rows vanish physically and
    * the fresh entries are DV-free — and publishes ONE atomic,
    * conflict-detected, content-identical commit; previous versions
    * still time-travel until [[vacuum]]. Stats (and blooms) for the
    * base manifest's tracked columns re-derive onto the fresh files
    * via the same pass every rewrite pays.
    *
    * Unlike [[compact]] (which touches only fragmented or
    * DV-carrying partitions), a re-layout is by definition a full
    * rewrite: cost ∝ table bytes, so run it at the cadence layout
    * decay earns, not per-commit. At 100 TB the repartitionByRange
    * SAMPLES the live z-distribution, so file boundaries adapt to
    * skew without a stats pre-pass, and the sort is per-output-file,
    * never global. Cluster columns are bucketed to 16 bits by the
    * curve ([[Layout.zValue]]) — pre-bucket wider domains. */
  def compactClustered(
      spark: SparkSession, dir: String, partitionCol: Option[String],
      clusterX: String, clusterY: String, targetFiles: Int): Long = {
    require(targetFiles > 0, "targetFiles must be positive")
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "compactClustered")
    if (m.files.isEmpty) return m.version // nothing to re-cluster
    requireLayoutKept(dir, m, partitionCol)
    val zc = Layout.zValue(col(clusterX), col(clusterY))
    val keys = partitionCol.map(col).toSeq :+ zc
    val ordered = readFiles(spark, root, m.files, m.schemas)
      .repartitionByRange(targetFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
    val (_, fresh) = writeCommitFiles(spark, root, m, ordered, partitionCol,
      checked = false)
    commit(store, root, m, fresh, Some(ordered.schema.json),
      "optimize-zorder", full = false)
  }

  /** CDC READ: the net changeset that turns version `vFrom` into
    * `vTo`, in [[Cdc.applyChangeSet]]'s own input shape (`keyCol`,
    * `op` ∈ insert/update/delete, full payload) — so
    * `applyChangeSet(read(vFrom), changesBetween(vFrom, vTo))` equals
    * `read(vTo)` (the round-trip [[TxTableSpec]] asserts). Downstream
    * incremental consumers subscribe to this instead of re-diffing
    * snapshots.
    *
    * Scale shape — the manifest IS the diff index: a partition whose
    * FILE LIST is identical in both manifests is byte-identical by
    * the immutability invariant, so only partitions whose file sets
    * differ are read on either side (cost ∝ changed data, not table
    * size; a compaction rewrite makes its partitions "changed" and
    * simply diffs to zero rows). One full-outer join on the key over
    * that slice. */
  def changesBetween(
      spark: SparkSession, dir: String, vFrom: Long, vTo: Long,
      keyCol: String): DataFrame = {
    val ms = readManifests(spark, dir, Seq(vFrom, vTo))
    changesBetweenManifests(spark, dir, ms(vFrom), ms(vTo), keyCol)
  }

  /** [[changesBetween]] against ALREADY-RESOLVED manifests — the
    * change-feed consumer reconstructs a whole batch of versions with
    * one log replay ([[readManifests]]) and diffs consecutive pairs
    * here, instead of paying a log walk per version. */
  private[graft] def changesBetweenManifests(
      spark: SparkSession, dir: String, mFrom: Manifest, mTo: Manifest,
      keyCol: String): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val (diff, payload) = diffFrames(spark, root, mFrom, mTo, keyCol)
    diff
      .select(col("_k").as(keyCol),
        when(col("_before").isNull, "insert")
          .when(col("_after").isNull, "delete")
          .otherwise("update").as("op"),
        coalesce(col("_after"), col("_before")).as("_p"))
      .select(col(keyCol) +: col("op") +: payload.map(c => col(s"_p.$c")): _*)
  }

  /** [[changesBetween]] with BOTH row images: `(keyCol, op, before,
    * after)` where `before`/`after` are structs of the payload columns
    * (NULL struct for the absent side of an insert/delete). This is
    * the incremental-view-maintenance input shape: an aggregate
    * maintains itself by SUBTRACTING the before image and ADDING the
    * after image — the single-image feed cannot express the subtract
    * half of an update. */
  def changesBetweenImages(
      spark: SparkSession, dir: String, vFrom: Long, vTo: Long,
      keyCol: String): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val ms = readManifests(spark, dir, Seq(vFrom, vTo))
    val (diff, _) = diffFrames(spark, root, ms(vFrom), ms(vTo), keyCol)
    diff.select(col("_k").as(keyCol),
      when(col("_before").isNull, "insert")
        .when(col("_after").isNull, "delete")
        .otherwise("update").as("op"),
      col("_before").as("before"),
      col("_after").as("after"))
  }

  /** Shared manifest-pruned full-outer diff: returns the joined frame
    * with `_k`, `_before`, `_after` (rows differing between versions
    * only) plus the payload column list. */
  private def diffFrames(
      spark: SparkSession, root: Path, ma: Manifest, mb: Manifest,
      keyCol: String): (DataFrame, Seq[String]) = {
    // the partition signature includes DV refs: a merge-on-read delete
    // changes no file PATH, only an entry's tombstone list — path-only
    // signatures would call the partition unchanged and the CDC feed
    // would silently miss the delete
    def byBucket(m: Manifest): Map[Option[String], Set[(String, Seq[DvRef])]] =
      m.files.groupBy(_.bucket)
        .map { case (b, fs0) => b -> fs0.map(f => (f.path, f.dvs)).toSet }
    val fa = byBucket(ma); val fb = byBucket(mb)
    val changed = (fa.keySet ++ fb.keySet)
      .filter(b => fa.getOrElse(b, Set.empty) != fb.getOrElse(b, Set.empty))
    val allSchemas = ma.schemas ++ mb.schemas
    def slice(m: Manifest): DataFrame = {
      val hit = m.files.filter(f => changed(f.bucket))
      sliceOrEmpty(spark, root, hit, (ma.files ++ mb.files).distinct, allSchemas)
    }
    val a = slice(ma); val b = slice(mb)
    // payload = UNION of both versions' columns: vTo may carry columns
    // evolution added after vFrom (and vice versa under time travel) —
    // diffing on one side's columns alone would silently drop the
    // evolved column from the feed AND misclassify rows differing only
    // in it as unchanged. The side lacking a column contributes typed
    // NULLs, exactly what applyChangeSet(evolveSchema = true) replays.
    val payload = (a.columns ++ b.columns).distinct.filterNot(_ == keyCol).toSeq
    def widen(df: DataFrame, other: DataFrame): DataFrame =
      payload.foldLeft(df) { (d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(other.schema(c).dataType))
      }
    val aw = widen(a, b); val bw = widen(b, a)
    val af = aw.select(col(keyCol).as("_k"),
      struct(payload.map(col): _*).as("_before"))
    val bf = bw.select(col(keyCol).as("_k"),
      struct(payload.map(col): _*).as("_after"))
    val diff = af.join(bf, Seq("_k"), "full_outer")
      .where(col("_before").isNull || col("_after").isNull ||
        !(col("_before") <=> col("_after")))
    (diff, payload)
  }

  /** Shared machinery for predicate DML ([[deleteWhere]] /
    * [[updateWhere]]): ONE pass over the current version finds the
    * files that actually CONTAIN matching rows (bounded collect —
    * ≤ #files); only those are rewritten through `transform`, every
    * other file entry carries forward by reference, and the result is
    * one atomic commit. `transform` must preserve non-matching rows
    * (the wrappers do). Returns the committed version — the current
    * one unchanged if nothing matched. */
  private def rewriteTouched(
      spark: SparkSession, dir: String, pred: org.apache.spark.sql.Column,
      partitionCol: Option[String], op: String)(
      transform: DataFrame => DataFrame): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "DML")
    if (m.files.isEmpty) return m.version // nothing to match on an emptied table
    requireLayoutKept(dir, m, partitionCol)
    // row-identity projection instead of input_file_name(): the latter
    // is scan-scoped and goes ambiguous once a DV anti-join sits
    // between the scan and the collect
    val touchedPaths = readFiles(spark, root, m.files, m.schemas,
        withRowId = true)
      .where(pred)
      .select(col(DvFileCol)).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedPaths.isEmpty) return m.version
    // root-relative match — bare NAMES collide across partition dirs
    // of one write job, which would rewrite every same-named sibling
    def isTouched(f: FileEntry): Boolean = touchedPaths(f.path)
    val (doomed, keep) = m.files.partition(isTouched)
    val rewritten = transform(readFiles(spark, root, doomed, m.schemas))
    val (_, fresh) = writeCommitFiles(spark, root, m, rewritten, partitionCol)
    commit(store, root, m, keep ++ fresh,
      Some(rewritten.schema.json), op, full = false)
  }

  /** DELETE WHERE as an atomic commit: rows matching `pred` are
    * removed; only files CONTAINING matches are rewritten (file-level
    * pruning — at 100 TB a point delete rewrites a handful of files,
    * not the table), the rest carry by reference, and every previous
    * version still time-travels with the rows present. */
  def deleteWhere(
      spark: SparkSession, dir: String, pred: org.apache.spark.sql.Column,
      partitionCol: Option[String] = None): Long =
    // delete only rows where pred is definitively TRUE: a NULL
    // predicate must KEEP the row — `!pred` would drop NULL rows in
    // rewritten files while identical rows in untouched files survive
    // (file-placement-dependent results)
    rewriteTouched(spark, dir, pred, partitionCol, "delete")(
      _.where(!coalesce(pred, lit(false))))

  /** DELETE WHERE as MERGE-ON-READ: matching rows are tombstoned in a
    * deletion-vector sidecar (one parquet dataset per DML commit under
    * `dv/`, one packed [[DvBitmap]] row per tombstoned file) referenced
    * from the manifest — the matched files' BYTES never change, readers
    * apply the tombstones as a scan-time bitmap probe ([[readFiles]]),
    * and every prior version still time-travels with the rows present.
    * This inverts [[deleteWhere]]'s copy-on-write economics: a point
    * delete on an UNCLUSTERED predicate (which can touch every file)
    * costs one predicate scan plus an O(matches) sidecar write instead
    * of rewriting the table, at the price of a small read-time join
    * until [[compact]] reconciles the DVs away. Stacked deletes
    * compose: each pass matches only still-visible rows, so per-file
    * tombstone counts are disjoint and [[metaCount]] stays exact off
    * the log. Returns the committed version — unchanged if nothing
    * matched. */
  def deleteWhereDv(
      spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "DML")
    if (m.files.isEmpty) return m.version // nothing to tombstone
    // ONE predicate scan over the currently VISIBLE rows (the DV-aware
    // read excludes prior tombstones, keeping stacked counts disjoint)
    val tombs = writeDvSidecar(spark, root, m,
      readFiles(spark, root, m.files, m.schemas, withRowId = true)
        .where(coalesce(pred, lit(false))))
    if (tombs.isEmpty) return m.version
    // no constraint pass: a pure delete cannot introduce a violating
    // row, and no fresh data files exist to validate
    commit(store, root, m, tombs.stackOn(m.files), newSchema = None,
      op = "delete-dv", full = false)
  }

  /** UPDATE ... SET assignments WHERE pred, same economics as
    * [[deleteWhere]]: non-matching rows in touched files are rewritten
    * verbatim; untouched files never move.
    *
    * SQL UPDATE semantics: the predicate AND every assignment's
    * right-hand side are evaluated against the OLD row — they are
    * staged into temp columns BEFORE any target column mutates, so a
    * later assignment never sees an earlier one's write (a naive
    * sequential `withColumn(c, when(pred, e))` fold would re-evaluate
    * `pred` and RHS against already-mutated columns). */
  def updateWhere(
      spark: SparkSession, dir: String, pred: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      partitionCol: Option[String] = None): Long =
    rewriteTouched(spark, dir, pred, partitionCol, "update")(
      assignOld(_, pred, assignments))

  /** UPDATE's row image: `assignments` applied to the rows of `df`
    * where `gate` holds. `gate` and every right-hand side are
    * evaluated against the OLD row — staged into temp columns before
    * any target column mutates, so a later assignment never sees an
    * earlier one's write. A NULL `gate` keeps the row as it was. */
  private def assignOld(
      df: DataFrame, gate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val staged = assignments.zipWithIndex.map { case ((c, e), i) =>
      (c, s"__graft_set_$i", e)
    }
    val withOldValues = staged.foldLeft(
      df.withColumn("__graft_pred", coalesce(gate, lit(false)))) {
      case (d, (_, tmp, e)) => d.withColumn(tmp, e)
    }
    val applied = staged.foldLeft(withOldValues) { case (d, (c, tmp, _)) =>
      d.withColumn(c, when(col("__graft_pred"), col(tmp)).otherwise(col(c)))
    }
    applied.drop("__graft_pred" +: staged.map(_._2): _*)
  }

  /** UPDATE ... SET as MERGE-ON-READ, completing the DV DML family:
    * the matched rows' OLD images are tombstoned in a deletion-vector
    * sidecar (exactly [[deleteWhereDv]]'s mechanics) and their NEW
    * images are appended as fresh data files — ONE atomic commit, so
    * readers see either the old state or (tombstones + new images),
    * never a half-update. Matched files' bytes never change; at
    * 100 TB a point update on an UNCLUSTERED predicate costs one
    * predicate scan + O(matches) of sidecar and image writes instead
    * of [[updateWhere]]'s copy-on-write file rewrites. Stacks with
    * prior DVs (the predicate scan reads DV-aware, so it sees only
    * visible rows — including images appended by an earlier MoR
    * update); [[metaCount]] stays exact (old rows − tombstones +
    * image rows); [[compact]] reconciles everything physical again.
    *
    * SQL UPDATE semantics match [[updateWhere]]: every RHS is staged
    * against the OLD row before any target column mutates. CHECK
    * constraints are enforced on the new images before publish.
    * Returns the committed version — unchanged if nothing matched. */
  def updateWhereDv(
      spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      partitionCol: Option[String] = None): Long = {
    val (store, root) = storeOf(spark, dir)
    val m = openTable(spark, dir, "DML")
    if (m.files.isEmpty) return m.version // nothing to match on an emptied table
    requireLayoutKept(dir, m, partitionCol)
    // ONE predicate scan over the visible rows, materialized because
    // it feeds BOTH the sidecar and the image write (O(matches) —
    // the frame a MoR update exists to keep small)
    val matched = readFiles(spark, root, m.files, m.schemas,
        withRowId = true)
      .where(coalesce(pred, lit(false)))
      .localCheckpoint()
    val tombs = writeDvSidecar(spark, root, m, matched)
    if (tombs.isEmpty) return m.version
    // new images: RHS staged against the OLD row (every row here
    // matched), reserved row-id columns dropped
    val images = assignOld(matched.drop(DvFileCol, DvPosCol), lit(true), assignments)
    val (_, fresh) = writeCommitFiles(spark, root, m, images, partitionCol)
    // newSchema stays None: the delta's adds include DV-ref-modified
    // entries from OLDER commit dirs, and a header-level schema would
    // be replayed onto ALL add dirs — the fresh dir's schema rides
    // the per-dir map instead
    commit(store, root, m, tombs.stackOn(m.files) ++ fresh, newSchema = None,
      op = "update-dv", full = false,
      extraSchemas = Map(dirOf(fresh.head.path) -> images.schema.json))
  }

  /** MERGE INTO as MERGE-ON-READ, completing the DV DML family
    * (delete → update → merge): matched rows selected for DELETE or
    * UPDATE are tombstoned in a deletion-vector sidecar, UPDATE's new
    * images and the NOT-MATCHED inserts land as fresh data files, all
    * in ONE atomic commit — no pre-existing file's bytes change.
    * Clause surface and semantics match [[mergeInto]] exactly (clause
    * expressions see `t.*`/`s.*`, delete wins over update on a
    * matched row, a NULL condition is false, an idempotent `txn`
    * replay no-ops), but the economics flip: COW merge rewrites every
    * touched PARTITION, MoR merge writes O(changed rows). At 100 TB
    * that is the affordable trickle-upsert — a micro-batch touching a
    * sliver of many partitions costs one pruned join + sidecar/image
    * writes instead of rewriting those partitions wholesale, and
    * [[compact]] amortizes the read-side anti-join away later.
    *
    * Unlike [[mergeInto]]'s full-outer rewrite, target rows whose
    * match fires NO clause never move — so this variant additionally
    * ENFORCES the SQL MERGE cardinality rule on changing rows: two
    * source rows claiming the same target row for delete/update would
    * double-tombstone it and make the surviving image nondeterministic,
    * so the merge aborts (before publish; the table is untouched).
    * Returns the committed version — unchanged if nothing changed. */
  def mergeIntoDv(
      spark: SparkSession, dir: String, source: DataFrame,
      keyCol: String, partitionCol: String,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
      whenMatchedUpdate: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty,
      whenMatchedUpdateCond: Option[org.apache.spark.sql.Column] = None,
      whenNotMatchedInsert: Option[org.apache.spark.sql.Column] = None,
      txn: Option[(String, Long)] = None): Long = {
    val (fs, root) = fsOf(spark, dir)
    val store = logStoreFactory(fs)
    val m = openTable(spark, dir, "mergeIntoDv")
    if (m.applied(txn)) return m.version
    // DV-aware slice of ONLY the partitions the source names — the
    // join is pruned to the data that can possibly match
    val (_, slice) = touchedSlice(spark, root, m,
      sourcePartitions(source, partitionCol), partitionCol, withRowId = true)
    val tFields = slice.schema.fields
      .filterNot(f => f.name == DvFileCol || f.name == DvPosCol)
    val tagged = slice.select(
      struct(tFields.map(f => col(f.name)).toIndexedSeq: _*).as("t"),
      col(DvFileCol), col(DvPosCol))
    val joined = tagged.join(
      source.select(struct(source.columns.map(col).toIndexedSeq: _*).as("s")),
      col("t").getField(keyCol) === col("s").getField(keyCol), "inner")
    val deleteCond = coalesce(
      whenMatchedDelete.getOrElse(lit(false)), lit(false))
    val updateCond = coalesce(
      if (whenMatchedUpdate.isEmpty) lit(false)
      else whenMatchedUpdateCond.getOrElse(lit(true)), lit(false))
    val insertCond = coalesce(
      whenNotMatchedInsert.getOrElse(lit(false)), lit(false))
    // one materialization of the O(changes) frame: it feeds the
    // sidecar, the cardinality check, and the image write
    val changed = joined.where(deleteCond || updateCond).localCheckpoint()
    // cardinality check BEFORE the sidecar packs: duplicate (file, pos)
    // claims mean two source rows changing one target row — abort with
    // the table untouched (nothing has been written yet)
    if (changed.groupBy(col(DvFileCol), col(DvPosCol))
        .agg(count(lit(1)).as("c")).where(col("c") > 1)
        .limit(1).collect().nonEmpty)
      sys.error("MERGE cardinality violation: multiple source rows " +
        s"match the same target row on '$keyCol' with a delete/update " +
        "clause firing — deduplicate the source on the merge key")
    val tombs = writeDvSidecar(spark, root, m, changed)
    // new images for the update clause: every RHS sees the OLD t row
    val assign = whenMatchedUpdate.toMap
    val images = changed.where(!deleteCond && updateCond)
      .select(tFields.map(f =>
        assign.getOrElse(f.name, col("t").getField(f.name))
          .cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    // not-matched inserts: anti-join on the key against the pruned
    // slice (a key living in a partition the source does not name
    // cannot match — same contract as mergeInto)
    val srcCols = source.columns.toSet
    val inserts = source
      .select(struct(source.columns.map(col).toIndexedSeq: _*).as("s"))
      .join(tagged.select(col("t").getField(keyCol).as("__graft_mk")),
        col("s").getField(keyCol) === col("__graft_mk"), "left_anti")
      .where(insertCond)
      .select(tFields.map { f =>
        (if (srcCols.contains(f.name)) col("s").getField(f.name)
         else lit(null)).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
    val freshRows = images.unionByName(inserts)
    val (commitDir, fresh) = writeCommitFiles(spark, root, m, freshRows, Some(partitionCol))
    if (tombs.isEmpty && fresh.isEmpty) { fs.delete(commitDir, true); return m.version }
    // newSchema stays None for the same reason as updateWhereDv: the
    // delta's adds include DV-ref-modified entries from OLDER commit
    // dirs; the fresh dir's schema rides the per-dir map
    commit(store, root, m, tombs.stackOn(m.files) ++ fresh, newSchema = None,
      op = "merge-dv", full = false,
      extraSchemas = fresh.headOption
        .map(f => dirOf(f.path) -> freshRows.schema.json).toMap,
      txn = txn)
  }

  /** [[vacuum]] with WALL-CLOCK version retention (the SQL `VACUUM …
    * RETAIN n HOURS` / log-retention-duration face): keep every
    * version committed within the last `keepMs`, PLUS the newest
    * version at-or-before the cutoff — that one is the retention
    * horizon, so `readAsOfTimestamp(now − keepMs)` keeps working
    * right at the boundary. Resolution rides [[versionAtTimestamp]]'s
    * clock contract (commit timestamps are monotone per log). The
    * same `keepMs` guards orphan data-file age, so a version inside
    * the retention window can never lose its data files. */
  def vacuumRetain(spark: SparkSession, dir: String, keepMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - keepMs
    versionAtTimestamp(spark, dir, cutoff) match {
      case None =>
        // every retained version is newer than the cutoff — nothing to
        // drop; still sweep orphans older than the retention
        vacuum(spark, dir, keepVersions = None, retentionMs = keepMs)
      case Some(h) =>
        val (store, root) = storeOf(spark, dir)
        val (vs, _) = listLog(store, root)
        vacuum(spark, dir,
          keepVersions = Some(vs.size - vs.indexOf(h)),
          retentionMs = keepMs)
    }
  }

  /** Reclaim files referenced by NO retained manifest and, when
    * `keepVersions` is set, retire manifests older than the newest
    * `keepVersions` first (time travel shrinks accordingly). Before
    * any manifest is dropped, the retention horizon gets a CHECKPOINT
    * (if the cadence hasn't already written one) so the oldest
    * retained version stays reconstructible without the dropped delta
    * tail — the log-cleanup discipline incremental manifests require.
    * Checkpoints older than the horizon are retired with their
    * manifests. Returns the number of data files deleted.
    *
    * Retention guard: an IN-FLIGHT commit's data files are also
    * "referenced by no manifest" until its publish — deleting them
    * would corrupt the version it is about to publish. Files modified
    * within `retentionMs` of now are therefore spared (the Delta
    * VACUUM retention discipline; default 7 days). Pass 0 only when
    * no writer can be active (tests, decommission). The wall-clock
    * here is the vacuum RUNNER's — writers on skewed clocks are
    * covered only up to the skew, so keep `retentionMs` comfortably
    * above any plausible clock drift + commit duration (the same
    * exposure Delta's VACUUM documents). Unreferenced files OLDER
    * than the window truly can never become referenced — publication
    * always targets freshly written dirs. */
  def vacuum(
      spark: SparkSession, dir: String,
      keepVersions: Option[Int] = None,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val (fs, root) = fsOf(spark, dir)
    val store = logStoreFactory(fs)
    val (manifestVs, ckptVs) = listLog(store, root)
    val live = scala.collection.mutable.HashSet.empty[String]
    val liveDv = scala.collection.mutable.HashSet.empty[String]
    // A table with NO published version ("never born": a writer
    // crashed between writing its first commit's data files and the
    // manifest publish) has an EMPTY live set — every data file under
    // it is a staged orphan, reclaimed behind the same age guard. The
    // pre-r17 early-return here left first-commit crash debris
    // unreclaimable forever (PairTxn's stage-then-intent protocol made
    // the window real).
    if (manifestVs.nonEmpty) {
    val dropped = keepVersions match {
      case Some(k) if manifestVs.size > k => manifestVs.dropRight(k)
      case _ => Seq.empty
    }
    val retained = manifestVs.diff(dropped)
    val horizon = retained.head
    // live = state(horizon) ∪ every add in the retained delta tail: a
    // path referenced by ANY retained version is either already live
    // at the horizon or was added after it. ONE replay total.
    val horizonState =
      readSnapshots(store, root, (manifestVs, ckptVs), Seq(horizon))(horizon)
    if (dropped.nonEmpty && !ckptVs.contains(horizon)) {
      // the horizon must stay reconstructible once its delta ancestry
      // is gone — identical-bytes rule makes a racing writer harmless
      val liveDirs = horizonState.files.map(f => dirOf(f.path)).toSet
      // carry the txn ledger + table properties: a reconstruction
      // from this checkpoint must keep enforcing CHECK constraints and
      // deduplicating replayed idempotent-writer batches (losing
      // either would silently break exactly-once / constraint
      // guarantees for every post-vacuum reader)
      store.writeIfAbsent(checkpointPath(root, horizon),
        ManifestJson.render(horizon, horizon, "checkpoint", "checkpoint",
          horizonState.files, Seq.empty,
          schemas = horizonState.schemas.view.filterKeys(liveDirs).toMap,
          txns = horizonState.txns, props = horizonState.props))
    }
    dropped.foreach(v => store.delete(manifestPath(root, v)))
    ckptVs.filter(_ < horizon).foreach(v => store.delete(checkpointPath(root, v)))
    horizonState.files.foreach { f =>
      live += f.path; f.dvs.foreach(liveDv += _.dir)
    }
    retained.drop(1).foreach { v =>
      ManifestJson.parse(store.read(manifestPath(root, v)), s"manifest $v")
        .adds.foreach { a => live += a.path; a.dvs.foreach(liveDv += _.dir) }
    }
    }
    val cutoff = System.currentTimeMillis() - retentionMs
    val rootStr = root.toString + "/"
    var n = 0
    // Open-intent sentinels ([[PairTxn]]): a version whose sentinel
    // names a txn that is STILL OPEN (intent record present, no
    // resolution marker) keeps its staged `data/v{N}-*` dirs whatever
    // their age — roll-forward will publish them. A sentinel whose txn
    // is resolved (marker present) or retired (no record) protects
    // only within the retention window (the pre-intent crash shape),
    // then it is itself debris and deletes here. An unreadable claim
    // protects within retention — never a guess past it.
    val protectedVs: Set[Long] = {
      val sDir = new Path(root, IntentSentinelDir)
      if (!fs.exists(sDir)) Set.empty
      else fs.listStatus(sDir).flatMap { st =>
        val v = st.getPath.getName.stripPrefix("v").toLongOption
        if (v.isEmpty || !st.getPath.getName.startsWith("v")) None
        else {
          val lines =
            try store.read(st.getPath).linesIterator.toSeq
            catch { case _: Exception => Seq.empty }
          val withinRetention = lines.lift(3).flatMap(_.toLongOption)
            .getOrElse(st.getModificationTime) > cutoff
          val protect = lines.headOption match {
            case Some("txn") if lines.size >= 3 =>
              try {
                val (cs, cr) = storeOf(spark, lines(1))
                val coordNames = cs.list(new Path(cr, "_graft_pairtxn"))
                val id = lines(2)
                if (coordNames.contains(s"$id.done") ||
                    coordNames.contains(s"$id.aborted")) false
                else if (coordNames.contains(s"$id.json")) true
                else withinRetention
              } catch { case _: Exception => withinRetention }
            case _ => withinRetention
          }
          if (!protect) fs.delete(st.getPath, false)
          if (protect) v else None
        }
      }.toSet
    }
    val dataDir = new Path(root, "data")
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(rootStr)
        val claimed = protectedVs.nonEmpty &&
          protectedVs.exists(v => rel.startsWith(s"data/v$v-"))
        if (st.isFile && rel.endsWith(".parquet") && !live(rel) &&
          !claimed && st.getModificationTime <= cutoff) doomed += st.getPath
      }
      doomed.foreach { p => if (fs.delete(p, false)) n += 1 }
    }
    // deletion-vector sidecars: a dataset dir is live while ANY
    // retained entry references it (compaction drops refs file by
    // file; the dataset falls out of scope only when the last
    // referencing entry is rewritten or its version retired). Same
    // retention guard — an in-flight DV commit's sidecar is written
    // before its manifest publishes.
    val dvRoot = new Path(root, "dv")
    if (fs.exists(dvRoot)) {
      fs.listStatus(dvRoot).foreach { st =>
        val rel = "dv/" + st.getPath.getName
        // an open intent's staged MoR side has its tombstone sidecar on
        // disk before any manifest names it — the same sentinel claim
        // that spares data/v{N}-* spares dv/v{N}-*
        val claimed = protectedVs.nonEmpty &&
          protectedVs.exists(v => st.getPath.getName.startsWith(s"v$v-"))
        if (st.isDirectory && !liveDv(rel) && !claimed) {
          val members = fs.listStatus(st.getPath)
          val newest =
            if (members.isEmpty) st.getModificationTime
            else members.map(_.getModificationTime).max
          if (newest <= cutoff) {
            val nFiles = members.count(_.getPath.getName.endsWith(".parquet"))
            if (fs.delete(st.getPath, true)) n += nFiles
          }
        }
      }
    }
    n
  }
}
