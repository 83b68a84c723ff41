package graft.ingest

import graft.interop.{CommitIntrospect, Evolve, Identity, MergeOnRead, OptimisticCommit,
  RewriteFiles}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Snapshot-versioned parquet table — the transactional-table semantics
  * (snapshot isolation, time travel, MERGE, retention) the rewrite family
  * in [[Writers]] cannot give: its tmp+rename-aside swap leaves a window
  * in which a concurrent reader sees the dataset mid-swap (r4 verdict,
  * "What's missing" #1). Delta/Iceberg jars do not exist in this
  * environment (SURVEY §7.5 G6), so this implements the core of their
  * commit protocol directly on `org.apache.hadoop.fs`:
  *
  *  - Every commit creates an IMMUTABLE version directory `v{N}` holding
  *    its new data files plus a `_manifest` listing EVERY file of the
  *    snapshot — new files by local path, files inherited from earlier
  *    versions BY REFERENCE. Data files are never modified or moved.
  *  - `_claim` is created FIRST with atomic create-if-absent — two racing
  *    writers cannot both own a version. A REPLACE-ALL commit advances
  *    past a taken slot (its content is base-independent; concurrent
  *    replace-alls are last-writer-wins by contract). A DERIVED commit
  *    (append/upsert/delete/partitioned merge) must claim EXACTLY
  *    base+1: losing that claim means another writer committed from the
  *    same base, and advancing would silently drop their rows (the
  *    lost-update anomaly) — losers fail with
  *    ConcurrentModificationException and retry from the new snapshot,
  *    Delta's optimistic log-entry semantics. [[upsertPartitioned]]
  *    narrows the guard with LOGICAL conflict detection
  *    ([[claimDisjoint]]): a loser whose rival provably changed only
  *    OTHER partitions rebases onto the rival's snapshot and lands
  *    without surfacing a retry — partition-disjoint writers commit
  *    concurrently, overlapping ones still fail loudly.
  *  - `_committed` is created LAST, after the data and the manifest are
  *    fully written: its atomic appearance IS the commit. A reader either
  *    sees the whole snapshot or none of it — no intermediate state, so
  *    concurrent readers NEVER observe a partial table.
  *  - Every commit records the committed frame's schema in `_meta`
  *    (`graft.schema`), which buys three things: an all-rows DELETE
  *    publishes a legitimately EMPTY snapshot that still reads (as an
  *    empty frame with the right schema, not an error); the reader can
  *    skip parquet footer inference; and [[readEntries]] can prove a
  *    multi-version history is drift-free and collapse it into ONE scan
  *    (see below).
  *  - Readers resolve `current = max committed version` once, at
  *    DataFrame construction, and pin that manifest: a commit landing
  *    mid-query changes nothing for them (snapshot isolation);
  *    [[readAt]] is time travel to any retained version.
  *  - READER-PLAN GROWTH (r5 verdict #1): a long `appendCommit` history
  *    owns files across many version dirs. When every owning version
  *    recorded the SAME schema and the layout is unpartitioned,
  *    [[readEntries]] hands ALL files to one `spark.read.parquet` — one
  *    scan node regardless of commit count. Only genuine drift
  *    (per-version unionByName) or a partitioned layout (per-base
  *    partition recovery) pay per-version plan nodes, and
  *    [[compactFiles]] folds either case back to a single version.
  *  - [[upsertPartitioned]] is the 100 TB MERGE shape: only partitions
  *    containing updated keys are rewritten; every other file is carried
  *    into the new manifest by reference — metadata-only, zero data
  *    copied (s18's entry `require`s exactly this). Partitioning may be
  *    multi-column (`date=…/region=…`); [[upsert]] remains the
  *    full-snapshot fallback for unpartitioned tables.
  *  - MULTI-TABLE CONSISTENCY (r7 verdict #7): there is deliberately NO
  *    cross-table transaction. The supported two-table pattern (the
  *    CDF-consumer loop: source table → change feed → materialized
  *    view) gets exactly-once convergence from two per-TABLE
  *    guarantees composed: (1) the applied-source-version watermark
  *    rides the FINAL commit of each feed's apply atomically in that
  *    commit's `_meta`, and recovery reads the LATEST commit carrying
  *    a watermark (never just the head — a crash can leave the apply
  *    pair's watermark-less first half on top); (2) every apply step
  *    is idempotent under replay (a re-run delete discovers zero
  *    positions against the already-deleted view; a re-run append
  *    lands the images the crash lost). A crash at ANY point between
  *    the two tables' commits therefore leaves a state the next loop
  *    run converges from — spec'd in VersionedSpec ("two-table CDF
  *    pair") and exercised end-to-end by stream_t11.
  *  - [[vacuum]] is the retention knob: drops version directories that
  *    are neither retained nor referenced by any retained manifest, then
  *    reclaims INDIVIDUAL superseded files inside still-referenced old
  *    version dirs (per-file GC — a `_gc` tombstone marks the dir as
  *    history-unreadable while its surviving files remain addressable
  *    by newer manifests).
  *
  * Scale notes: a resolve costs one directory listing + one manifest
  * resolution (O(files in snapshot) metadata, zero data IO); commits
  * rename nothing. Manifest STORAGE is Delta/Iceberg's checkpoint +
  * delta-log split (r6 verdict #1): a derived hot-path commit
  * (append / once-append / merge-on-read delete / partitioned MERGE)
  * writes a `_delta` file — a base-version pointer plus only its own
  * `add`/`remove` lines, O(delta) metadata per commit instead of
  * rewriting an O(snapshot-file-count) manifest (~60 MB per commit at
  * a million files). Replace/rewrite commits are natural full-manifest
  * checkpoints, and a delta chain is folded into a fresh checkpoint
  * every [[CheckpointEvery]] commits, so resolution walks a bounded
  * chain. Readers resolve checkpoint+deltas to the SAME entry sequence
  * a full manifest would have held (base order preserved, removes
  * filtered, adds appended) — storage changed, reader/writer semantics
  * identical. [[vacuum]] repairs metadata chains before deleting a
  * version dir a surviving delta still resolves through
  * (materializing that survivor into a checkpoint via atomic
  * tmp+rename — it is already committed, so a torn write may not
  * corrupt it). On HDFS, create-if-absent and close-then-visible are
  * atomic; on strongly-consistent object stores the claim becomes a
  * conditional PUT — the one primitive a production port swaps in.
  */
object Versioned {

  private val CommittedFile = "_committed"
  private val ManifestFile = "_manifest"
  private val DeltaFile = "_delta"
  private val MetaFile = "_meta"
  private val GcFile = "_gc"
  private val TxnRefFile = "_txnref"
  private val TxnIdKey = "graft.txnId"

  /** Fold a delta chain into a full checkpoint manifest once it grows
    * this long — bounds both resolution cost (chain walk ≤ this many
    * small files) and repair cost in [[vacuum]]. 20 matches Delta's
    * per-10-commit order of magnitude while keeping the amortized
    * metadata write O(delta). */
  private val CheckpointEvery = 20

  /** Manifest entry kinds: `data` is a snapshot data file; `dv` is a
    * merge-on-read POSITIONAL deletion vector (a parquet of
    * `(rel_path, pos, len)` runs applied as a broadcast row-index
    * filter — no join in the read plan); `delete` is the legacy keyed
    * delete file (a single-column parquet of keys that readers
    * anti-join against data files from EARLIER versions — still read,
    * no longer written by default). */
  val KindData = "data"
  val KindDelete = "delete"
  val KindDv = "dv"

  /** Internal metadata column names for position-aware reads. */
  private val FileMetaCol = "__graft_file"
  private val PosMetaCol = "__graft_pos"

  /** Last (data files scanned, data files total) of a
    * [[deleteMergeOnRead]] position discovery per table — the
    * observable specs `require` stats pruning through. */
  private val dvDiscovery = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  def lastDvDiscovery(path: String): Option[(Int, Int)] = Option(dvDiscovery.get(path))

  /** `_meta` key carrying the committed frame's schema as Spark JSON. */
  private val SchemaKey = "graft.schema"

  /** `_meta` key carrying the commit's column-id map (`name:id` pairs,
    * comma-separated) — Iceberg-style STABLE ids under the logical
    * names. Ids are carried forward by name on every commit and minted
    * (max+1) for new columns, so [[renameColumn]] can move a name while
    * readers keep matching files to columns BY ID: rename and drop are
    * metadata-only commits, zero data rewritten. */
  private val ColIdsKey = "graft.colIds"

  private def parseColIds(s: String): Map[String, Int] =
    s.split(",").filter(_.nonEmpty).map { kv =>
      val i = kv.lastIndexOf(':')
      kv.substring(0, i) -> kv.substring(i + 1).toInt
    }.toMap

  private def renderColIds(m: Map[String, Int]): String =
    m.toSeq.sortBy(_._2).map { case (n, i) => s"$n:$i" }.mkString(",")

  private def colIdsOf(fs: FileSystem, root: HPath, v: Long): Map[String, Int] =
    readMeta(fs, root, v).get(ColIdsKey).map(parseColIds).getOrElse(Map.empty)

  /** Carry the base commit's column ids forward by name and mint fresh
    * ids for columns this commit introduces. A column that disappears
    * from the schema simply drops out of the map (its id is never
    * reused — minting is max+1 over ALL ids ever seen in the base). */
  private def carryColIds(
      fs: FileSystem, root: HPath, prev: Option[Long], schema: StructType): Map[String, Int] = {
    val old = prev.map(v => colIdsOf(fs, root, v)).getOrElse(Map.empty)
    var next = (0 +: old.values.toSeq).max
    schema.fieldNames.map { n =>
      n -> old.getOrElse(n, { next += 1; next })
    }.toMap
  }

  /** The (schema, column ids) a snapshot version presents to readers —
    * what files from OTHER owning versions must be aligned to. */
  private final case class Target(schema: StructType, ids: Map[String, Int])

  private def targetOf(fs: FileSystem, root: HPath, v: Long): Option[Target] =
    metaSchema(fs, root, v).map(s => Target(s, colIdsOf(fs, root, v)))

  /** Shared JSON codec for manifest statistics — ObjectMapper is
    * thread-safe after configuration and costs real time to construct;
    * a per-entry instance would be O(#files) driver overhead at scale. */
  private lazy val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One snapshot file: path relative to the table root (so manifests
    * survive a table-root move), the Hive partition fragment it belongs
    * to (`a=1` or `a=1/b=x` for multi-column layouts; empty for
    * unpartitioned commits), its kind ([[KindData]]/[[KindDelete]]),
    * and optional per-file column statistics — canonical JSON
    * `{"col":{"min":…,"max":…}}` (numbers for numeric columns,
    * lexically-ordered canonical strings for string/date/timestamp) —
    * the Iceberg-style metadata [[readSkipping]] prunes on without
    * opening a single file. Stats travel WITH the entry: a file carried
    * by reference through later commits keeps its statistics. */
  final case class ManifestEntry(
      relPath: String, partDir: String, kind: String = KindData, stats: Option[String] = None,
      // IN-MEMORY ONLY (never serialized into the native manifest):
      // the file's exact byte length when the SOURCE metadata already
      // records it (Delta `add.size`, Iceberg `file_size_in_bytes`) —
      // lets the planning FileIndex mint FileStatuses without one
      // getFileStatus RPC per file, which at 100 TB is the difference
      // between O(log bytes) and O(files) driver round-trips per plan
      size: Option[Long] = None)

  /** The version directory that physically holds a manifest entry. */
  private def entryVersion(e: ManifestEntry): Long =
    parseVersion(e.relPath.takeWhile(_ != '/')).getOrElse(
      throw new IllegalStateException(s"Versioned: malformed manifest path ${e.relPath}"))

  private def versionDir(root: HPath, v: Long) = new HPath(root, f"v$v%05d")
  private def dataDir(root: HPath, v: Long) = new HPath(versionDir(root, v), "data")

  private def parseVersion(name: String): Option[Long] =
    if (name.length >= 6 && name.head == 'v' && name.tail.forall(_.isDigit))
      Some(name.tail.toLong)
    else None

  /** Committed AND not file-GC'd: a `_gc` tombstone means vacuum
    * reclaimed superseded files inside the dir, so the version's own
    * snapshot is no longer readable (its surviving files live on, still
    * addressable by the newer manifests that reference them).
    *
    * A version staged under a multi-table transaction ([[commitTxn]])
    * whose coordinator has DECIDED commits lazily here: the first
    * reader to look rolls the `_committed` marker forward. The extra
    * `_txnref` probe only runs for dirs with no marker — in-flight or
    * crashed claims, never the committed common case. */
  private def isCommitted(fs: FileSystem, root: HPath, v: Long): Boolean = {
    val dir = versionDir(root, v)
    (fs.exists(new HPath(dir, CommittedFile)) || txnRollForward(fs, dir)) &&
      !fs.exists(new HPath(dir, GcFile))
  }

  /** All committed versions, ascending. Crashed attempts (claimed but
    * never committed) and file-GC'd history are invisible here by
    * construction. */
  def versions(path: String): Seq[Long] = {
    val (fs, root) = Writers.fsFor(path)
    if (!fs.exists(root)) Nil
    else
      fs.listStatus(root).toSeq
        .flatMap(st => parseVersion(st.getPath.getName))
        .filter(v => isCommitted(fs, root, v))
        .sorted
  }

  def currentVersion(path: String): Option[Long] = versions(path).lastOption

  /** The current version of `path`; refuses a table with none. */
  private def headOf(path: String, op: String): Long = currentVersion(path).getOrElse(
    throw new IllegalArgumentException(s"Versioned.$op: no committed version under $path"))

  /** The committed manifest of `version` — public so callers (and s18's
    * copy-on-write proof) can inspect which files a snapshot references. */
  def manifest(path: String, version: Long): Seq[ManifestEntry] = {
    val (fs, root) = Writers.fsFor(path)
    require(isCommitted(fs, root, version),
      s"Versioned.manifest: version $version of $path is not committed")
    readManifest(fs, root, version)
  }

  private def readTextFile(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parseEntryLine(line: String): ManifestEntry = {
    val i = line.indexOf('\t')
    val j = line.indexOf('\t', i + 1)
    if (j < 0) // legacy 2-field line (pre-kind format): partDir \t relPath
      ManifestEntry(relPath = line.substring(i + 1), partDir = line.substring(0, i))
    else {
      val k = line.indexOf('\t', j + 1)
      if (k < 0) ManifestEntry(
        kind = line.substring(0, i),
        partDir = line.substring(i + 1, j),
        relPath = line.substring(j + 1))
      else {
        // 4th field: SIZE (digits) in the current format; a legacy
        // line's 4th field was the stats JSON (starts with '{' — the
        // compact rendering escapes control chars, so no literal tab
        // ever splits it). 5th field, when present: stats JSON.
        val rest = line.substring(k + 1)
        val base = ManifestEntry(
          kind = line.substring(0, i),
          partDir = line.substring(i + 1, j),
          relPath = line.substring(j + 1, k))
        if (rest.startsWith("{")) base.copy(stats = Some(rest))
        else {
          val m = rest.indexOf('\t')
          val szStr = if (m < 0) rest else rest.substring(0, m)
          base.copy(
            stats = if (m < 0) None else Some(rest.substring(m + 1)),
            size = szStr.toLongOption.filter(_ >= 0))
        }
      }
    }
  }

  private def renderEntryLine(e: ManifestEntry): String =
    s"${e.kind}\t${e.partDir}\t${e.relPath}\t${e.size.getOrElse(-1L)}" +
      e.stats.map("\t" + _).getOrElse("")

  /** A parsed `_delta` file: the committed version it derives from,
    * entries it adds, and (partDir, relPath) pairs it removes from the
    * base manifest — removes carry their partition dir so a concurrent
    * writer can compute a rival delta's touched-partition set without
    * resolving the rival's base manifest. */
  private final case class Delta(
      base: Long, adds: Seq[ManifestEntry], removes: Seq[(String, String)])

  private def readDelta(fs: FileSystem, root: HPath, v: Long): Delta = {
    val lines = readTextFile(fs, new HPath(versionDir(root, v), DeltaFile))
      .split("\n").toSeq.filter(_.nonEmpty)
    require(lines.headOption.exists(_.startsWith("base\t")),
      s"Versioned: malformed delta for v$v — missing base pointer")
    val base = lines.head.substring(5).toLong
    val adds = lines.tail.collect { case l if l.startsWith("add\t") => parseEntryLine(l.substring(4)) }
    val removes = lines.tail.collect { case l if l.startsWith("remove\t") =>
      val body = l.substring(7)
      val i = body.indexOf('\t')
      (body.substring(0, i), body.substring(i + 1))
    }
    Delta(base, adds, removes)
  }

  /** Resolve the manifest of `v`: a full `_manifest` checkpoint is
    * authoritative (also the crash-safe tie-break when a repair left a
    * stale `_delta` beside it); otherwise fold the `_delta` chain onto
    * its base — surviving base entries in base order, then the adds, the
    * SAME sequence a full manifest write would have produced, so every
    * downstream consumer (readers, CDF diffs, the streaming source's
    * per-version file sets) sees storage-independent metadata. Chain
    * depth is bounded by [[CheckpointEvery]]. */
  private def readManifest(fs: FileSystem, root: HPath, v: Long): Seq[ManifestEntry] = {
    val dir = versionDir(root, v)
    if (fs.exists(new HPath(dir, ManifestFile))) {
      readTextFile(fs, new HPath(dir, ManifestFile))
        .split("\n").toSeq.filter(_.nonEmpty).map(parseEntryLine)
    } else if (fs.exists(new HPath(dir, DeltaFile))) {
      val d = readDelta(fs, root, v)
      val rm = d.removes.map(_._2).toSet
      readManifest(fs, root, d.base).filterNot(e => rm.contains(e.relPath)) ++ d.adds
    } else
      throw new IllegalStateException(
        s"Versioned: v$v of $root has neither a manifest checkpoint nor a delta — " +
          "metadata chain broken (manual deletion under the table root?)")
  }

  private def writeManifest(fs: FileSystem, root: HPath, v: Long, entries: Seq[ManifestEntry]): Unit = {
    val out = fs.create(new HPath(versionDir(root, v), ManifestFile), false)
    try out.write(entries.map(renderEntryLine).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def writeDelta(
      fs: FileSystem, root: HPath, v: Long, base: Long,
      adds: Seq[ManifestEntry], removes: Seq[(String, String)]): Unit = {
    val lines = s"base\t$base" +:
      (removes.map { case (pd, rp) => s"remove\t$pd\t$rp" } ++
        adds.map(e => "add\t" + renderEntryLine(e)))
    val out = fs.create(new HPath(versionDir(root, v), DeltaFile), false)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** `_meta` key caching a delta commit's own chain depth so the next
    * writer's checkpoint decision costs ONE metadata read instead of a
    * walk. Only consulted when the dir really holds a delta — a later
    * vacuum repair that materializes a checkpoint beside a stale hint
    * is answered by the `_manifest` check first. */
  private val ChainLenKey = "graft.chainLen"

  /** Number of delta hops from `v` back to the nearest checkpoint (0 if
    * `v` itself holds a full manifest). */
  private def chainLen(fs: FileSystem, root: HPath, v: Long): Int = {
    if (fs.exists(new HPath(versionDir(root, v), ManifestFile))) 0
    else readMeta(fs, root, v).get(ChainLenKey) match {
      case Some(n) => n.toInt
      case None    => 1 + chainLen(fs, root, readDelta(fs, root, v).base) // legacy walk
    }
  }

  /** The committed versions whose metadata `v`'s resolution walks
    * through (excluding `v` itself) — what [[vacuum]]'s chain repair
    * must keep intact. */
  private def chainVersions(fs: FileSystem, root: HPath, v: Long): Seq[Long] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cur = v
    while (!fs.exists(new HPath(versionDir(root, cur), ManifestFile))) {
      cur = readDelta(fs, root, cur).base
      acc += cur
    }
    acc.toSeq
  }

  /** List the parquet files a fresh write left under `v`'s `subdir` as
    * manifest entries of `kind`. `partitioned` controls whether the
    * path between `subdir` and the file is required to be a chain of
    * `col=value` fragments (partitionBy layout, possibly multi-level). */
  private def localEntries(
      fs: FileSystem, root: HPath, v: Long,
      partitioned: Boolean, subdir: String = "data", kind: String = KindData): Seq[ManifestEntry] = {
    val dir = new HPath(versionDir(root, v), subdir)
    if (!fs.exists(dir)) return Nil // an empty frame writes no files at all
    val it = fs.listFiles(dir, true)
    val acc = scala.collection.mutable.ArrayBuffer.empty[ManifestEntry]
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val subUri = dir.toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      if (p.getName.endsWith(".parquet")) {
        val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        val partDir =
          if (!partitioned) ""
          else {
            val frag = p.getParent.toUri.getPath.stripPrefix(subUri).stripPrefix("/")
            require(frag.nonEmpty && frag.split("/").forall(_.contains("=")),
              s"Versioned: expected col=value partition dirs between $dir and $p, got '$frag'")
            frag
          }
        acc += ManifestEntry(rel, partDir, kind, size = Some(st.getLen))
      }
    }
    acc.toSeq.sortBy(_.relPath)
  }

  /** Atomic create-if-absent for the claim file. On HDFS (and stores
    * with conditional create) `fs.create(overwrite=false)` is atomic
    * server-side — but Hadoop's LOCAL filesystem implements it as
    * check-then-act, which the concurrency spec caught losing a claim
    * under load (two writers in one data dir). For `file:` schemes the
    * claim therefore goes through POSIX O_CREAT|O_EXCL
    * (`java.nio.Files.createFile`), which IS atomic. Only the
    * file-already-exists outcome means "claim lost" — any other
    * IOException (safe mode, permissions, connectivity) propagates, so a
    * persistent FS fault surfaces instead of spinning the claim loop
    * through version numbers forever.
    *
    * Acquisition is PLUGGABLE ([[LockProvider]], r7 verdict #2): the
    * default rides create-if-absent (local FS / HDFS); a deployment on
    * a store whose file creation is not atomic swaps in a provider
    * built on that store's conditional PUT — the rest of the protocol
    * (rebase, recovery, vacuum) only ever talks to the seam. */
  @volatile private var lockProvider: LockProvider = LocalExclusiveLock

  /** Swap the claim-acquisition provider (deployment-time choice;
    * specs use the scoped form below). */
  def setLockProvider(p: LockProvider): Unit = lockProvider = p

  /** Run `body` under `p`, restoring the prior provider after — the
    * spec-facing scope guard. Not re-entrant across concurrent scopes
    * with DIFFERENT providers (a deployment picks one provider). */
  def withLockProvider[T](p: LockProvider)(body: => T): T = {
    val prev = lockProvider
    lockProvider = p
    try body finally lockProvider = prev
  }

  private def atomicClaim(fs: FileSystem, dir: HPath): Boolean =
    lockProvider.tryAcquire(fs, dir)

  /** Claim the next free version ≥ current+1 (atomic create-if-absent;
    * the loser of a race advances, within [[OptimisticCommit.MaxAttempts]]).
    * Returns the claimed version. Used by the REPLACE-ALL [[commit]],
    * whose content does not depend on the base snapshot — concurrent
    * replace-alls are last-writer-wins by contract, so advancing past a
    * taken slot is safe (no rival can conflict). */
  private def claimNext(fs: FileSystem, root: HPath, path: String): Long = {
    fs.mkdirs(root)
    OptimisticCommit.run(s"Versioned.commit to $path", OptimisticCommit.Append,
        currentVersion(path).getOrElse(0L), CommitIntrospect.versionedRebases)(_ => ())(
      (b, _) => claimExact(fs, root, b))(b => (Iterator.empty, b + 1))
  }

  /** Claim EXACTLY base+1 or fail — the optimistic-concurrency rule for
    * every DERIVED commit (append/upsert/delete/partitioned merge),
    * whose new snapshot was computed FROM `base`: if base+1 is already
    * claimed, another writer is committing from the same (or newer) base
    * and silently advancing would publish a snapshot that drops their
    * changes — the lost-update anomaly. Exactly one contender wins the
    * claim; losers get a ConcurrentModificationException and must
    * re-read the new current snapshot and retry (Delta's log-entry
    * semantics). A claim left by a CRASHED writer blocks derived commits
    * by design — see [[recoverClaims]]. */
  private def claimExact(fs: FileSystem, root: HPath, base: Long): Long = {
    val v = base + 1
    val dir = versionDir(root, v)
    fs.mkdirs(dir)
    if (!atomicClaim(fs, dir))
      throw new java.util.ConcurrentModificationException(
        s"Versioned: version $v is already claimed — a concurrent commit derived from " +
          s"base $base (or a crashed attempt; see recoverClaims). Re-read and retry.")
    v
  }

  /** The partition dirs a committed version CHANGED, when that is
    * knowable without resolving manifests: a delta commit's adds ∪
    * removes carry their partDirs explicitly. None means "cannot
    * reason" — a full-manifest checkpoint (replace/rewrite/fold), a
    * merge-on-read delete file (keyed, applies across partitions), or
    * an unpartitioned add — and the caller must treat it as conflicting
    * with everything. */
  private def changedPartDirs(fs: FileSystem, root: HPath, w: Long): Option[Set[String]] = {
    val dir = versionDir(root, w)
    if (fs.exists(new HPath(dir, ManifestFile)) || !fs.exists(new HPath(dir, DeltaFile))) None
    else {
      val d = readDelta(fs, root, w)
      if (d.adds.exists(_.kind != KindData)) None
      // an EMPTY delta is a metadata-only commit (rename/drop): it
      // changed the SCHEMA every later commit publishes under — a rival
      // merge rebasing over it would silently revert the evolution
      else if (d.adds.isEmpty && d.removes.isEmpty) None
      else {
        val dirs = d.adds.map(_.partDir).toSet ++ d.removes.map(_._1)
        if (dirs.exists(_.isEmpty)) None else Some(dirs)
      }
    }
  }

  /** How long a rebasing claim waits for an in-flight rival to publish
    * before treating it as crashed. Property-tunable so specs that
    * deliberately stage a crashed claim don't pay the full window. */
  private def inflightWaitMs: Long =
    sys.props.get("graft.versioned.inflightWaitMs").map(_.toLong).getOrElse(10000L)

  /** Wait (bounded) for the in-flight rival holding `b`+1 to resolve.
    * Returns Right(the versions that landed above `b`) — non-empty when
    * the rival (and possibly others) published, EMPTY when the rival
    * abandoned its claim without publishing (an [[appendCommitOnce]]
    * that discovered its batch already committed removes `_claim` and
    * walks away; the slot is claimable again). A rival that does
    * neither inside the window is indistinguishable from a crash: it
    * comes back as Left, a rival the commit core refuses to rebase
    * over, for [[recoverClaims]] to arbitrate. */
  private def awaitRival(fs: FileSystem, root: HPath, path: String,
      b: Long): Either[OptimisticCommit.Rival, Seq[Long]] = {
    val claimDir = versionDir(root, b + 1)
    val deadline = System.currentTimeMillis() + inflightWaitMs
    var landed = versions(path).filter(_ > b)
    while (landed.isEmpty && System.currentTimeMillis() < deadline) {
      if (!lockProvider.isHeld(fs, claimDir)) {
        // claim gone, nothing committed: the rival abandoned — but
        // re-check for a publication that raced the claim removal
        val last = versions(path).filter(_ > b)
        if (last.isEmpty) return Right(Nil)
        landed = last
      } else {
        Thread.sleep(50L)
        landed = versions(path).filter(_ > b)
      }
    }
    if (landed.isEmpty) Left(OptimisticCommit.Restructured(s"version ${b + 1} of $path",
      s"stayed claimed without publishing for $inflightWaitMs ms, a crashed attempt " +
        "(see recoverClaims)"))
    else Right(landed)
  }

  /** Claim for a PARTITION-SCOPED derived commit ([[OptimisticCommit]]
    * with the touched partitions as the read set): when base+1 is
    * taken, wait for the in-flight rival, then rebase when every
    * version that landed after `base` is a partition-scoped delta whose
    * changed partitions (adds and removes) are DISJOINT from
    * `touchedDirs` — this writer's read and remove sets are then
    * untouched in the new current manifest, so it derives from the new
    * head with no data recomputed. Any overlap, or a rival whose change
    * set is unknowable (rewrites, checkpoints, MoR deletes), refuses.
    * Returns (claimed version, the base actually derived from). */
  private def claimDisjoint(
      fs: FileSystem, root: HPath, path: String, base: Long,
      touchedDirs: Set[String]): (Long, Long) =
    OptimisticCommit.run(s"Versioned merge into $path", OptimisticCommit.Rewrite(touchedDirs),
        base, CommitIntrospect.versionedRebases)(_ => ())((b, _) => (claimExact(fs, root, b), b)) {
      b =>
        // empty = the rival abandoned its claim: re-claim b+1 as-is
        awaitRival(fs, root, path, b).fold(stuck => (Iterator(stuck), b), landed =>
          (landed.iterator.map(w => OptimisticCommit.Touched(s"concurrent commit v$w",
            changedPartDirs(fs, root, w))), (b +: landed).max))
    }

  /** Claim for a PURE-ADD derived commit ([[appendCommit]] and friends):
    * an append has no read set and removes nothing, so it commutes with
    * ANY published rival — another append, a rewrite, a compaction
    * checkpoint, a merge-on-read delete (version-sequencing keeps the
    * appended rows out of its scope) — with ONE exception: a rival that
    * changed the schema/column-id mapping. This append would republish
    * its own schema with ids carried from the new head, silently
    * reverting the rival's evolution (or dropping its new column), so a
    * moved mapping conflicts loudly and the caller must recompute. When
    * base+1 is taken, wait (bounded) for the in-flight rival to publish,
    * compare the new head's recorded mapping (schema nullability-erased,
    * ids exact) against `base`'s, and rebase when unchanged — concurrent
    * same-schema appends, THE hot multi-feed ingestion path, all land
    * with no retry loop and no data rewritten. A rival that never
    * publishes inside the window (crashed claim) throws
    * ConcurrentModificationException exactly as before. Returns
    * (claimed version, the base actually derived from). */
  private def claimAppend(
      fs: FileSystem, root: HPath, path: String, base: Long,
      schema: StructType): (Long, Long) = {
    def mapping(v: Long): (Option[String], Map[String, Int]) = {
      val m = readMeta(fs, root, v)
      // identity watermark metadata is ERASED from the compare: a
      // rival append's ratchet is the same logical schema, and the
      // caller conforms again on the derived base
      (m.get(SchemaKey).map(j => Ids.hwmErased(
          asNullable(DataType.fromJson(j)).asInstanceOf[StructType]).json),
        m.get(ColIdsKey).map(parseColIds).getOrElse(Map.empty))
    }
    // base==0: the rival CREATED the table; the id compare is vacuous
    // (carry-by-name from an equal schema reuses the rival's ids), so
    // only the schema must match what this append is about to publish
    val want = if (base == 0L) None else Some(mapping(base))
    def moved(head: Long): Boolean = want match {
      case Some(w) => mapping(head) != w
      case None => !mapping(head)._1.contains(
        Ids.hwmErased(asNullable(schema).asInstanceOf[StructType]).json)
    }
    OptimisticCommit.run(s"Versioned append to $path", OptimisticCommit.Append, base,
        CommitIntrospect.versionedRebases)(_ => ())((b, _) => (claimExact(fs, root, b), b)) { b =>
      // empty = the rival abandoned its claim: re-claim b+1 as-is
      awaitRival(fs, root, path, b).fold(stuck => (Iterator(stuck), b), landed => {
        val head = (b +: landed).max
        (Iterator(head).filter(h => h != b && moved(h)).map(h => OptimisticCommit.Restructured(
          s"concurrent commit v$h", "changed the schema/column-id mapping")), head)
      })
    }
  }

  /** Operator-driven recovery of CRASHED derived commits: delete
    * claimed-but-uncommitted version dirs whose claim is older than
    * `olderThanMs`. Age-gated on purpose — an uncommitted claim younger
    * than the threshold may belong to a live, slow writer, and deleting
    * under it would let its final `_committed` marker publish a corrupt
    * snapshot (Hadoop creates recreate parents). Pick a threshold above
    * the longest plausible commit. File-GC'd history dirs are not
    * recovery's to take — their surviving files are still referenced
    * (vacuum removed their `_claim` for exactly this reason). Returns
    * the versions reclaimed. */
  def recoverClaims(path: String, olderThanMs: Long): Seq[Long] = {
    val (fs, root) = Writers.fsFor(path)
    if (!fs.exists(root)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    val doomed = fs.listStatus(root).toSeq
      .flatMap(st => parseVersion(st.getPath.getName))
      .filter { v =>
        val dir = versionDir(root, v)
        !fs.exists(new HPath(dir, CommittedFile)) &&
          lockProvider.heldSinceMs(fs, dir).exists(_ < cutoff) &&
          // a txn participant whose coordinator DECIDED is published by
          // the roll-forward probe, not reclaimed; an undecided one may
          // only die once its coordinator is fenced (see txnAbortSafe)
          !txnRollForward(fs, dir) &&
          txnAbortSafe(fs, dir, cutoff)
      }
    doomed.foreach { v =>
      lockProvider.release(fs, versionDir(root, v)) // also clears store-side claim state
      fs.delete(versionDir(root, v), true)
    }
    doomed.sorted
  }

  // ------------------------------------------------------------------
  // Multi-table transactions (two-phase, presumed-abort) — r7 verdict #7.
  //
  // The CDF-consumer pattern publishes a derived VIEW and its applied
  // WATERMARK as two tables; without a coordinating transaction a crash
  // between the two commits leaves them divergent. [[commitTxn]] makes
  // the pair (or any N tables) atomic with no extra coordinator
  // service: every write is STAGED first (claim held, data + manifest +
  // `_meta` durable, NO `_committed` marker), then the FIRST write's
  // marker is published — that single atomic create IS the commit
  // decision — and the remaining markers follow. A participant whose
  // marker never landed carries a `_txnref` naming the coordinator
  // (path, version, txn-id): any later reader or [[recoverClaims]] that
  // finds the coordinator committed under the SAME txn-id rolls the
  // marker forward (the decision was durable, so the outcome is
  // already fixed); if the coordinator never decided, the staged dirs
  // age out through the normal crashed-claim recovery — presumed
  // abort. The txn-id pin matters: an aborted coordinator slot can be
  // re-claimed and committed by an unrelated writer, and without the
  // pin a lingering participant would mistake that commit for its own
  // decision.
  // ------------------------------------------------------------------

  /** One table's write inside a [[commitTxn]]: an O(delta) append by
    * default, or a REPLACE-ALL snapshot commit (`replace = true`) —
    * the two shapes the view+watermark pattern needs. */
  final case class TxnWrite(
      path: String, df: DataFrame, replace: Boolean = false,
      meta: Map[String, String] = Map.empty, statsCols: Seq[String] = Nil)

  /** Commit every write atomically across tables: all become visible
    * or none do. `writes.head` is the coordinator — its `_committed`
    * marker is the decision point. Paths must be distinct (two writes
    * to one table are two versions, not a transaction). Returns
    * path -> committed version. Claims are held on every table from
    * staging until the markers land, so rival derived commits on the
    * participant tables wait/conflict exactly as they would behind any
    * in-flight commit. */
  def commitTxn(writes: Seq[TxnWrite]): Map[String, Long] = {
    val staged = txnStage(writes)
    txnPublish(staged, staged.size)
    staged.toMap
  }

  /** Phase 1 (spec-visible so crash points between phases can be
    * driven deterministically): stage every write — claims held, data
    * and manifest/meta durable, no markers. Coordinator first. */
  private[graft] def txnStage(writes: Seq[TxnWrite]): Seq[(String, Long)] = {
    require(writes.nonEmpty, "Versioned.commitTxn: at least one write")
    require(writes.map(_.path).distinct.size == writes.size,
      "Versioned.commitTxn: participant paths must be distinct")
    val txnId = java.util.UUID.randomUUID().toString
    val coord = writes.head
    val cv = txnStageOne(coord, coord.meta + (TxnIdKey -> txnId), ref = None)
    val rest = writes.tail.map { w =>
      w.path -> txnStageOne(w, w.meta, ref = Some((coord.path, cv, txnId)))
    }
    (coord.path -> cv) +: rest
  }

  /** Phase 2: publish the first `upTo` markers (coordinator is index
    * 0 — `upTo = 0` models a crash before the decision, `1` a crash
    * after the decision but before the participants' markers). */
  private[graft] def txnPublish(staged: Seq[(String, Long)], upTo: Int): Unit =
    staged.take(upTo).foreach { case (p, v) =>
      val (fs, root) = Writers.fsFor(p)
      writeMarker(fs, versionDir(root, v))
    }

  private def txnStageOne(
      w: TxnWrite, meta: Map[String, String],
      ref: Option[(String, Long, String)]): Long = {
    val (fs, root) = Writers.fsFor(w.path)
    fs.mkdirs(root)
    def writeRef(v: Long): Unit = ref.foreach { case (cp, cv, id) =>
      val out = fs.create(new HPath(versionDir(root, v), TxnRefFile), false)
      try out.write(s"$cp\t$cv\t$id".getBytes("UTF-8")) finally out.close()
    }
    if (w.replace) {
      val prev = currentVersion(w.path)
      val v = claimNext(fs, root, w.path)
      writeRef(v)
      w.df.write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
      val entries = localEntries(fs, root, v, partitioned = false)
      val enriched =
        if (w.statsCols.isEmpty) entries
        else withFileStats(w.df.sparkSession, root, entries, w.statsCols)
      publish(fs, root, v, enriched, w.df.schema, prevForIds = prev,
        meta = meta, marker = false)
    } else {
      val base = currentVersion(w.path).getOrElse(0L)
      val (v, derivedBase) = claimAppend(fs, root, w.path, base, w.df.schema)
      writeRef(v)
      w.df.write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
      val local = localEntries(fs, root, v, partitioned = false)
      val adds =
        if (w.statsCols.isEmpty) local
        else withFileStats(w.df.sparkSession, root, local, w.statsCols)
      publishDelta(fs, root, v, derivedBase, adds = adds, removes = Nil,
        schema = w.df.schema, meta = meta, marker = false)
    }
  }

  /** True (and the marker is written) iff `dir` is a txn participant
    * whose coordinator committed under the participant's recorded
    * txn-id — the decision was durable, so the participant's outcome
    * is already COMMIT and publishing its marker merely records it. */
  private def txnRollForward(fs: FileSystem, dir: HPath): Boolean = {
    val refP = new HPath(dir, TxnRefFile)
    if (!fs.exists(refP)) return false
    val parts = readTextFile(fs, refP).trim.split('\t')
    if (parts.length != 3) return false
    val (coordPath, coordV, txnId) = (parts(0), parts(1).toLong, parts(2))
    val (cfs, croot) = Writers.fsFor(coordPath)
    val decided = cfs.exists(new HPath(versionDir(croot, coordV), CommittedFile)) &&
      readMeta(cfs, croot, coordV).get(TxnIdKey).contains(txnId)
    if (decided) { writeMarker(fs, dir); true } else false
  }

  /** Whether a stale, undecided participant claim may be deleted: only
    * once its coordinator can never decide COMMIT for this txn. The
    * coordinator's staged dir being gone, its slot having been
    * recycled by an UNRELATED commit (txn-id mismatch — roll-forward
    * already said no), or its claim being released all fence the
    * decision; a coordinator claim still held but itself stale past
    * the cutoff is deleted HERE — that deletion is the abort decision,
    * under the same age-gate trust model recoverClaims documents for
    * plain crashed claims. A young coordinator claim means the writer
    * may be alive mid-stage: not abortable yet. */
  private def txnAbortSafe(fs: FileSystem, dir: HPath, cutoff: Long): Boolean = {
    val refP = new HPath(dir, TxnRefFile)
    if (!fs.exists(refP)) return true
    val parts = readTextFile(fs, refP).trim.split('\t')
    if (parts.length != 3) return true
    val (coordPath, coordV) = (parts(0), parts(1).toLong)
    val (cfs, croot) = Writers.fsFor(coordPath)
    val cdir = versionDir(croot, coordV)
    if (!cfs.exists(cdir)) true
    else if (cfs.exists(new HPath(cdir, CommittedFile))) true // recycled slot, not our decision
    else if (!lockProvider.isHeld(cfs, cdir)) true
    else if (lockProvider.heldSinceMs(cfs, cdir).exists(_ < cutoff)) {
      lockProvider.release(cfs, cdir)
      cfs.delete(cdir, true)
      true
    } else false
  }

  /** The commit tail shared by every writer: manifest, then metadata
    * (always including the committed frame's schema and its column-id
    * map, ids carried from `prevForIds`), then the atomic `_committed`
    * marker — the ORDER is the protocol (everything must be durable
    * before the marker appears). One implementation so a future
    * protocol change (checksums, extra metadata) lands exactly once. */
  private def publish(
      fs: FileSystem, root: HPath, v: Long, entries: Seq[ManifestEntry],
      schema: StructType, prevForIds: Option[Long],
      meta: Map[String, String] = Map.empty, marker: Boolean = true): Long = {
    val ids = meta.get(ColIdsKey).map(parseColIds)
      .getOrElse(carryColIds(fs, root, prevForIds, schema))
    writeMeta(fs, root, v, meta + (SchemaKey -> schema.json) + (ColIdsKey -> renderColIds(ids)))
    writeManifest(fs, root, v, entries)
    if (marker) writeMarker(fs, versionDir(root, v))
    v
  }

  /** Atomic-create the `_committed` marker, tolerating a lost race with
    * a concurrent txn roll-forward (the marker existing is the SAME
    * outcome; any other create failure still surfaces). */
  private def writeMarker(fs: FileSystem, dir: HPath): Unit =
    try fs.create(new HPath(dir, CommittedFile), false).close()
    catch {
      case e: java.io.IOException =>
        if (!fs.exists(new HPath(dir, CommittedFile))) throw e
    }

  /** O(delta) publish for DERIVED hot-path commits: writes a `_delta`
    * (base pointer + add/remove lines) instead of a full manifest —
    * per-commit metadata proportional to the COMMIT, not the snapshot.
    * Every [[CheckpointEvery]] commits the chain is folded into a full
    * checkpoint instead (one amortized O(snapshot) metadata write, the
    * Delta/Iceberg trade), which also bounds resolution depth. The
    * caller must already hold the claim on `v` = `base` + 1. */
  private def publishDelta(
      fs: FileSystem, root: HPath, v: Long, base: Long,
      adds: Seq[ManifestEntry], removes: Seq[(String, String)],
      schema: StructType, meta: Map[String, String] = Map.empty,
      marker: Boolean = true): Long = {
    val prevV = if (base == 0L) None else Some(base)
    val depth = if (base == 0L) 0 else chainLen(fs, root, base) + 1
    if (base == 0L || depth >= CheckpointEvery) {
      val prev = if (base == 0L) Nil else readManifest(fs, root, base)
      val rm = removes.map(_._2).toSet
      publish(fs, root, v, prev.filterNot(e => rm.contains(e.relPath)) ++ adds,
        schema, prevV, meta, marker)
    } else {
      val ids = meta.get(ColIdsKey).map(parseColIds)
        .getOrElse(carryColIds(fs, root, prevV, schema))
      writeDelta(fs, root, v, base, adds, removes)
      writeMeta(fs, root, v,
        meta + (SchemaKey -> schema.json) + (ColIdsKey -> renderColIds(ids)) +
          (ChainLenKey -> depth.toString))
      if (marker) writeMarker(fs, versionDir(root, v))
      v
    }
  }

  /** The Hive partition columns of a manifest's data entries, in layout
    * order, if the layout is uniformly partitioned (empty otherwise) —
    * how rewrites know to preserve the layout instead of silently
    * flattening and stranding [[upsertPartitioned]]/[[readPartitions]]. */
  private def layoutPartCols(entries: Seq[ManifestEntry]): Seq[String] = {
    val datas = entries.filter(_.kind == KindData)
    if (datas.isEmpty || datas.exists(_.partDir.isEmpty)) Nil
    else
      datas.map(_.partDir.split("/").toSeq.map(_.takeWhile(_ != '='))).distinct match {
        case Seq(one) if one.forall(_.nonEmpty) => one
        case _ => Nil // mixed layouts: treat as unpartitioned
      }
  }

  /** Full-snapshot rewrite DERIVED from `base` (claims exactly base+1),
    * preserving the base's partitioned layout. Shared by [[upsert]],
    * [[delete]], [[compactDeletes]] and [[compactFiles]]. A rewrite
    * that keeps zero rows is legal: it publishes an empty manifest whose
    * schema (in `_meta`) keeps the table readable as an empty frame. */
  private def rewriteFrom(
      fs: FileSystem, root: HPath, base: Long, dfIn: DataFrame,
      statsCols: Seq[String] = Nil): Long = {
    // every rewrite republises the schema — re-attach the table's
    // declared field metadata (defaults, identity) first: a rewrite
    // frame derived from files that PREDATE a declaration (or from a
    // union, which drops attribute metadata) would otherwise silently
    // erase it (r13 — caught by the identity merge test)
    val df = withTableMetadata(dfIn, fs, root, base)
    val partCols = layoutPartCols(readManifest(fs, root, base))
    val v = claimExact(fs, root, base)
    val writer = df.write.mode(SaveMode.Overwrite)
    val entries =
      if (partCols.nonEmpty) {
        writer.partitionBy(partCols: _*).parquet(dataDir(root, v).toString)
        localEntries(fs, root, v, partitioned = true)
      } else {
        writer.parquet(dataDir(root, v).toString)
        localEntries(fs, root, v, partitioned = false)
      }
    val enriched =
      if (statsCols.isEmpty) entries
      else withFileStats(df.sparkSession, root, entries, statsCols)
    publish(fs, root, v, enriched, df.schema, prevForIds = Some(base))
  }

  /** Commit `df` as the next (unpartitioned) version; returns it.
    * `meta` rides in the commit's atomic `_meta` (e.g. a consumer's
    * applied-watermark — see stream_t11's CDF materialization loop). */
  def commit(df0: DataFrame, path: String, meta: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Nil): Long = {
    val (fs, root) = Writers.fsFor(path)
    val prev = currentVersion(path)
    // a full-snapshot REPLACE on an identity table mirrors Delta's
    // overwrite: an omitted identity column generates past the
    // watermark (truncate never resets identity), an ALWAYS-carried
    // one refuses, and the declaration rides the republished schema
    val df = prev.flatMap(metaSchema(fs, root, _)).fold(df0)(t =>
      conformIdentity("Versioned.commit", df0, t, Identity.seenIn(df0)))
    val v = claimNext(fs, root, path)
    df.write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
    val entries = localEntries(fs, root, v, partitioned = false)
    if (bloomCols.nonEmpty) writeBloomIndex(df.sparkSession, fs, root, v, entries, bloomCols)
    publish(fs, root, v, entries, df.schema, prevForIds = prev, meta = meta)
  }

  /** Commit `df` Hive-partitioned on `partCols` (one or more columns,
    * layout order) — the layout [[upsertPartitioned]] requires (each
    * file belongs to exactly one partition tuple, so a later MERGE can
    * carry untouched partitions by reference). */
  def commitPartitioned(df: DataFrame, path: String, partCols: String*): Long = {
    require(partCols.nonEmpty, "Versioned.commitPartitioned: at least one partition column")
    val (fs, root) = Writers.fsFor(path)
    val prev = currentVersion(path)
    val v = claimNext(fs, root, path)
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(dataDir(root, v).toString)
    publish(fs, root, v, localEntries(fs, root, v, partitioned = true), df.schema,
      prevForIds = prev)
  }

  /** The schema a version's commit recorded in `_meta` (None for
    * pre-schema-meta history). */
  private def metaSchema(fs: FileSystem, root: HPath, v: Long): Option[StructType] =
    readMeta(fs, root, v).get(SchemaKey).map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** The current snapshot's recorded schema, without touching any data
    * file — what the streaming source resolves at stream start. None if
    * the table has no committed version or predates schema metadata. */
  def schemaOf(path: String): Option[StructType] = {
    val (fs, root) = Writers.fsFor(path)
    currentVersion(path).flatMap(v => metaSchema(fs, root, v))
  }

  /** One version's recorded schema (the batch connector resolves each
    * owning version with this to decide whether the identity-mapping
    * fast path is sound). None for pre-schema-meta history. */
  def schemaAt(path: String, version: Long): Option[StructType] = {
    val (fs, root) = Writers.fsFor(path)
    metaSchema(fs, root, version)
  }

  /** One version's stable column-id map (empty for pre-id history) —
    * the schema-evolution identity readers compare before treating two
    * versions' files as byte-compatible. */
  def columnIds(path: String, version: Long): Map[String, Int] = {
    val (fs, root) = Writers.fsFor(path)
    colIdsOf(fs, root, version)
  }

  /** Nullability-erased copy of a schema — the equivalence the
    * single-scan fast path (and the external batch connector) compare
    * under: an in-memory frame and its parquet round-trip describe the
    * same files. */
  def nullabilityErased(schema: StructType): StructType =
    asNullable(schema).asInstanceOf[StructType]

  /** Materialize a set of manifest entries.
    *
    * FAST PATH (bounds reader-plan growth on long append histories — r5
    * verdict #1): when the layout is unpartitioned and every OWNING
    * version recorded the same schema in `_meta`, all files go to ONE
    * `spark.read.schema(s).parquet(files*)` — a single scan node no
    * matter how many commits own the files, and zero footer inference.
    *
    * Otherwise files are grouped by owning version dir and each group is
    * read with `basePath` pinned to that version's data dir, so Hive
    * partition columns (`col=value` dirs) are recovered identically no
    * matter which version a file lives in; groups then union by name
    * (`allowMissingColumns`: an appendCommit may add a column
    * mid-history — SURVEY S14's drift class; files from before the
    * drift read NULL under it). */
  /** Nullability-erased copy of a type: an in-memory frame (Long →
    * non-nullable) and its parquet round-trip (everything nullable)
    * describe the SAME files, and treating them as drift would cost the
    * single-scan fast path a per-version union. Reading non-nullable
    * data under a nullable schema is always sound. */
  private def asNullable(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(asNullable(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(kt, vt, _) =>
      org.apache.spark.sql.types.MapType(asNullable(kt), asNullable(vt), valueContainsNull = true)
    case other => other
  }

  /** Align one owning version's frame to the target schema THROUGH the
    * column ids: a target column whose id lives under a different name
    * in `wIds` was renamed since `w` committed — select it AS the
    * target name; an id absent from `w` is additive drift — NULL-fill;
    * a physical column whose id left the target schema was dropped —
    * never selected. When either side predates ids, fall back to the
    * by-name semantics the format always had. */
  private def alignToTarget(
      df: DataFrame, wIds: Map[String, Int], t: Target,
      passthrough: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val idToW = wIds.map(_.swap)
    df.select(t.schema.fields.toSeq.map { f =>
      val srcName: Option[String] = t.ids.get(f.name) match {
        case Some(id) if wIds.nonEmpty => idToW.get(id)
        case _                         => Some(f.name)
      }
      srcName.filter(df.columns.contains) match {
        case Some(n) =>
          // a widened column ([[widenColumn]]) reads pre-widen files at
          // their narrow physical type — upcast to the target schema's
          // type so every era serves the SAME declared type (types can
          // only differ by a committed widening; rename preserves them)
          val c0 = col(n)
          (if (df.schema(n).dataType == f.dataType) c0 else c0.cast(f.dataType)).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    } ++ passthrough.map(col): _*)
  }

  /** Attach the scan-level file/position metadata columns — must happen
    * directly on the file-source frame (`_metadata` is a hidden column
    * of the scan relation; it does not survive later projections). */
  private def attachMeta(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col("*"),
      col("_metadata.file_path").as(FileMetaCol),
      col("_metadata.row_index").as(PosMetaCol))
  }

  /** One schema-pinned group of entries read through the pruning
    * [[org.apache.spark.sql.graft.VersionedFileIndex]] instead of a
    * bare path-list parquet scan: pushed partition/stats/bloom filters
    * skip WHOLE FILES at planning — the same manifest-level skipping
    * the connector's clean relation gets — which matters most on
    * merge-on-read reads (the one library path that previously only
    * had parquet row-group pushdown under a pushed predicate). Column
    * order is restored to the declared schema (a HadoopFsRelation
    * surfaces partition columns last); the meta columns attach on the
    * scan frame itself, in the same projection. Returns None — caller
    * keeps the plain scan — when the layout cannot be index-served:
    * a partition column missing from the recorded schema, a mixed
    * partitioned/unpartitioned entry set, or the kill-switch conf
    * `spark.graft.versioned.morFilePruning=false` (the A/B seam the
    * equivalence spec compares through). */
  private def indexedRead(spark: SparkSession, root: HPath, ver: Long,
      entries: Seq[ManifestEntry], sc: StructType, withMeta: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    if (!spark.conf.getOption("spark.graft.versioned.morFilePruning").forall(_.toBoolean))
      return None
    val partCols: Seq[String] = entries.find(_.partDir.nonEmpty)
      .map(_.partDir.split("/").toSeq.map(_.takeWhile(_ != '='))).getOrElse(Nil)
    if (partCols.exists(c => !sc.fieldNames.contains(c))) return None
    if (partCols.nonEmpty && entries.exists(_.partDir.isEmpty)) return None
    val classic = spark.asInstanceOf[ClassicSession]
    val tablePath = root.toUri.getPath
    val index = new org.apache.spark.sql.graft.VersionedFileIndex(
      classic, tablePath, entries, sc, partCols)
    val dataSchema = StructType(sc.fields.filterNot(f => partCols.contains(f.name)))
    val rel = new org.apache.spark.sql.graft.GraftVersionedRelation(
      classic, tablePath, index, index.partitionSchema, dataSchema)
    val base = classic.baseRelationToDataFrame(rel)
    val cols = sc.fields.toSeq.map(f => col(f.name)) ++
      (if (withMeta) Seq(col("_metadata.file_path").as(FileMetaCol),
        col("_metadata.row_index").as(PosMetaCol)) else Nil)
    Some(base.select(cols: _*))
  }

  private def readEntries(
      spark: SparkSession, fs: FileSystem, root: HPath, entries: Seq[ManifestEntry],
      target: Option[Target] = None, withMeta: Boolean = false): DataFrame = {
    require(entries.nonEmpty, "Versioned: empty entry set")
    val groups = entries.groupBy(_.relPath.takeWhile(_ != '/')).toSeq.sortBy(_._1)
    if (entries.forall(_.partDir.isEmpty)) {
      val schemas = groups.map { case (ver, _) =>
        metaSchema(fs, root, parseVersion(ver).getOrElse(-1L))
          .map(s => asNullable(s).asInstanceOf[StructType])
      }
      // the single-scan fast path needs the IDENTITY mapping: every
      // owning version's schema equal (nullability erased) and, when a
      // target is pinned, equal to the target's too (a rename on top of
      // unrenamed files must take the aligning path below)
      if (schemas.forall(_.isDefined) && schemas.flatMap(_.map(_.json)).distinct.size == 1 &&
          target.forall(t => asNullable(t.schema).json == schemas.head.get.json)) {
        val sc = schemas.head.get
        val viaIndex = indexedRead(spark, root,
          parseVersion(groups.last._1).getOrElse(-1L), entries, sc, withMeta)
        if (viaIndex.isDefined) return viaIndex.get
        val fast = spark.read.schema(sc)
          .parquet(entries.map(e => new HPath(root, e.relPath).toString): _*)
        return if (withMeta) attachMeta(fast) else fast
      }
    }
    groups
      .map { case (ver, es) =>
        val base = new HPath(new HPath(root, ver), "data").toString
        val files = es.map(e => new HPath(root, e.relPath).toString)
        val rd = spark.read.option("basePath", base)
        val wVer = parseVersion(ver).getOrElse(-1L)
        // the owning version's recorded schema pins partition-column
        // TYPES: without it, Spark's partition-value inference can type
        // `day=2024-01-01` as DATE on read-back while the committed
        // column was STRING — a silent type drift that would poison the
        // next merge's unionByName. Legacy (pre-schema-meta) versions
        // fall back to inference.
        val raw0 = metaSchema(fs, root, wVer) match {
          case Some(sc) =>
            indexedRead(spark, root, wVer, es, sc, withMeta).getOrElse {
              val r = rd.schema(sc).parquet(files: _*)
              if (withMeta) attachMeta(r) else r
            }
          case None =>
            val r = rd.parquet(files: _*)
            if (withMeta) attachMeta(r) else r
        }
        val raw = raw0
        target match {
          case Some(t) =>
            alignToTarget(raw, colIdsOf(fs, root, wVer), t,
              passthrough = if (withMeta) Seq(FileMetaCol, PosMetaCol) else Nil)
          case None => raw
        }
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Pin and read one committed snapshot (time travel). Fails loudly for
    * a version that was vacuumed or never committed — silently reading an
    * adjacent snapshot would be a wrong-answer class. An EMPTY committed
    * snapshot (an all-rows DELETE is legitimate) reads as an empty frame
    * with the schema its commit recorded. */
  def readAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    val (fs, root) = Writers.fsFor(path)
    require(isCommitted(fs, root, version),
      s"Versioned.readAt: version $version of $path is not committed (never existed, crashed, or vacuumed)")
    val entries = readManifest(fs, root, version)
    if (entries.isEmpty) {
      val schema = metaSchema(fs, root, version).getOrElse(
        throw new IllegalStateException(
          s"Versioned.readAt: version $version of $path is empty and predates schema metadata"))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    } else materialize(spark, fs, root, entries, targetOf(fs, root, version))
  }

  /** Load the deletion-vector run lists of `dvEntries` into one merged
    * [[graft.functions.DvMap]]. The collect is O(runs) driver metadata —
    * delete DEBT, not table size (compaction folds it; the same bound
    * Delta's in-memory DVs carry). The run files are read with the
    * schema [[commitDv]] writes, so no footer-inference job runs. */
  private def loadDvMap(
      spark: SparkSession, root: HPath, dvEntries: Seq[ManifestEntry]): graft.functions.DvMap = {
    val raw = spark.read.schema("rel_path STRING, pos BIGINT, len BIGINT")
      .parquet(dvEntries.map(e => new HPath(root, e.relPath).toString): _*)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    graft.functions.DvMap(root.toUri.getPath.stripSuffix("/") + "/", raw)
  }

  /** Filter `df` (which carries the meta columns) down to rows NOT
    * covered by `dv`, dropping the meta columns unless the caller wants
    * them. The predicate is a native codegen expression — no join node,
    * no shuffle, O(log runs) per row. */
  private def applyDv(df: DataFrame, dv: graft.functions.DvMap, keepMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    import org.apache.spark.sql.graft.ColumnBridge
    val pred = ColumnBridge.column(graft.functions.DvContains(
      ColumnBridge.expression(col(FileMetaCol)),
      ColumnBridge.expression(col(PosMetaCol)), dv))
    val kept = df.filter(not(pred))
    if (keepMeta) kept else kept.drop(FileMetaCol, PosMetaCol)
  }

  /** Materialize a full manifest: data entries read per owning version;
    * positional deletion vectors ([[KindDv]]) applied as ONE broadcast
    * row-index filter (no join in the plan — the r7 verdict #3 shape);
    * legacy keyed delete files ([[KindDelete]]) applied
    * VERSION-SEQUENCED — a delete committed at version v anti-joins
    * only data files from versions < v, so a later append that
    * legitimately reuses a deleted key is not swallowed (Iceberg's
    * sequence-number rule; DVs get the same property for free — they
    * name files, and a later file is never named). */
  private def materialize(
      spark: SparkSession, fs: FileSystem, root: HPath, entries: Seq[ManifestEntry],
      target: Option[Target], withMeta: Boolean = false): DataFrame = {
    val (dvs, rest) = entries.partition(_.kind == KindDv)
    val (dels, datas) = rest.partition(_.kind == KindDelete)
    val needMeta = withMeta || dvs.nonEmpty
    val base: DataFrame =
      if (dels.isEmpty)
        readEntries(spark, fs, root, datas, target, withMeta = needMeta)
      else {
        val delFrames = dels.sortBy(entryVersion).map { e =>
          val keys = spark.read.parquet(new HPath(root, e.relPath).toString)
          require(keys.columns.length == 1,
            s"Versioned: delete file ${e.relPath} must carry exactly one key column, " +
              s"got ${keys.columns.mkString(",")}")
          (entryVersion(e), keys, keys.columns.head)
        }
        datas.groupBy(entryVersion).toSeq.sortBy(_._1)
          .map { case (gv, es) =>
            delFrames.filter(_._1 > gv)
              .foldLeft(readEntries(spark, fs, root, es, target, withMeta = needMeta)) {
                // a data group from before a key column appeared (schema
                // drift) reads NULL under it — a keyed delete matches no NULL
                // rows, so skipping the anti-join for that group is the
                // correct semantics, not a workaround
                case (acc, (_, keys, kc)) if acc.columns.contains(kc) =>
                  acc.join(keys, Seq(kc), "left_anti")
                case (acc, _) => acc
              }
          }
          .reduce(_.unionByName(_, allowMissingColumns = true))
      }
    if (dvs.isEmpty) base
    else applyDv(base, loadDvMap(spark, root, dvs), keepMeta = withMeta)
  }

  /** Read the current snapshot. The version is resolved HERE, so the
    * returned frame keeps reading this snapshot even if commits land
    * while the query runs. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val v = headOf(path, "read")
    readAt(spark, path, v)
  }

  /** When each retained version was committed (epoch millis of its
    * `_committed` marker — the atomic instant the snapshot became
    * visible), ascending. The basis for timestamp time travel. */
  def commitTimes(path: String): Seq[(Long, Long)] = {
    val (fs, root) = Writers.fsFor(path)
    versions(path).map { v =>
      v -> fs.getFileStatus(new HPath(versionDir(root, v), CommittedFile)).getModificationTime
    }
  }

  /** The latest version committed at or before `epochMs` (TIMESTAMP AS
    * OF): None if the table's first retained commit is later. Vacuumed
    * history cannot be resolved — same contract as [[readAt]]. */
  def versionAsOf(path: String, epochMs: Long): Option[Long] =
    commitTimes(path).takeWhile(_._2 <= epochMs).lastOption.map(_._1)

  /** Timestamp time travel: the snapshot visible to a reader at
    * `epochMs` ([[versionAsOf]] + [[readAt]]). */
  def readAsOf(spark: SparkSession, path: String, epochMs: Long): DataFrame = {
    val v = versionAsOf(path, epochMs).getOrElse(
      throw new IllegalArgumentException(
        s"Versioned.readAsOf: no version of $path was committed at or before $epochMs " +
          "(before first commit, or vacuumed)"))
    readAt(spark, path, v)
  }

  /** The partition tuple a manifest entry belongs to, unescaped
    * (`Map(col -> value)`; empty for unpartitioned entries). */
  private def partTuple(e: ManifestEntry): Map[String, String] =
    if (e.partDir.isEmpty) Map.empty
    else e.partDir.split("/").map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i) ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
    }.toMap

  /** Partition-pruned snapshot read — pruning done at the MANIFEST, not
    * the scan: only files whose partition tuple satisfies `pred` are
    * handed to Spark, so untouched partitions are never listed, opened,
    * or even seen by the planner (the table-format planning model; a
    * directory-pruned FileSourceScan still lists the directories).
    * Requires a [[commitPartitioned]]/[[upsertPartitioned]] history;
    * works for single- and multi-column layouts. */
  def readPartitionsWhere(
      spark: SparkSession, path: String, pred: Map[String, String] => Boolean): DataFrame = {
    val (fs, root) = Writers.fsFor(path)
    val v = headOf(path, "readPartitionsWhere")
    val entries = readManifest(fs, root, v)
    require(entries.forall(_.kind == KindData),
      s"Versioned.readPartitionsWhere: $path has outstanding merge-on-read deletes — " +
        "run compactDeletes first, or use read() which applies them")
    require(entries.forall(_.partDir.nonEmpty),
      s"Versioned.readPartitionsWhere: $path was not committed partitioned")
    val hit = entries.filter(e => pred(partTuple(e)))
    require(hit.nonEmpty,
      s"Versioned.readPartitionsWhere: no files satisfy the partition predicate at v$v " +
        s"(existing: ${entries.map(_.partDir).distinct.sorted.mkString(", ")})")
    readEntries(spark, fs, root, hit, targetOf(fs, root, v))
  }

  /** Single-column convenience over [[readPartitionsWhere]]. */
  def readPartitions(
      spark: SparkSession,
      path: String,
      partCol: String,
      partValues: Set[String],
  ): DataFrame =
    readPartitionsWhere(spark, path, m => m.get(partCol).exists(partValues.contains))

  private def readMeta(fs: FileSystem, root: HPath, v: Long): Map[String, String] = {
    val mp = new HPath(versionDir(root, v), MetaFile)
    if (!fs.exists(mp)) Map.empty
    else {
      val in = fs.open(mp)
      val raw =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      raw.split("\n").filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    }
  }

  /** Application metadata a commit carries (e.g. a streaming batch id).
    * Written to `_meta` BEFORE the `_committed` marker, so metadata and
    * data become visible in the same atomic step — which is what makes
    * [[appendCommitOnce]]'s exactly-once guarantee hold across a crash
    * between "data written" and "caller recorded the batch id": here
    * there is no second step to lose. */
  def commitMeta(path: String, version: Long): Map[String, String] = {
    val (fs, root) = Writers.fsFor(path)
    require(isCommitted(fs, root, version),
      s"Versioned.commitMeta: version $version of $path is not committed")
    readMeta(fs, root, version)
  }

  private def writeMeta(fs: FileSystem, root: HPath, v: Long, meta: Map[String, String]): Unit =
    if (meta.nonEmpty) {
      val out = fs.create(new HPath(versionDir(root, v), MetaFile), false)
      try out.write(meta.map { case (k, w) => s"$k\t$w" }.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }

  /** Table history — the `DESCRIBE HISTORY` surface: one row per visible
    * committed version, derived entirely from what the protocol already
    * records (manifests, `_meta`, the commit marker's mtime), so it
    * serves any table ever written, not just ones created after the
    * feature. Operations are CLASSIFIED from each commit's manifest
    * delta against its predecessor:
    *
    *  - `commit`   — the table's first visible version
    *  - `append`   — adds data files only, removes nothing
    *  - `delete`   — adds merge-on-read delete files only
    *  - `metadata` — manifest carried verbatim (rename/drop/restore-style
    *    commits that move zero bytes)
    *  - `rewrite`  — anything replacing files (MERGE, keyed delete,
    *    compaction, z-order)
    *
    * Driver-side cost is O(history length) manifest reads — the same
    * metadata cardinality `versions()` itself walks, amortized by the
    * checkpoint chain; the result is a tiny local frame (one row per
    * commit), which is what an operator inspecting a table wants. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, TimestampType, StructField => SF}
    import scala.jdk.CollectionConverters._
    val (fs, root) = Writers.fsFor(path)
    val vs = versions(path)
    val preds: Seq[Option[Long]] = None +: vs.init.map(Some(_))
    val rows = vs.zip(preds).map { case (v, prev) =>
      val m = readManifest(fs, root, v)
      val mPrev = prev.map(p => readManifest(fs, root, p)).getOrElse(Nil)
      val added = m.filterNot(mPrev.toSet)
      val removed = mPrev.filterNot(m.toSet)
      val op =
        if (prev.isEmpty) "commit"
        else if (added.isEmpty && removed.isEmpty) "metadata"
        else if (removed.isEmpty && added.forall(e =>
          e.kind == KindDelete || e.kind == KindDv)) "delete"
        else if (removed.isEmpty && added.forall(_.kind == KindData)) "append"
        else "rewrite"
      // nullability-erased: a rewrite whose plan flips nullable flags
      // (join/union read-backs do) is not a schema EVOLUTION
      val schemaChanged = prev.exists { p =>
        (metaSchema(fs, root, v), metaSchema(fs, root, p)) match {
          case (Some(a), Some(b)) => nullabilityErased(a).json != nullabilityErased(b).json
          case _                  => false
        }
      }
      val meta = readMeta(fs, root, v)
      val ts = new java.sql.Timestamp(
        fs.getFileStatus(new HPath(versionDir(root, v), CommittedFile)).getModificationTime)
      Row(v, ts, op, added.size.toLong, removed.size.toLong, m.size.toLong,
        schemaChanged, meta.get(BatchKey).orNull,
        fs.exists(new HPath(versionDir(root, v), ManifestFile)))
    }
    val schema = StructType(Seq(
      SF("version", LongType, nullable = false),
      SF("committed_at", TimestampType, nullable = false),
      SF("operation", StringType, nullable = false),
      SF("n_added", LongType, nullable = false),
      SF("n_removed", LongType, nullable = false),
      SF("n_files", LongType, nullable = false),
      SF("schema_changed", BooleanType, nullable = false),
      SF("batch_id", StringType, nullable = true),
      SF("is_checkpoint", BooleanType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), schema)
  }

  /** Append-only commit — the S8 high-watermark idiom on snapshots: the
    * new version's manifest is the PREVIOUS manifest plus the freshly
    * written files (metadata-only carry, zero rewrite of history). A
    * batch that adds a column is fine: older files read NULL under it
    * (ALTER-only drift semantics, enforced in [[readEntries]]). */
  /** Partitioned APPEND — the daily-feed shape on a Hive-layout table:
    * the batch lands `partitionBy` the table's COMMITTED layout (derived
    * from the base manifest, never caller-supplied — a drifting caller
    * cannot fork the layout), and only the fresh files join the manifest
    * with their `k=v` fragments. O(delta) metadata like [[appendCommit]],
    * same rebase-over-rival-adds concurrency (a pure add commutes with
    * any rival add regardless of which partitions either touched), and
    * the appended files participate in every partition-scoped operation
    * (copy-on-write MERGE groups, partition pruning, readPartitions).
    * `statsCols` must name DATA columns — partition values live in the
    * directory fragments, not the files. */
  def appendCommitPartitioned(
      df: DataFrame, path: String, meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Long = {
    val (fs, root) = Writers.fsFor(path)
    val base = currentVersion(path).getOrElse(
      throw new IllegalArgumentException(
        s"Versioned.appendCommitPartitioned: no committed version under $path — " +
          "bootstrap the layout with commitPartitioned first"))
    val layout = layoutPartCols(readManifest(fs, root, base))
    require(layout.nonEmpty,
      s"Versioned.appendCommitPartitioned: $path was not committed partitioned — use appendCommit")
    require(layout.forall(df.columns.contains),
      s"Versioned.appendCommitPartitioned: batch must carry the layout columns " +
        s"(${layout.mkString(", ")})")
    require(statsCols.forall(c => !layout.contains(c)),
      s"Versioned.appendCommitPartitioned: statsCols must be data columns, not partition " +
        s"columns (${layout.mkString(", ")})")
    val seen = Identity.seenIn(df)
    val df1 = conformAppend("Versioned.appendCommitPartitioned", df, fs, root, base, seen)
    val (v, derivedBase) = claimAppend(fs, root, path, base, df1.schema)
    // conformed again on a derived base — same rule as appendCommit
    val dfW = if (derivedBase == base) df1
      else conformAppend("Versioned.appendCommitPartitioned", df, fs, root, derivedBase, seen)
    dfW.write.mode(SaveMode.Overwrite).partitionBy(layout: _*)
      .parquet(dataDir(root, v).toString)
    val local = localEntries(fs, root, v, partitioned = true)
    val adds =
      if (statsCols.isEmpty) local
      else withFileStats(dfW.sparkSession, root, local, statsCols)
    publishDelta(fs, root, v, derivedBase,
      adds = adds, removes = Nil, schema = dfW.schema, meta = meta)
  }

  def appendCommit(
      df0: DataFrame, path: String, meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val (fs, root) = Writers.fsFor(path)
    fs.mkdirs(root)
    val base = currentVersion(path).getOrElse(0L)
    val seen = Identity.seenIn(df0)
    val df1 = conformAppend("Versioned.appendCommit", df0, fs, root, base, seen)
    // lost-update guard narrowed for the pure-add shape: a rival that
    // published under us (same schema mapping) is rebased over, so
    // concurrent same-schema feeds land without serializing
    val (v, derivedBase) = claimAppend(fs, root, path, base, df1.schema)
    // the claim derived a NEWER base: a rival may have advanced a
    // watermark this append generates from or publishes, so it
    // conforms again on the base it commits on. The claim precedes the
    // data write, so nothing is re-staged (cheaper than the
    // post-staging re-stamp Delta's OCC needs).
    val df = if (derivedBase == base) df1
      else conformAppend("Versioned.appendCommit", df0, fs, root, derivedBase, seen)
    df.write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
    // O(delta) commit: only the fresh files are recorded; the base
    // manifest is never even read unless this commit folds a checkpoint.
    // statsCols: an append-log serving range-filtered readers (or the
    // streaming source's filtered tail) records per-file min/max for its
    // OWN files — one extra scan of the new files, zero history touched.
    // bloomCols does the same for POINT lookups (per-file blooms).
    val local = localEntries(fs, root, v, partitioned = false)
    val adds =
      if (statsCols.isEmpty) local
      else withFileStats(df.sparkSession, root, local, statsCols)
    if (bloomCols.nonEmpty) writeBloomIndex(df.sparkSession, fs, root, v, local, bloomCols)
    publishDelta(fs, root, v, derivedBase,
      adds = adds, removes = Nil, schema = df.schema, meta = meta)
  }

  private val BatchKey = "graft.batchId"
  private val BatchIdxKey = "graft.batchIds"

  private def parseIdx(s: String): Map[String, Long] =
    s.split(",").filter(_.nonEmpty).map { kv =>
      val i = kv.lastIndexOf(':')
      kv.substring(0, i) -> kv.substring(i + 1).toLong
    }.toMap

  private def renderIdx(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._2).map { case (id, v) => s"$id:$v" }.mkString(",")

  /** Idempotent [[appendCommit]] keyed by an application batch id — the
    * `foreachBatch` exactly-once pattern: a replayed micro-batch (crash
    * after commit, before the engine advanced its checkpoint) finds its
    * id already committed and does nothing.
    *
    * Replay detection is O(1), not O(history): every Once-commit carries
    * the FULL applied-id index (`id:version` pairs) forward in its
    * `_meta`, so the lookup reads ONE metadata file — the latest
    * version's — and, because the index rides the latest commit, it
    * SURVIVES vacuum deleting the old version dirs that originally
    * committed those ids (the r5-ADVICE retention/replay interaction).
    * A history whose latest commit predates the index (or was written by
    * a plain [[appendCommit]]) falls back to one walk over retained
    * versions' metadata and rebuilds the index into the new commit. The
    * index is written atomically with the data under the `_committed`
    * marker; a rival landing between the index read and the claim is
    * handled by [[claimAppend]]'s rebase, which re-reads the index at
    * the version actually derived from — so the published index always
    * carries every rival's ids, and a concurrently replayed id is
    * detected there (the claim is abandoned, the rival's version
    * returned: exactly-once survives the rebase).
    *
    * The index grows O(#batches) bytes of metadata; a production
    * deployment bounds it to a replay-horizon window (the engine can
    * only replay the last unacknowledged batch), which this
    * implementation keeps whole for auditability at test scale. */
  /** The applied-batch-id index as of version `at` (empty for an empty
    * table). O(1) when `at`'s commit carries the index; a legacy/mixed
    * history — one whose head predates the index or was written by a
    * plain [[appendCommit]] — costs one walk, after which the next
    * Once-commit rebuilds the index into its own `_meta`. The walk
    * lists version dirs DIRECTLY rather than via versions(path): a
    * file-GC'd (_gc-tombstoned) dir is hidden from versions() but its
    * _meta survives per-file GC, and an id recorded only there must
    * stay visible or a replayed batch would double-commit (r6 ADVICE). */
  private def batchIndexAt(fs: FileSystem, root: HPath, at: Long): Map[String, Long] =
    if (at == 0L) Map.empty
    else readMeta(fs, root, at).get(BatchIdxKey) match {
      case Some(s) => parseIdx(s) // O(1): the latest commit carries the whole index
      case None =>
        fs.listStatus(root).toSeq
          .flatMap(st => parseVersion(st.getPath.getName))
          .filter(v => fs.exists(new HPath(versionDir(root, v), CommittedFile)))
          .sorted
          .flatMap { v =>
            val m = readMeta(fs, root, v)
            m.get(BatchIdxKey).map(parseIdx).getOrElse(Map.empty) ++
              m.get(BatchKey).map(_ -> v).toMap
          }.toMap
    }

  def appendCommitOnce(
      df0: DataFrame, path: String, batchId: String,
      statsCols: Seq[String] = Nil): Long = {
    require(!batchId.contains(",") && !batchId.contains(":") && !batchId.contains("\n"),
      s"Versioned.appendCommitOnce: batch id may not contain ',', ':' or newline: '$batchId'")
    val (fs, root) = Writers.fsFor(path)
    fs.mkdirs(root)
    val base = currentVersion(path).getOrElse(0L)
    val seen = Identity.seenIn(df0)
    val df1 = conformAppend("Versioned.appendCommitOnce", df0, fs, root, base, seen)
    val idx = batchIndexAt(fs, root, base)
    idx.get(batchId) match {
      case Some(v) => v // replay: already committed, skip
      case None =>
        val (v, derivedBase) = claimAppend(fs, root, path, base, df1.schema)
        // conformed again on a derived base — same rule as appendCommit
        val df = if (derivedBase == base) df1
          else conformAppend("Versioned.appendCommitOnce", df0, fs, root, derivedBase, seen)
        // a rebase means rivals landed between the index read and the
        // claim — re-read the index AT THE DERIVED BASE before writing:
        // one of them may have been THIS batch replayed concurrently,
        // and the published index must carry every rival's ids forward
        // (an index that rebased without re-reading would erase them)
        val idx2 = if (derivedBase == base) idx else batchIndexAt(fs, root, derivedBase)
        idx2.get(batchId) match {
          case Some(existing) =>
            // abandon: release ONLY the claim — deleting the dir
            // would race a contender's mkdirs inside its own claim
            // attempt. The empty slot is claimable again, and waiters
            // on this claim observe the abandon and re-claim.
            lockProvider.release(fs, versionDir(root, v))
            existing
          case None =>
            df.write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
            val local = localEntries(fs, root, v, partitioned = false)
            val adds =
              if (statsCols.isEmpty) local
              else withFileStats(df.sparkSession, root, local, statsCols)
            publishDelta(fs, root, v, derivedBase,
              adds = adds, removes = Nil,
              schema = df.schema,
              meta = Map(BatchKey -> batchId, BatchIdxKey -> renderIdx(idx2 + (batchId -> v))))
        }
    }
  }

  /** Canonical, ORDER-PRESERVING stat expression for a column: numerics
    * stay numeric; date/timestamp become fixed-width sortable strings;
    * strings pass through; anything else (arrays, structs, binary) gets
    * no statistics. */
  private def statExpr(dt: DataType, c: String): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, date_format}
    import org.apache.spark.sql.types._
    dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType => Some(col(c))
      case _: StringType => Some(col(c))
      case _: DateType => Some(date_format(col(c), "yyyy-MM-dd"))
      case _: TimestampType | _: TimestampNTZType =>
        Some(date_format(col(c), "yyyy-MM-dd HH:mm:ss"))
      case _ => None
    }
  }

  /** Compute per-file min/max for `statsCols` over a freshly written
    * version's files and attach them to the entries as canonical JSON.
    * One extra scan of the new files at commit time (the write path pays
    * for the read path, Delta/Iceberg's trade); the collect is one row
    * per file — driver-side metadata, same cardinality as the manifest. */
  private def withFileStats(
      spark: SparkSession, root: HPath, entries: Seq[ManifestEntry],
      statsCols: Seq[String]): Seq[ManifestEntry] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    if (statsCols.isEmpty || entries.isEmpty) return entries
    val files = entries.map(e => new HPath(root, e.relPath).toString)
    val df = spark.read.parquet(files: _*)
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    val tracked = statsCols.filter(c =>
      types.contains(c) && statExpr(types(c), c).isDefined)
    require(tracked.nonEmpty,
      s"Versioned: none of the stats columns ${statsCols.mkString(",")} is a " +
        s"sortable scalar column of ${types.keys.mkString(",")}")
    val aggs = tracked.flatMap { c =>
      val e = statExpr(types(c), c).get
      Seq(min(e).as(s"__mn_$c"), max(e).as(s"__mx_$c"))
    }
    val byFile = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val o = Json.createObjectNode()
        for (c <- tracked) {
          val cn = o.putObject(c)
          def put(field: String, v: Any): Unit = v match {
            case null       => cn.putNull(field)
            case n: Byte    => cn.put(field, n.toLong)
            case n: Short   => cn.put(field, n.toLong)
            case n: Int     => cn.put(field, n.toLong)
            case n: Long    => cn.put(field, n)
            case n: Float   => cn.put(field, n.toDouble)
            case n: Double  => cn.put(field, n)
            case n: java.math.BigDecimal => cn.put(field, n)
            case s: String  => cn.put(field, s)
            case other      => cn.put(field, other.toString)
          }
          put("min", r.getAs[Any](s"__mn_$c"))
          put("max", r.getAs[Any](s"__mx_$c"))
        }
        new java.net.URI(r.getAs[String]("__f")).getPath -> Json.writeValueAsString(o)
      }.toMap
    val rootUri = root.toUri.getPath.stripSuffix("/")
    entries.map(e => e.copy(stats = byFile.get(s"$rootUri/${e.relPath}")))
  }

  /** The hash domain the per-file blooms live in: 64-bit xxhash (seed
    * 42, Spark's default) of the column value — the same construction
    * Spark's runtime-filter blooms use, and the reason write and probe
    * can both ride codegen'd builtin machinery. */
  private def bloomHashExpr(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(e), 42L)

  /** PER-FILE BLOOM INDEX (r7 verdict #5): min/max statistics cannot
    * prune equality probes over UNIFORMLY distributed keys (every
    * file's range spans everything — snowflake ids, hashes); a small
    * per-file bloom can. Recorded at commit under `vN/bloom/` as
    * `(rel_path, column, bloom)` rows, built in ONE distributed pass —
    * `groupBy(input_file_name)` over Spark's own codegen'd
    * `bloom_filter_agg` (xxhash64 domain) — and consulted by
    * [[readSkippingEq]] and the connector's FileIndex for `col = k`
    * predicates. About 0.9 bytes per row of the commit's largest file,
    * per file and column, at 3% fpp — sidecar metadata, never scanned
    * by readers that don't probe. The index rides the version that CREATED the files,
    * so carried-by-reference files keep their blooms through
    * append/restore history exactly like file stats do. */
  private def writeBloomIndex(
      spark: SparkSession, fs: FileSystem, root: HPath, v: Long,
      entries: Seq[ManifestEntry], bloomCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import org.apache.spark.sql.graft.ColumnBridge
    if (entries.isEmpty) return
    val files = entries.map(e => new HPath(root, e.relPath).toString)
    // every bloom of this commit is sized for its largest new file (row
    // counts from the parquet footers; the aggregate's default 3%
    // false-positive rate) — a fixed size would make a small file's
    // bloom as large as a million-row file's
    val expectedItemsPerFile = math.max(1L, entries.map(e => graft.interop.FooterStats
      .read(fs.getConf, new HPath(root, e.relPath), Nil).records).max)
    val df = spark.read.parquet(files: _*)
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    val tracked = bloomCols.filter(c => types.get(c).exists {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    })
    require(tracked.nonEmpty,
      s"Versioned: none of the bloom columns ${bloomCols.mkString(",")} is an " +
        s"integral/string column of ${types.keys.mkString(",")}")
    val aggs = tracked.map { c =>
      ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          bloomHashExpr(ColumnBridge.expression(col(c))), expectedItemsPerFile)
          .toAggregateExpression()).as(s"__bf_$c")
    }
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per new file — driver metadata, manifest cardinality
      .flatMap { r =>
        val rel = new java.net.URI(r.getAs[String]("__f")).getPath
          .stripPrefix(rootUri).stripPrefix("/")
        tracked.map(c => Row(rel, c, r.getAs[Array[Byte]](s"__bf_$c")))
      }
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("rel_path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("column", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bloom", org.apache.spark.sql.types.BinaryType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new HPath(versionDir(root, v), "bloom").toString)
  }

  /** The bloom filters recorded for `column` across the owning versions
    * of `entries`: rel_path → deserialized filter. O(files) driver
    * metadata, loaded only when a point probe asks. */
  /** Load the bloom sidecars covering `entries` for `column` — keyed by
    * manifest relPath. THE one loader: [[readSkippingEq]] and the
    * connector's FileIndex equality pruning both ride it. */
  def loadBloomIndex(
      spark: SparkSession, fs: FileSystem, root: HPath,
      entries: Seq[ManifestEntry], column: String): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    // ABSOLUTE entries (a Delta shallow clone's foreign-root
    // references) have no owning version dir and no bloom sidecars
    val owners = entries.map(e => e.relPath.takeWhile(_ != '/'))
      .filter(_.nonEmpty).distinct
    val dirs = owners.map(o => new HPath(new HPath(root, o), "bloom"))
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.isEmpty) Map.empty
    else spark.read.parquet(dirs: _*)
      .filter(org.apache.spark.sql.functions.col("column") === column)
      .collect()
      .map(r => r.getString(0) ->
        org.apache.spark.util.sketch.BloomFilter.readFrom(r.getAs[Array[Byte]]("bloom")))
      .toMap
  }

  /** The xxhash64 the blooms store for a probe value of type `dt`. */
  private def bloomHashOf(value: Any, dt: DataType): Long =
    bloomHashExpr(org.apache.spark.sql.catalyst.expressions.Literal.create(value, dt))
      .eval(null).asInstanceOf[Long]

  /** Last (files kept, files total) of a [[readSkippingEq]] probe per
    * table — the observable entries `require` bloom pruning through. */
  private val bloomProbe = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  def lastBloomProbe(path: String): Option[(Int, Int)] = Option(bloomProbe.get(path))

  /** POINT-LOOKUP read: only files whose bloom for `column` might
    * contain `value` (and whose min/max stats, when present, admit it)
    * are handed to Spark — the equality analogue of [[readSkipping]],
    * for the uniform-key domains where min/max prunes nothing. Files
    * without a recorded bloom always survive (pruning is an
    * optimization, never a correctness filter); the exact `col = value`
    * predicate still applies on top and pushes into parquet row
    * groups inside the kept files. */
  def readSkippingEq(spark: SparkSession, path: String, column: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fs, root) = Writers.fsFor(path)
    val v = headOf(path, "readSkippingEq")
    val entries = readManifest(fs, root, v)
    require(entries.forall(_.kind == KindData),
      s"Versioned.readSkippingEq: $path has outstanding merge-on-read deletes — " +
        "run compactDeletes first, or use read() which applies them")
    val dt = metaSchema(fs, root, v).flatMap(_.fields.find(_.name == column)).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"Versioned.readSkippingEq: '$column' is not a recorded column of $path"))
    val statDomainV: Any = dt match {
      case _: org.apache.spark.sql.types.NumericType => new java.math.BigDecimal(value.toString)
      // the recorded stats are canonical `yyyy-MM-dd HH:mm:ss`
      // (statExpr truncates to seconds); Timestamp.toString appends
      // fractional seconds (".0"), which compares PAST a same-second
      // max and would wrongly skip the file holding the row
      case _: org.apache.spark.sql.types.TimestampType => value match {
        case t: java.sql.Timestamp =>
          java.time.LocalDateTime.ofInstant(
            t.toInstant, java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
            .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        case other => other.toString
      }
      case _ => value.toString
    }
    val blooms = loadBloomIndex(spark, fs, root, entries, column)
    val hash = bloomHashOf(value, dt)
    val keep = entries
      .filter(e => statsOverlap(e.stats, column, statDomainV, statDomainV))
      .filter(e => blooms.get(e.relPath).forall(_.mightContainLong(hash)))
    bloomProbe.put(path, (keep.size, entries.size))
    if (keep.isEmpty) {
      val schema = metaSchema(fs, root, v).get
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }
    readEntries(spark, fs, root, keep, targetOf(fs, root, v))
      .filter(col(column) === lit(value).cast(dt))
  }

  /** Commit `df` range-clustered on `clusterCol` into `nFiles` files,
    * recording per-file min/max for `statsCols` (default: the cluster
    * column) in the manifest — the s15 sorted-layout story ON the table
    * format: each file covers a narrow disjoint range, so
    * [[readSkipping]] can drop whole files at the MANIFEST, before the
    * planner lists anything, and parquet row-group stats prune further
    * inside the survivors. One range exchange at write, amortized over
    * every subsequent windowed scan. */
  def commitClustered(
      df: DataFrame, path: String, clusterCol: String, nFiles: Int,
      statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(nFiles >= 1, s"commitClustered: nFiles must be >= 1, got $nFiles")
    val (fs, root) = Writers.fsFor(path)
    val prev = currentVersion(path)
    val v = claimNext(fs, root, path)
    // the range exchange samples with a seed drawn from its RDD id, so
    // a sampled layout depends on how many jobs the process ran before;
    // sampling up to 1000 keys per file takes EVERY key of a frame that
    // small, making its file ranges exact and history-independent
    org.apache.spark.sql.graft.StagedWrite.isolated(
        df.repartitionByRange(nFiles, col(clusterCol)).sortWithinPartitions(clusterCol),
        Map("spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "1000"))
      .write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
    val spark = df.sparkSession
    val entries = withFileStats(spark, root,
      localEntries(fs, root, v, partitioned = false),
      if (statsCols.isEmpty) Seq(clusterCol) else statsCols)
    publish(fs, root, v, entries, df.schema, prevForIds = prev)
  }

  /** Commit `df` Z-ORDER clustered on `zCols` (2-4 NUMERIC columns)
    * into `nFiles` files, recording per-file min/max for every zCol —
    * multi-dimensional file skipping: where [[commitClustered]] makes
    * ONE column's ranges tight, bit-interleaving the per-column
    * quantile-bucket ranks makes EVERY zCol's per-file range narrow at
    * once, so [[readSkipping]] prunes on any of them (Delta's OPTIMIZE
    * ZORDER BY trade: each dimension prunes somewhat worse than its
    * dedicated sort, every dimension prunes far better than someone
    * else's sort).
    *
    * Scale notes: bucket bounds come from one `approxQuantile` pass
    * (driver gets nb-1 doubles per column — no global sort, no
    * single-partition window); the z-value is pure integer bit math on
    * codegen'd expressions; the clustered write is one range exchange.
    * Quantile bucketing (not min/max width buckets) keeps the curve
    * balanced under skew. NULLs rank into the top bucket; a range
    * predicate never selects NULL, so skipping stays sound. */
  def commitZOrdered(
      df: DataFrame, path: String, zCols: Seq[String], nFiles: Int): Long = {
    import org.apache.spark.sql.functions.col
    require(nFiles >= 1, s"commitZOrdered: nFiles must be >= 1, got $nFiles")
    val zExpr = graft.functions.ZOrder.zvalue(df, zCols)
    val (fs, root) = Writers.fsFor(path)
    val prev = currentVersion(path)
    val v = claimNext(fs, root, path)
    df.withColumn("__graft_z", zExpr)
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
    val entries = withFileStats(df.sparkSession, root,
      localEntries(fs, root, v, partitioned = false), zCols)
    publish(fs, root, v, entries, df.schema, prevForIds = prev)
  }

  /** True iff the [min,max] range recorded for `c` in `stats` can
    * intersect [lo,hi] — numbers compare numerically, everything else
    * lexically on the canonical encodings [[statExpr]] wrote. A missing
    * stat (file predates stats, column untracked, all-NULL min) means
    * "cannot skip".
    *
    * Comparison precision is part of the never-wrongly-skip contract
    * (r6 ADVICE): numeric bounds compare as EXACT BigDecimal — a double
    * round-trip loses bits above 2^53, and a Long key domain (snowflake
    * ids, hashes) whose true min/max straddles the probe bound within
    * that lost precision would be silently skipped. String bounds
    * compare as unsigned UTF-8 BYTES, the same order Spark's min/max
    * (UTF8String binary compare) wrote them in — Java String `<` is
    * UTF-16 code-unit order, which diverges for supplementary
    * characters vs U+E000..U+FFFF. */
  private def utf8Lt(a: String, b: String): Boolean = RewriteFiles.utf8Compare(a, b) < 0

  private def statsOverlap(stats: Option[String], c: String, lo: Any, hi: Any): Boolean = {
    val node = stats.map(Json.readTree(_)).flatMap(n => Option(n.get(c)))
    node match {
      case None => true
      case Some(cn) =>
        val (mn, mx) = (cn.get("min"), cn.get("max"))
        if (mn == null || mx == null || mn.isNull || mx.isNull) true
        else {
          def lt(a: com.fasterxml.jackson.databind.JsonNode, b: Any): Boolean =
            (a.isNumber, b) match {
              case (true, _: Number) =>
                a.decimalValue.compareTo(new java.math.BigDecimal(b.toString)) < 0
              case _ => utf8Lt(a.asText, b.toString)
            }
          def gt(a: com.fasterxml.jackson.databind.JsonNode, b: Any): Boolean =
            (a.isNumber, b) match {
              case (true, _: Number) =>
                a.decimalValue.compareTo(new java.math.BigDecimal(b.toString)) > 0
              case _ => utf8Lt(b.toString, a.asText)
            }
          !(lt(mx, lo) || gt(mn, hi)) // disjoint iff max < lo or min > hi
        }
    }
  }

  /** Public stats-pruning predicate for planners layered ON the
    * manifest (the streaming source's filtered tail): may `e`'s
    * recorded [min,max] for `column` intersect [lo, hi]? An entry
    * without statistics is always a possible match — pruning is an
    * optimization, never a correctness filter. Pass numbers for
    * numeric columns and canonical strings (`yyyy-MM-dd[ HH:mm:ss]`)
    * for date/timestamp columns — the encodings the stats were
    * written in. */
  def statsMayOverlap(e: ManifestEntry, column: String, lo: Any, hi: Any): Boolean =
    statsOverlap(e.stats, column, lo, hi)

  /** Statistics-pruned range read: only files whose recorded
    * [min,max] for `column` intersects [lo,hi] are handed to Spark —
    * whole files drop at the MANIFEST (zero listing, zero footers for
    * the skipped ones), then the exact predicate still applies on top,
    * so files without statistics are read-and-filtered, never wrongly
    * skipped. `lo`/`hi` are inclusive; pass numbers for numeric
    * columns and canonical strings (`yyyy-MM-dd[ HH:mm:ss]`) for
    * date/timestamp columns — the encodings the stats were written in. */
  def readSkipping(spark: SparkSession, path: String, column: String, lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fs, root) = Writers.fsFor(path)
    val v = headOf(path, "readSkipping")
    val entries = readManifest(fs, root, v)
    require(entries.forall(_.kind == KindData),
      s"Versioned.readSkipping: $path has outstanding merge-on-read deletes — " +
        "run compactDeletes first, or use read() which applies them")
    val keep = entries.filter(e => statsOverlap(e.stats, column, lo, hi))
    if (keep.isEmpty) {
      val schema = metaSchema(fs, root, v).getOrElse(
        throw new IllegalStateException(
          s"Versioned.readSkipping: every file skipped and v$v predates schema metadata"))
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }
    // the exact predicate compares the RAW column against the bounds
    // cast to its type (same ordering as the canonical stat encodings),
    // keeping the filter an attribute comparison that still pushes into
    // parquet row-group stats inside the surviving files — a
    // date_format() wrapper here would file-skip correctly but scan
    // every row group of every kept file
    val types = (metaSchema(fs, root, v).map(_.fields.toSeq).getOrElse(Nil))
      .map(f => f.name -> f.dataType).toMap
    val (loL, hiL) = types.get(column) match {
      case Some(dt) => (lit(lo).cast(dt), lit(hi).cast(dt))
      case None     => (lit(lo), lit(hi))
    }
    readEntries(spark, fs, root, keep, targetOf(fs, root, v))
      .filter(col(column) >= loL && col(column) <= hiL)
  }

  /** Keyed DELETE: commit a new snapshot without the rows whose `key` is
    * in `keys` (single-column frame or any frame carrying `key`). Full
    * rewrite, preserving a partitioned layout ([[rewriteFrom]]);
    * [[deleteMergeOnRead]] is the O(delete-set) alternative. Deleting
    * every row is legal — the table becomes a readable empty snapshot. */
  def delete(spark: SparkSession, path: String, keys: DataFrame, key: String): Long = {
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "delete")
    val remaining = readAt(spark, path, base).join(keys.select(key), Seq(key), "left_anti")
    rewriteFrom(fs, root, base, remaining)
  }

  /** Change data feed: what a downstream consumer must apply to catch up
    * from `fromV` to `toV` without re-reading the table.
    *
    * APPEND FAST PATH: when `toV` is reachable from `fromV` by pure
    * appends (every `fromV` entry survives into `toV`, all delta entries
    * are data files), the inserts ARE the new files — the feed reads
    * ONLY them, no diff, no shuffle, no key-uniqueness assumption
    * (Delta-CDF serves appends the same way). This also serves feeds
    * across an additive schema drift: rows from before a column existed
    * are not re-reported.
    *
    * Otherwise (rewrite commits) the feed is the keyed diff between the
    * two snapshots — one full-outer join on the key, row images compared
    * null-safely as a struct over the COMMON non-key columns:
    *  - key only in `toV`   → `insert` (after-image)
    *  - key only in `fromV` → `delete` (before-image — the consumer
    *    needs to know WHAT was deleted)
    *  - in both, any common non-key column differs → `update`
    *    (after-image); identical rows produce nothing.
    * Columns present on only one side (an additive drift crossed the
    * feed window) read NULL in images from the other side, and every
    * emitted row carries `schema_change = true` so the consumer knows to
    * ALTER before applying — the same ALTER-only semantics the rest of
    * the table supports. At 100 TB the diff is one shuffle on the key —
    * the same class as the MERGE that produced the versions; the append
    * fast path is how the common case avoids even that. */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromV < toV, s"changes: fromV $fromV must precede toV $toV")
    val (fs, root) = Writers.fsFor(path)
    require(isCommitted(fs, root, fromV) && isCommitted(fs, root, toV),
      s"changes: both v$fromV and v$toV must be committed versions of $path")
    val mFrom = readManifest(fs, root, fromV)
    val mTo = readManifest(fs, root, toV)
    val toSet = mTo.toSet
    val delta = mTo.filterNot(mFrom.toSet)

    val before = readAt(spark, path, fromV)
    val after = readAt(spark, path, toV)
    require(before.columns.contains(key) && after.columns.contains(key),
      s"changes: key '$key' must exist in both snapshots")
    val beforeT = before.schema.map(f => f.name -> f.dataType).toMap
    val afterT = after.schema.map(f => f.name -> f.dataType).toMap
    for (c <- beforeT.keySet & afterT.keySet)
      require(beforeT(c) == afterT(c),
        s"changes: column '$c' changed type between v$fromV and v$toV " +
          s"(${beforeT(c)} vs ${afterT(c)}) — only additive drift is supported")
    val allOthers = (before.columns ++ after.columns).distinct.filterNot(_ == key).sorted.toSeq
    val typeOf = beforeT ++ afterT
    val schemaChanged = before.columns.sorted.toSeq != after.columns.sorted.toSeq
    def image(df: DataFrame, cols: Seq[String]) =
      cols.map(c => if (df.columns.contains(c)) col(c) else lit(null).cast(typeOf(c)).as(c))

    if (mFrom.forall(toSet.contains) && delta.nonEmpty && delta.forall(_.kind == KindData) &&
        mFrom.forall(_.kind == KindData)) {
      // append-only: the new files are the inserts, read nothing else
      val ins = readEntries(spark, fs, root, delta, targetOf(fs, root, toV))
      ins.select(
        col(key) +: lit("insert").as("change_type") +: lit(schemaChanged).as("schema_change") +:
          image(ins, allOthers): _*)
    } else if (mFrom.forall(toSet.contains) && delta.nonEmpty &&
        delta.forall(_.kind == KindDv)) {
      // merge-on-read DV window: the delta is exactly the deletion
      // vector — the feed is the before-images at the recorded
      // positions, fetched by re-reading ONLY the files the vector
      // names with the positional filter INVERTED (rows it covers).
      // Discovery recorded positions against the MATERIALIZED fromV
      // snapshot, so already-deleted rows are never re-reported.
      val dv = loadDvMap(spark, root, delta)
      val named = mFrom.filter(e => e.kind == KindData && dv.files.contains(e.relPath))
      if (named.isEmpty)
        before.limit(0).select(
          col(key) +: lit("delete").as("change_type") +:
            lit(schemaChanged).as("schema_change") +: image(before, allOthers): _*)
      else {
        import org.apache.spark.sql.graft.ColumnBridge
        val scan = materialize(spark, fs, root,
          named ++ mFrom.filterNot(_.kind == KindData), targetOf(fs, root, fromV),
          withMeta = true)
        val pred = ColumnBridge.column(graft.functions.DvContains(
          ColumnBridge.expression(col(FileMetaCol)),
          ColumnBridge.expression(col(PosMetaCol)), dv))
        scan.filter(pred)
          .select(col(key) +: lit("delete").as("change_type") +:
            lit(schemaChanged).as("schema_change") +: image(before, allOthers): _*)
      }
    } else if (mFrom.forall(toSet.contains) && delta.nonEmpty &&
        delta.forall(_.kind == KindDelete) &&
        delta.forall(e => spark.read.parquet(new HPath(root, e.relPath).toString)
          .columns.sameElements(Array(key)))) {
      // merge-on-read DELETE window: the delta is exactly the delete-key
      // files, keyed on the caller's key — the feed is the before-images
      // of those keys, fetched with ONE semi-join against the old
      // snapshot (delete sets are tiny → broadcast; no full-outer diff
      // of two whole snapshots)
      val keys = delta.map(e => spark.read.parquet(new HPath(root, e.relPath).toString))
        .reduce(_.union(_)).distinct()
      before.join(keys, Seq(key), "left_semi")
        .select(col(key) +: lit("delete").as("change_type") +:
          lit(schemaChanged).as("schema_change") +: image(before, allOthers): _*)
    } else {
      val commonOthers = (before.columns.toSet & after.columns.toSet - key).toSeq.sorted
      def side(df: DataFrame, name: String) =
        df.select(col(key), struct(commonOthers.map(col): _*).as(s"__cmp$name"),
          struct(image(df, allOthers): _*).as(s"__img$name"))
      side(before, "B").join(side(after, "A"), Seq(key), "full_outer")
        .withColumn("change_type",
          when(col("__imgB").isNull, "insert")
            .when(col("__imgA").isNull, "delete")
            .when(!(col("__cmpB") <=> col("__cmpA")), "update"))
        .filter(col("change_type").isNotNull)
        .withColumn("__img", coalesce(col("__imgA"), col("__imgB")))
        .select(col(key) +: col("change_type") +: lit(schemaChanged).as("schema_change") +:
          allOthers.map(c => col(s"__img.$c").as(c)): _*)
    }
  }

  /** Change data feed across a version WINDOW at per-commit granularity —
    * the multi-version surface the `graft-versioned` connector's
    * `readChangeFeed` option serves (Delta's CDF read shape). One row per
    * changed key per commit, each carrying `commit_version` so a consumer
    * can apply commits in order (or group by version, as stream_t11's
    * loop does one call at a time).
    *
    * `fromV` is the FIRST version whose changes are included. When it is
    * the table's oldest committed version the feed bootstraps: that
    * snapshot's rows are emitted as `insert`s (Delta's startingVersion=0
    * semantics) — the one intentionally O(snapshot) window. Every later
    * version pairs with its committed PREDECESSOR through [[changes]],
    * so append commits serve O(new files), merge-on-read deletes
    * O(delete set), and only genuine rewrites pay a keyed diff.
    *
    * Feeds crossing an additive schema drift union by NAME: columns a
    * version predates read NULL in its rows (and those rows carry
    * `schema_change = true` from the underlying per-commit feed). The
    * union plan is O(window length) on the driver — bounded by the same
    * retention that keeps the window replayable at all. */
  def changeFeed(spark: SparkSession, path: String, fromV: Long, toV: Long, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromV >= 1 && fromV <= toV,
      s"changeFeed: need 1 <= fromV <= toV, got ($fromV, $toV)")
    val all = versions(path)
    val window = all.filter(v => v >= fromV && v <= toV)
    require(window.nonEmpty,
      s"changeFeed: no committed version of $path in [$fromV, $toV]")
    // fromV must itself be a visible committed version: a start below the
    // retention floor asks for changes whose predecessor snapshots were
    // vacuumed — serving the floor's bootstrap instead would hand a
    // consumer full-state inserts it would double-apply. Loud, like a
    // checkpoint below the retention horizon on the streaming source.
    require(window.head == fromV,
      s"changeFeed: version $fromV of $path is not committed/retained — the feed " +
        s"window floor is ${all.headOption.getOrElse(-1L)} (vacuumed history cannot " +
        "be replayed; restart from the floor's bootstrap or the current snapshot)")
    val predecessor: Map[Long, Long] = all.zip(all.drop(1)).map(_.swap).toMap
    val feeds = window.map { v =>
      val feed = predecessor.get(v) match {
        case Some(p) => changes(spark, path, p, v, key)
        case None => // window starts at the oldest version: bootstrap inserts
          val snap = readAt(spark, path, v)
          require(snap.columns.contains(key),
            s"changeFeed: key '$key' must exist in v$v of $path")
          val others = snap.columns.filterNot(_ == key).sorted.toSeq
          snap.select(col(key) +: lit("insert").as("change_type") +:
            lit(false).as("schema_change") +: others.map(col): _*)
      }
      feed.withColumn("commit_version", graft.functions.BoundLong.column(v))
    }
    val joined = feeds.reduce(_.unionByName(_, allowMissingColumns = true))
    // commit_version leads, images keep the per-commit alphabetical order
    joined.select(col("commit_version") +:
      joined.columns.filterNot(_ == "commit_version").toIndexedSeq.map(col): _*)
  }

  /** Full-snapshot MERGE: replace rows matching `key` with `updates`,
    * append the rest, commit as a new version. The whole table is
    * rewritten — correct for unpartitioned tables; partitioned tables
    * should use [[upsertPartitioned]], which rewrites only touched
    * partitions. */
  def upsert(spark: SparkSession, path: String, updates: DataFrame, key: String): Long = {
    Writers.requireUniqueKeys("Versioned.upsert", updates, key)
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "upsert")
    gateIdentityMerge(spark, path, base, updates, key, "upsert")
    val merged = readAt(spark, path, base)
      .join(updates, Seq(key), "left_anti")
      .unionByName(updates)
    val v = rewriteFrom(fs, root, base, merged) // re-attaches declared metadata
    ratchetAfterMerge(path, updates)
    v
  }

  /** Copy-on-write partitioned MERGE — the shape that scales: only the
    * partitions that contain updated keys are read and rewritten; every
    * file of every untouched partition is carried into the new manifest
    * BY REFERENCE (metadata-only, zero bytes copied — at 100 TB a
    * single-partition fix costs one partition's rewrite, not a table
    * rewrite). `partCols` may be one or more columns and must equal the
    * table's committed layout in order. Contract: the table was
    * committed via [[commitPartitioned]]; update partition values are
    * non-null; a key never MOVES between partitions (the standard
    * pruned-MERGE contract — matching is per-partition, so a moved key
    * would leave its old row behind; keys that move need the
    * full-snapshot [[upsert]]).
    * The distinct-partition-tuples collect is bounded by the partition
    * count of the BATCH — the same driver-side cardinality any engine's
    * partition pruning materializes. Because the touched-partition
    * directories are PREDICTED from the batch's values, the freshly
    * written dirs are verified against the prediction after the write: a
    * value whose string rendering diverges from Spark's partition-path
    * encoding (r5 ADVICE) fails the commit loudly instead of silently
    * duplicating the partition under two names. */
  def upsertPartitioned(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      key: String,
      partCols: String*
  ): Long = {
    import org.apache.spark.sql.functions.col
    require(partCols.nonEmpty, "Versioned.upsertPartitioned: at least one partition column")
    Writers.requireUniqueKeys("Versioned.upsertPartitioned", updates, key)
    val (fs, root) = Writers.fsFor(path)
    val cur = headOf(path, "upsertPartitioned")
    gateIdentityMerge(spark, path, cur, updates, key, "upsertPartitioned")
    val entries = readManifest(fs, root, cur)
    require(entries.forall(_.kind == KindData),
      s"Versioned.upsertPartitioned: $path has outstanding merge-on-read deletes — " +
        "run compactDeletes first (a partition carried by reference would otherwise " +
        "detach from the delete files that apply to it)")
    require(layoutPartCols(entries) == partCols.toSeq,
      s"Versioned.upsertPartitioned: $path is laid out on " +
        s"(${layoutPartCols(entries).mkString(", ")}), not (${partCols.mkString(", ")}) — " +
        "partition columns must match the committed layout in order")
    val tuples = updates.select(partCols.map(col): _*).distinct().collect()
    require(tuples.forall(r => partCols.indices.forall(i => !r.isNullAt(i))),
      s"Versioned.upsertPartitioned: updates carry a NULL partition value — must be non-null")
    val touchedDirs = tuples.map { r =>
      partCols.indices.map { i =>
        s"${partCols(i)}=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(r.get(i).toString)
      }.mkString("/")
    }.toSet
    val touched = entries.filter(e => touchedDirs.contains(e.partDir))
    val merged = withTableMetadata(
      if (touched.isEmpty) updates // all-new partitions: nothing to merge against
      else
        readEntries(spark, fs, root, touched, targetOf(fs, root, cur))
          .join(updates, Seq(key), "left_anti")
          .unionByName(updates),
      fs, root, cur)
    // lost-update guard with DISJOINTNESS: a rival that only changed
    // OTHER partitions did not invalidate this merge's read set (the
    // touched partitions' files), so the commit rebases onto the
    // rival's snapshot instead of failing — partition-disjoint writers
    // land concurrently, overlapping ones still conflict loudly
    val (v, derivedBase) = claimDisjoint(fs, root, path, cur, touchedDirs)
    merged.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(dataDir(root, v).toString)
    val fresh = localEntries(fs, root, v, partitioned = true)
    val freshDirs = fresh.map(_.partDir).toSet
    // post-write verification (r5 ADVICE): Spark rendered the batch's
    // partition values into dirs we did not predict → the untouched/
    // touched split above was wrong; abort (uncommitted claim,
    // recoverClaims-able) instead of publishing duplicate partitions
    require(freshDirs.subsetOf(touchedDirs),
      s"Versioned.upsertPartitioned: partition-value rendering diverged from Spark's " +
        s"path encoding — wrote ${freshDirs.diff(touchedDirs).mkString(", ")}, " +
        s"predicted ${touchedDirs.mkString(", ")}. Not committing.")
    // O(touched) metadata: untouched entries stay implicit in the base
    // manifest; resolution = base minus the touched relPaths plus fresh,
    // the same `untouched ++ fresh` sequence a full manifest held. The
    // delta's base is whatever claimDisjoint rebased onto — the removes
    // are still valid there (disjoint rivals never touched them).
    val got = publishDelta(fs, root, v, derivedBase,
      adds = fresh, removes = touched.map(e => (e.partDir, e.relPath)), schema = merged.schema)
    ratchetAfterMerge(path, updates)
    got
  }

  /** DYNAMIC PARTITION OVERWRITE through
    * [[RewriteFiles.replacePartitions]] — `INSERT OVERWRITE` under
    * `partitionOverwriteMode=dynamic` on the committed partition
    * layout: every partition the frame TOUCHES is replaced whole,
    * every other partition is carried by reference untouched — ONE
    * atomic delta commit (O(touched) metadata), the same
    * claim-disjoint rebase as [[upsertPartitioned]]
    * (partition-disjoint writers land concurrently; overlapping ones
    * conflict loudly). The difference from upsert: touched partitions'
    * prior rows are NOT merged — replacement is the contract. */
  def replacePartitions(spark: SparkSession, path: String, updates: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val (fs, root) = Writers.fsFor(path)
    val cur = headOf(path, "replacePartitions")
    val entries = readManifest(fs, root, cur)
    require(entries.forall(_.kind == KindData),
      s"Versioned.replacePartitions: $path has outstanding merge-on-read deletes — " +
        "run compactDeletes first (a partition carried by reference would otherwise " +
        "detach from the delete files that apply to it)")
    val partCols = layoutPartCols(entries)
    val t = new RewriteFiles.Table[ManifestEntry] {
      def name = "Versioned"
      lazy val schema = metaSchema(fs, root, cur).getOrElse(updates.schema)
      def partitionNames = partCols
      def files = entries
      def partition(e: ManifestEntry) = e.partDir.split("/").map { kv =>
        val (k, v) = kv.splitAt(kv.indexOf('='))
        k -> Option(ExternalCatalogUtils.unescapePathName(v.drop(1)))
          .filterNot(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      }.toMap
      def unchanged = cur
    }
    RewriteFiles.replacePartitions(t, updates) { r =>
      val touchedDirs = r.touched.map(_.zip(partCols).map { case (v, c) =>
        s"$c=${ExternalCatalogUtils.escapePathName(v)}"
      }.mkString("/"))
      val (v, derivedBase) = claimDisjoint(fs, root, path, cur, touchedDirs)
      r.rows.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
        .parquet(dataDir(root, v).toString)
      val fresh = localEntries(fs, root, v, partitioned = true)
      val freshDirs = fresh.map(_.partDir).toSet
      // post-write verification: Spark rendered a partition value
      // into a dir the claim did not predict → abort (uncommitted
      // claim, recoverClaims-able) instead of publishing duplicates
      require(freshDirs.subsetOf(touchedDirs),
        s"Versioned.replacePartitions: partition-value rendering diverged from Spark's " +
          s"path encoding — wrote ${freshDirs.diff(touchedDirs).mkString(", ")}, " +
          s"predicted ${touchedDirs.mkString(", ")}. Not committing.")
      publishDelta(fs, root, v, derivedBase,
        adds = fresh, removes = r.removed.map(e => (e.partDir, e.relPath)),
        schema = r.rows.schema)
    }
  }

  /** MERGE-ON-READ delete — the zero-rewrite alternative to the
    * copy-on-write [[delete]], through [[MergeOnRead.deleteMatched]]:
    * the commit writes ONLY a POSITIONAL DELETION VECTOR under
    * `v/deletes` — `(rel_path, pos, len)` runs of the deleted rows'
    * file positions ([[dvRuns]]) — and carries the previous manifest by
    * reference: ZERO data files rewritten (s20's entry `require`s
    * exactly that), the right trade when deletes are tiny relative to
    * the table (GDPR erasure, retraction feeds). Readers apply the
    * vector as ONE broadcast row-index filter inside the scan — no
    * anti-join, no shuffle, O(log runs) per row (r7 verdict #3) — where
    * the legacy key-list files cost one join per outstanding delete
    * commit. Vectors stack, one file per commit; [[compactDeletes]]
    * folds the debt back into pure data files when it accumulates —
    * the same rewrite-vs-read knob Iceberg exposes. A delete matching
    * nothing still commits (an empty vector).
    *
    * Position discovery reads the CURRENT MATERIALIZED snapshot (so
    * already-deleted rows are never re-recorded — the change feed
    * depends on that) with the scan's own `_metadata.row_index`, and is
    * STATS-PRUNED: a data file whose recorded [min,max] for the key
    * cannot intersect the delete set's [lo,hi] cannot contain a match
    * and is skipped at the manifest, before any scan (files without
    * statistics always participate; pruning is an optimization, never
    * a correctness filter). On a key-clustered table a narrow
    * retraction scans O(overlapping files), not the table —
    * [[lastDvDiscovery]] exposes (scanned, total) for proofs.
    * Sequencing is structural: a vector names the files it covers, so
    * a later append reusing a deleted key is never swallowed. */
  def deleteMergeOnRead(
      spark: SparkSession, path: String, keys: DataFrame, key: String,
      meta: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.{col, min, max}
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "deleteMergeOnRead")
    val entries = readManifest(fs, root, base)
    val keyType = metaSchema(fs, root, base).flatMap(_.fields.find(_.name == key)).map(_.dataType)
    val keyBounds: Option[(Any, Any)] = keyType.flatMap {
      case _: org.apache.spark.sql.types.NumericType =>
        val r = keys.agg(min(col(key)), max(col(key))).head()
        if (r.isNullAt(0)) None
        else Some((new java.math.BigDecimal(r.get(0).toString),
          new java.math.BigDecimal(r.get(1).toString)))
      case _: org.apache.spark.sql.types.StringType =>
        val r = keys.agg(min(col(key)), max(col(key))).head()
        if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
      case _ => None
    }
    val (dataE, otherE) = entries.partition(_.kind == KindData)
    val overlapping = keyBounds match {
      case Some((lo, hi)) => dataE.filter(e => statsOverlap(e.stats, key, lo, hi))
      case None           => dataE
    }
    // every file pruned → nothing can match; keep one file in the scan
    // so the key-column validation and the (empty) vector still commit.
    // The validation comes BEFORE committing: a delete keyed on a
    // column the snapshot does not carry would commit fine and then
    // poison every subsequent read — with compaction, the documented
    // repair path, failing the same way
    val scanned = if (overlapping.isEmpty) dataE.take(1) else overlapping
    dvDiscovery.put(path, (scanned.size, dataE.size))
    MergeOnRead.deleteMatched(
      morTable(spark, fs, root, base, "Versioned.deleteMergeOnRead", scanned ++ otherE, meta),
      keys, key)
  }

  /** DV-backed predicate DELETE — `DELETE FROM t WHERE cond` with zero
    * data files rewritten, through [[MergeOnRead.deleteWhere]]: the
    * matching rows' positions commit as a deletion vector exactly like
    * [[deleteMergeOnRead]]'s, but the match set is an arbitrary
    * predicate instead of a key list (an arbitrary predicate has no
    * [lo, hi] to stats-prune on, so discovery scans the snapshot once
    * — the same scan the copy-on-write [[delete]] pays, minus the whole
    * rewrite). This is what the SQL `DELETE FROM` statement lands as. */
  def deleteWhere(
      spark: SparkSession, path: String, cond: org.apache.spark.sql.Column,
      meta: Map[String, String] = Map.empty): Long = {
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "deleteWhere")
    val entries = readManifest(fs, root, base)
    val nData = entries.count(_.kind == KindData)
    dvDiscovery.put(path, (nData, nData))
    MergeOnRead.deleteWhere(
      morTable(spark, fs, root, base, "Versioned.deleteWhere", entries, meta), cond)
  }

  /** Version `base` as a [[MergeOnRead.Table]] over the manifest
    * `entries` its discovery scans. The file key is the data file's
    * on-disk path relative to the table root (what the reader's
    * [[graft.functions.DvMap]] keys on); vectors stack (no prior
    * merge). */
  private def morTable(spark: SparkSession, fs: FileSystem, root: HPath, base: Long,
      op: String, entries: Seq[ManifestEntry], meta: Map[String, String]): MergeOnRead.Table =
    new MergeOnRead.Table {
      val name = op
      lazy val live =
        materialize(spark, fs, root, entries, targetOf(fs, root, base), withMeta = true)
      val fileKey = MergeOnRead.diskPath(FileMetaCol, root, relative = true)
      val posCol = PosMetaCol
      def prior = Map.empty
      def commit(m: MergeOnRead.Matches) = {
        import spark.implicits._
        val v = claimExact(fs, root, base) // derived from base: lost-update guard
        m.encode(oneTask = true)(dvRuns).toDF("rel_path", "pos", "len")
          .write.mode(SaveMode.Overwrite)
          .parquet(new HPath(versionDir(root, v), "deletes").toString)
        publishDelta(fs, root, v, base,
          adds = localEntries(fs, root, v, partitioned = false, subdir = "deletes", kind = KindDv),
          removes = Nil,
          schema = StructType(live.schema.fields.filterNot(f =>
            f.name == FileMetaCol || f.name == PosMetaCol)),
          meta = meta)
      }
    }

  /** Run-length encode one task's files: each maximal run of
    * consecutive positions becomes one `(rel_path, pos, len)` row —
    * O(ranges) for clustered deletes. */
  private val dvRuns: MergeOnRead.Files => Iterator[(String, Long, Long)] =
    _.flatMap { case (rel, ps) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      var i = 0
      while (i < ps.length) {
        var j = i + 1
        while (j < ps.length && ps(j) == ps(j - 1) + 1) j += 1
        runs += ((rel, ps(i), (j - i).toLong))
        i = j
      }
      runs
    }

  /** Copy-on-write predicate UPDATE — `UPDATE t SET c = expr WHERE
    * cond`: the new snapshot rewrites every row through
    * `when(cond, value).otherwise(col)` per assigned column (assigned
    * values cast to the column's committed type), preserving a
    * partitioned layout. An update cannot be a deletion vector (it
    * changes bytes), so this pays the rewrite the way [[upsert]] does;
    * partition-scoped updates on a Hive layout go through
    * [[upsertPartitioned]] with a computed update set instead. This is
    * what the SQL `UPDATE` statement lands as. */
  def updateWhere(
      spark: SparkSession, path: String, set: Map[String, org.apache.spark.sql.Column],
      cond: Option[org.apache.spark.sql.Column]): Long = {
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "updateWhere")
    metaSchema(fs, root, base).foreach(t => Ids.gateUpdate("Versioned.updateWhere", t, set.keys))
    val snap = readAt(spark, path, base)
    rewriteFrom(fs, root, base, snap.select(
      graft.interop.CopyOnWrite.assignments("Versioned.updateWhere", snap.schema, set, cond): _*))
  }

  /** The LEGACY keyed merge-on-read delete (pre-DV format): commits a
    * single-column parquet of deleted keys that readers anti-join,
    * version-sequenced. Kept so the reader's compatibility path — every
    * pre-r8 table in the wild — stays exercised by specs; new code
    * wants [[deleteMergeOnRead]]'s positional vectors. */
  private[ingest] def deleteMergeOnReadKeys(
      spark: SparkSession, path: String, keys: DataFrame, key: String): Long = {
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "deleteMergeOnReadKeys")
    val snapshot = readAt(spark, path, base)
    require(snapshot.columns.contains(key),
      s"Versioned.deleteMergeOnReadKeys: key '$key' is not a column of the current snapshot")
    val v = claimExact(fs, root, base)
    keys.select(key).distinct()
      .write.mode(SaveMode.Overwrite)
      .parquet(new HPath(versionDir(root, v), "deletes").toString)
    publishDelta(fs, root, v, base,
      adds = localEntries(fs, root, v, partitioned = false, subdir = "deletes", kind = KindDelete),
      removes = Nil, schema = snapshot.schema)
  }

  /** Shared validation for the metadata-only schema-evolution commits:
    * the column-id mapping applies at READ time per owning version, so
    * two shapes must be refused up front — partition columns (their
    * names are baked into every partDir fragment and Spark's partition
    * recovery) and outstanding merge-on-read deletes (a delete file's
    * key column is matched BY NAME against aligned frames; evolving
    * the name would silently detach the delete — run compactDeletes
    * first). Returns (fs, root, base version, base entries, schema,
    * ids). */
  private def evolutionBase(path: String, op: String)
      : (FileSystem, HPath, Long, Seq[ManifestEntry], StructType, Map[String, Int]) = {
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, op)
    val entries = readManifest(fs, root, base)
    // positional deletion vectors survive evolution untouched (they name
    // files and row positions, not columns); only the LEGACY keyed
    // delete files — matched by column name at read — would detach
    require(entries.forall(e => e.kind == KindData || e.kind == KindDv),
      s"Versioned.$op: $path has outstanding legacy keyed merge-on-read deletes — run " +
        "compactDeletes first (their key columns are matched by name and would detach)")
    val schema = metaSchema(fs, root, base).getOrElse(
      throw new IllegalStateException(
        s"Versioned.$op: $path predates schema metadata — recommit once before evolving"))
    (fs, root, base, entries, schema, colIdsOf(fs, root, base))
  }

  /** Metadata-only SCHEMA EVOLUTION through the shared [[Evolve]] core:
    * the manifest is carried verbatim (an empty delta) and the new
    * schema and column-id map ride one derived commit. The column-id
    * mapping applies at READ time per owning version — an added column
    * takes a FRESH stable id (every pre-addition file serves it as
    * NULL), a renamed one keeps its id under the new name, a dropped
    * one leaves the map (its bytes stay in the files until the next
    * natural rewrite folds them out), a widened one is CAST up at scan
    * time. Time travel below a change presents the schema each
    * snapshot committed. Refused here, besides the core's rules:
    * outstanding legacy keyed deletes ([[evolutionBase]]); partition
    * columns for every change but add and clear-default (their names
    * and values are baked into the directory layout); and a widening
    * across the xxhash64 domain of a column with BLOOM sidecars
    * (byte/short/int hash alike, long differently — a probe at the
    * widened type would wrongly skip files; compactFiles re-blooms). */
  private[graft] def evolve(spark: SparkSession, path: String, c: Evolve.Change): Long = {
    import Evolve._
    val (fs, root, base, entries, schema0, ids) = evolutionBase(path, c.verb)
    Evolve(new Table {
      def name = "Versioned"
      def schema = schema0
      def refuse(c: Change): Unit = c match {
        case _: Add | _: ClearDefault => ()
        case _ =>
          require(!layoutPartCols(entries).contains(c.column),
            s"Versioned.${c.verb}: '${c.column}' is a partition column — its name and " +
              "values come from the directory layout; repartition the table first")
          c match {
            case Widen(n, to) if to == LongType && schema0(n).dataType != LongType =>
              require(loadBloomIndex(spark, fs, root, entries.filter(_.kind == KindData), n)
                .isEmpty,
                s"Versioned.widenColumnType: '$n' carries bloom point-lookup sidecars " +
                  s"hashed at ${schema0(n).dataType.simpleString} — widening to " +
                  s"${to.simpleString} changes the xxhash64 domain and equality probes " +
                  "would wrongly skip files; compactFiles (re-bloom) first")
            case _ => ()
          }
      }
      def record(c: Change, next: StructType): Long = {
        val fresh = (0 +: ids.values.toSeq).max + 1
        val newIds = c match {
          case Add(n, _) => ids + (n -> fresh)
          case Rename(from, to) => (ids - from) + (to -> ids.getOrElse(from, fresh))
          case Drop(n) => ids - n
          case _ => ids
        }
        val v = claimExact(fs, root, base) // derived: lost-update guard
        publishDelta(fs, root, v, base, adds = Nil, removes = Nil,
          schema = next, meta = Map(ColIdsKey -> renderColIds(newIds)))
      }
    }, c)
  }

  /** RENAME a column (metadata only, see [[evolve]]). */
  def renameColumn(path: String, from: String, to: String): Long =
    evolve(SparkSession.active, path, Evolve.Rename(from, to))

  /** DROP a column (metadata only, see [[evolve]]). */
  def dropColumn(path: String, name: String): Long =
    evolve(SparkSession.active, path, Evolve.Drop(name))

  /** ADD a nullable column (metadata only, see [[evolve]]). */
  def addColumn(path: String, name: String, dataType: DataType): Long =
    evolve(SparkSession.active, path, Evolve.Add(name, dataType))

  /** WIDEN a column's type (metadata only, see [[evolve]]) — the
    * graft-native mirror of Delta's `typeWidening` / Iceberg's type
    * promotion. Manifest min/max stats keep pruning because
    * [[statsOverlap]] compares NUMERICALLY (BigDecimal), not by
    * physical width. */
  def widenColumn(spark: SparkSession, path: String, name: String, to: DataType): Long =
    evolve(spark, path, Evolve.Widen(name, to))

  private val CurrentDefaultKey = Evolve.DefaultKey

  /** The table's declared column defaults (column → default SQL) —
    * what [[appendCommit]]/[[appendCommitOnce]] fill omitted columns
    * with. Empty for tables without defaults. */
  def columnDefaults(path: String): Map[String, String] = {
    val (fs, root) = Writers.fsFor(path)
    currentVersion(path).flatMap(v => metaSchema(fs, root, v)).map(_.fields.toSeq
      .filter(_.metadata.contains(CurrentDefaultKey))
      .map(f => f.name -> f.metadata.getString(CurrentDefaultKey)).toMap)
      .getOrElse(Map.empty)
  }

  /** Declare a column DEFAULT (metadata only, see [[evolve]]): appends
    * that omit the column fill it with the folded constant — the
    * graft-native mirror of Delta's `allowColumnDefaults` / Iceberg's
    * v3 `write-default`. Rows already written keep what they have
    * (this is a WRITE default, not an existence default). */
  def setColumnDefault(spark: SparkSession, path: String, name: String,
      sqlExpr: String): Long =
    evolve(spark, path, Evolve.SetDefault(name, sqlExpr))

  /** DROP a column's default: appends omitting the column refuse again. */
  def clearColumnDefault(spark: SparkSession, path: String, name: String): Long =
    evolve(spark, path, Evolve.ClearDefault(name))

  // ------------------------------------------------- identity columns
  // the graft-native mirror of Delta's `identityColumns` writer
  // feature, through the shared rules ([[Identity]]): the declaration
  // and high watermark live as field metadata in the published schema
  // under `graft.identity.`, and each watermark rides the commit that
  // moves it
  private val Ids = Identity.Versioned

  /** The table's identity declarations: column → (start, step,
    * allowExplicitInsert, high watermark). */
  def identityColumns(path: String): Map[String, (Long, Long, Boolean, Option[Long])] =
    schemaOf(path).map(Ids.columns).getOrElse(Map.empty).map { case (n, (sp, h)) =>
      n -> ((sp.start, sp.step, sp.allowExplicitInsert, h))
    }

  /** Declare `name` as an IDENTITY column (GENERATED ALWAYS when
    * `allowExplicitInsert` is false, BY DEFAULT when true) — a
    * metadata-only derived commit, empty-table-only like Delta's
    * create-time rule. The column must be BIGINT, not a partition
    * column, and not defaulted. */
  def declareIdentity(spark: SparkSession, path: String, name: String,
      start: Long = 1L, step: Long = 1L, allowExplicitInsert: Boolean = false): Long = {
    val (fs, root, base, entries, schema, ids) = evolutionBase(path, "declareIdentity")
    val declared = Ids.declare("Versioned.declareIdentity", schema, name,
      Identity.Spec(start, step, allowExplicitInsert), layoutPartCols(entries))(
      entries.exists(_.kind == KindData) && !read(spark, path).isEmpty)
    val v = claimExact(fs, root, base)
    publishDelta(fs, root, v, base, adds = Nil, removes = Nil, schema = declared,
      meta = Map(ColIdsKey -> renderColIds(ids)))
  }

  /** `df` with the columns of `t` (matched case-insensitively) in its
    * order, named and carrying field metadata as `t` does — the frame
    * a commit publishes the schema of. */
  private def withFieldsOf(df: DataFrame, t: StructType): DataFrame =
    df.select(t.fields.toIndexedSeq.map { f =>
      org.apache.spark.sql.functions.col(df.columns.find(_.equalsIgnoreCase(f.name)).get)
        .as(f.name, f.metadata)
    }: _*)

  /** Re-attach the TABLE's declared field metadata (identity
    * declarations, CURRENT_DEFAULT, ...) to a frame about to be
    * PUBLISHED as the new schema — a merge's joined/unioned frame can
    * silently lose attribute metadata, and publishing it would DROP
    * the table's declarations (the r13 identity work surfaced this:
    * an upsert on a declared table erased the declaration). No-op when
    * the column sets diverge (schema-changing rewrites publish their
    * own shape). */
  private def withTableMetadata(df: DataFrame, fs: FileSystem, root: HPath,
      base: Long): DataFrame =
    metaSchema(fs, root, base) match {
      case Some(t) if t.fields.exists(_.metadata != org.apache.spark.sql.types.Metadata.empty) &&
          t.fieldNames.map(_.toLowerCase).toSet == df.columns.map(_.toLowerCase).toSet =>
        withFieldsOf(df, t)
      case _ => df
    }

  /** The merge gate ([[Identity.gateMerge]]) against the table at `base`. */
  private def gateIdentityMerge(spark: SparkSession, path: String, base: Long,
      updates: DataFrame, key: String, op: String): Unit = {
    val (fs, root) = Writers.fsFor(path)
    metaSchema(fs, root, base).foreach(t =>
      Ids.gateMerge(s"Versioned.$op", t, updates, key, readAt(spark, path, base)))
  }

  /** Ratchet the BY-DEFAULT watermarks a landed merge of `updates`
    * moved ([[Identity.mergeRatchets]]) — a metadata-only derived
    * commit on the head, only when something moved. */
  private def ratchetAfterMerge(path: String, updates: DataFrame): Unit = {
    val (fs, root) = Writers.fsFor(path)
    val head = currentVersion(path).getOrElse(return)
    val table = metaSchema(fs, root, head).getOrElse(return)
    val moved = Ids.ratcheted(table, Ids.mergeRatchets(table, updates),
      Identity.seenIn(updates))
    if (moved.nonEmpty) {
      val v = claimExact(fs, root, head)
      publishDelta(fs, root, v, head, adds = Nil, removes = Nil,
        schema = Ids.withHwms(table, moved),
        meta = Map(ColIdsKey -> renderColIds(colIdsOf(fs, root, head)))): Unit
    }
  }

  /** Conform an append frame to the table at `b` — ONE schema read per
    * attempt: omitted defaulted columns fill ([[fillDefaults]]), then
    * the identity rules apply ([[conformIdentity]]). `seen` is the
    * frame's [[Identity.seenIn]], shared by every attempt. */
  private def conformAppend(op: String, df: DataFrame, fs: FileSystem, root: HPath, b: Long,
      seen: (String, Identity.Spec) => Option[Long]): DataFrame =
    (if (b == 0L) None else metaSchema(fs, root, b)).fold(df)(t =>
      conformIdentity(op, fillDefaults(df, t), t, seen))

  /** `df` under the identity rules of `table` ([[Identity.conform]];
    * returned as is when the table declares none): the frame must hold
    * exactly the table's columns, and its field metadata carries the
    * watermarks this commit moves on `table`, so the published schema
    * records them. */
  private def conformIdentity(op: String, df: DataFrame, table: StructType,
      seen: (String, Identity.Spec) => Option[Long]): DataFrame =
    if (Ids.columns(table).isEmpty) df
    else {
      val c = Ids.conform(op, df, table)
      val has = (n: String) => c.frame.columns.exists(_.equalsIgnoreCase(n))
      val extra = c.frame.columns.filterNot(x => table.fieldNames.exists(_.equalsIgnoreCase(x)))
      val missing = table.fieldNames.filterNot(has)
      require(extra.isEmpty && missing.isEmpty,
        s"$op: an identity table's append must match its columns exactly " +
          s"(extra: ${extra.mkString(",")}; missing: ${missing.mkString(",")})")
      withFieldsOf(c.frame, Ids.withHwms(table, Ids.published(table, c, seen)))
    }

  /** Conform an append frame to the table's defaults contract: fill
    * omitted CURRENT_DEFAULT columns with their folded constants and
    * re-attach the table fields' metadata (the append publishes its
    * frame's schema, and losing the metadata would silently DROP the
    * declared defaults). A frame that evolves the schema (new columns)
    * or omits a default-less column passes through untouched — the
    * existing evolution/refusal behavior owns those shapes. */
  private def fillDefaults(df: DataFrame, table: StructType): DataFrame = {
    if (!table.fields.exists(_.metadata.contains(CurrentDefaultKey))) return df
    def has(c: String) = df.columns.exists(_.equalsIgnoreCase(c))
    val missing = table.fields.filterNot(f => has(f.name))
    val extra = df.columns.filterNot(c => table.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (extra.nonEmpty || missing.exists(!_.metadata.contains(CurrentDefaultKey))) return df
    withFieldsOf(missing.foldLeft(df)((acc, f) => acc.withColumn(f.name,
      org.apache.spark.sql.functions.expr(f.metadata.getString(CurrentDefaultKey))
        .cast(f.dataType))), table)
  }

  /** RESTORE: roll the table back to retained `version` by publishing
    * that snapshot's manifest as a NEW commit — history is never
    * rewritten, the bad commits stay inspectable, and not one data
    * byte moves (the new manifest carries every file by reference;
    * Delta's RESTORE semantics). A derived commit: claims exactly
    * current+1, so a concurrent writer cannot be silently rolled over.
    * Restoring the current version is a no-op. The restored version
    * must still be retained — vacuumed history cannot be restored,
    * loudly. */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val (fs, root) = Writers.fsFor(path)
    val cur = headOf(path, "restore")
    require(isCommitted(fs, root, version),
      s"Versioned.restore: version $version of $path is not committed (never existed, crashed, or vacuumed)")
    if (version == cur) return cur
    val entries = readManifest(fs, root, version)
    val schema = metaSchema(fs, root, version)
      .getOrElse(readAt(spark, path, version).schema) // legacy pre-schema-meta history
    val v = claimExact(fs, root, cur) // derived: lost-update guard
    publish(fs, root, v, entries, schema, prevForIds = Some(version))
  }

  /** Fold outstanding merge-on-read deletes into a fresh pure-data
    * snapshot (full rewrite), preserving a Hive-partitioned layout if
    * the table has one — otherwise compaction would strand
    * [[upsertPartitioned]]/[[readPartitions]] forever. After this, reads
    * pay no anti-joins and the partition-scoped operations are available
    * again. */
  def compactDeletes(spark: SparkSession, path: String): Long = {
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "compactDeletes")
    // no outstanding deletes → nothing to fold; a scheduled maintenance
    // run on a clean table must be a no-op, not a full table rewrite
    if (readManifest(fs, root, base).forall(_.kind == KindData)) return base
    rewriteFrom(fs, root, base, readAt(spark, path, base)) // deletes applied
  }

  /** Data-file compaction — the maintenance knob that keeps a long
    * append/MoR history cheap to read (r5 verdict #1): rewrites the
    * current snapshot into ONE fresh version (folding any delete debt,
    * preserving a partitioned layout), optionally clustering into
    * `numFiles` output files. After it, the whole table lives in a
    * single version dir — one scan, zero anti-joins — and [[vacuum]]
    * can reclaim the history. A NO-OP when the snapshot is already
    * compact (pure data, single owning version, within the file budget):
    * a scheduled maintenance loop must not rewrite a clean table. */
  def compactFiles(
      spark: SparkSession, path: String, numFiles: Option[Int] = None,
      statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(numFiles.forall(_ >= 1), s"compactFiles: numFiles must be >= 1, got $numFiles")
    val (fs, root) = Writers.fsFor(path)
    val base = headOf(path, "compactFiles")
    val entries = readManifest(fs, root, base)
    // an EMPTY snapshot (all-rows delete) is already as compact as it
    // gets — without this, a scheduled maintenance loop would publish a
    // fresh empty version on every run, unbounded version growth on a
    // clean table (r6 ADVICE)
    if (entries.isEmpty) return base
    val owners = entries.map(entryVersion).distinct
    if (entries.forall(_.kind == KindData) && owners.size == 1 &&
        numFiles.forall(entries.size <= _)) return base
    val snap = readAt(spark, path, base)
    val partCols = layoutPartCols(entries)
    // statsCols: a table serving readSkipping keeps its per-file stats
    // through maintenance — cluster by the first stats column so the
    // rewritten files keep narrow ranges worth recording
    val df = (numFiles, partCols, statsCols) match {
      case (Some(n), Nil, sc +: _) =>
        snap.repartitionByRange(n, col(sc)).sortWithinPartitions(sc)
      case (Some(n), Nil, _) => snap.repartition(n)
      // partitioned layout: cluster by partition value so each task
      // writes whole partitions — n tasks, ~1 file per (task, partition)
      case (Some(n), ps, _)  => snap.repartition(n, ps.map(col): _*)
      case _                 => snap
    }
    rewriteFrom(fs, root, base, df, statsCols)
  }

  /** A manifest entry's recorded [min, max] for `c`, in comparison
    * domain (numeric stats as exact BigDecimal, everything else as the
    * canonical strings) — None when the file has no stat for `c`. */
  private def statBounds(e: ManifestEntry, c: String): Option[(Any, Any)] =
    e.stats.flatMap { s =>
      Option(Json.readTree(s).get(c)).flatMap { cn =>
        val (mn, mx) = (cn.get("min"), cn.get("max"))
        if (mn == null || mx == null || mn.isNull || mx.isNull) None
        else if (mn.isNumber) Some((mn.decimalValue, mx.decimalValue))
        else Some((mn.asText, mx.asText))
      }
    }

  /** The STRAGGLERS of a clustered layout for `clusterCol`
    * ([[RewriteFiles.stragglers]]). On a [[commitClustered]] table that
    * an append loop keeps landing unclustered batches on, the original
    * range-disjoint files stay CLEAN and exactly the appended
    * full-range files come back — the set whose rewrite restores
    * pruning without touching the rest. */
  private def clusterStragglers(
      entries: Seq[ManifestEntry], clusterCol: String): Seq[ManifestEntry] =
    RewriteFiles.stragglers(entries)(statBounds(_, clusterCol))

  /** INCREMENTAL CLUSTERING MAINTENANCE (r7 verdict #4): where
    * [[commitZOrdered]]/[[commitClustered]] rewrite the whole table,
    * this policy re-clusters ONLY the straggler files — the ones whose
    * `clusterCol` ranges overlap the layout (appended unclustered
    * batches, stats-less files) — into `targetFiles` fresh
    * range-disjoint files, carrying every clean file BY REFERENCE
    * (metadata-only, zero bytes copied). An append-heavy loop calling
    * this keeps [[readSkipping]]'s pruning effectiveness forever
    * without ever paying a full-table rewrite: each fold costs
    * O(stragglers), and between folds (stragglers within
    * `maxStragglers`) one manifest resolution, no data touched.
    * Returns the maintenance commit's version, None when within
    * budget. Unpartitioned pure-data layouts only (a partitioned
    * table's clustering is its partition layout; MoR debt folds via
    * [[compactDeletes]] first). */
  def maintainClusteredIfNeeded(
      spark: SparkSession, path: String, clusterCol: String,
      maxStragglers: Int = 4, targetFiles: Int = 4): Option[Long] = {
    import org.apache.spark.sql.functions.col
    require(maxStragglers >= 0, s"maintainClusteredIfNeeded: maxStragglers >= 0, got $maxStragglers")
    require(targetFiles >= 1, s"maintainClusteredIfNeeded: targetFiles >= 1, got $targetFiles")
    val (fs, root) = Writers.fsFor(path)
    val base0 = headOf(path, "maintainClusteredIfNeeded")
    val probe = readManifest(fs, root, base0)
    if (probe.forall(_.kind == KindData) && probe.forall(_.partDir.isEmpty) &&
        clusterStragglers(probe, clusterCol).size <= maxStragglers) return None
    Some(retryDerived(maxAttempts = 3) {
      val base = currentVersion(path).get
      val entries = readManifest(fs, root, base)
      require(entries.forall(_.kind == KindData),
        s"Versioned.maintainClusteredIfNeeded: $path has outstanding merge-on-read deletes — " +
          "run compactDeletes first")
      require(entries.forall(_.partDir.isEmpty),
        s"Versioned.maintainClusteredIfNeeded: $path is Hive-partitioned — its clustering " +
          "is the partition layout (compactFiles maintains it)")
      val messy = clusterStragglers(entries, clusterCol)
      if (messy.size <= maxStragglers) base
      else {
        val df = readEntries(spark, fs, root, messy, targetOf(fs, root, base))
        require(df.columns.contains(clusterCol),
          s"Versioned.maintainClusteredIfNeeded: '$clusterCol' is not a column of $path")
        val v = claimExact(fs, root, base)
        df.repartitionByRange(targetFiles, col(clusterCol))
          .sortWithinPartitions(clusterCol)
          .write.mode(SaveMode.Overwrite).parquet(dataDir(root, v).toString)
        val adds = withFileStats(spark, root,
          localEntries(fs, root, v, partitioned = false), Seq(clusterCol))
        publishDelta(fs, root, v, base,
          adds = adds, removes = messy.map(e => (e.partDir, e.relPath)),
          schema = metaSchema(fs, root, base).getOrElse(df.schema))
      }
    })
  }

  /** OPTIMIZE-ON-WRITE maintenance policy: fold the current snapshot
    * whenever it has outgrown `maxFiles` manifest entries (small-file
    * debt from an append loop, or merge-on-read delete debt — both
    * count: every entry is read-path cost) — the trigger that keeps a
    * daily ingest loop permanently compact without a human remembering
    * [[compactFiles]]. Returns the compaction's version when one ran,
    * None when the table is within budget (the common case: one
    * manifest resolution, no data touched). Compaction is a derived
    * commit, so a rival landing mid-fold is retried from the fresh
    * snapshot — bounded, loud on livelock. */
  def maintainIfNeeded(
      spark: SparkSession, path: String, maxFiles: Int,
      targetFiles: Int = 1, statsCols: Seq[String] = Nil): Option[Long] = {
    require(maxFiles >= 1, s"maintainIfNeeded: maxFiles must be >= 1, got $maxFiles")
    require(targetFiles >= 1 && targetFiles <= maxFiles,
      s"maintainIfNeeded: targetFiles must be in [1, $maxFiles], got $targetFiles")
    val (fs, root) = Writers.fsFor(path)
    currentVersion(path).flatMap { v =>
      if (readManifest(fs, root, v).size <= maxFiles) None
      else Some(retryDerived(maxAttempts = 3) {
        compactFiles(spark, path, Some(targetFiles), statsCols)
      })
    }
  }

  /** [[appendCommit]] with the optimize-on-write policy attached: land
    * the batch, then fold the snapshot if the append pushed it over
    * `maxFiles`. Returns the APPEND's version (the data commit — the
    * maintenance fold, when it runs, is metadata the caller can see in
    * [[versions]]). The post-call invariant a loop can rely on:
    * `manifest(current).size <= maxFiles`. */
  def appendCommitCompacting(
      df: DataFrame, path: String, maxFiles: Int,
      targetFiles: Int = 1, meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Long = {
    val v = appendCommit(df, path, meta, statsCols)
    maintainIfNeeded(df.sparkSession, path, maxFiles, targetFiles, statsCols)
    v
  }

  /** Optimistic-concurrency retry loop for DERIVED commits: runs `body`
    * (an upsert/delete/append against `path`), and when a rival writer
    * wins the base+1 claim first (ConcurrentModificationException),
    * re-derives from the NEW current snapshot and tries again — which is
    * exactly what the exception contract demands of callers, packaged
    * once. The body must re-read the table's current state on each
    * attempt (all Versioned derived operations do). Backoff is linear
    * and bounded; a body that keeps losing after `maxAttempts` rethrows
    * the last conflict — livelock surfaces instead of spinning. */
  def retryDerived[T](maxAttempts: Int = 5, backoffMs: Long = 50L)(body: => T): T = {
    require(maxAttempts >= 1, s"retryDerived: maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case _: java.util.ConcurrentModificationException if attempt < maxAttempts =>
          Thread.sleep(backoffMs * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Retention: keep the newest `keepLast` committed versions plus every
    * version directory any retained manifest still references; delete the
    * other COMMITTED versions, then (per-file GC) reclaim individual
    * parquet files inside the still-referenced old dirs that no retained
    * manifest references — a file superseded by a partitioned MERGE is
    * reclaimed even though siblings in its dir live on. A file-GC'd dir
    * gets a `_gc` tombstone: its own snapshot is no longer readable
    * ([[readAt]] fails loudly; [[versions]] hides it) while its
    * surviving files remain addressable by newer manifests. Uncommitted
    * (claimed) directories are never touched — one could belong to a
    * live, slow writer, and deleting under it would let its final
    * `_committed` marker publish a snapshot whose data files are gone
    * (Hadoop creates recreate parent dirs). Crashed claims are reclaimed
    * by the age-gated [[recoverClaims]] instead. Returns the number of
    * whole version directories removed. */
  def vacuum(path: String, keepLast: Int): Int = {
    require(keepLast >= 1, s"vacuum must keep at least 1 version, got $keepLast")
    val (fs, root) = Writers.fsFor(path)
    if (!fs.exists(root)) return 0
    val committed = versions(path)
    val kept = committed.takeRight(keepLast)
    val allDirs = fs.listStatus(root).toSeq.flatMap(st => parseVersion(st.getPath.getName))
    val gcd = allDirs.filter(v => fs.exists(new HPath(versionDir(root, v), GcFile)))
    // an uncommitted claim at u may be an IN-FLIGHT derived commit from
    // base u-1: until it resolves (commits or is reclaimed), its base —
    // and everything its base's manifest references — must survive, or
    // the writer's final marker would publish a snapshot whose carried
    // files vacuum just deleted. (File-GC'd dirs are NOT in-flight
    // writers — their claims were removed when they were tombstoned.)
    val uncommitted = allDirs.filterNot(committed.contains).filterNot(gcd.contains)
    val pinnedBases = uncommitted.map(_ - 1).filter(committed.contains)
    val anchors = (kept ++ pinnedBases).distinct
    val refFiles: Set[String] =
      anchors.flatMap(v => readManifest(fs, root, v).map(_.relPath)).toSet
    val referencedDirs = refFiles.map(_.takeWhile(_ != '/')) ++
      anchors.map(v => versionDir(root, v).getName)
    val doomed = (committed ++ gcd).distinct
      .filter(v => !referencedDirs.contains(versionDir(root, v).getName))
    // METADATA-CHAIN REPAIR: a surviving delta commit resolves through
    // its base-pointer chain, and a doomed dir may be a link in it (its
    // FILES are unreferenced but its `_delta`/`_manifest` is not).
    // Before anything is deleted, materialize each such survivor into a
    // full checkpoint — ascending, so an early materialization truncates
    // every later survivor's chain at it. The survivor is ALREADY
    // committed, so the checkpoint lands via tmp + atomic rename: a torn
    // write must not corrupt a version readers can see (resolution
    // prefers `_manifest`, so a crash that leaves the stale `_delta`
    // beside it is benign).
    if (doomed.nonEmpty) {
      val doomedSet = doomed.toSet
      val survivors = (committed ++ gcd).distinct.filterNot(doomedSet.contains).sorted
      for (v <- survivors
           if !fs.exists(new HPath(versionDir(root, v), ManifestFile))
           if chainVersions(fs, root, v).exists(doomedSet.contains)) {
        val resolved = readManifest(fs, root, v)
        val tmp = new HPath(versionDir(root, v), "_manifest.tmp")
        fs.delete(tmp, false) // stale tmp from a crashed repair
        val out = fs.create(tmp, false)
        try out.write(resolved.map(renderEntryLine).mkString("\n").getBytes("UTF-8"))
        finally out.close()
        fs.rename(tmp, new HPath(versionDir(root, v), ManifestFile))
        fs.delete(new HPath(versionDir(root, v), DeltaFile), false)
      }
    }
    doomed.foreach { v =>
      lockProvider.release(fs, versionDir(root, v)) // clear store-side claim state too
      fs.delete(versionDir(root, v), true)
    }
    // per-file GC: inside surviving NON-ANCHOR dirs (kept only because
    // some retained manifest references SOME of their files), delete the
    // parquet files nothing retained references
    val rootUri = root.toUri.getPath.stripSuffix("/")
    for (v <- (committed ++ gcd).distinct if !doomed.contains(v) && !anchors.contains(v)) {
      val dir = versionDir(root, v)
      val bloomPrefix = new HPath(dir, "bloom").toUri.getPath
      val it = fs.listFiles(dir, true)
      val junk = scala.collection.mutable.ArrayBuffer.empty[HPath]
      while (it.hasNext) {
        val p = it.next().getPath
        // the bloom SIDECAR is metadata, never manifest-referenced —
        // counting it as junk would tombstone a version whose data
        // files are all still referenced AND delete the live point-
        // lookup index for files carried by reference
        if (p.getName.endsWith(".parquet") &&
            !p.toUri.getPath.startsWith(bloomPrefix + "/") &&
            !refFiles.contains(p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")))
          junk += p
      }
      if (junk.nonEmpty) {
        // tombstone FIRST, then delete (r6 ADVICE): the _gc marker makes
        // the version loudly unreadable (readAt/versions hide it) before
        // any file disappears, so a crash mid-GC cannot leave a version
        // that still advertises itself as committed while its files are
        // gone (FileNotFoundException at scan time). File deletion after
        // the tombstone is safely resumable — the next vacuum re-lists
        // and re-deletes the same junk set.
        fs.create(new HPath(dir, GcFile), true).close()
        // the claim served its purpose; releasing it keeps recoverClaims
        // from ever mistaking this tombstoned dir for a crashed writer
        lockProvider.release(fs, dir)
        junk.foreach(fs.delete(_, false))
      }
    }
    doomed.size
  }
}
