package graft.ops

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

/** A minimal versioned-manifest table format: the commit-protocol answer to
  * the documented concurrency limit of plain parquet paths (see
  * [[Sinks.idempotentParquetAppend]] — two concurrent writers against a bare
  * directory have nothing to serialize against). The reference's store is a
  * single-writer Postgres table (create_death_table.sql:1-8,
  * global_dag.py:381-397); this is the multi-writer, snapshot-isolated form
  * a 100-TB lakehouse needs, built on one storage primitive: the
  * CONDITIONAL PUT ([[ObjectStoreClient.putIfNoneMatch]]). Committing
  * version N is one conditional PUT of its manifest `_log/vN.txt`
  * ([[ObjectStoreLogStore]]): exactly one writer per version wins; losers
  * re-read the new latest snapshot and retry at N+1. The PUT is atomic, so
  * readers see either nothing or the whole manifest, and a writer that
  * dies mid-commit leaves nothing behind that could block the next one.
  * On a Hadoop filesystem ([[ManifestTable.apply]]) the client
  * ([[HadoopFsObjectStore]]) stages the body, then publishes it with a
  * hard link (`file://`) or a no-overwrite rename (HDFS-class schemes),
  * both of which fail when the version exists. Plain rename is NOT the
  * primitive because POSIX `rename(2)` silently overwrites an existing
  * destination — two "successful" renames to the same manifest would lose
  * a commit.
  *
  * Data files are immutable: every commit writes its parquet under a fresh
  * `data/<uuid>/` directory and the manifest names the set of directories
  * alive in that snapshot. Readers pin one manifest, so a query planned at
  * version N is unaffected by any later commit (snapshot isolation), and
  * `snapshotAt` gives time travel for free. The manifest also carries the
  * schema DDL, so an empty table stays readable and reads skip footer
  * inference.
  *
  * Semantics by operation (every one commits through one retry loop that
  * re-reads the latest version per attempt):
  *  - `append`: new dirs = old dirs + one; conflicts retry cheaply (the
  *    data dir is already written; only the manifest CAS re-runs).
  *  - `overwrite`: new dirs = exactly one.
  *  - `merge`: copy-on-write MERGE (last-write-wins upsert on a key). A
  *    conflict means the base snapshot changed, so the rewrite itself
  *    recomputes against the new snapshot before retrying — the result is
  *    always a serializable history.
  *  - `deleteByKeys`: copy-on-write keyed DELETE; new dirs = the one
  *    rewrite without the tombstoned keys, recomputed on a conflict like
  *    `merge`'s.
  *  - `compact`: new dirs = one rewrite of the same rows, recomputed on a
  *    conflict like `merge`'s.
  *
  * `merge` and `deleteByKeys` rewrite every live dir: the callers' batches
  * span their key range (sha1 ids, key-modulus batches), so per-dir key
  * ranges would spare none.
  *
  * Failure notes (documented trade-offs, mirrored in ManifestTableSpec):
  *  - Upgrading from the lock-file log (older code reserved `_log/vN.lock`,
  *    then renamed a tmp file onto `vN.txt`): the on-disk format is the
  *    same, and reads work across code versions in both directions (a new
  *    reader ignores the old `.lock`/`.crc` files; an old reader whose
  *    stale `._ckpt.crc` no longer matches the rewritten `_ckpt` LISTs
  *    instead). Writers do not mix: an old writer's rename overwrites a
  *    manifest a new writer linked, so stop every old writer before a new
  *    one commits.
  *  - `vacuum(retainLast)` deletes data dirs unreferenced by the newest K
  *    manifests; time travel older than that stops working, like Delta's
  *    `VACUUM` past the retention window.
  *  - The `_log` itself is append-only and never pruned: every commit adds
  *    one manifest. NO read path pays for that growth: `latestVersion()`
  *    keeps a per-handle lower bound and probes FORWARD (versions are
  *    dense), so a steady-state commit costs one miss-probe, and every Kth
  *    commit writes the advisory `_ckpt` hint (Delta's `_last_checkpoint`
  *    analog — version + manifest body, last-writer-wins, validated on
  *    read) so a COLD handle's first resolve is one read + <K probes, and
  *    `versions()` (time travel, vacuum) derives `0..latest` from version
  *    density instead of LISTing. The full LIST remains only as the
  *    fallback for absent/invalid hints. Storage still accumulates one
  *    small object per commit — pruning published manifests would break
  *    time travel, which is vacuum's documented contract to bound, not the
  *    log's.
  *  - On an object store, build with [[ManifestTable.onObjectStore]] and
  *    the store's own client. Stores without any conditional write (S3
  *    pre-2024) need a coordinator; same caveat as every log-structured
  *    format.
  */
final class ManifestTable private (
    spark: SparkSession, rootStr: String, log: ObjectStoreLogStore) {
  import ManifestTable._

  private val root = new Path(rootStr)
  private def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dataDir = new Path(root, "data")

  // ---------------------------------------------------------------- reads

  /** Versions with a published manifest, ascending. Versions are DENSE by
    * the commit protocol (commitOnce: next = latest + 1 always, first
    * commit = 0), so the list is `0..latest` — derived from
    * [[latestVersion]] (checkpoint hint + forward probes) rather than the
    * O(commits) `_log` LIST the pre-checkpoint form paid on every vacuum
    * and time-travel listing.
    */
  def versions(): Seq[Long] = latestVersion() match {
    case None => Seq.empty
    case Some(v) => 0L to v
  }

  // A LOWER BOUND on the latest committed version, per table handle —
  // the cure for the documented _log scale trade (see the class doc's
  // failure notes): latestVersion() sits on the hot path of EVERY commit
  // and snapshot, and a full `_log` LIST there grows O(commits) on
  // long-lived streaming tables (a million triggers = a million-entry
  // listing, paginated and billed on S3). Versions are DENSE
  // (commitOnce: next = latest + 1 always) and manifests immutable, so
  // once any version is known, the true latest is found by probing
  // FORWARD one version at a time — in the steady state that is ONE
  // cached-manifest hit per foreign commit plus ONE miss, independent of
  // history length. Data races on the @volatile are benign (the bound
  // only ever advances; a lost write costs an extra probe, never a wrong
  // answer); a stale bound from another process's commits is caught up
  // by the same probe walk. Cold handles (bound unset) pay one full LIST
  // and then never again.
  @volatile private var latestSeen: Long = -1L
  private def advanceSeen(v: Long): Unit = { if (v > latestSeen) latestSeen = v }

  def latestVersion(): Option[Long] = {
    val base = latestSeen
    if (base < 0L) {
      // COLD handle: the checkpoint hint names a known-committed version
      // to probe forward from — one read + ≤K probes instead of the full
      // O(commits) LIST; absent/invalid hints fall back to the LIST
      checkpointBase() match {
        case Some(cv) =>
          var v = cv
          while (log.exists(v + 1)) v += 1
          advanceSeen(v)
          Some(v)
        case None =>
          val v = log.listVersions().lastOption
          v.foreach(advanceSeen)
          v
      }
    } else {
      // body-free probes (filesystem exists / object HEAD): a fallen-
      // behind handle pays one HEAD per foreign commit plus one miss;
      // manifests the caller actually reads still land in the cache via
      // readManifest as before
      var v = base
      while (log.exists(v + 1)) v += 1
      advanceSeen(v)
      Some(v)
    }
  }

  /** Validated checkpoint hint: the checkpointed version, provided its
    * manifest actually EXISTS in the log (the guard against a stale
    * pointer over an externally deleted-and-recreated root — advisory
    * data never produces a phantom version). The embedded manifest body
    * warms the cache, so a cold start that trusts the hint costs zero
    * extra manifest GETs. Any parse/IO failure reads as "no hint".
    */
  private def checkpointBase(): Option[Long] =
    try {
      log.readCheckpoint().flatMap(parseCheckpoint).flatMap { case (v, body) =>
        if (!log.exists(v)) None
        else {
          if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
          manifestCache.put(v, parseManifest(v, body))
          Some(v)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def parseCheckpoint(bytes: Array[Byte]): Option[(Long, Array[Byte])] = {
    val lines = new String(bytes, UTF_8).split('\n')
    if (!lines.headOption.contains(CkptMagic)) return None
    def field(k: String): Option[String] = lines.collectFirst {
      case l if l.startsWith(s"$k=") => l.substring(k.length + 1)
    }
    for {
      v <- field("version").flatMap(_.toLongOption)
      m <- field("manifest")
    } yield (v, dec(m).getBytes(UTF_8))
  }

  /** The table as of its newest commit. Fails on a never-committed table. */
  def snapshot(): DataFrame = {
    def latest = latestVersion().getOrElse(
      throw new IllegalStateException(s"ManifestTable $rootStr: no commits yet"))
    try snapshotAt(latest)
    catch {
      case _: java.io.FileNotFoundException if latestSeen < 0L =>
        // the append-only-contract guard fired (readManifest missed a
        // version at or below the handle's lower bound: the root was
        // externally deleted and recreated) — the bound and cache were
        // reset, so ONE re-resolve now reflects the new log instead of
        // failing confusingly on the phantom version
        snapshotAt(latest)
    }
  }

  /** Time travel: the table exactly as committed at `version`. The file set
    * is pinned from that one manifest, so later commits (or concurrent
    * writers) cannot change what this DataFrame reads.
    */
  def snapshotAt(version: Long): DataFrame = {
    val m = readManifest(version)
    readDirs(m.schemaDdl, m.dirs)
  }

  /** CDC between two committed versions: full-row changes from `fromV` to
    * `toV`, tagged `_change` = "insert" (row present only in `toV`) or
    * "delete" (only in `fromV`); an update surfaces as delete + insert of
    * the key's old/new rows. Row identity is the WHOLE row (the table
    * format stores plain rows, not keys), and MULTIPLICITY is part of the
    * change: EXCEPT ALL emits the count delta, so a row going 2× → 5×
    * yields three "insert" rows — apply-once consumers get the exact
    * multiset difference, not a deduplicated summary.
    *
    * The tag column name `_change` is reserved: a table that already has
    * it is rejected (the same stance Delta takes with `_change_type` —
    * silently replacing the user's column would corrupt the CDC output).
    * Schema changes between the versions are rejected by comparing the
    * manifests' schema DDL (names AND types — a type-widening overwrite
    * must not silently coerce into an empty diff).
    *
    * Scale: two snapshot reads + two EXCEPT ALL set-ops on all columns —
    * each a single shuffle on the row hash, never a driver
    * materialization. Version pruning does NOT apply (a diff must read
    * both full snapshots; incremental CDC would require key metadata the
    * manifest deliberately doesn't carry).
    */
  def diff(fromV: Long, toV: Long): DataFrame = {
    val (mFrom, mTo) = (readManifest(fromV), readManifest(toV))
    require(mFrom.schemaDdl == mTo.schemaDdl,
      s"ManifestTable $rootStr: diff across a schema change ($fromV [${mFrom.schemaDdl}] -> " +
        s"$toV [${mTo.schemaDdl}]) is not defined")
    val before = readDirs(mFrom.schemaDdl, mFrom.dirs)
    val after = readDirs(mTo.schemaDdl, mTo.dirs)
    require(!after.columns.map(_.toLowerCase).contains("_change"),
      s"ManifestTable $rootStr: diff reserves the _change column; the table already has one")
    val ins = after.exceptAll(before).withColumn("_change", lit("insert"))
    val del = before.exceptAll(after).withColumn("_change", lit("delete"))
    ins.unionByName(del)
  }

  private def readDirs(schemaDdl: String, dirs: Seq[String]): DataFrame = {
    val schema = StructType.fromDDL(schemaDdl)
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs.map(d => new Path(dataDir, d).toString): _*)
  }

  // --------------------------------------------------------------- writes

  /** Replace the table contents atomically. Returns the committed version. */
  def overwrite(df: DataFrame): Long = {
    val dir = writeData(df)
    val ddl = normDdl(df.schema)
    commitLoop(DefaultRetries)(_ => Right(Commit("overwrite", ddl, Seq(dir))))._1
  }

  /** Append a batch atomically. The data is written once; only the manifest
    * CAS re-runs on a conflict. The batch's schema must equal the table's
    * (modulo nullability): schema evolution is NOT supported, and silently
    * committing a drifted schema would make every existing dir unreadable
    * (or silently drop a column from the whole table) — `overwrite` is the
    * schema-changing operation. Returns the committed version.
    */
  def append(df: DataFrame, maxRetries: Int = DefaultRetries): Long =
    appendBatch(df, latestVersion().map(readManifest), maxRetries, txn = None,
      skipEmpty = false).get

  /** [[append]], except an EMPTY batch commits nothing (no version, no
    * empty dir) and returns None — the gate a per-trigger streaming sink
    * needs, WITHOUT the separate pre-count job the caller-side
    * `if (df.count() > 0) append(df)` idiom pays: the row count rides the
    * write itself as an observed metric (`Dataset.observe` /
    * CollectMetrics — collected by the write's own tasks, zero extra
    * scheduling rounds), and on zero rows the freshly written dir is
    * deleted best-effort instead of committed. Versioning is identical to
    * the caller-side gate: empty triggers leave the log untouched.
    */
  def appendNonEmpty(df: DataFrame): Option[Long] =
    appendBatch(df, latestVersion().map(readManifest), DefaultRetries, txn = None,
      skipEmpty = true)

  /** Exactly-once APPEND for a streaming sink: commit the batch atomically
    * WITH its `(sinkId, batchId)` transaction token, or recognize that this
    * token (or a later one) already committed and do nothing — the
    * SetTransaction idempotence Delta gives `foreachBatch` writers. The
    * token rides the manifest itself, so the dedup decision and the commit
    * are ONE conditional PUT: a replayed micro-batch (restart after a
    * crash between commit and checkpoint, or a zombie attempt racing its
    * replacement) either loses the CAS and then observes its token on the
    * new latest, or observes it up front — in both cases it deletes its
    * orphan data dir and reports the already-committed version. Tokens are
    * carried forward by every subsequent commit (any action, any writer),
    * so the lookup is O(1) on the latest manifest rather than a log replay.
    * `batchId` must be monotonically increasing per `sinkId` (Structured
    * Streaming's epoch contract): "applied" means a token `>= batchId`
    * exists. Returns the version at which the batch is visible.
    */
  def appendOnce(df: DataFrame, sinkId: String, batchId: Long): Long = {
    require(sinkId.nonEmpty, "appendOnce: sinkId must be non-empty")
    val txn = Some(sinkId -> batchId)
    // fast path BEFORE writing any data: a routine restart replay costs
    // one manifest read, not a parquet write + orphan delete
    val first = latestVersion().map(readManifest)
    if (applied(first, txn)) first.get.version
    else appendBatch(df, first, DefaultRetries, txn, skipEmpty = false).get
  }

  /** The path every append shares. The schema is checked against `base`
    * (the latest manifest the caller resolved) BEFORE the batch is
    * written: a drifted schema is predictable from one cached manifest
    * read, and failing after writeData costs a complete data write plus an
    * orphan dir. The check inside the attempt stays authoritative under
    * races (an interleaved overwrite can change the schema after the
    * pre-check). The dir is written once and every attempt publishes it.
    * With `skipEmpty`, a batch whose write observed no rows deletes its dir
    * and commits nothing (None).
    */
  private def appendBatch(df: DataFrame, base: Option[Manifest], maxRetries: Int,
                          txn: Option[(String, Long)], skipEmpty: Boolean): Option[Long] = {
    val ddl = normDdl(df.schema)
    base.foreach(requireSameSchema(_, ddl))
    val obs = if (skipEmpty) Some(org.apache.spark.sql.Observation()) else None
    val dir = writeData(obs.fold(df)(df.observe(_, count(lit(1)).as("rows"))))
    if (obs.exists(o => observedRows(o)(readDirs(ddl, Seq(dir)).count()) == 0L)) {
      bestEffortDelete(dir, "empty-batch dir")
      None
    } else {
      val (v, published) = commitLoop(maxRetries, txn) { prev =>
        prev.foreach(requireSameSchema(_, ddl))
        Right(Commit("append", ddl, prev.fold(Seq.empty[String])(_.dirs) :+ dir))
      }
      // a racing attempt of the same batch won: our dir is an orphan
      if (!published) bestEffortDelete(dir, "duplicate-batch dir")
      Some(v)
    }
  }

  /** The newest committed `batchId` for `sinkId`, if any — the recovery
    * question an exactly-once sink asks ([[appendOnce]]'s token store).
    */
  def txnVersion(sinkId: String): Option[Long] =
    latestVersion().flatMap(v => readManifest(v).txns.get(sinkId))

  /** Copy-on-write MERGE: last-write-wins upsert of `updates` by `keys`
    * (exactly [[Aggregates.upsert]]'s semantics, including null-safe key
    * matching and its in-batch rule: the smallest row by content survives,
    * on a fresh table too), committed atomically. Every live dir is
    * rewritten (see class doc). On a CAS conflict the rewrite is
    * recomputed against the winner's snapshot. Returns the committed version.
    *
    * An EMPTY batch commits nothing — no version, no data dir — and
    * returns the current version (-1 on a table with no commits), like
    * [[deleteByKeys]]. The row count rides the merge's own write as an
    * observed metric (as in [[appendNonEmpty]]), so a non-empty merge
    * runs no extra job; an empty batch still pays the rewrite it then
    * discards.
    */
  def merge(updates: DataFrame, keys: Seq[String], maxRetries: Int = DefaultRetries): Long =
    mergeCore(updates, keys, maxRetries, txn = None)

  /** Exactly-once MERGE: [[merge]] carrying the same `(sinkId, batchId)`
    * token as [[appendOnce]]. Last-write-wins alone absorbs a replayed
    * micro-batch only when NOTHING interleaved: if another writer updated
    * one of the batch's keys between the crash and the replay, re-merging
    * the stale batch would silently REVERT that writer's value. The token
    * makes the replay a provable no-op instead — checked against the exact
    * manifest the commit lands on, so the decision and the commit are one
    * conditional PUT, and before any rewrite work is spent. Returns the
    * version at which the batch is visible; an empty batch commits neither
    * rows nor its token, as in [[merge]].
    */
  def mergeOnce(updates: DataFrame, keys: Seq[String], sinkId: String, batchId: Long): Long = {
    require(sinkId.nonEmpty, "mergeOnce: sinkId must be non-empty")
    mergeCore(updates, keys, DefaultRetries, txn = Some(sinkId -> batchId))
  }

  private def mergeCore(updates: DataFrame, keys: Seq[String], maxRetries: Int,
                        txn: Option[(String, Long)]): Long = {
    // empty keys would silently collapse a fresh table's first commit to
    // ONE row (a dedup over no key columns is one global group) or
    // crash opaquely inside the upsert's keys.reduce on a non-empty one
    require(keys.nonEmpty, "merge: at least one key column is required")
    commitLoop(maxRetries, txn) { prev =>
      // the batch's row count rides its first write (one Observation per
      // attempt: each is single-use). Observed in the table's session: an
      // Observation completes only from executions in its own session, and
      // a foreachBatch frame's session is the stream's per-run clone, where
      // the merge would recompile its generated code on every restart.
      // Both upsert branches report the count; only zero versus non-zero
      // is read
      val obs = org.apache.spark.sql.Observation()
      val observed = org.apache.spark.sql.GraftBridge.inSession(updates, spark)
        .observe(obs, count(lit(1)).as("rows"))
      val merged = prev match {
        case None => Aggregates.dedupByContent(observed, keys)
        case Some(m) => Aggregates.upsert(readDirs(m.schemaDdl, m.dirs), observed, keys)
      }
      val dir = writeData(merged)
      if (observedRows(obs)(updates.count()) == 0L) {
        bestEffortDelete(dir, "empty-batch dir")
        Left(prev.fold(-1L)(_.version))
      } else Right(Commit("merge", normDdl(merged.schema), Seq(dir), rewrite = true))
    }._1
  }

  /** GDPR-style keyed DELETE through the same COW commit protocol:
    * tombstone keys anti-join every live dir, and the result commits as a
    * new version — prior versions still serve the deleted rows (time
    * travel) until [[vacuum]] reclaims them, which is exactly the
    * audit-then-reclaim shape a right-to-be-forgotten pipeline needs.
    * EMPTY tombstones return the current version without writing (no
    * empty-dir churn). Tombstones that match no row return it too: the
    * rows read and the rows kept ride the rewrite's own write as observed
    * metrics (as in [[merge]]), and equal counts discard the rewrite. On a
    * CAS conflict the rewrite is recomputed against the winner's snapshot.
    */
  def deleteByKeys(tombstones: DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty)
    commitLoop(DefaultRetries) {
      case None => Left(-1L)
      case Some(m) =>
        // the emptiness probe and the anti join must read the SAME
        // tombstones, so they are materialized once to a scratch dir.
        // col with backticks, not selectExpr: a dotted/expression-like
        // key name that merge accepts (Aggregates.upsert quotes exactly
        // this way) must not be re-parsed as a nested-field path here
        val tombSel = tombstones.select(keys.map(k => col(s"`$k`")): _*).distinct()
        val tombDir = writeData(tombSel, ScratchPrefix)
        // schema pinned: an EMPTY tombstone batch can land zero data
        // files, and a bare read would die on footer inference before the
        // no-op return below — plus the pin keeps the key types the
        // anti-join condition was planned against (and skips a
        // footer-inference round trip)
        val tRead = spark.read.schema(tombSel.schema)
          .parquet(new Path(dataDir, tombDir).toString)
        // a delete with nothing to delete must be the advertised no-op —
        // without this, empty tombstones rewrite the WHOLE table. One
        // limit-1 probe over the just-written scratch bytes.
        if (tRead.isEmpty) {
          bestEffortDelete(tombDir, "tombstone scratch dir")
          Left(m.version)
        } else {
          val read = org.apache.spark.sql.Observation()
          val kept = org.apache.spark.sql.Observation()
          val src = readDirs(m.schemaDdl, m.dirs).observe(read, count(lit(1)).as("rows"))
            .alias("_del_b")
          // NULL-SAFE anti join (the Aggregates.upsert convention): with
          // plain equality a null-key tombstone never matches a null-key
          // row, so a delete that reported success would silently leave
          // the null-key row behind — the exact right-to-be-forgotten
          // violation merge's <=> matching exists to prevent
          val tomb = tRead.alias("_del_t")
          val cond = keys.map(k => col(s"_del_b.`$k`") <=> col(s"_del_t.`$k`"))
            .reduce(_ && _)
          val remaining = src.join(tomb, cond, "left_anti")
          val dir = writeData(remaining.observe(kept, count(lit(1)).as("rows")))
          bestEffortDelete(tombDir, "tombstone scratch dir")
          if (observedRows(read)(readDirs(m.schemaDdl, m.dirs).count()) ==
                observedRows(kept)(readDirs(m.schemaDdl, Seq(dir)).count())) {
            bestEffortDelete(dir, "unchanged delete dir")
            Left(m.version)
          } else Right(Commit("delete", m.schemaDdl, Seq(dir), rewrite = true))
        }
    }._1
  }

  /** Number of data dirs the latest version's manifest references — the
    * small-file observable [[compact]] exists to bound; a
    * monitoring loop alerts on its growth the same way it watches
    * [[graft.ops.Dedup.lshOversizedBuckets]].
    */
  def dirCount(): Int = {
    val v = latestVersion().getOrElse(
      throw new IllegalStateException(s"ManifestTable $rootStr: no commits yet"))
    readManifest(v).dirs.length
  }

  /** OPTIMIZE-style compaction: rewrites the whole current dir set into
    * balanced files of ~128 MiB (at least one) committed as ONE dir — the
    * maintenance an append-per-trigger table needs, since every append adds
    * a dir and small files accumulate without bound. The rows are
    * byte-identical (readers cannot observe a compaction except through
    * version numbers); prior versions still time-travel until [[vacuum]]
    * reclaims their dirs. Like [[merge]], a concurrent append/merge wins
    * the CAS and the compaction RECOMPUTES from the winner's snapshot —
    * never discards the winner's rows. Returns the committed version, or -1
    * when there is nothing to compact (empty table or a single dir already).
    */
  def compact(): Long = {
    commitLoop(DefaultRetries) {
      case Some(m) if m.dirs.length >= 2 =>
        val src = readDirs(m.schemaDdl, m.dirs)
        // sized by the file index the read already listed: no extra job
        val bytes = src.queryExecution.optimizedPlan.stats.sizeInBytes
        val files = ((bytes + CompactFileBytes - 1) / CompactFileBytes).max(1).toInt
        val dir = writeData(src.coalesce(files))
        Right(Commit("compact", m.schemaDdl, Seq(dir), rewrite = true))
      case _ => Left(-1L)
    }._1
  }

  /** Delete data directories not referenced by the newest `retainLast`
    * manifests. Time travel older than the retained window stops working
    * (same contract as Delta VACUUM past retention). Returns deleted dirs.
    *
    * `graceMs` protects IN-FLIGHT commits: a writer creates its data dir
    * BEFORE winning the manifest CAS, so an unreferenced-but-fresh dir may
    * be a commit about to publish — deleting it would let the commit
    * succeed pointing at vanished files. Dirs modified within the grace
    * window are skipped (Delta's retention-hours guard plays the same
    * role). Pass 0 only when no writer can be live.
    */
  def vacuum(retainLast: Int = 1, graceMs: Long = DefaultVacuumGraceMs): Seq[String] = {
    require(retainLast >= 1, "vacuum: must retain at least the latest version")
    val keep = versions().takeRight(retainLast)
      .flatMap(v => readManifest(v).dirs).toSet
    if (!fs.exists(dataDir)) return Seq.empty
    val now = System.currentTimeMillis()
    // the grace decision uses the NEWEST timestamp inside the dir, not the
    // directory entry's own: S3-class connectors report 0 (or a synthetic
    // value) for directory prefixes, which would make every in-flight dir
    // look ancient and defeat the guard on exactly the deployment
    // onObjectStore targets — the files inside carry real object mtimes
    def newestMTime(st: org.apache.hadoop.fs.FileStatus): Long = {
      def walk(p: Path): Seq[Long] = {
        // a concurrent best-effort cleanup (conflict loser, duplicate
        // batch, scratch collection) can delete a candidate mid-walk —
        // a vanished subtree reads as "hot" so THIS pass skips it (it is
        // already being collected) instead of aborting the whole vacuum
        val children =
          try fs.listStatus(p).toSeq
          catch { case _: java.io.FileNotFoundException => return Seq(Long.MaxValue) }
        children.flatMap(c =>
          if (c.isDirectory) walk(c.getPath) else Seq(c.getModificationTime))
      }
      (st.getModificationTime +: walk(st.getPath)).max
    }
    // scratch staging dirs get a longer grace: their mtime marks WRITE
    // completion, but a delete READS them until its commit — the regular
    // grace would let a vacuum racing a long delete remove the staging
    // mid-read (crashed operations' scratch still collects, after
    // ScratchVacuumGraceMs)
    def cutoffFor(name: String): Long =
      now - (if (name.startsWith(ScratchPrefix)) math.max(graceMs, ScratchVacuumGraceMs)
             else graceMs)
    val dead = fs.listStatus(dataDir).iterator
      .filter(st => !keep(st.getPath.getName) &&
        newestMTime(st) < cutoffFor(st.getPath.getName))
      .map(_.getPath.getName).toSeq
    dead.foreach(d => fs.delete(new Path(dataDir, d), /* recursive = */ true))
    dead
  }

  /** Manifest schemas are stored top-level-nullable: the DDL's only job is
    * READING the dirs, and file sources force nullable anyway — keeping the
    * writer's NOT NULL markers would make every schema-equality check
    * (the append guard, diff) spuriously fail against read-back schemas.
    */
  private def normDdl(schema: StructType): String =
    StructType(schema.fields.map(_.copy(nullable = true))).toDDL

  // ------------------------------------------------------------ internals

  /** Best-effort delete of a data-dir that NO manifest references: a
    * transient FS error collecting an orphan must never abort an operation
    * whose real work already succeeded — the orphan stays vacuum's to
    * collect, exactly as if the delete had not been attempted.
    */
  private def bestEffortDelete(dir: String, what: String): Unit =
    try { fs.delete(new Path(dataDir, dir), /* recursive = */ true); () }
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"ManifestTable $rootStr: best-effort cleanup of " +
        s"$what $dir failed (vacuum will collect it): ${e.getMessage}")
    }

  /** The one schema-evolution guard, shared by every append path. */
  private def requireSameSchema(prev: Manifest, ddl: String): Unit =
    require(prev.schemaDdl == ddl,
      s"ManifestTable $rootStr: append schema [$ddl] does not match table " +
        s"schema [${prev.schemaDdl}] — schema evolution is not supported; use overwrite")

  /** Writes a batch to a fresh dir and returns its name. `prefix`
    * distinguishes SCRATCH dirs (delete's single-execution staging —
    * consumed by the same operation, never referenced by a manifest) from
    * committed data dirs: [[vacuum]] grants scratch dirs a longer grace so
    * a long-running delete cannot have its staging deleted mid-read (see
    * [[ScratchVacuumGraceMs]]).
    */
  private def writeData(df: DataFrame, prefix: String = ""): String = {
    val dir = prefix + java.util.UUID.randomUUID().toString
    df.write.mode(SaveMode.ErrorIfExists).parquet(new Path(dataDir, dir).toString)
    dir
  }

  /** The commit loop every write goes through. Each attempt resolves the
    * latest version and its manifest, returns that version if it already
    * carries `txn`'s token (a replayed batch), and otherwise asks `attempt`
    * what to publish on top of it: `Left(v)` ends the write without a
    * commit, `Right(c)` is published with one conditional PUT. The token
    * check, the attempt and the PUT all read the SAME base manifest, so
    * the dedup decision and the commit are atomic under the CAS. A lost
    * race deletes the attempt's rewrite dir (no manifest references it —
    * leaving it would cost a table-sized orphan per retry), backs off and
    * re-derives from the winner's snapshot: a rewrite must be recomputed,
    * never re-published, or it would silently drop the winner's rows.
    * Returns the version and whether this call published it.
    */
  private def commitLoop(maxRetries: Int, txn: Option[(String, Long)] = None)(
      attempt: Option[Manifest] => Either[Long, Commit]): (Long, Boolean) = {
    var retries = 0
    while (true) {
      val prev = latestVersion().map(readManifest)
      if (applied(prev, txn)) return (prev.get.version, false)
      attempt(prev) match {
        case Left(v) => return (v, false)
        case Right(c) => commitOnce(prev, c, txn) match {
          case Some(v) => return (v, true)
          case None =>
            if (c.rewrite) bestEffortDelete(c.dirs.head, "conflict-losing dir")
            retries += 1
            if (retries > maxRetries) failRetries(maxRetries)
            Thread.sleep(RetrySleepMs * retries)
        }
      }
    }
    (-1L, false) // unreachable
  }

  /** Whether `prev` already carries `txn`'s token or a later one for the
    * same sink.
    */
  private def applied(prev: Option[Manifest], txn: Option[(String, Long)]): Boolean =
    txn.exists { case (sid, b) => prev.exists(_.txns.get(sid).exists(_ >= b)) }

  /** One CAS attempt: publish `c` as the version after `prev` (version 0
    * on a fresh table), carrying `prev`'s tokens plus `txn`. None = lost
    * the race: `prev` is no longer the latest. The caller's just-read base
    * is trusted instead of re-listing: versions are DENSE (next = latest+1
    * always), so if the real latest has moved past `prev`, the next
    * version already exists and the conditional PUT itself rejects the
    * attempt — the CAS is the staleness check.
    */
  private def commitOnce(prev: Option[Manifest], c: Commit,
                         txn: Option[(String, Long)]): Option[Long] = {
    val next = prev.fold(0L)(_.version + 1)
    val body = new StringBuilder()
      .append(Magic).append('\n')
      .append(s"version=$next\n")
      .append(s"action=${c.action}\n")
      // URL-encoded: a backticked column name may legally contain a newline,
      // which would otherwise corrupt the line-oriented manifest
      .append(s"schema=${enc(c.schemaDdl)}\n")
    c.dirs.foreach(d => body.append(s"dir=$d\n"))
    // transaction tokens survive every commit (any action, any writer):
    // an exactly-once sink's dedup lookup is O(1) on the latest manifest.
    // Sorted for a deterministic body; writer uniqueness for the
    // object-store self-win check still comes from the fresh dir UUIDs.
    val txns = prev.map(_.txns).getOrElse(Map.empty) ++ txn
    txns.toSeq.sortBy(_._1).foreach { case (sid, b) =>
      body.append(s"txn=${enc(sid)}|$b\n")
    }
    val bodyBytes = body.toString.getBytes(UTF_8)
    // lost the race: the commit loop re-derives and retries
    if (!log.publishIfAbsent(next, bodyBytes)) return None
    // warm the cache with the EXACT published bytes: the committer's own
    // follow-up reads (a streaming sink's replay token check, the next
    // merge's input) then cost zero GETs
    if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
    manifestCache.put(next, parseManifest(next, bodyBytes))
    advanceSeen(next) // the committer KNOWS the new latest — no probe needed
    // periodic checkpoint hint (best-effort, never fails the commit): cold
    // handles start their probe here instead of LISTing the whole _log
    if (next > 0 && next % CheckpointInterval == 0)
      writeCheckpointHint(next, bodyBytes)
    Some(next)
  }

  /** Writes the advisory checkpoint (version + its manifest body). A
    * failure only costs future cold starts their LIST, so it logs and
    * moves on — the commit it rides on has already succeeded.
    */
  private def writeCheckpointHint(v: Long, manifestBody: Array[Byte]): Unit =
    try {
      val body = new StringBuilder()
        .append(CkptMagic).append('\n')
        .append(s"version=$v\n")
        .append(s"manifest=${enc(new String(manifestBody, UTF_8))}\n")
        .toString.getBytes(UTF_8)
      log.writeCheckpoint(body)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"ManifestTable $rootStr: best-effort checkpoint at v$v " +
          s"failed (cold starts keep LISTing until the next one lands): ${e.getMessage}")
    }

  private def failRetries(maxRetries: Int): Nothing =
    throw new java.io.IOException(
      s"ManifestTable $rootStr: commit failed after $maxRetries retries; live writers " +
        "kept winning each version — shard writers")

  /** Published manifests are IMMUTABLE (the whole commit protocol rests on
    * it: a version is one conditional PUT, never rewritten), so parsed
    * manifests cache safely per table handle. This matters on an object
    * store, where a write would otherwise GET the same latest manifest
    * again for its schema pre-check, each commit attempt, a replay's
    * token check and the snapshot that follows — each a real-latency,
    * billed request. Bounded: a long-lived handle over many
    * versions clears rather than grows.
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Manifest]()
  private val ManifestCacheMax = 64

  private def readManifest(v: Long): Manifest = {
    val hit = manifestCache.get(v)
    if (hit != null) return hit
    val m = readManifestUncached(v)
    if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
    manifestCache.put(v, m)
    m
  }

  private def readManifestUncached(v: Long): Manifest = {
    val bytes = log.read(v).getOrElse {
      // a miss AT OR BELOW the handle's lower bound means the append-only
      // _log contract was violated externally (root deleted + recreated
      // while this handle lived): reset the bound and the cache so the
      // next resolve LISTs the NEW log instead of serving phantom
      // versions forever (snapshot() retries once on exactly this signal)
      if (v <= latestSeen) { latestSeen = -1L; manifestCache.clear() }
      throw new java.io.FileNotFoundException(
        s"ManifestTable $rootStr: no manifest for version $v")
    }
    parseManifest(v, bytes)
  }

  private def parseManifest(v: Long, bytes: Array[Byte]): Manifest = {
    val text = new String(bytes, UTF_8)
    val lines = text.split('\n')
    require(lines.headOption.contains(Magic),
      s"ManifestTable $rootStr: v$v is not a graft manifest")
    def field(k: String): String = lines.collectFirst {
      case l if l.startsWith(s"$k=") => l.substring(k.length + 1)
    }.getOrElse(sys.error(s"ManifestTable $rootStr: v$v missing field '$k'"))
    // only known prefixes are collected: lines of any other kind (the
    // per-dir `dirstat=` lines older writers added) are ignored
    val txns = lines.toSeq.collect {
      case l if l.startsWith("txn=") => l.substring(4).split('|') match {
        case Array(sid, b) => dec(sid) -> b.toLong
        case _ => sys.error(s"ManifestTable $rootStr: v$v bad txn line '$l'")
      }
    }.toMap
    Manifest(field("version").toLong, field("action"), dec(field("schema")),
      lines.toSeq.collect { case l if l.startsWith("dir=") => l.substring(4) },
      txns)
  }
}

object ManifestTable {
  private val Magic = "graft-manifest-v1"
  private val CkptMagic = "graft-ckpt-v1"
  // every Nth commit writes the advisory `_ckpt` hint, so a cold handle's
  // first resolve is one read + <N probes on a long-lived table
  private val CheckpointInterval = 10
  private val DefaultRetries = 10
  private val RetrySleepMs = 50L
  private val DefaultVacuumGraceMs = 10 * 60 * 1000L
  // scratch staging dirs (delete's tombstones) are written at the START of
  // a delete and READ until its commit — their newest mtime is the
  // write-completion time, so the regular grace only covers the write
  // window, not the consumption window. A 100-TB delete's anti-join
  // rewrite can easily outlive 10 minutes; give scratch a day (a crashed
  // operation's leaked scratch still collects, just later).
  private val ScratchPrefix = "scratch-"
  private val ScratchVacuumGraceMs = 24 * 60 * 60 * 1000L
  private val CompactFileBytes = 128L << 20

  /** A write's row count observed as metric "rows", or `orElse` when the
    * observation went missing: AQE replaces a stage it found empty, and an
    * observation inside it goes missing with it, so only then are the
    * rows counted another way.
    */
  private[graft] def observedRows(obs: org.apache.spark.sql.Observation)(orElse: => Long): Long =
    obs.get.get("rows").fold(orElse)(_.asInstanceOf[Long])

  private final case class Manifest(
      version: Long, action: String, schemaDdl: String, dirs: Seq[String],
      txns: Map[String, Long] = Map.empty)

  /** What one commit attempt publishes: the manifest's action, schema and
    * live dirs. `rewrite` marks `dirs` as the attempt's own rewrite, which
    * a lost race deletes (an append's dir is written once and re-published).
    */
  private final case class Commit(
      action: String, schemaDdl: String, dirs: Seq[String], rewrite: Boolean = false)

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  /** The table with its commit log under `root/_log` on `root`'s Hadoop
    * filesystem ([[HadoopFsObjectStore]]).
    */
  def apply(spark: SparkSession, root: String): ManifestTable =
    onObjectStore(spark, root,
      new HadoopFsObjectStore(root, spark.sparkContext.hadoopConfiguration))

  /** The table with its commit log on an S3-class object store via the
    * conditional-PUT primitive ([[ObjectStoreClient.putIfNoneMatch]]; see
    * [[ObjectStoreLogStore]] and SCALE.md's conditional-PUT contract). The
    * client's keys are the table's (`_log/vN.txt`), so each table needs
    * its own client. DATA files still read/write through `root`'s Hadoop
    * filesystem — on a real deployment that is the same store via its
    * Hadoop connector (s3a/gs/abfs), whose data-path semantics (immutable
    * dirs written before the commit attempt) the protocol already assumes;
    * only the log's atomicity needs the native precondition this client
    * provides.
    */
  def onObjectStore(spark: SparkSession, root: String, client: ObjectStoreClient): ManifestTable =
    new ManifestTable(spark, root, new ObjectStoreLogStore(client))
}
