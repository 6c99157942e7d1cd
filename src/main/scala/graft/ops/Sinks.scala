package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink operators (SURVEY.md §2.5, ops 21-25).
  *
  * The reference renders per-row INSERT statements into a .sql file and
  * replays them against Postgres with `ON CONFLICT DO NOTHING`
  * (/root/reference/dags/global_dag.py:144-148,197-221) — a SQL-injection-
  * prone, single-threaded sink. Here the production store is partitioned
  * parquet with the same idempotence contract done relationally (anti-join
  * on the key before append).
  */
object Sinks {

  /** Op 23 — CSV staging sink (global_dag.py:57,67; the pandas index column
    * quirk is intentionally not replicated).
    */
  def csvSink(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Op 21 — non-empty gate: the reference's BranchPythonOperator skip
    * (global_dag.py:151-159). `isEmpty` costs a limit(1) job, not a full
    * scan. Returns whether the write happened.
    */
  def writeIfNonEmpty(df: DataFrame, write: DataFrame => Unit): Boolean =
    if (df.isEmpty) false else { write(df); true }

  /** Ops 18+24+25 — idempotent append to a parquet table: dedup within the
    * batch, anti-join against the existing table on the key (the PK +
    * `ON CONFLICT DO NOTHING` semantics), append only the new rows.
    * Re-running with the same batch is a no-op. Creates the table on first
    * write (op 25's CREATE IF NOT EXISTS).
    *
    * `partitionBy` should be a low-cardinality derived column (the deaths
    * table partitions by death year) so a 100-TB table prunes on read.
    *
    * CONCURRENCY LIMIT (documented, by design of plain parquet): the
    * anti-join reads a snapshot of the table, so two writers appending the
    * same keys CONCURRENTLY can both see them absent and both append —
    * plain parquet paths have no commit protocol to serialize against.
    * Single-writer (or externally serialized) usage is the contract here,
    * which matches the reference's single-threaded Airflow task. For
    * multi-writer use, [[ManifestTable]] provides the commit protocol
    * (versioned manifests + CAS locks): its `merge` executes exactly the
    * relational semantics above, atomically.
    */
  def idempotentParquetAppend(
      spark: SparkSession, batch: DataFrame, path: String,
      keys: Seq[String], partitionBy: Seq[String] = Nil): Long = {
    // read back under the BATCH's schema: inference would re-type
    // partition directories (string "01" and "1" both infer to int 1), so
    // with a key that is also a partition column, distinct string keys
    // could conflate in the anti-join and silently drop new rows — the
    // exact violation processNewPartitions' string-canonical ledger was
    // built to prevent in its sibling path
    val newRows =
      (if (existsNonEmpty(spark, path))
        Aggregates.idempotentNewRows(batch, spark.read.schema(batch.schema).parquet(path), keys)
      else batch.dropDuplicates(keys))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // persist so the count and the write share one evaluation of the
      // dedup + anti-join (the anti-join rescans the existing table)
      val n = newRows.count()
      if (n > 0) {
        val w = newRows.write.mode(SaveMode.Append)
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
      }
      n
    } finally newRows.unpersist()
  }

  /** Idempotent JDBC append: the same dedup + anti-join-on-key contract as
    * [[idempotentParquetAppend]] (`ON CONFLICT DO NOTHING` done
    * relationally) for stores without native upsert. The anti-join is
    * materialized (persist + count) BEFORE the append so the write never
    * scans the table it is inserting into. Creates the table on first write.
    */
  def idempotentJdbcAppend(
      spark: SparkSession, batch: DataFrame, url: String, table: String,
      keys: Seq[String], props: java.util.Properties = new java.util.Properties()): Long = {
    // Existence is probed via JDBC metadata, NOT by catching a failed read:
    // a transient failure (connection, auth, lock) misread as "table absent"
    // would skip the anti-join and append duplicates — the exact violation
    // this function exists to prevent. Real failures propagate.
    val newRows = (if (jdbcTableExists(url, table, props))
      Aggregates.idempotentNewRows(batch, spark.read.jdbc(url, table, props), keys)
    else batch.dropDuplicates(keys))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = newRows.count()
      if (n > 0) newRows.write.mode(SaveMode.Append).jdbc(url, table, props)
      n
    } finally newRows.unpersist()
  }

  private def jdbcTableExists(url: String, table: String, props: java.util.Properties): Boolean =
    org.apache.spark.sql.GraftBridge.jdbcTableExists(url, table, props)

  /** Batch-incremental partition processing — the daily-batch form of the
    * streaming file ledger (ops 20/26): transform and land ONLY the
    * source partitions whose partition value is not yet committed at the
    * destination. Returns the number of newly processed partition values;
    * re-running is a no-op.
    *
    * The "done" ledger is an explicit `_graft_done` MARKER inside each
    * partition directory, created only AFTER the write job commits — a
    * pure filesystem listing (reading the partition column through the
    * parquet reader would open every data file's footer, defeating the
    * point at a 100-TB store). A data file alone is NOT proof of a
    * completed write: both committer algorithms can leave partially
    * written partitions with VISIBLE files (v2 moves task output into
    * the destination at task commit; v1's job commit moves per-task dirs
    * non-atomically), and counting those "done" would skip their missing
    * rows forever. Selected partitions are therefore written with
    * DYNAMIC PARTITION OVERWRITE, so reprocessing a half-written
    * partition replaces it instead of duplicating the surviving rows —
    * crash anywhere (mid-write, or between commit and markers) and the
    * re-run converges. Marker values compare in canonical string form on
    * BOTH sides, exactly as Spark writes directory names, so type
    * inference on read-back can never conflate distinct source values
    * (e.g. string "01" vs "1"); a NULL partition value maps to Hive's
    * default-partition directory and round-trips like any other value.
    * Partition values are metadata-cardinality by contract (see
    * [[idempotentParquetAppend]]), so the driver-side value sets are
    * small. Migration note: a destination written before the marker
    * ledger re-processes every partition once (dynamic overwrite from
    * the current source — idempotent under this operator's contract that
    * `src` is the source of truth for a partition's rows).
    */
  def processNewPartitions(
      spark: SparkSession, src: DataFrame, destPath: String, partitionBy: String,
      maxPartitionValues: Int = 1000000)(
      transform: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"
    def unescapePath(s: String): String =
      "%([0-9A-Fa-f]{2})".r.replaceAllIn(s, m =>
        java.util.regex.Matcher.quoteReplacement(
          Integer.parseInt(m.group(1), 16).toChar.toString))
    val p0 = new org.apache.hadoop.fs.Path(destPath)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify BEFORE comparing against listed paths: fs.listFiles returns
    // fully-qualified paths (scheme + working dir), so an unqualified
    // relative destPath would never equal any listed parent — the done
    // ledger would silently come back empty and every partition would
    // re-process on every run
    val p = fs.makeQualified(p0)
    val done: Set[Option[String]] =
      if (!fs.exists(p)) Set.empty
      else {
        // a partition is done iff its dir holds the post-commit marker —
        // found via ONE recursive listing from the table root (a listing
        // per partition directory is O(#partitions) round trips on an
        // object store; a single LIST stream is one)
        val it = fs.listFiles(p, /* recursive = */ true)
        val names = scala.collection.mutable.Set.empty[String]
        while (it.hasNext) {
          val comps = belowRootComponents(p, it.next().getPath)
          if (comps.length == 2 && comps(1) == DoneMarker &&
              comps.head.startsWith(s"$partitionBy="))
            names += comps.head.substring(partitionBy.length + 1)
        }
        names.map(v => if (v == HiveDefaultPartition) None else Some(unescapePath(v))).toSet
      }
    // The distinct partition values land on the driver BY DESIGN (they are
    // metadata-cardinality: dates, sources, shards) — but a mis-keyed call
    // (partitioning by an id column) would try to collect the whole key
    // domain and OOM the driver with no useful error. The limit bounds the
    // collect to one row past the cap (same single job), and anything over
    // the cap fails loudly: the default 1M distinct partition values is
    // already far beyond what a filesystem listing tolerates.
    val collected = src.select(col(partitionBy).cast("string")).distinct()
      .limit(maxPartitionValues + 1).collect()
    require(collected.length <= maxPartitionValues,
      s"processNewPartitions: column '$partitionBy' has over $maxPartitionValues " +
        "distinct values — that is not a partition column; pick a " +
        "metadata-cardinality key (date/source/shard)")
    // EMPTY STRING canonicalizes to None like null does: Spark writes both
    // a null and an empty-string partition value to the SAME
    // __HIVE_DEFAULT_PARTITION__ directory (ExternalCatalogUtils treats
    // null OR empty as the default partition), so a Some("") source value
    // would never match the ledger's None and its rows would re-append —
    // duplicate — on EVERY run. The two values are conflated into one
    // partition by the storage layout itself; this operator mirrors that.
    val srcVals = collected.map(r => Option(r.getString(0)).filter(_.nonEmpty)).toSet
    val newVals = srcVals -- done
    if (newVals.nonEmpty) {
      // clear UNMARKED pre-existing partition dirs among the selected
      // values BEFORE the write: dynamic overwrite only replaces
      // partitions present in the written frame, so a selected partition
      // whose transform yields ZERO rows this run would keep a crashed
      // prior run's partial data files — yet gain a done marker below,
      // permanently exposing the stale rows. An unmarked dir is by
      // definition not committed (src is the source of truth for its
      // rows per this operator's contract), so deleting it is safe; a
      // crash between this delete and the write leaves the partition
      // unmarked and the next run re-lands it.
      for (v <- newVals) {
        val dir = new org.apache.hadoop.fs.Path(p, partitionDirName(partitionBy, v))
        if (fs.exists(dir)) fs.delete(dir, /* recursive = */ true)
      }
      val nonNull = newVals.flatten.toSeq
      val inNonNull =
        if (nonNull.isEmpty) lit(false)
        else col(partitionBy).cast("string").isin(nonNull.map(x => x: Any): _*)
      val keep = inNonNull ||
        (if (newVals.contains(None))
          col(partitionBy).isNull || col(partitionBy).cast("string") === ""
        else lit(false))
      // DYNAMIC overwrite: only the partitions present in the written
      // frame are replaced — a half-written partition from a crashed run
      // is cleared instead of double-appended, and committed partitions
      // not selected this run are untouched
      transform(src.where(keep))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionBy).parquet(destPath)
      // markers land only AFTER the job commit: a crash before this loop
      // (or mid-loop) leaves the affected partitions unmarked, and the
      // next run's dynamic overwrite re-lands them idempotently. A
      // partition whose transform produced no rows still gets its marker
      // (processed-and-empty, not pending). Partition dir names use
      // Spark's own escaping so the marker lands exactly where the
      // written data did.
      for (v <- newVals) {
        val dir = new org.apache.hadoop.fs.Path(p, partitionDirName(partitionBy, v))
        fs.mkdirs(dir)
        fs.create(new org.apache.hadoop.fs.Path(dir, DoneMarker), /* overwrite = */ true).close()
      }
    }
    newVals.size.toLong
  }

  /** The post-commit per-partition marker [[processNewPartitions]] keys its
    * ledger on. Leading '_' keeps it invisible to parquet readers.
    */
  private[graft] val DoneMarker = "_graft_done"

  /** Spark's own directory name for a partition value (path escaping +
    * the null/empty → default-partition mapping) — ONE definition shared
    * by the pre-write stale-dir sweep and the post-commit marker loop,
    * so the dir the sweep clears is exactly the dir the marker lands in.
    */
  private def partitionDirName(partitionBy: String, v: Option[String]): String =
    s"$partitionBy=" + v
      .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
      .getOrElse("__HIVE_DEFAULT_PARTITION__")

  /** Bucketed table sink: pre-shuffles once at write time so every later
    * equi-join or aggregation on `keys` between co-bucketed tables runs with
    * NO exchange — the decisive layout choice for repeated 100-TB fact-to-
    * fact joins (shuffle once at ingest, never again). Uses the session
    * catalog (`saveAsTable`; bucket metadata doesn't survive a plain
    * `.parquet(path)` write). Pass `path` to land the files at an explicit
    * external location (the table is dropped first so a re-run against a
    * DIFFERENT path — e.g. another scale-factor dir in the same session —
    * can never read the stale location). `buckets` sizes each bucket
    * ≈ table/N: at 100 TB that means thousands of buckets, not the
    * test-SF single digits.
    */
  def bucketedTable(df: DataFrame, table: String, buckets: Int, keys: Seq[String],
                    path: Option[String] = None): Unit = {
    require(keys.nonEmpty)
    // quote PER PART: backticking the whole name would treat "db.t" as one
    // identifier in the current database — the drop would no-op while
    // saveAsTable resolves the qualified name, voiding the stale-path guard
    val quoted = table.split('.').map(part => s"`$part`").mkString(".")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $quoted")
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** True only when the table has at least one DATA file: a directory holding
    * nothing but markers (`_SUCCESS`, a `_temporary` left by a failed write)
    * must take the fresh-table branch — `spark.read.parquet` on it throws
    * (unable to infer schema) and the first real append could never proceed.
    */
  private[graft] def existsNonEmpty(spark: SparkSession, path: String): Boolean = {
    val raw = new org.apache.hadoop.fs.Path(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify BEFORE walking (the processNewPartitions rule): listFiles
    // returns fully-qualified paths, so an unqualified RELATIVE root never
    // matches them and belowRootComponents would include every filesystem
    // ancestor — one dot/underscore ancestor dir (a CI workspace under
    // ~/.cache, a _work checkout) then makes every data file look hidden
    // and a non-empty table is misread as fresh, skipping the idempotence
    // anti-join entirely
    val p = fs.makeQualified(raw)
    fs.exists(p) && hasVisibleFile(fs, p)
  }

  /** True iff `root` contains at least one file that is not hidden — where
    * hidden means the file itself or any directory between it and `root` is
    * a marker (_SUCCESS, _temporary, .crc, ...).
    */
  private def hasVisibleFile(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(root, /* recursive = */ true)
    while (it.hasNext) {
      val comps = belowRootComponents(root, it.next().getPath)
      if (!comps.exists(n => n.startsWith("_") || n.startsWith(".")))
        return true
    }
    false
  }

  /** Path components strictly below `root` (file included), top-down —
    * the ONE walk the visible-file probe and the partition-marker ledger
    * share (two hand-rolled copies of the hidden-component rule could
    * silently diverge).
    */
  private def belowRootComponents(
      root: org.apache.hadoop.fs.Path, f: org.apache.hadoop.fs.Path): List[String] = {
    val base = root.toUri.getPath
    Iterator.iterate(f)(_.getParent)
      .takeWhile(q => q != null && q.toUri.getPath != base)
      .map(_.getName).toList.reverse
  }
}
