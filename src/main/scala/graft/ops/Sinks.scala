package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

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
    * batch by content ([[Aggregates.upsert]]'s rule), anti-join against the
    * existing table on the key (the PK + `ON CONFLICT DO NOTHING`
    * semantics), append only the new rows.
    * Re-running with the same batch is a no-op. Creates the table on first
    * write (op 25's CREATE IF NOT EXISTS). Returns the rows appended.
    *
    * One job: the anti-join and the write run together and the count rides
    * the write as an observed metric. Reading the table in the job that
    * appends to it is safe because the read's file list is fixed when the
    * read is built, and the write's files become visible only when the job
    * commits; the anti-join never sees the rows it is appending.
    * A no-op re-run of a non-partitioned table appends no row, but Spark's
    * writer still leaves one empty `part-00000` file, as it does whenever
    * partition 0 of an append is empty; a partitioned table gets no file.
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
    // could conflate in the anti-join and silently drop new rows
    val newRows =
      if (existsNonEmpty(spark, path))
        Aggregates.idempotentNewRows(batch, spark.read.schema(batch.schema).parquet(path), keys)
      else Aggregates.dedupByContent(batch, keys)
    val obs = Observation()
    val w = newRows.observe(obs, count(lit(1)).as("rows")).write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    // a missing observation means AQE proved the new rows empty and
    // replaced their plan; re-running `newRows` instead would anti-join
    // against the rows just written and report 0 for any batch
    ManifestTable.observedRows(obs)(0L)
  }

  /** Idempotent JDBC append: the same dedup + anti-join-on-key contract as
    * [[idempotentParquetAppend]] (`ON CONFLICT DO NOTHING` done
    * relationally) for stores without native upsert. A JDBC read has no
    * file list fixed at build time, so unlike the parquet sink the
    * anti-join is materialized (persist + count) BEFORE the append and the
    * write never scans the table it is inserting into. Creates the table
    * on first write.
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
    else Aggregates.dedupByContent(batch, keys))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = newRows.count()
      if (n > 0) newRows.write.mode(SaveMode.Append).jdbc(url, table, props)
      n
    } finally newRows.unpersist()
  }

  private def jdbcTableExists(url: String, table: String, props: java.util.Properties): Boolean =
    org.apache.spark.sql.GraftBridge.jdbcTableExists(url, table, props)

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
    // qualify BEFORE walking: listFiles returns fully-qualified paths, so
    // an unqualified RELATIVE root never matches them and
    // belowRootComponents would include every filesystem ancestor — one
    // dot/underscore ancestor dir (a CI workspace under ~/.cache, a _work
    // checkout) then makes every data file look hidden and a non-empty
    // table is misread as fresh, skipping the idempotence anti-join
    // entirely
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
    * what [[hasVisibleFile]] tests for hidden components.
    */
  private def belowRootComponents(
      root: org.apache.hadoop.fs.Path, f: org.apache.hadoop.fs.Path): List[String] = {
    val base = root.toUri.getPath
    Iterator.iterate(f)(_.getParent)
      .takeWhile(q => q != null && q.toUri.getPath != base)
      .map(_.getName).toList.reverse
  }
}
