package graft

import org.apache.spark.sql.functions._
import graft.ops.{Aggregates, InMemoryObjectStore, ManifestTable}

/** Commit-protocol contract of [[graft.ops.ManifestTable]]: atomic CAS
  * commits, snapshot isolation, time travel, serializable concurrent
  * appends/merges, orphan-lock failure mode, vacuum retention.
  */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("graft-mt").resolve("tbl").toString

  private def kv(rows: (Long, Double)*) =
    rows.toSeq.toDF("k", "v")

  test("overwrite + snapshot roundtrip, empty table readable via manifest schema") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0, 2L -> 2.0))
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 2.0))
    // zero-row commit: parquet dir has no data files; the manifest's schema
    // DDL must keep the snapshot readable
    t.overwrite(kv().where(lit(false)))
    assert(t.snapshot().count() == 0)
    assert(t.snapshot().columns.toList == List("k", "v"))
  }

  test("append accumulates; versions are contiguous; time travel pins history") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0))
    t.append(kv(2L -> 2.0))
    t.append(kv(3L -> 3.0))
    assert(t.versions() == Seq(0L, 1L, 2L))
    assert(t.snapshot().count() == 3)
    // a snapshot taken BEFORE a later commit must not see it (isolation)
    val pinned = t.snapshotAt(1)
    t.append(kv(4L -> 4.0))
    assert(pinned.count() == 2)
    assert(t.snapshotAt(0).as[(Long, Double)].collect().toList == List(1L -> 1.0))
    assert(t.snapshot().count() == 4)
  }

  test("compact: rows identical, file count collapses, time travel intact, appends continue") {
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(1L -> 1.0))
    t.append(kv(2L -> 2.0))
    t.append(kv(3L -> 3.0))
    val before = t.snapshot().orderBy("k").as[(Long, Double)].collect().toList
    def dataFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root, "data")).count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = dataFiles()
    val v = t.compact(numFiles = 1)
    assert(v == 3L, s"compact must commit a new version, got $v")
    // readers cannot observe the compaction except through the version log
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList == before)
    assert(t.snapshotAt(1).count() == 2, "pre-compact versions must still time-travel")
    // vacuum now reclaims every pre-compaction dir; the data keeps reading
    t.vacuum(retainLast = 1, graceMs = 0)
    assert(dataFiles() < filesBefore, s"expected fewer files after compact+vacuum")
    assert(t.snapshot().count() == 3)
    // compacting a single-dir table is a no-op, not a version burn
    assert(t.compact() == -1L)
    t.append(kv(4L -> 4.0))
    assert(t.snapshot().count() == 4)
  }

  test("merge has last-write-wins upsert semantics and serializes with the log") {
    val t = ManifestTable(spark, freshRoot())
    val base = kv(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)
    t.overwrite(base)
    val updates = kv(2L -> 20.0, 9L -> 9.0)
    val v = t.merge(updates, Seq("k"))
    assert(v == 1L)
    val got = t.snapshot().orderBy("k").as[(Long, Double)].collect().toList
    val want = Aggregates.upsert(base, updates, Seq("k"))
      .orderBy("k").as[(Long, Double)].collect().toList
    assert(got == want)
    assert(got == List(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 9L -> 9.0))
    // merge into an EMPTY table is just the key-deduped updates
    val t2 = ManifestTable(spark, freshRoot())
    t2.merge(kv(1L -> 1.0, 1L -> 1.5), Seq("k"))
    assert(t2.snapshot().count() == 1)
  }

  test("concurrent appends all survive — the CAS serializes writers") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(0L -> 0.0))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { w =>
      new Thread(() => {
        try (1 to 3).foreach { i => t.append(kv((w * 100 + i).toLong -> i.toDouble)) }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    // 1 base + 12 appends, no lost update, contiguous log
    assert(t.versions() == (0L to 12L))
    assert(t.snapshot().count() == 13)
  }

  test("concurrent merges serialize: both updates present in the final state") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0, 2L -> 2.0))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      new Thread(() => {
        try t.merge(kv(1L -> 10.0), Seq("k"))
        catch { case e: Throwable => errs.add(e) }
      }),
      new Thread(() => {
        try t.merge(kv(5L -> 5.0), Seq("k"))
        catch { case e: Throwable => errs.add(e) }
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent merge failed: ${errs.peek()}")
    val got = t.snapshot().orderBy("k").as[(Long, Double)].collect().toList
    // whichever merge won the race, the loser recomputed on top of it:
    // k=1 updated, k=2 untouched, k=5 inserted
    assert(got == List(1L -> 10.0, 2L -> 2.0, 5L -> 5.0))
  }

  test("stream + batch writers contend: all commits land, no torn snapshot, no orphan dirs") {
    implicit val sqlCtx = spark.sqlContext
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(0L -> 0.0))
    val ckpt = tempDir("graft-mt-ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val q = graft.streaming.Streaming.acidMergeSink(
        input.toDF().toDF("k", "v"), t, keys = Seq("k"))
      .option("checkpointLocation", ckpt.toString).start()
    // two batch writers merge disjoint key ranges while the stream commits
    // its own micro-batch merges — real CAS contention on one log
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        try (1 to 4).foreach { i =>
          t.merge(kv((1000L * w + i) -> i.toDouble), Seq("k"), maxRetries = 50)
        }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    (1 to 4).foreach { i => input.addData((i.toLong, i.toDouble)); q.processAllAvailable() }
    threads.foreach(_.join()); q.stop()
    assert(errs.isEmpty, s"contended writer failed: ${errs.peek()}")
    // 1 overwrite + 4 stream merges + 8 batch merges, contiguous, none lost
    assert(t.versions() == (0L to 12L))
    // no torn snapshot at ANY point in history: every version must read
    // cleanly (a manifest referencing a conflict-deleted or half-written
    // dir would throw here)
    t.versions().foreach(v => t.snapshotAt(v).count())
    val got = t.snapshot().as[(Long, Double)].collect().toMap
    assert(got.size == 13 && got(0L) == 0.0)
    assert((1 to 4).forall(i => got(i.toLong) == i.toDouble))
    assert((1 to 2).forall(w => (1 to 4).forall(i => got(1000L * w + i) == i.toDouble)))
    // conflict losers must delete their unreferenced rewrite dirs as they
    // retry: retaining EVERY version, vacuum finds nothing to collect
    val orphans = t.vacuum(retainLast = t.versions().length, graceMs = 0)
    assert(orphans.isEmpty, s"contention left orphan data dirs: $orphans")
  }

  test("diff: CDC rows between versions — update = delete+insert, append = inserts") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))          // v0
    t.merge(kv(2L -> 20.0, 9L -> 9.0), Seq("k"))              // v1: update 2, insert 9
    t.append(kv(10L -> 10.0))                                 // v2: append
    def changes(a: Long, b: Long): Set[(Long, Double, String)] =
      t.diff(a, b).as[(Long, Double, String)].collect().toSet
    assert(changes(0, 1) == Set((2L, 20.0, "insert"), (9L, 9.0, "insert"), (2L, 2.0, "delete")))
    assert(changes(1, 2) == Set((10L, 10.0, "insert")))
    // full-range diff composes; identical versions diff to empty
    assert(changes(0, 2) == Set((2L, 20.0, "insert"), (9L, 9.0, "insert"),
      (10L, 10.0, "insert"), (2L, 2.0, "delete")))
    assert(changes(1, 1).isEmpty)
    // reverse direction swaps the change tags
    assert(changes(2, 1) == Set((10L, 10.0, "delete")))
    // multiplicity is part of the change: 1x -> 3x emits TWO insert rows
    val t2 = ManifestTable(spark, freshRoot())
    t2.overwrite(kv(7L -> 7.0))
    t2.overwrite(kv(7L -> 7.0, 7L -> 7.0, 7L -> 7.0))
    assert(t2.diff(0, 1).collect().length == 2, "EXCEPT ALL must emit the count delta")
    // a type-changing overwrite is a schema change even with equal names
    val t3 = ManifestTable(spark, freshRoot())
    t3.overwrite(kv(1L -> 1.0))
    t3.overwrite(Seq((1, 1.0)).toDF("k", "v")) // k: INT, was BIGINT
    val e = intercept[IllegalArgumentException] { t3.diff(0, 1) }
    assert(e.getMessage.contains("schema change"))
    // the _change tag column is reserved, never silently replaced
    val t4 = ManifestTable(spark, freshRoot())
    t4.overwrite(Seq((1L, "x")).toDF("k", "_change"))
    t4.append(Seq((2L, "y")).toDF("k", "_change"))
    val e2 = intercept[IllegalArgumentException] { t4.diff(0, 1) }
    assert(e2.getMessage.contains("_change"))
  }

  test("orphan lock (crashed writer) fails loudly naming the lock to remove") {
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(1L -> 1.0))
    // simulate a writer that reserved v1 and died before publishing
    val lock = new java.io.File(s"$root/_log/v${"%020d".format(1)}.lock")
    assert(lock.createNewFile())
    val e = intercept[java.io.IOException] { t.append(kv(2L -> 2.0), maxRetries = 1) }
    assert(e.getMessage.contains("v00000000000000000001.lock"))
    // removing the orphan unblocks the log exactly where it stopped
    assert(lock.delete())
    assert(t.append(kv(2L -> 2.0)) == 1L)
    assert(t.snapshot().count() == 2)
  }

  test("commit retries THROUGH a transiently held lock and lands once it frees (no manual re-invocation)") {
    // the conditional-PUT retry path as such: a contender holds the CAS
    // slot (on a filesystem log: its vN.lock exists), the writer's
    // attempts keep losing, and when the slot frees the SAME append call
    // lands on its own — distinct from the orphan-lock test, which
    // exhausts retries and requires operator intervention. The table sits
    // on LockGateFs (the local disk under its own scheme, so the log takes
    // the create-if-absent reserve path), which lets the test observe the
    // writer's lock attempts instead of sleeping: once two have started,
    // the first has met the held lock, and later ones wait until the test
    // has removed it, so `pending` cannot complete before that
    val root = freshRoot()
    spark.sparkContext.hadoopConfiguration.set("fs.lockgate.impl", classOf[LockGateFs].getName)
    val t = ManifestTable(spark, s"lockgate://$root")
    t.overwrite(kv(1L -> 1.0))
    val lock = new java.io.File(s"$root/_log/v${"%020d".format(1)}.lock")
    assert(lock.createNewFile())
    val attempts = new java.util.concurrent.CountDownLatch(2)
    val freed = new java.util.concurrent.CountDownLatch(1)
    LockGateFs.beforeLockCreate = p =>
      if (p.getName == lock.getName) {
        if (attempts.getCount > 0) attempts.countDown()
        else freed.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    try {
      val pending = Future(t.append(kv(2L -> 2.0), maxRetries = 50))
      assert(attempts.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the writer never reached the held lock")
      assert(!pending.isCompleted, "append must wait out the held lock, not fail")
      assert(lock.delete())
      freed.countDown()
      assert(Await.result(pending, 60.seconds) == 1L,
        "the blocked append must commit v1 itself once the lock frees")
      assert(t.snapshot().count() == 2)
    } finally LockGateFs.beforeLockCreate = _ => ()
  }

  test("merge is null-safe: a null-key update replaces the null-key row") {
    val t = ManifestTable(spark, freshRoot())
    val nullRow = Seq((Option.empty[Long], 0.0)).toDF("k", "v")
    t.overwrite(Seq((Some(1L), 1.0)).toDF("k", "v"))
    t.append(nullRow)
    // the null-key update must match the null row (<=> semantics)
    t.merge(Seq((Option.empty[Long], -1.0)).toDF("k", "v"), Seq("k"))
    val got = t.snapshot().orderBy(asc_nulls_first("k")).as[(Option[Long], Double)]
      .collect().toList
    assert(got == List((None, -1.0), (Some(1L), 1.0)))
  }

  test("appendNonEmpty: empty batch commits nothing and leaves no dir; non-empty commits like append") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0))
    // empty batch: no version minted, no data dir left behind (the
    // observed-metric gate — the point is ONE job instead of the caller's
    // count-then-append pair, with identical versioning)
    assert(t.appendNonEmpty(kv().where(lit(false))).isEmpty)
    assert(t.versions() == Seq(0L))
    assert(t.dirCount() == 1, "empty batch must not leave a committed dir")
    // non-empty batch: commits exactly like append
    assert(t.appendNonEmpty(kv(2L -> 2.0)).contains(1L))
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 2.0))
    // schema drift still rejected before any commit
    intercept[IllegalArgumentException] {
      t.appendNonEmpty(Seq((3L, "x")).toDF("k", "v"))
    }
    assert(t.versions() == Seq(0L, 1L))
  }

  test("merge/mergeOnce: an empty batch commits nothing — no version, no token, no data dir") {
    val empty = kv().where(lit(false))
    // every data dir under the root, committed or not (scratch included)
    def dataDirs(root: String): Set[String] =
      Option(new java.io.File(root + "/data").listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getName).toSet
    // fresh table: nothing to return but -1, and nothing is created
    val freshRootPath = freshRoot()
    val fresh = ManifestTable(spark, freshRootPath)
    assert(fresh.merge(empty, Seq("k")) == -1L)
    assert(fresh.mergeOnce(empty, Seq("k"), "s", 0L) == -1L)
    assert(fresh.versions().isEmpty, "an empty merge created a version")
    assert(dataDirs(freshRootPath).isEmpty, s"${dataDirs(freshRootPath)}")
    // committed table: same version, same live dirs, no orphan left
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(1L -> 1.0))
    t.append(kv(2L -> 2.0))
    assert(t.merge(empty, Seq("k")) == 1L)
    assert(t.mergeOnce(empty, Seq("k"), "s", 0L) == 1L)
    assert(t.versions() == Seq(0L, 1L), "an empty merge spent a version")
    assert(t.dirCount() == 2)
    assert(t.txnVersion("s").isEmpty, "an empty mergeOnce committed its token")
    assert(t.vacuum(retainLast = t.versions().length, graceMs = 0).isEmpty)
    assert(dataDirs(root).size == 2, s"${dataDirs(root)}")
    // the batch id was not spent: the same id with rows still lands
    assert(t.mergeOnce(kv(2L -> 20.0), Seq("k"), "s", 0L) == 2L)
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 20.0))
  }

  test("append rejects a schema-drifting batch instead of corrupting reads") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0))
    val drifted = Seq((2, 2.0)).toDF("k", "v") // k INT, table has k BIGINT
    val e = intercept[IllegalArgumentException] { t.append(drifted) }
    assert(e.getMessage.contains("schema evolution is not supported"))
    // the failed append must not wedge the log: the next good commit lands
    assert(t.append(kv(2L -> 2.0)) == 1L)
    assert(t.snapshot().count() == 2)
  }

  test("vacuum grace window protects fresh (possibly in-flight) dirs") {
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(1L -> 1.0))
    t.overwrite(kv(2L -> 2.0)) // v0's dir is now unreferenced by latest
    // seconds-old dirs sit inside the default grace window → kept
    assert(t.vacuum(retainLast = 1).isEmpty)
    assert(new java.io.File(s"$root/data").list().length == 2)
    assert(t.vacuum(retainLast = 1, graceMs = 0).length == 1)
  }

  test("op_merge_acid equals the relational op_upsert row for row") {
    val byName = Queries.all.map(q => q.name -> q.fn).toMap
    val acid = byName("op_merge_acid")(spark, sf0001).collect().toList
    val rel = byName("op_upsert")(spark, sf0001).collect().toList
    assert(acid == rel)
    assert(acid.nonEmpty)
  }

  test("op_merge_acid job count stays bounded (driver-gate cost model)") {
    // the loaded driver host amplifies Spark JOB submissions, not row work
    // (see DedupSpec's audit) — pin the whole commit+merge+read cycle
    val byName = Queries.all.map(q => q.name -> q.fn).toMap
    byName("op_merge_acid")(spark, sf0001)
      .write.format("noop").mode("overwrite").save() // warm codec/codegen paths
    spark.catalog.clearCache()
    val st = spark.sparkContext.statusTracker
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val before = st.getJobIdsForGroup(null).length
    byName("op_merge_acid")(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark) // the status store is fed by the listener bus
    val n = st.getJobIdsForGroup(null).length - before
    assert(n <= 9, s"op_merge_acid ran $n jobs (bound 9): overwrite write + merge " +
      "(broadcast + rewrite write) + snapshot read with sort-sample + noop")
    // the conditional-PUT variant must cost the SAME cycle: the log store
    // changes WHERE the manifest lands, never how many Spark jobs run
    byName("op_merge_acid_os")(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val before2 = st.getJobIdsForGroup(null).length
    byName("op_merge_acid_os")(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val n2 = st.getJobIdsForGroup(null).length - before2
    assert(n2 <= 9, s"op_merge_acid_os ran $n2 jobs (bound 9, same cycle as op_merge_acid)")
  }

  test("op_exactly_once job count stays bounded; both replays cost ZERO jobs") {
    // same driver-gate cost model as op_merge_acid: Spark JOB submissions
    // are what the loaded host amplifies. The cycle is 2 appends + 2
    // merges + snapshot; the two REPLAYS inside it must not submit any
    // job at all (the token fast path answers from one manifest read)
    val byName = Queries.all.map(q => q.name -> q.fn).toMap
    byName("op_exactly_once")(spark, sf0001)
      .write.format("noop").mode("overwrite").save() // warm codec/codegen
    spark.catalog.clearCache()
    val st = spark.sparkContext.statusTracker
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val before = st.getJobIdsForGroup(null).length
    byName("op_exactly_once")(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val n = st.getJobIdsForGroup(null).length - before
    assert(n <= 14, s"op_exactly_once ran $n jobs (bound 14): 2 append writes + " +
      "2 merge cycles + snapshot sort-sample + noop — replays must add zero")
    // and the replay claim directly: appendOnce/mergeOnce of an applied
    // batch submit no job (no data write, no rewrite, no commit)
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.appendOnce(kv(1L -> 1.0), "s", 0L)
    t.mergeOnce(kv(1L -> 2.0), Seq("k"), "m", 0L)
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val before2 = st.getJobIdsForGroup(null).length
    t.appendOnce(kv(1L -> 1.0), "s", 0L)
    t.mergeOnce(kv(1L -> 2.0), Seq("k"), "m", 0L)
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    assert(st.getJobIdsForGroup(null).length == before2,
      "a recognized replay must submit ZERO Spark jobs")
  }

  test("vacuum drops data outside the retained window; latest stays readable") {
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(1L -> 1.0, 2L -> 2.0))
    t.merge(kv(2L -> 20.0), Seq("k"))      // COW: v1 references only its own dir
    val dataDirs = new java.io.File(s"$root/data").list()
    assert(dataDirs.length == 2)
    // graceMs=0: the default grace window protects in-flight commits, but
    // this single-writer test has none and its dirs are seconds old
    val dead = t.vacuum(retainLast = 1, graceMs = 0)
    assert(dead.length == 1)
    assert(new java.io.File(s"$root/data").list().length == 1)
    // the retained snapshot is intact; the vacuumed version is gone by contract
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 20.0))
    intercept[Exception] { t.snapshotAt(0).collect() }
  }
  test("deleteByKeys: COW delete, time travel serves pre-delete, a non-matching tombstone keeps the rows") {
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0, 2L -> 2.0))
    t.append(kv(100L -> 100.0, 101L -> 101.0))
    t.append(kv(200L -> 200.0))
    val v = t.deleteByKeys(Seq(100L).toDF("k"), Seq("k"))
    assert(v === 3L)
    val remaining = List(1L -> 1.0, 2L -> 2.0, 101L -> 101.0, 200L -> 200.0)
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList === remaining)
    // time travel still serves the deleted row (audit-then-vacuum)
    assert(t.snapshotAt(2).where(col("k") === 100L).count() === 1L)
    // a tombstone matching no row rewrites the live dirs as one new
    // version: the rows are unchanged
    assert(t.deleteByKeys(Seq(999L).toDF("k"), Seq("k")) === 4L)
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList === remaining)
    // deleting every remaining key leaves an empty, still-readable table
    t.deleteByKeys(Seq(1L, 2L, 101L, 200L).toDF("k"), Seq("k"))
    assert(t.snapshot().count() === 0L)
  }

  test("deleteByKeys: a null-key tombstone deletes the null-key row (null-safe matching, like merge)") {
    // merge matches keys with <=> (a null-key update replaces the
    // null-key row), so the GDPR delete path must too — plain equality
    // would silently leave the null-key row behind while reporting success
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(Seq((Some(1L), 1.0), (None, 99.0), (Some(2L), 2.0)).toDF("k", "v"))
    t.deleteByKeys(Seq(Option.empty[Long]).toDF("k"), Seq("k"))
    assert(t.snapshot().orderBy("k").as[(Option[Long], Double)].collect().toList ==
      List(Some(1L) -> 1.0, Some(2L) -> 2.0),
      "the null-key row must be gone and no other row touched")
  }

  test("a table whose manifests carry older writers' per-dir stat lines stays usable") {
    // older writers appended one `dirstat=<dir>|<col>|<min>|<max>|<hasNull>`
    // line per dir and stats column to every manifest; readers now ignore
    // those lines and writers no longer emit them
    val root = freshRoot()
    val w = ManifestTable(spark, root)
    w.overwrite(kv(1L -> 1.0, 2L -> 2.0))        // v0: dir A, k ∈ [1,2]
    w.append(kv(100L -> 100.0, 101L -> 101.0))   // v1: dirs A, B; B has k ∈ [100,101]
    val ranges = Seq("1" -> "2", "100" -> "101")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(v: Long) = new org.apache.hadoop.fs.Path(s"$root/_log/v${"%020d".format(v)}.txt")
    def body(v: Long): String = {
      val in = fs.open(manifest(v))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    for (v <- 0L to 1L) {
      val old = body(v)
      val dirs = old.split('\n').toSeq.collect { case l if l.startsWith("dir=") => l.substring(4) }
      val stats = dirs.zip(ranges).map { case (d, (mn, mx)) => s"dirstat=$d|k|$mn|$mx|false\n" }
      // rewritten through the filesystem so its checksum file follows
      val out = fs.create(manifest(v), /* overwrite = */ true)
      try out.write((old + stats.mkString).getBytes("UTF-8")) finally out.close()
    }
    assert(body(1).split('\n').count(_.startsWith("dirstat=")) == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").as[(Long, Double)].collect().toList
    val t = ManifestTable(spark, root) // a fresh handle reads the files, not a cache
    assert(rows(t.snapshot()) == List(1L -> 1.0, 2L -> 2.0, 100L -> 100.0, 101L -> 101.0))
    assert(rows(t.snapshotAt(0)) == List(1L -> 1.0, 2L -> 2.0))
    assert(t.merge(kv(2L -> 20.0, 5L -> 5.0), Seq("k")) == 2L)
    assert(rows(t.snapshot()) ==
      List(1L -> 1.0, 2L -> 20.0, 5L -> 5.0, 100L -> 100.0, 101L -> 101.0))
    assert(t.deleteByKeys(Seq(100L).toDF("k"), Seq("k")) == 3L)
    assert(rows(t.snapshot()) == List(1L -> 1.0, 2L -> 20.0, 5L -> 5.0, 101L -> 101.0))
    assert(rows(t.snapshotAt(1)) == List(1L -> 1.0, 2L -> 2.0, 100L -> 100.0, 101L -> 101.0))
    assert(!body(3).contains("dirstat="), "new manifests carry no per-dir stat lines")
  }

  // ------------------------------------------- conditional-PUT log store

  private def objectStoreTable(): (ManifestTable, InMemoryObjectStore, String) = {
    val root = freshRoot()
    val client = new InMemoryObjectStore
    (ManifestTable.onObjectStore(spark, root, client), client, root)
  }

  test("latestVersion forward-probe: cross-handle visibility and O(1) hot-path LIST economy") {
    // the documented _log scale trade's cure: after a handle's first read,
    // latestVersion probes FORWARD from a per-handle lower bound (versions
    // are dense) instead of LISTing the whole log per commit
    val root = freshRoot()
    val lists = new java.util.concurrent.atomic.AtomicInteger()
    val inner = new InMemoryObjectStore
    val counting = new graft.ops.ObjectStoreClient {
      override def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean =
        inner.putIfNoneMatch(key, bytes)
      override def get(key: String): Option[Array[Byte]] = inner.get(key)
      override def list(prefix: String): Seq[String] = {
        lists.incrementAndGet(); inner.list(prefix)
      }
    }
    val t1 = ManifestTable.onObjectStore(spark, root, counting)
    t1.overwrite(kv(1L -> 1.0))
    t1.append(kv(2L -> 2.0))
    t1.append(kv(3L -> 3.0))
    // a SECOND handle (cold: one full list) must see t1's commits...
    val t2 = ManifestTable.onObjectStore(spark, root, counting)
    assert(t2.latestVersion().contains(2L))
    // ...and commits made AFTER its first read, via the probe walk
    t1.append(kv(4L -> 4.0))
    t1.append(kv(5L -> 5.0))
    assert(t2.latestVersion().contains(4L),
      "a stale handle must catch up to foreign commits by probing forward")
    assert(t2.snapshot().count() === 5L)
    // hot-path economy: the warm handle's appends must not LIST per commit
    val before = lists.get()
    (6L to 15L).foreach(k => t1.append(kv(k -> k.toDouble)))
    val grew = lists.get() - before
    assert(grew == 0,
      s"a warm handle's commits must probe, never LIST — saw $grew lists over 10 appends")
    assert(t1.latestVersion().contains(14L) && t1.snapshot().count() === 15L)
  }

  test("object-store log: full lifecycle equals the filesystem table's; no lock objects exist") {
    val (t, client, root) = objectStoreTable()
    t.overwrite(kv(1L -> 1.0, 2L -> 2.0))
    t.append(kv(3L -> 3.0))
    t.merge(kv(2L -> 20.0, 4L -> 4.0), Seq("k"))
    assert(t.versions() == Seq(0L, 1L, 2L))
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 4L -> 4.0))
    // time travel pins history exactly like the FS table
    assert(t.snapshotAt(1).orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    // the log lives ONLY in the object store: one object per version and
    // no .lock / .tmp artifacts anywhere (reserve+publish is one PUT)
    val keys = client.list("")
    assert(keys.size == 3 && keys.forall(_.matches(""".*/_log/v\d{20}\.txt""")), keys)
    assert(!new java.io.File(s"$root/_log").exists(),
      "no filesystem log directory may exist for an object-store table")
  }

  test("object-store log: If-None-Match race — concurrent appends all land, contiguous versions") {
    val (t, client, _) = objectStoreTable()
    t.overwrite(kv(0L -> 0.0))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { w =>
      new Thread(() => {
        try (1 to 3).foreach { i => t.append(kv((w * 100 + i).toLong -> i.toDouble)) }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent object-store append failed: ${errs.peek()}")
    assert(t.versions() == (0L to 12L))
    assert(t.snapshot().count() == 13)
    // whether this run's thread interleaving produced real 412 losses is
    // timing-dependent (each append's Spark write serializes most of the
    // work); the DETERMINISTIC 412 exercise is ObjectStoreContractSuite's
    // exactly-one-winner test
    assert(client.putAttempts >= 13)
  }

  test("object-store log: transient 503 before commit — the same append call retries and lands") {
    val (t, client, _) = objectStoreTable()
    t.overwrite(kv(1L -> 1.0))
    // v1's first two PUT attempts are rejected before anything lands
    client.putFault = (key, n) =>
      if (key.endsWith("v00000000000000000001.txt") && n <= 2)
        InMemoryObjectStore.FailBeforeCommit
      else InMemoryObjectStore.Ok
    assert(t.append(kv(2L -> 2.0)) == 1L)
    assert(t.versions() == Seq(0L, 1L))
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 2.0))
  }

  test("object-store log: ambiguous lost-response — self-win detected, no duplicate commit or rows") {
    val (t, client, _) = objectStoreTable()
    t.overwrite(kv(1L -> 1.0))
    // v1's first PUT COMMITS but the response is lost; the publish must
    // recognize its own body on re-read instead of re-deriving and
    // appending the same dir again at v2 (silent row duplication)
    client.putFault = (key, n) =>
      if (key.endsWith("v00000000000000000001.txt") && n == 1)
        InMemoryObjectStore.FailAfterCommit
      else InMemoryObjectStore.Ok
    assert(t.append(kv(2L -> 2.0)) == 1L)
    assert(t.latestVersion().contains(1L), "exactly one commit may exist for the append")
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 2.0))
  }

  // the no-Spark primitive races (N threads × every version, winner-body
  // integrity) moved to ObjectStoreContractSuite — they now certify ANY
  // ObjectStoreClient, in-memory or SDK-backed, in plain AND
  // paginated/bursty modes

  test("object-store log: throttled self-win GET resolves in-call — exactly one commit, never a dup append") {
    // the PUT commits but its response is lost (ambiguous), AND the
    // follow-up self-win GET is itself throttled. publishIfAbsent must
    // resolve the read IN-CALL: reporting "lost" here would make the
    // caller re-derive from the new latest — which contains OUR OWN
    // commit — and re-append the same dir at v+1 (row duplication; this
    // test caught exactly that against the treat-as-contention variant).
    val (t, client, _) = objectStoreTable()
    t.overwrite(kv(1L -> 1.0))
    client.putFault = (key, n) =>
      if (key.endsWith("v00000000000000000001.txt") && n == 1)
        InMemoryObjectStore.FailAfterCommit
      else InMemoryObjectStore.Ok
    client.getFault = (key, n) =>
      if (key.endsWith("v00000000000000000001.txt") && n == 1)
        InMemoryObjectStore.FailBeforeCommit
      else InMemoryObjectStore.Ok
    assert(t.append(kv(2L -> 2.0)) == 1L)
    assert(t.latestVersion().contains(1L), "exactly one commit may exist for the append")
    assert(t.snapshot().orderBy("k").as[(Long, Double)].collect().toList ==
      List(1L -> 1.0, 2L -> 2.0))
    // the primitive-level halves (in-call GET retry resolves the self-win;
    // a persistently dead GET throws rather than resolving to "lost")
    // are certified client-agnostically in ObjectStoreContractSuite
  }

  test("hadoop log: losing the lock race is contention; an IO failure creating the lock surfaces as itself") {
    // non-"file" schemes reserve via fs.create(lock, overwrite=false).
    // ONLY FileAlreadyExists means "lost the race" (retry); a
    // permissions/quota failure must propagate, not spin as phantom
    // contention ending in a misleading orphan-lock hint.
    import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath}
    val dir = tempDir("graft-fakedfs").toString
    class FakeDfs(lockFault: HPath => Option[java.io.IOException])
        extends org.apache.hadoop.fs.RawLocalFileSystem {
      initialize(new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
      override def getScheme: String = "fakedfs" // force the fs.create reserve path
      override def create(f: HPath, overwrite: Boolean): FSDataOutputStream = {
        if (f.getName.endsWith(".lock")) lockFault(f).foreach(e => throw e)
        super.create(f, overwrite)
      }
    }
    // 1) permissions failure: propagates with ITS message
    val denied = new FakeDfs(_ => Some(new java.io.IOException("Permission denied: fake quota")))
    val deniedStore = new graft.ops.HadoopLogStore(denied, new HPath(dir, "denied/_log"))
    val e = intercept[java.io.IOException] {
      deniedStore.publishIfAbsent(0L, "b".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("Permission denied"), e.getMessage)
    // 2) lock already exists: FileAlreadyExistsException reads as contention
    val contended = new FakeDfs(
      _ => Some(new org.apache.hadoop.fs.FileAlreadyExistsException("lock exists")))
    val contendedStore = new graft.ops.HadoopLogStore(contended, new HPath(dir, "cont/_log"))
    assert(!contendedStore.publishIfAbsent(0L, "b".getBytes("UTF-8")),
      "a lost lock race must report contention, not throw")
    // 3) healthy non-file scheme: the create-reserve path commits end to end
    val ok = new FakeDfs(_ => None)
    val okStore = new graft.ops.HadoopLogStore(ok, new HPath(dir, "ok/_log"))
    val body = "winner".getBytes("UTF-8")
    assert(okStore.publishIfAbsent(0L, body))
    assert(!okStore.publishIfAbsent(0L, "loser".getBytes("UTF-8")),
      "second reserve of a committed version must lose")
    assert(okStore.read(0L).exists(java.util.Arrays.equals(_, body)))
  }

  test("HadoopLogStore: rename that APPLIES then throws must keep the lock and report the commit (overwrite-window regression)") {
    // ChecksumFileSystem can rename the data file then fail on the .crc
    // step; an HDFS RPC retry can land server-side after a client error.
    // The old catch released the lock unconditionally — a racing writer
    // could then re-reserve the version and rename OVER the committed
    // manifest (POSIX rename silently overwrites): two bodies for one
    // committed version.
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = tempDir("graft-ambirename").toString
    class AmbiguousRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
      initialize(new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
      override def getScheme: String = "file" // RawLocalFileSystem leaves it unimplemented
      @volatile var armRenameFault = false
      override def rename(src: HPath, dst: HPath): Boolean = {
        val applied = super.rename(src, dst)
        if (armRenameFault && dst.getName.endsWith(".txt")) {
          armRenameFault = false
          throw new java.io.IOException("injected: crc step failed AFTER the rename applied")
        }
        applied
      }
    }
    val fs = new AmbiguousRenameFs
    val store = new graft.ops.HadoopLogStore(fs, new HPath(dir, "_log"))
    val body = "winner".getBytes("UTF-8")
    fs.armRenameFault = true
    assert(store.publishIfAbsent(0L, body),
      "an applied-then-thrown rename IS a successful commit")
    assert(store.read(0L).exists(java.util.Arrays.equals(_, body)))
    assert(store.listVersions() == Seq(0L))
    // the lock must still be held: a racing writer can neither re-reserve
    // nor overwrite the committed body
    assert(!store.publishIfAbsent(0L, "usurper".getBytes("UTF-8")),
      "version 0 must stay contended — its lock was never released")
    assert(store.read(0L).exists(java.util.Arrays.equals(_, body)),
      "the committed body must be untouched")
  }

  test("HadoopLogStore: rename applied AND probe failed keeps the lock (ambiguity wedges, never fails open)") {
    // the double-failure window: the rename lands server-side but throws
    // client-side, and the exists() probe hits the same transient blip.
    // The old boolean probe defaulted that to "not published" and RELEASED
    // the lock — a racing writer could then re-reserve the version and
    // rename over the COMMITTED manifest. Unverifiable must wedge: keep
    // the lock (recoverable orphan), rethrow.
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = tempDir("graft-doublefault").toString
    class DoubleFaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
      initialize(new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
      override def getScheme: String = "file"
      @volatile var armed = false
      override def rename(src: HPath, dst: HPath): Boolean = {
        val applied = super.rename(src, dst)
        if (armed && dst.getName.endsWith(".txt"))
          throw new java.io.IOException("injected: rename response lost")
        applied
      }
      override def exists(p: HPath): Boolean = {
        if (armed && p.getName.endsWith(".txt")) {
          armed = false
          throw new java.io.IOException("injected: probe hit the same blip")
        }
        super.exists(p)
      }
    }
    val fs = new DoubleFaultFs
    val store = new graft.ops.HadoopLogStore(fs, new HPath(dir, "_log"))
    val body = "winner".getBytes("UTF-8")
    fs.armed = true
    val e = intercept[java.io.IOException] { store.publishIfAbsent(0L, body) }
    assert(e.getMessage.contains("rename response lost"), e.getMessage)
    assert(e.getSuppressed.exists(_.getMessage.contains("probe hit the same blip")),
      "the probe failure must ride as a suppressed exception")
    // the commit actually landed; the lock must still be held so nobody
    // can overwrite it
    assert(store.read(0L).exists(java.util.Arrays.equals(_, body)),
      "the rename had applied — the body is committed")
    assert(!store.publishIfAbsent(0L, "usurper".getBytes("UTF-8")),
      "version 0 must stay contended — the lock was never released")
    assert(store.read(0L).exists(java.util.Arrays.equals(_, body)),
      "the committed body must be untouched")
  }

  test("deleteByKeys: EMPTY tombstones are the advertised no-op — no rewrite, no version spent") {
    val t = ManifestTable(spark, freshRoot()) // no stats: every dir would be 'affected'
    t.overwrite(kv(1L -> 1.0, 2L -> 2.0))
    t.append(kv(3L -> 3.0))
    val vBefore = t.versions().length
    val dirsBefore = t.dirCount()
    val v = t.deleteByKeys(Seq.empty[Long].toDF("k"), Seq("k"))
    assert(v === t.versions().last, "the current version must be returned")
    assert(t.versions().length === vBefore, "no version may be spent")
    assert(t.dirCount() === dirsBefore, "no rewrite may replace the live dirs")
    assert(t.snapshot().count() === 3L)
  }

  test("vacuum: scratch staging dirs get the long grace; committed orphans collect on the regular one") {
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(1L -> 1.0))
    // plant both orphan shapes, unreferenced by any manifest: a plain
    // (conflict-loser-style) dir and a scratch-prefixed staging dir that a
    // still-running merge could be reading
    kv(9L -> 9.0).write.parquet(root + "/data/deadbeef-orphan")
    kv(8L -> 8.0).write.parquet(root + "/data/scratch-in-flight")
    val dead = t.vacuum(retainLast = 1, graceMs = 0)
    assert(dead.contains("deadbeef-orphan"),
      s"a plain orphan past grace must collect, got $dead")
    assert(!dead.exists(_.startsWith("scratch-")),
      s"a scratch dir inside its long grace must survive, got $dead")
    assert(new java.io.File(root + "/data/scratch-in-flight").exists())
  }

  test("object-store log: concurrent merge() transactions with ambiguous commits — serial-replay equality, zero dup rows") {
    // VERDICT r13 item 2: f059434 raced the PRIMITIVE; this races whole
    // merge() transactions through ObjectStoreLogStore while EVERY
    // version's first PUT commits-but-loses-its-response (the self-win
    // row-duplication hazard) and a second attempt is throttled outright.
    // The final snapshot must equal a serial replay of the update batches
    // in commit-log order (recovered via diff CDC), with zero duplicated
    // keys and a contiguous log.
    val (t, client, _) = objectStoreTable()
    t.overwrite(kv(0L -> 0.0))
    client.putFault = (_, n) =>
      if (n == 1) InMemoryObjectStore.FailAfterCommit
      else if (n == 2) InMemoryObjectStore.FailBeforeCommit
      else InMemoryObjectStore.Ok
    val writers = 4; val merges = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { w =>
      new Thread(() => {
        try (1 to merges).foreach { i =>
          // each batch updates the SHARED key 0 (its final value reveals
          // commit order) and inserts a batch-unique key
          val tag = (w * 10 + i).toDouble
          t.merge(kv(0L -> tag, (w * 100 + i).toLong -> tag), Seq("k"), maxRetries = 80)
        }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"contended object-store merge failed: ${errs.peek()}")
    val nVersions = writers * merges
    assert(t.versions() == (0L to nVersions.toLong), "log must be contiguous, one version per merge")
    val got = t.snapshot().as[(Long, Double)].collect()
    assert(got.length == got.map(_._1).distinct.length,
      s"duplicated keys in final snapshot: ${got.groupBy(_._1).filter(_._2.length > 1).keys}")
    // serial replay in commit-log order: recover which batch landed at
    // each version from its CDC inserts (the batch-unique key names it),
    // apply the batches serially, require exact state equality
    val replay = scala.collection.mutable.Map(0L -> 0.0)
    for (v <- 1 to nVersions) {
      val ins = t.diff(v - 1L, v.toLong).where(col("_change") === "insert")
        .as[(Long, Double, String)].collect()
      val uniq = ins.filter(_._1 >= 100L)
      assert(uniq.length == 1, s"v$v must insert exactly one batch-unique key, got ${ins.toList}")
      val tag = uniq.head._2
      assert(ins.toSet == Set((0L, tag, "insert"), (uniq.head._1, tag, "insert")),
        s"v$v CDC inserts must be exactly its batch: ${ins.toList}")
      replay(0L) = tag; replay(uniq.head._1) = tag
    }
    assert(got.toMap == replay.toMap,
      "final snapshot must equal the serial replay of batches in commit-log order")
    assert(got.toMap.apply(0L) == replay(0L))
  }

  test("object-store log: a published manifest is GET exactly once per handle (immutable => cached)") {
    // request economy on the billed path: one mergeOnce attempt reads the
    // latest manifest for the token check, the merge input, and the
    // commit's own re-read — without the cache that is 3 GETs of immutable
    // bytes per attempt, times every retry
    val (t, client, _) = objectStoreTable()
    t.overwrite(kv(1L -> 1.0))
    t.mergeOnce(kv(2L -> 2.0), Seq("k"), "sink-x", batchId = 0L)
    val getsBefore = client.getAttempts
    // replay: token check hits the cache for the already-read latest
    t.mergeOnce(kv(2L -> 2.0), Seq("k"), "sink-x", batchId = 0L)
    assert(client.getAttempts == getsBefore,
      "a replay against an already-read manifest must cost zero GETs")
    // repeated snapshot planning re-reads nothing either
    t.snapshot(); t.snapshot()
    assert(client.getAttempts == getsBefore)
    // a NEW version is read once, then served from cache
    t.append(kv(3L -> 3.0))
    val v = t.latestVersion().get
    t.snapshotAt(v); t.snapshotAt(v); t.diff(v - 1, v)
    assert(client.getAttempts <= getsBefore + 1,
      s"version $v must be GET at most once (got ${client.getAttempts - getsBefore})")
  }

  test("txn tokens: sink ids containing the manifest's own delimiters round-trip") {
    // the txn line is 'txn=<enc(sinkId)>|<batchId>' in a line-oriented
    // body — an id carrying '|', '=', newline, or unicode must neither
    // corrupt the manifest nor collide with another id after encoding
    val t = ManifestTable(spark, freshRoot())
    t.overwrite(kv(1L -> 1.0))
    val nasty = "query|7=prod\nrestart-β"
    val v = t.appendOnce(kv(2L -> 2.0), nasty, batchId = 3L)
    assert(t.txnVersion(nasty).contains(3L))
    assert(t.txnVersion("query") == None && t.txnVersion("query|7") == None)
    // replay rejected; a different id with the same raw prefix is NOT
    assert(t.appendOnce(kv(2L -> 2.0), nasty, batchId = 3L) == v)
    assert(t.snapshot().count() == 2)
    val other = "query|7=prod\nrestart-γ"
    t.appendOnce(kv(3L -> 3.0), other, batchId = 0L)
    assert(t.snapshot().count() == 3)
    assert(t.txnVersion(nasty).contains(3L) && t.txnVersion(other).contains(0L))
    // subsequent plain commits keep carrying both tokens forward
    t.append(kv(4L -> 4.0))
    assert(t.txnVersion(nasty).contains(3L) && t.txnVersion(other).contains(0L))
  }

  test("checkpoint hint (object store): a cold handle on a many-commit table never LISTs") {
    // VERDICT r18 item 1: the _last_checkpoint analog. A counting client
    // proves the cold-start path is one checkpoint GET + forward probes —
    // the O(commits) LIST fires only as the no-hint fallback.
    val root = freshRoot()
    val inner = new InMemoryObjectStore
    val lists = new java.util.concurrent.atomic.AtomicInteger()
    val counting = new graft.ops.ObjectStoreClient {
      override def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean =
        inner.putIfNoneMatch(key, bytes)
      override def get(key: String): Option[Array[Byte]] = inner.get(key)
      override def head(key: String): Boolean = inner.head(key)
      override def put(key: String, bytes: Array[Byte]): Unit = inner.put(key, bytes)
      override def list(prefix: String): Seq[String] = {
        lists.incrementAndGet(); inner.list(prefix)
      }
    }
    val t1 = ManifestTable.onObjectStore(spark, root, counting)
    t1.overwrite(kv(0L -> 0.0))
    (1L to 12L).foreach(k => t1.append(kv(k -> k.toDouble))) // v0..v12; _ckpt at v10
    val before = lists.get()
    val t2 = ManifestTable.onObjectStore(spark, root, counting)
    assert(t2.latestVersion().contains(12L))
    assert(t2.versions() == (0L to 12L),
      "versions() must derive from density + the hint, not a LIST")
    assert(t2.snapshot().count() === 13L)
    assert(t2.snapshotAt(2L).count() === 3L, "time travel reads stay pinned")
    assert(lists.get() == before,
      s"cold start through the checkpoint must not LIST (saw ${lists.get() - before})")
  }

  test("checkpoint hint (filesystem store): written at the interval; corrupt or stale hints fall back") {
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(0L -> 0.0))
    (1L to 11L).foreach(k => t.append(kv(k -> k.toDouble))) // v0..v11, _ckpt at v10
    val ckpt = new java.io.File(s"$root/_log/_ckpt")
    assert(ckpt.exists(), "the _ckpt hint must land at the interval")
    // a fresh handle resolves through the hint (and the hint is invisible
    // to the version log itself)
    val t2 = ManifestTable(spark, root)
    assert(t2.latestVersion().contains(11L) && t2.snapshot().count() === 12L)
    assert(t2.versions() == (0L to 11L))
    // CORRUPT hint: validation rejects it, the full-LIST fallback resolves
    java.nio.file.Files.write(ckpt.toPath, "not a checkpoint".getBytes("UTF-8"))
    val t3 = ManifestTable(spark, root)
    assert(t3.latestVersion().contains(11L) && t3.snapshot().count() === 12L)
    // STALE hint naming a version the log does not have (the recreated-
    // root shape): the exists() validation rejects it — never a phantom
    java.nio.file.Files.write(ckpt.toPath,
      "graft-ckpt-v1\nversion=99\nmanifest=bogus".getBytes("UTF-8"))
    val t4 = ManifestTable(spark, root)
    assert(t4.latestVersion().contains(11L), "a stale hint must not produce a phantom version")
    assert(t4.snapshot().count() === 12L)
  }

  test("breakOrphanLock: orphan blocks -> break -> next commit succeeds; refuses on a published version") {
    // VERDICT r18 item 3: the fenced admin unblock for the Hadoop store's
    // documented orphan-lock mode
    val root = freshRoot()
    val t = ManifestTable(spark, root)
    t.overwrite(kv(1L -> 1.0))
    val lock = new java.io.File(s"$root/_log/v${"%020d".format(1)}.lock")
    assert(lock.createNewFile())
    intercept[java.io.IOException] { t.append(kv(2L -> 2.0), maxRetries = 1) }
    // fencing: v0 is PUBLISHED — its (retained) reservation is not an
    // orphan, and breaking it could let a racer overwrite a committed body
    val e = intercept[IllegalStateException] { t.breakOrphanLock(0L) }
    assert(e.getMessage.contains("published"), e.getMessage)
    // the real orphan breaks; the SAME log position then commits cleanly
    t.breakOrphanLock(1L)
    assert(!lock.exists(), "the orphan lock must be gone")
    assert(t.append(kv(2L -> 2.0)) == 1L)
    assert(t.snapshot().count() === 2L)
    t.breakOrphanLock(5L) // absent lock: idempotent no-op
    // the conditional-PUT store has no lock objects to break
    val (os, _, _) = objectStoreTable()
    os.overwrite(kv(1L -> 1.0))
    intercept[UnsupportedOperationException] { os.breakOrphanLock(1L) }
  }

  test("latestVersion probe economy pinned: catch-up <= foreign-commits + 1 HEADs (plain and bursty store)") {
    // VERDICT r18 item 7: the forward-probe claim under instrumentation —
    // guards refactors from silently restoring the O(commits) LIST. HEADs
    // are counted on SUCCESS only, so the bursty store's injected
    // throttles (absorbed by the retry loop) cannot inflate the pin.
    for (client <- Seq(new InMemoryObjectStore,
                       new InMemoryObjectStore(listPageSize = 2, throttleEvery = 7))) {
      val root = freshRoot()
      val t1 = ManifestTable.onObjectStore(spark, root, client)
      t1.overwrite(kv(0L -> 0.0))
      val t2 = ManifestTable.onObjectStore(spark, root, client)
      assert(t2.latestVersion().contains(0L)) // cold read, before the foreign burst
      (1L to 4L).foreach(k => t1.append(kv(k -> k.toDouble))) // 4 foreign commits
      val before = client.headAttempts.get()
      assert(t2.latestVersion().contains(4L))
      val used = client.headAttempts.get() - before
      assert(used <= 5, s"catch-up must cost <= foreign-commits + 1 HEADs, got $used")
      // steady state: exactly one miss-probe per call, whatever the history
      val b2 = client.headAttempts.get()
      assert(t2.latestVersion().contains(4L))
      val steady = client.headAttempts.get() - b2
      assert(steady == 1, s"steady-state latestVersion must cost exactly 1 HEAD, got $steady")
    }
  }

  test("externally deleted+recreated root: the handle resets instead of serving phantom versions") {
    // ADVICE r18: the per-handle lower bound never reset, so a handle
    // outliving a root swap returned phantom versions and every
    // readManifest/snapshot failed confusingly forever
    val root = freshRoot()
    val t1 = ManifestTable(spark, root)
    t1.overwrite(kv(1L -> 1.0))
    t1.append(kv(2L -> 2.0))
    // a second handle learns the latest WITHOUT caching any manifest
    val t2 = ManifestTable(spark, root)
    assert(t2.latestVersion().contains(1L))
    // an external actor deletes the root and a new table is created at it
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ManifestTable(spark, root).overwrite(kv(9L -> 9.0))
    // t2's bound (1) is now phantom: snapshot() must reflect the NEW log
    assert(t2.snapshot().as[(Long, Double)].collect().toList == List(9L -> 9.0),
      "the reset guard must re-resolve against the recreated log")
    assert(t2.latestVersion().contains(0L))
  }

  test("object-store log: an unsettled version is never reported 'lost' — the table aborts loudly") {
    // the in-flight hazard's primitive halves (re-PUT-until-settled
    // self-win; lost-forever provable through ambiguity) are certified in
    // ObjectStoreContractSuite; here the TABLE-level contract: a
    // persistently unsettled store (every PUT ambiguous, nothing ever
    // lands) aborts the append loudly as a store failure, never as 'lost'
    val (t, client, _) = objectStoreTable()
    t.overwrite(kv(1L -> 1.0))
    client.putFault = (key, _) =>
      if (key.endsWith("v00000000000000000001.txt")) InMemoryObjectStore.FailBeforeCommit
      else InMemoryObjectStore.Ok
    val e = intercept[java.io.IOException] { t.append(kv(2L -> 2.0), maxRetries = 1) }
    assert(e.getMessage.contains("conditional-PUT"), e.getMessage)
    assert(e.getMessage.contains("unresolved"), e.getMessage)
    assert(!e.getMessage.contains(".lock"), "object-store mode has no lock to name")
  }
}

/** The local filesystem under the `lockgate` scheme, with a hook that runs
  * before every `.lock` create. Any scheme but `file` makes the log
  * reserve a version through `create(lock, overwrite = false)`, so a test
  * can watch a writer's lock attempts and hold one back.
  */
class LockGateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "lockgate"
  override def getUri: java.net.URI = java.net.URI.create("lockgate:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (f.getName.endsWith(".lock")) LockGateFs.beforeLockCreate(f)
    super.create(f, overwrite)
  }
}

object LockGateFs {
  @volatile var beforeLockCreate: org.apache.hadoop.fs.Path => Unit = _ => ()
}
