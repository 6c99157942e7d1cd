package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def deathLine(name: String, insee: String, born: String = "19250404") =
    name.padTo(80, ' ') + "1" + born + " ".padTo(65, ' ') + "20220804" + insee + "1"

  test("death file stream ingests incrementally: new files only, parsed and deduped") {
    // the program's path: deathFileStream -> acidMergeSink. The stream keeps
    // no dedup state; the keyed merge keeps one row per id at rest. The id
    // is sha1(name_raw), so one id can carry different dates: the reference
    // keeps the row it inserted first (ON CONFLICT DO NOTHING), the merge
    // keeps a later file's row and resolves one file's rows by content
    // order, not by their order in the file
    val dir = tempDir("graft-stream")
    val ckpt = tempDir("graft-ckpt")
    val table = graft.ops.ManifestTable(spark, tempDir("graft-sink").toString + "/tbl")
    Files.writeString(dir.resolve("death_a.txt"), Seq(
      deathLine("A/", "01007", born = "19300101"),
      deathLine("A/", "01007", born = "19250404"),
      deathLine("A/", "01007", born = "19350101")).mkString("\n"))
    // one available-now restart; returns each trigger's numInputRows.
    // The sink executes each micro-batch once, so that is the new file's
    // valid record count
    def runOnce(): Seq[Long] = {
      val q = Streaming.acidMergeSink(Streaming.deathFileStream(spark, dir.toString), table, Seq("id"))
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "available-now run did not finish")
      q.stop()
      q.recentProgress.map(_.numInputRows).toSeq
    }
    def bornOf(insee: String): Seq[String] =
      table.snapshot().where(col("insee") === insee)
        .select(col("date_of_birth").cast("string")).as[String].collect().toSeq
    // the file source's log entry for one batch names the files it read
    def filesOf(batchId: Int): Seq[String] =
      Files.readString(ckpt.resolve(s"sources/0/$batchId")).linesIterator
        .flatMap("death_[a-z]+\\.txt".r.findFirstIn(_)).toSeq
    // a stateless stream runs one trigger per restart: no watermark to
    // advance, so no no-data batch follows
    assert(runOnce() == Seq(3L))
    assert(table.snapshot().count() == 1) // in-file duplicate lands once
    // neither the first nor the last line of the file survives
    assert(bornOf("01007") == Seq("1925-04-04"))

    Files.writeString(dir.resolve("death_b.txt"), deathLine("B/", "01053"))
    // checkpoint = the reference's Redis file ledger: only death_b is new
    assert(runOnce() == Seq(1L))
    assert(filesOf(1) == Seq("death_b.txt"))
    val out = table.snapshot()
    assert(out.count() == 2)
    assert(out.select("insee").as[String].collect().toSet == Set("01007", "01053"))

    // a later file that names A/ again replaces its row instead of adding
    // one, even with an earlier date
    Files.writeString(dir.resolve("death_c.txt"), deathLine("A/", "01007", born = "19200101"))
    assert(runOnce() == Seq(1L))
    assert(filesOf(2) == Seq("death_c.txt"))
    val after = table.snapshot()
    assert(after.count() == 2)
    assert(bornOf("01007") == Seq("1920-01-01"))
    assert(!Files.exists(ckpt.resolve("state")), "the ingest stream must keep no state store")
  }

  test("restart against the same checkpoint re-ingests no file (Redis-ledger contract)") {
    val dir = tempDir("graft-stream-rs")
    val ckpt = tempDir("graft-ckpt-rs")
    val sink = tempDir("graft-sink-rs")
    def line(name: String, insee: String) =
      name.padTo(80, ' ') + "1" + "19250404" + " ".padTo(65, ' ') + "20220804" + insee + "1"
    Files.writeString(dir.resolve("death_a.txt"), Seq(line("A/", "01007"), line("C/", "01009")).mkString("\n"))
    def runOnce(): Long = {
      val q = Streaming.deathFileStream(spark, dir.toString).writeStream
        .option("checkpointLocation", ckpt.toString)
        .option("path", sink.toString)
        .outputMode("append").format("parquet")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val ingested = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      ingested
    }
    assert(runOnce() == 2)
    assert(spark.read.parquet(sink.toString).count() == 2)
    // second run, same checkpoint, NO new files: the checkpointed seen-files
    // log must prevent re-READING death_a entirely — zero input rows is the
    // proof (a mere dedup of re-read rows would also yield count 2 below,
    // but would show nonzero input)
    assert(runOnce() == 0, "restart re-ingested an already-imported file")
    assert(spark.read.parquet(sink.toString).count() == 2)
  }

  test("exactly-once merge: a replayed batch cannot revert an interleaved writer's update") {
    val dir = tempDir("graft-eo-merge")
    val client = new graft.ops.InMemoryObjectStore
    val table = graft.ops.ManifestTable.onObjectStore(
      spark, dir.toString + "/tbl", client)
    // batch 1 (first run, crashed after commit): k=5 -> 1.0
    table.overwrite(Seq((1L, 0.0)).toDF("k", "v"))
    assert(table.mergeOnce(Seq((5L, 1.0)).toDF("k", "v"), Seq("k"), "sink-m", batchId = 1L) == 1L)
    // another writer lands on the same key in between
    table.merge(Seq((5L, 9.0)).toDF("k", "v"), Seq("k"))
    // the REPLAY of batch 1: plain merge would revert k=5 to the stale 1.0
    // (last-write-wins cannot tell a replay from fresh data); the token
    // recognizes it and spends neither a version nor a PUT
    val vBefore = table.latestVersion().get
    val putsBefore = client.putAttempts
    assert(table.mergeOnce(Seq((5L, 1.0)).toDF("k", "v"), Seq("k"), "sink-m", batchId = 1L) == vBefore)
    assert(client.putAttempts == putsBefore, "a recognized replay must not reach the log")
    assert(table.snapshot().where(col("k") === 5L).as[(Long, Double)].collect().toList ==
      List(5L -> 9.0), "the interleaved writer's value must survive the replay")
  }

  test("stream -> ACID merge sink: late rows UPDATE their key; versions commit per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-acid-sink")
    val ckpt = tempDir("graft-acid-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/tbl")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.acidMergeSink(input.toDF().toDF("id", "v"), table, keys = Seq("id"))
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    // id 2 re-delivered with a NEW value; id 3 arrives TWICE in one trigger
    input.addData((2L, "B2"), (3L, "c1"), (3L, "c2"))
    q.processAllAvailable()
    q.stop()
    val out = table.snapshot().as[(Long, String)].collect().toMap
    // versus the insert-only sink, the late row REPLACED its key's value,
    // and the within-batch pair resolved by content, not partition-fetch
    // order: the smallest v wins deterministically
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c1"))
    assert(table.versions() == Seq(0L, 1L)) // one atomic commit per micro-batch
    // a reader pinned before the second batch would have seen the first only
    assert(table.snapshotAt(0).count() == 2)
  }

  test("stream -> ACID merge sink: a dotted key names a column, as in merge") {
    implicit val sqlCtx = spark.sqlContext
    val table = graft.ops.ManifestTable(spark, tempDir("graft-acid-dotted").toString + "/tbl")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.acidMergeSink(input.toDF().toDF("user.id", "v"), table, keys = Seq("user.id"))
      .option("checkpointLocation", tempDir("graft-acid-dotted-ckpt").toString).start()
    input.addData((1L, "b"), (1L, "a"), (2L, "c"))
    q.processAllAvailable()
    input.addData((2L, "C2"))
    q.processAllAvailable()
    q.stop()
    assert(table.snapshot().as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "C2"))
  }

  test("streaming near-dedup against history: dups of earlier batches drop; state survives replay semantics") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardup-sink")
    val ckpt = tempDir("graft-neardup-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val batchIds = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, id) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet
          batchIds += id
        })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different words about spark query engines and parquet columnar formats"
    input.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    // batch 2: an exact dup of doc 1 (est jaccard 1.0), a near-dup of doc 1
    // (one token changed), and a genuinely new doc
    input.addData((10L, textA),
      (11L, textA.replace("today", "tonight")),
      (12L, "statistical language modeling corpora require careful deduplication pipelines"))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(1L, 2L), Set(12L)),
      s"history dedup must drop 10 (exact) and 11 (near), got $accepted")
    // onAccepted carries the STREAM's micro-batch ids (the replay
    // identity an exactly-once corpus sink keys its tokens on)
    assert(batchIds.toList == List(0L, 1L), s"expected stream batch ids 0,1 got $batchIds")
    // the signature table holds exactly the accepted docs' band rows
    val stateIds = table.snapshot().select("doc_id").as[Long].collect().toSet
    assert(stateIds == Set(1L, 2L, 12L))
    // replay semantics: re-merging an accepted doc's own rows is a no-op
    // and the =!= guard keeps it from flagging itself — simulate by
    // re-running batch 1's docs through a fresh stream on the SAME table
    val input2 = MemoryStream[(Long, String)]
    val accepted2 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val ckpt2 = tempDir("graft-neardup-ckpt2")
    val q2 = Streaming.nearDupFilterSink(
        input2.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted2.synchronized {
          accepted2 += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt2.toString).start()
    // crashed-replay shape: batch 1's docs 1 AND 2 replay TOGETHER after
    // their state rows committed — neither may be flagged against its own
    // or its batch-mate's half-committed rows, and the idempotent append
    // writes nothing (no new version)
    val vBefore = table.versions().length
    input2.addData((1L, textA), (2L, textB))
    q2.processAllAvailable()
    q2.stop()
    assert(accepted2.toList == List(Set(1L, 2L)),
      "a replayed batch must re-accept exactly what the first run accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 12L))
    assert(table.versions().length == vBefore, "replay must not spend a version")
  }

  test("streaming near-dedup: batch-mates shield each other — one representative per in-batch cluster") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardup-mates")
    val ckpt = tempDir("graft-neardup-mates-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    // ONE trigger: exact dup pair (5,6), a transitive chain near-dup (7),
    // and an unrelated doc (8) — only the min-id representative 5 and the
    // unrelated 8 may be admitted, transitively (7 ~ 6 ~ 5 must not
    // resurrect 7)
    input.addData((6L, textA), (5L, textA),
      (7L, textA.replace("today", "tonight")),
      (8L, "completely different words about spark query engines and parquet columnar formats"))
    q.processAllAvailable()
    // second trigger: a dup of the DROPPED batch-mate 6 still drops (its
    // content lives in history under representative 5)
    input.addData((20L, textA), (21L, "genuinely novel sentence with unique vocabulary tokens"))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(5L, 8L), Set(21L)),
      s"in-batch cluster must admit only min-id rep, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(5L, 8L, 21L),
      "state must hold only admitted docs' signatures")
  }

  test("streaming near-dedup: a redelivered accepted id cannot smuggle in a new near-dup batch-mate") {
    // The at-least-once interleave the pair-level shield exists for: an
    // upstream REDELIVERS already-accepted id 5 in the same trigger as a
    // NEW doc 2 whose text near-dups it. Id 2 < 5, so 2 is the in-batch
    // cluster representative (5 drops in-batch) — under the old
    // batch-level shield, 5's presence in the batch hid 5's history rows
    // from 2's probe and 2 was admitted; pair-level shielding keeps them
    // visible (2 ≠ 5) and 2 drops. Nothing of the cluster is re-emitted
    // or re-appended.
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardup-redeliver")
    val ckpt = tempDir("graft-neardup-redeliver-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    input.addData((5L, textA),
      (6L, "completely different words about spark query engines and parquet columnar formats"))
    q.processAllAvailable()
    // trigger 2: redelivered 5 + smaller-id near-dup 2 + an unrelated doc
    input.addData((5L, textA), (2L, textA.replace("today", "tonight")),
      (9L, "genuinely novel sentence with unique vocabulary tokens"))
    q.processAllAvailable()
    // trigger 3: the redelivered id ALONE re-emits (update/no-op contract)
    input.addData((5L, textA))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(5L, 6L), Set(9L), Set(5L)),
      s"new near-dup 2 must drop against redelivered 5's history rows, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(5L, 6L, 9L),
      "state must never gain the smuggled near-dup's signatures")
  }

  test("streaming near-dedup: kill between triggers, restart from checkpoint — no dup, no drop (VERDICT r16 item 5)") {
    // the at-rest HISTORY table's restart contract: a second query
    // instance on the SAME checkpoint + state table must resume exactly
    // where the killed one stopped — accepted docs stay accepted once,
    // near-dups of pre-kill history still drop, and the state table
    // never gains a duplicate signature row
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardup-restart")
    val ckpt = tempDir("graft-neardup-restart-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    def startQuery() = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val q1 = startQuery()
    input.addData((5L, textA),
      (6L, "completely different words about spark query engines and parquet columnar formats"))
    q1.processAllAvailable()
    q1.stop() // kill BETWEEN triggers
    // data arriving while the query is down: a near-dup of pre-kill
    // history (2 ~ 5), a redelivered accepted id, and a novel doc
    input.addData((2L, textA.replace("today", "tonight")), (5L, textA),
      (9L, "genuinely novel sentence with unique vocabulary tokens"))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    // the restarted trigger's decisions equal the SINGLE-query run's on
    // the identical trigger (see the redelivery test above: 2 and the
    // redelivered 5 both resolve against history, 9 alone is admitted)
    assert(accepted.toList == List(Set(5L, 6L), Set(9L)),
      s"restart must decide exactly like an uninterrupted query, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(5L, 6L, 9L),
      "state after restart must hold exactly the accepted ids — no dup, no drop")
    // signature rows are unique per (doc, band): a replayed/restarted
    // append must never double a row
    val dupRows = table.snapshot().groupBy("doc_id", "band").count()
      .where($"count" > 1).count()
    assert(dupRows == 0L, "restart duplicated state signature rows")
  }

  test("streaming near-dedup: compacting the state table between triggers keeps its dir count flat; dedup unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val dirRoot = tempDir("graft-neardup-compact")
    val ckpt = tempDir("graft-neardup-compact-ckpt")
    val tblPath = dirRoot.toString + "/sigs"
    val table = graft.ops.ManifestTable(spark, tblPath)
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    // fully disjoint vocabularies — zero shared shingles between docs, so
    // only the planted exact dup can match
    val mk = (i: Long) => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i")
    // the caller's maintenance: compact between triggers (a no-op while
    // the state table holds one dir)
    (1L to 4L).foreach { i => input.addData(mk(i)); q.processAllAvailable(); table.compact() }
    // a dup of trigger-1 content must still drop AFTER compactions
    input.addData((99L, mk(1L)._2))
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList.map(_.toList).flatten.toSet == Set(1L, 2L, 3L, 4L),
      s"compaction must not change dedup decisions, got $accepted")
    assert(table.snapshot().select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // the LIVE dir set stays flat: the latest manifest references the one
    // compacted dir (physical pre-compaction dirs linger until vacuum's
    // grace window passes — deliberately not forced here)
    assert(table.dirCount() == 1,
      s"latest manifest should reference 1 compacted dir, got ${table.dirCount()}")
    // and compaction spent versions: more versions than triggers
    assert(table.versions().length > 5)
  }

  test("streaming near-dedup: short docs sign whole-text shingles instead of bypassing the filter") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardup-short")
    val ckpt = tempDir("graft-neardup-short-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((1L, "click here")) // 2 tokens < shingleN=3: whole-text shingle
    q.processAllAvailable()
    input.addData((2L, "click here"), (3L, "subscribe now maybe")) // re-delivered boilerplate
    q.processAllAvailable()
    q.stop()
    assert(accepted.toList == List(Set(1L), Set(3L)),
      s"short boilerplate must dedup against history, got $accepted")
  }

  test("nearDupFilterSink: an empty trigger spends no version; dedup and handlers unchanged otherwise") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardup-sparse")
    val ckpt = tempDir("graft-neardup-sparse-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    input.addData((1L, "the quick brown fox jumps over a lazy dog"))
    q.processAllAvailable()
    val versionsAfterFirst = table.versions().length
    input.addData() // an all-EMPTY trigger
    q.processAllAvailable()
    assert(table.versions().length == versionsAfterFirst,
      "an empty trigger must spend no table version")
    // a redelivered near-dup (new id, same text) + a genuinely new doc:
    // the sink must still dedup against the first trigger's state
    input.addData((2L, "the quick brown fox jumps over a lazy dog"),
      (3L, "completely different text about ships and harbors tonight"))
    q.processAllAvailable()
    q.stop()
    // the empty trigger hands the handler an empty frame
    assert(accepted.toList == List(Set(1L), Set.empty[Long], Set(3L)),
      s"the empty trigger must accept nothing, got $accepted")
  }

  test("nearDupFilterSink: a store with array<string> sig fails the trigger before it writes, naming the rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft-neardup-oldsig")
    val ckpt = tempDir("graft-neardup-oldsig-ckpt")
    val table = graft.ops.ManifestTable(spark, dir.toString + "/sigs")
    // the old format: sig as the 4-hex-char slices, not their int images
    table.append(Seq((1L, 0, "b0", Seq("00ff", "0a0a", "1234", "ffff", "0000", "abcd", "4321", "9999")))
      .toDF("doc_id", "band", "bucket", "sig"))
    val versionsBefore = table.versions()
    val accepted = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupFilterSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", table,
        onAccepted = (b, _) => accepted.synchronized {
          accepted += b.select("doc_id").as[Long].collect().toSet })
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData((2L, "the quick brown fox jumps over a lazy dog"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(m => m.contains("array<string>") && m.contains("rebuild")),
        s"the failure must name the old format and the rebuild, got: $msgs")
    } finally q.stop()
    assert(table.versions() == versionsBefore, "the failed trigger must spend no version")
    assert(accepted.isEmpty, s"onAccepted must never run, got $accepted")
  }

  test("streaming rollup maintenance: a CDC stream maintains the aggregate == full recompute") {
    // foreachBatch + maintainSumCount: each micro-batch of change rows
    // refreshes the rollup in O(changes) — the streaming materialized-view
    // pattern; after any prefix of batches the maintained state must equal
    // recomputing from the accumulated row multiset
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(20,2)")
    val input = MemoryStream[(String, Double, String)]
    var state = Seq.empty[(String, Long, java.math.BigDecimal)]
      .toDF("g", "cnt", "sum_val").withColumn("sum_val", dec($"sum_val"))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    val q = input.toDF().toDF("g", "v", "_change").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
        rows ++= b
        state = graft.ops.Aggregates.maintainSumCount(state, batch, Seq("g"), dec($"v"))
          .localCheckpoint(true) // pin each refresh (real deployments write a table)
        ()
      }.start()
    input.addData(("a", 1.0, "insert"), ("a", 2.0, "insert"), ("b", 5.0, "insert"))
    q.processAllAvailable()
    input.addData(("a", 1.0, "delete"), ("b", 5.0, "delete"), ("c", 7.0, "insert"))
    q.processAllAvailable()
    q.stop()
    val got = state.select($"g", $"cnt", $"sum_val".cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val live = rows.foldLeft(Map.empty[(String, Double), Int]) { case (m, (g, v, ch)) =>
      m.updated((g, v), m.getOrElse((g, v), 0) + (if (ch == "insert") 1 else -1))
    }.filter(_._2 > 0)
    val want = live.groupBy(_._1._1).map { case (g, xs) =>
      (g, xs.values.sum.toLong, xs.map { case ((_, v), n) => v * n }.sum) }.toSet
    assert(got == want, s"maintained $got != recompute $want")
    assert(got.map(_._1) == Set("a", "c"), "b must vanish at cnt 0")
  }
}
