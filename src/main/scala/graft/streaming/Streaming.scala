package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** Structured Streaming restatement of the reference's incremental batch
  * machinery (SURVEY.md §2.6, ops 20-22):
  *
  *  - Redis ledger `imported_death_files` (global_dag.py:83-91) → the file
  *    source's checkpointed seen-files log: each file is ingested exactly
  *    once across restarts.
  *  - Redis buffer drain (global_dag.py:124,161-167) → continuous
  *    micro-batches; no intermediate store.
  *  - `INSERT ... ON CONFLICT DO NOTHING` (global_dag.py:144) → the
  *    sink's keyed merge at rest ([[acidMergeSink]]): one row per id, but
  *    the LAST one, where the reference keeps the first.
  *
  * Plus the streaming near-dup filter behind the `op_stream_neardup` key.
  */
object Streaming {

  /** Incremental fixed-width death-file stream: every file matching
    * `death_*` under `dir` is parsed once, and every valid parsed record is
    * emitted. The stream keeps no state: the file source's checkpointed
    * seen-files log is the reference's Redis ledger, so a file is ingested
    * exactly once across restarts.
    *
    * Duplicate ids (id = sha1(name_raw): one id can carry different
    * dates) are left to the sink, and [[acidMergeSink]] does NOT keep the
    * reference's survivor: `ON CONFLICT DO NOTHING` keeps an id's FIRST
    * row, as this stream's old 30-day watermark dedup did; the keyed merge
    * keeps a later trigger's row. Within one trigger an id's rows resolve
    * to the earliest `date_of_birth`, then `date_of_death`, then `insee`,
    * whatever their order in the file.
    *
    * A checkpoint written while this stream still deduplicated within a
    * watermark holds a stateful operator: a restart on it stops while
    * planning its first batch, before any write, with
    * `STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA`. Such an
    * ingest restarts with a fresh checkpoint: the file source re-reads the
    * landing directory, and the keyed merge makes that re-read idempotent.
    */
  def deathFileStream(spark: SparkSession, dir: String): DataFrame = {
    graft.Prep.ensure(spark)
    val lines = spark.readStream
      .format("text")
      .option("pathGlobFilter", "death_*")
      .option("maxFilesPerTrigger", 16)
      .load(dir)
    // the ONE parse definition, shared with the batch stage — a drifted
    // copy here would mint ids/dates that stop matching the at-rest table
    graft.pipeline.StageDeaths.parsedRecords(lines)
      .where(col("date_of_birth").isNotNull && col("date_of_death").isNotNull)
      .select("id", "date_of_birth", "date_of_death", "insee")
  }

  /** Stream → ACID table bridge: every micro-batch lands as one atomic
    * last-write-wins MERGE commit on a [[graft.ops.ManifestTable]]. Versus
    * [[graft.ops.Sinks.idempotentParquetAppend]] (insert-only idempotence
    * on a plain path), this gives UPDATE semantics — a re-delivered or
    * late row REPLACES the key's row instead of being dropped — plus
    * snapshot-isolated readers while the stream writes, and safe
    * coexistence with other writers on the same table (the commit CAS
    * serializes them). An empty micro-batch commits nothing: the merge
    * counts the batch's rows on its own write and spends no version on
    * zero.
    *
    * Duplicate keys WITHIN one micro-batch resolve by content, as in
    * [[graft.ops.ManifestTable.merge]]: a crash replay keeps the same row.
    *
    * Replays: a micro-batch replayed after a restart re-merges the same
    * rows, which last-write-wins makes a no-op at rest — unless another
    * writer updated one of the batch's keys in between, in which case the
    * replay re-merges STALE values and reverts that writer's update
    * (last-write-wins cannot tell a replay from fresh data). A caller that
    * shares the table with such a writer calls
    * [[graft.ops.ManifestTable.mergeOnce]] in its own `foreachBatch`, whose
    * `(sinkId, batchId)` token makes the replay a provable no-op.
    */
  def acidMergeSink(df: DataFrame, table: graft.ops.ManifestTable, keys: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      table.merge(batch, keys)
      ()
    }

  import graft.ops.Dedup.{MinhashNumHashes => NumHashes, MinhashShingleN => ShingleN}

  /** [[nearDupFilterSink]]'s signature: Dedup's MinHash layout (word
    * shingles and slots, imported above; its LSH bands) and this
    * agreement fraction, which marks a duplicate.
    */
  private val Threshold = 0.5

  /** Streaming near-dedup against HISTORY — "dedupe the firehose against
    * the corpus so far", the layout a continuously-ingesting training-data
    * pipeline needs. Each micro-batch's documents are MinHash-signed and
    * LSH-checked against every previously-ACCEPTED document before they
    * are admitted; accepted signatures land in a [[graft.ops.ManifestTable]]
    * via an atomic append. The dedup state is deliberately NOT stream-engine
    * state: table state is unbounded-corpus-sized (stream state must stay
    * bounded), restart-safe, snapshot-isolated for concurrent readers, and
    * shared with batch jobs writing the same table.
    *
    * Per micro-batch: sign + band-bucket the batch; bucket equi-join
    * against the history snapshot; a candidate is a duplicate when the
    * fraction of agreeing signature slots — the textbook MinHash Jaccard
    * estimator — reaches one half. Signatures are 8 MinHash slots over
    * word 3-shingles, banded 2 rows per band. Estimation (not exact
    * shingle verify) is the deliberate trade: exact verify would require
    * storing per-doc shingle SETS in the state table (corpus token mass)
    * instead of fixed-width signatures; with 8 slots the estimator's
    * σ ≈ 0.17, so the threshold sits well above the corpus' background
    * similarity. Cost shape: per batch, history is SCANNED once for the
    * bucket join (linear, shared with batch writers via the snapshot) and
    * only batch-sized rows are WRITTEN — state grows by appends, never a
    * table rewrite, and by one dir per accepting trigger: the caller
    * bounds the history scan's dir count by calling `sigTable.compact()`
    * between triggers. Documents shorter than 3 tokens sign their whole
    * text as a single shingle (the batch operators exclude them, but in a
    * firehose short boilerplate is precisely the highest-frequency
    * duplicate class — it must not bypass the filter). An empty trigger
    * runs the pipeline on no rows: it appends no state, spends no
    * version, and hands `onAccepted` an empty frame.
    *
    * Exactly-once: accepted state rows land via idempotent-insert + APPEND
    * — a replayed micro-batch finds its rows already present and appends
    * nothing — and candidate matching EXCLUDES history rows whose id is in
    * the current batch: a replayed doc must not be flagged against its own
    * (or a replayed batch-mate's) half-committed state rows from the
    * crashed attempt, which would otherwise drop docs the first run
    * accepted. A consequence of keying that guard on ID: an at-least-once
    * upstream that REDELIVERS an already-accepted id in a later trigger
    * re-emits it to `onAccepted` — that is the same document identity (an
    * update/no-op), so route `onAccepted` to an id-keyed idempotent sink
    * ([[acidMergeSink]] semantics); the CONTENT dedup this sink provides
    * guards different-id duplicates. Within-
    * trigger near-dups ARE deduped against each other: the batch's bucket
    * table self-joins (banded — linear in batch size, never quadratic),
    * pairs meeting the same signature-agreement threshold resolve to
    * min-id cluster representatives, and only representatives proceed to
    * the history probe and the state append. Transitive members drop with
    * their representative (if the rep near-dups history, the whole
    * in-batch cluster is the same content class — the standard
    * conservative choice). The replay shield is PAIR-level (a probe
    * ignores only its OWN history rows, via an inequality predicate on
    * the banded probe join — see the inline proof), so a NEW doc
    * arriving in the same trigger as a REDELIVERED already-accepted
    * near-dup id is still caught against that id's history rows; the
    * redelivered id itself either re-emits to `onAccepted` (when it is
    * the in-batch cluster representative — the documented update/no-op)
    * or drops with its cluster (when a smaller-id batch near-dup is the
    * representative, which then drops against history) — either way no
    * content class is admitted twice.
    *
    * `onAccepted` receives each batch's surviving rows (original schema)
    * and the STREAM's micro-batch id — route the rows to the corpus sink
    * of your choice inside the same foreachBatch for per-batch atomicity
    * of "state + corpus". The id is the replay identity an exactly-once
    * corpus sink must key its batch token on
    * (`ManifestTable.appendOnce(_, sinkId, batchId)`): a
    * checkpoint-recovery re-execution of the same micro-batch re-presents
    * the same id, so the token no-ops, where any sink-side counter would
    * draw a fresh token and double-append.
    *
    * Store format: `sigTable` rows are (id, band, bucket, sig), and `sig`
    * is `array<int>`, the int MinHash images of
    * [[graft.ops.Dedup.minhashSignatures]]. Stores written while `sig` was
    * `array<string>` (4-hex-char slices) cannot be resumed: each trigger
    * checks the snapshot's `sig` type before it writes anything and fails,
    * naming the rebuild, so rebuild such a store from its corpus.
    */
  def nearDupFilterSink(docs: DataFrame, idCol: String, textCol: String,
                        sigTable: graft.ops.ManifestTable,
                        onAccepted: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.ops.{Aggregates, Dedup}
      // short docs (< ShingleN tokens, incl. empty text) sign their whole
      // text as one shingle instead of vanishing from the filter
      val toks = batch.select(col(idCol), Dedup.tokens(col(textCol)).as("_toks"))
      val sh = toks.select(col(idCol), explode(
          when(size(col("_toks")) >= ShingleN,
            Dedup.shinglesFromTokens(col("_toks"), ShingleN))
            .otherwise(array(concat_ws(" ", col("_toks"))))).as("shingle"))
      val sig = Dedup.minhashSignatures(sh, idCol)
      val sigArr = sig.select(col(idCol),
        array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("sig"))
      // batch-bounded and consumed by three sinks (dup probe, state
      // append, acceptance) — persist so the sign/join pipeline runs once
      val state = Dedup.lshBuckets(sig, idCol)
        .join(sigArr, Seq(idCol))
        .select(col(idCol), col("band"), col("bucket"), col("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // in-batch shielding FIRST: batch-mates dedup against each other
        // with the same banded self-join + signature-agreement criterion
        // as the history probe (linear in batch size — the LSH join, not
        // a quadratic compare); min-id representatives survive, resolved
        // transitively (union-find on the batch-bounded pair set, so A~B,
        // B~C never admits A and C together). Deterministic (min-id), so
        // a crash replay makes identical decisions.
        // the ONE signature-agreement criterion (estimated jaccard =
        // matching-hash fraction) shared by the in-batch shield and the
        // history probe — two hand-maintained copies could silently
        // diverge on the threshold semantics
        def sigAgreement(a: String, b: String) =
          (0 until NumHashes).map(i =>
              when(element_at(col(a), i + 1) === element_at(col(b), i + 1), 1)
                .otherwise(0))
            .reduce(_ + _).cast("double") / NumHashes
        // agreement-filter BEFORE the distinct, ids-only distinct AFTER
        // (the Dedup.simhashPairsByChunks trade): a pair surfacing from
        // several bands carries identical signatures in every copy, so
        // filtering first changes nothing — while distinct-ing the raw
        // candidate rows would shuffle two array<int>(8) payloads per
        // pair instead of two ids
        val inPairs = state.alias("x").join(state.alias("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
              col(s"x.`$idCol`") < col(s"y.`$idCol`"))
          .select(col(s"x.`$idCol`").as("doc_a"), col("x.sig").as("_as"),
            col(s"y.`$idCol`").as("doc_b"), col("y.sig").as("_bs"))
          .where(sigAgreement("_as", "_bs") >= Threshold)
          .select("doc_a", "doc_b")
          .distinct()
        // dedupClustersBounded, not the adaptive dedupClusters: a trigger's
        // in-batch candidate pairs are batch-bounded (the caller's trigger
        // policy bounds the batch; LSH pairs are a sliver of it), so the
        // adaptive entry's strategy-count job + eager checkpoint job are
        // pure per-trigger scheduling tax. The bounded form is a LAZY
        // single-task union-find that rides its first consumer's job and
        // persists nothing, so no durable state leaks over an unbounded
        // stream lifetime. Its two consumers (shielded's anti-join,
        // dupIds' union) each re-run the banded self-join + union-find,
        // but that recompute reads the persisted `state` blocks, not the
        // batch's sign pipeline; a trigger A/B measured a persist here at
        // zero gain (16 jobs both ways, wall time inside the noise band)
        val inBatchDrops = Dedup.dedupClustersBounded(inPairs, "doc_a", "doc_b")
          .where(col("doc_id") =!= col("cluster_rep"))
          .select(col("doc_id").as(idCol))
        val shielded = state.join(inBatchDrops, Seq(idCol), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the store's format is checked on the snapshot's resolved schema
        // (no job), so an old store fails here, before the trigger writes
        // anything, rather than at its first non-empty append
        val histOpt = sigTable.latestVersion().map { _ =>
          val hist = sigTable.snapshot()
          hist.schema.find(_.name == "sig").map(_.dataType) match {
            case Some(ArrayType(IntegerType, _)) => hist
            case other => throw new IllegalStateException(
              "nearDupFilterSink: the sigTable store's sig column is " +
                other.fold("missing")(_.simpleString) + ", not array<int> (a store " +
                "written before MinHash signatures became ints); rebuild the " +
                "store from its corpus into a fresh table")
          }
        }
        // persisted like `state`: histDups is batch-bounded but its lineage
        // is the corpus-sized history bucket join, which would otherwise
        // re-execute for each of the three consumers below
        val histDups = (histOpt match {
          case None => state.select(col(idCol)).where(lit(false))
          case Some(hist) =>
            // the replay shield is PAIR-level: a probe doc ignores only its
            // OWN history rows (the `=!=` on the banded join), never its
            // batch-mates'. That is sufficient for crash-replay: between
            // the state commit and the stream checkpoint, only ACCEPTED
            // representatives' rows can be half-committed, and two docs
            // accepted by the same attempt can never meet the agreement
            // criterion against each other (the in-batch shield — the
            // SAME banded join + threshold — would have dropped one
            // first), so a replayed doc can only be mis-flagged by its
            // own rows. Pair-level shielding also closes the batch-level
            // shield's recall gap: a NEW doc arriving alongside a
            // REDELIVERED already-accepted near-dup id now sees that id's
            // history rows and drops, instead of being admitted because a
            // batch-mate's id happened to hide them. Cost: an inequality
            // predicate on the existing banded equi-join — no extra pass.
            shielded.alias("b").join(hist.alias("h"),
                col("b.band") === col("h.band") && col("b.bucket") === col("h.bucket") &&
                  col(s"b.`$idCol`") =!= col(s"h.`$idCol`"))
              // same trade as the in-batch shield: filter on the cheap
              // per-row agreement first, then distinct ONLY the surviving
              // ids — the previous pre-filter distinct shuffled every
              // candidate (probe, history) row with both signature arrays,
              // and was fully redundant with this ids-only distinct
              .select(col(s"b.`$idCol`").as("_bid"), col("b.sig").as("_bs"),
                col("h.sig").as("_hs"))
              .where(sigAgreement("_bs", "_hs") >= Threshold)
              .select(col("_bid").as(idCol)).distinct()
        }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dupIds = histDups.union(inBatchDrops)
        val accepted = batch.join(dupIds, Seq(idCol), "left_anti")
        // idempotent-insert + APPEND: only rows whose (id, band) is not
        // already in history are written — a replay appends nothing, and
        // state never pays a copy-on-write table rewrite (merge without
        // prunable stats rewrites the WHOLE table per trigger)
        val acceptedState = shielded.join(histDups, Seq(idCol), "left_anti")
        // appendNonEmpty gates the commit on a row count OBSERVED by the
        // write itself (CollectMetrics): ONE scheduling round where the
        // r16 persist-count-then-append pair paid two (and the original
        // isEmpty-probe-then-write pair ~6 — see the git history). The
        // anti-join plan executes exactly once (the write), so newState no
        // longer needs a persist at all. Per-trigger driver rounds ARE the
        // streaming fixed cost at any data size.
        val newState = histOpt match {
          case None => acceptedState
          case Some(hist) =>
            Aggregates.idempotentNewRows(acceptedState, hist, Seq(idCol, "band"))
        }
        try {
          sigTable.appendNonEmpty(newState)
          onAccepted(accepted, batchId)
        } finally {
          histDups.unpersist(blocking = false)
          shielded.unpersist(blocking = false)
        }
      } finally state.unpersist(blocking = false)
      ()
    }
}
