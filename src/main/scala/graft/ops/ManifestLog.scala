package graft.ops

/** The object-store primitive [[ManifestTable]]'s commit log builds on —
  * the requests every S3-class store serves. Implementations wrap the
  * store's SDK (or a filesystem: [[HadoopFsObjectStore]]); transient
  * service errors (throttling, 5xx) may be thrown as
  * [[ObjectStoreClient.TransientStoreException]] and the log store absorbs
  * them into the existing retry loop.
  */
trait ObjectStoreClient {
  /** Create `key` with `bytes` IF AND ONLY IF the key does not exist —
    * S3 `PutObject` + `If-None-Match: *` (412 ⇒ false), GCS
    * `x-goog-if-generation-match: 0`, Azure Blob `If-None-Match: *`.
    * True = created; false = precondition failed (key exists). The PUT is
    * atomic: the object is invisible until it completes, and the
    * precondition is evaluated server-side against the committed state.
    */
  def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean

  def get(key: String): Option[Array[Byte]]

  /** Existence probe WITHOUT the body — S3 `HeadObject`, GCS/Azure
    * metadata GET: the primitive behind [[ManifestTable]]'s forward-
    * probing `latestVersion()` (a dense-version walk wants "is v+1
    * there?", not v+1's bytes).
    */
  def head(key: String): Boolean

  /** Keys under `prefix` (object stores list lexicographically; order here
    * is unspecified and the caller sorts).
    */
  def list(prefix: String): Seq[String]

  /** UNCONDITIONAL last-writer-wins PUT — plain S3 `PutObject` with no
    * precondition. Used ONLY for the advisory checkpoint hint, never for
    * commits (those stay conditional).
    */
  def put(key: String, bytes: Array[Byte]): Unit
}

object ObjectStoreClient {
  /** A retryable service failure (throttle, 5xx, connection reset) — the
    * request MAY or MAY NOT have been applied (the ambiguous-failure case
    * every object-store client has to live with).
    */
  final class TransientStoreException(msg: String) extends java.io.IOException(msg)
}

/** [[ManifestTable]]'s commit log: version N's commit is ONE atomic
  * request — `putIfNoneMatch` of `_log/vN.txt` itself. The winner's
  * manifest IS the commit; a loser's 412 maps onto the protocol's
  * lost-the-race/None path, so `ManifestTable`'s re-derive-and-retry loop,
  * backoff, and parent guard need nothing store-specific. Reserve and
  * publish are one request, so a crashed writer either published
  * completely or left nothing (no lock to orphan), and per-key atomic
  * visibility is the store's own guarantee (readers never see a torn
  * body). Everything else in the protocol (immutable data dirs, snapshot
  * reads from one pinned manifest) lives in [[ManifestTable]]; the
  * contract is spec'd in SCALE.md "ManifestTable on an object store".
  *
  * Keys are relative to the client (`_log/vN.txt`, `_log/_ckpt`): one
  * client addresses one table.
  *
  * One failure mode is handled here: an AMBIGUOUS transient error
  * — the store may have committed the PUT before the response was lost,
  * or the request may STILL BE IN FLIGHT server-side (a connection reset
  * surfaces client-side while the store keeps processing). The resolution
  * discipline: `false` from [[publishIfAbsent]] means PROVEN lost, because
  * the caller reacts by deleting its rewrite dir and re-deriving — a false
  * while our own request later lands would commit a manifest referencing
  * a deleted dir (permanent corruption) or re-append the same dir (row
  * duplication). Proof is only ever a committed body at this version:
  * manifest bodies are globally unique per writer (each embeds the
  * writer's fresh data-dir UUID), so byte-equality proves THIS writer's
  * request won and inequality proves it lost FOREVER (once any body is
  * committed, the store's precondition rejects every later PUT — a
  * delayed duplicate of ours included). An ABSENT key after an ambiguous
  * PUT proves nothing and is resolved by re-issuing the same idempotent
  * conditional PUT until the version settles; if the store stays
  * unreachable the publish throws (fail loudly — the caller leaves its
  * dir for vacuum, never deletes it on an unproven loss).
  */
final class ObjectStoreLogStore(client: ObjectStoreClient) {
  import ObjectStoreLogStore._

  private def key(v: Long) = f"${LogPrefix}v$v%020d.txt"

  /** Committed versions, ascending. */
  def listVersions(): Seq[Long] =
    withTransientRetry("list") {
      client.list(LogPrefix).iterator
        .map(_.stripPrefix(LogPrefix))
        .collect { case ManifestName(v) => v.toLong }
        .toSeq.sorted
    }

  /** The published manifest body for `v`, or None if `v` was never committed. */
  def read(v: Long): Option[Array[Byte]] =
    withTransientRetry("get")(client.get(key(v)))

  /** True iff version `v` has a published manifest (a HEAD, no body). */
  def exists(v: Long): Boolean =
    withTransientRetry("head")(client.head(key(v)))

  /** Atomically publish version `v`. True = THIS call committed it; false
    * = another writer's body is committed at `v` — the caller re-derives
    * from the new latest and retries. Other store failures throw.
    */
  def publishIfAbsent(v: Long, body: Array[Byte]): Boolean = {
    // Resolution loop (see class doc): only a COMMITTED body at `v`
    // settles the outcome. An absent key after an ambiguous PUT must NOT
    // read as "lost" — the request may still be in flight server-side and
    // land after we looked, so the only safe move is to re-issue the same
    // idempotent conditional PUT until the version settles one way.
    var attempt = 0
    while (attempt < PublishRetries) {
      try {
        if (client.putIfNoneMatch(key(v), body)) return true
        // clean 412: a body is committed — won iff it is OURS (an earlier
        // ambiguous attempt of this same call chain), lost-forever if not
      } catch {
        case _: ObjectStoreClient.TransientStoreException =>
          // ambiguous: fall through to inspect the version
      }
      withTransientRetry("self-win get")(client.get(key(v))) match {
        case Some(committed) => return java.util.Arrays.equals(committed, body)
        case None =>
          // 412-then-absent cannot persist on a strongly consistent store;
          // ambiguous-then-absent means our PUT may still land — retry the
          // PUT itself (same key, same body: idempotent under the
          // precondition) until the version settles
          attempt += 1
          if (attempt < PublishRetries) Thread.sleep(math.min(25L << attempt, 400L))
      }
    }
    throw new ObjectStoreClient.TransientStoreException(
      s"conditional-PUT of ${key(v)} unresolved after $PublishRetries attempts: the store " +
        "kept failing transiently with the version unsettled; NOT reporting 'lost' — " +
        "an in-flight request may still land (data dir is left for vacuum)")
  }

  /** Reads are idempotent — absorb throttling/5xx with bounded backoff so
    * one throttled GET/LIST cannot abort a whole commit that had retries
    * left (the absorbed-into-the-retry-loop contract of
    * [[ObjectStoreClient]]'s doc).
    */
  private def withTransientRetry[A](what: String)(op: => A): A = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: ObjectStoreClient.TransientStoreException =>
          attempt += 1
          if (attempt >= PublishRetries) throw e
          Thread.sleep(math.min(25L << attempt, 400L))
      }
    }
    throw new IllegalStateException(s"unreachable: $what retry loop")
  }

  /** The advisory CHECKPOINT HINT (Delta's `_last_checkpoint` analog): one
    * small overwritable object naming a known-committed version, so a cold
    * handle starts its forward probe there instead of LISTing the
    * O(commits) log. Last-writer-wins and PURELY advisory — a stale, torn,
    * or absent hint only costs extra reads (the caller validates the
    * content and falls back to the full LIST), never a wrong answer; a
    * persistently throttled read degrades to "no checkpoint".
    */
  def readCheckpoint(): Option[Array[Byte]] =
    try withTransientRetry("ckpt get")(client.get(CkptKey))
    catch { case _: ObjectStoreClient.TransientStoreException => None }

  /** See [[readCheckpoint]]. Overwrites any previous checkpoint. */
  def writeCheckpoint(bytes: Array[Byte]): Unit =
    withTransientRetry("ckpt put")(client.put(CkptKey, bytes))
}

object ObjectStoreLogStore {
  private val LogPrefix = "_log/"
  private val ManifestName = """v(\d{20})\.txt""".r
  // the hint's key never matches ManifestName, so listVersions cannot
  // mistake it for a commit
  private val CkptKey = LogPrefix + "_ckpt"
  /** Attempts resolving one publish before the commit aborts loudly. */
  private val PublishRetries = 6
}
