package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}

/** [[ObjectStoreClient]] over a REAL Hadoop filesystem — the SDK-shaped
  * adapter the conditional-PUT protocol deploys on when the "object store"
  * is HDFS or a mounted/local filesystem (the sandbox proves it on
  * `file://`; the contract suite certifies it — see
  * `HadoopFsObjectStoreContract`). The reference runs its ledgered imports
  * against a single Postgres + local volumes
  * (/root/reference/docker-compose.yaml); this is the same durability seam
  * grown to a store any Hadoop connector can reach.
  *
  * The one semantic a filesystem does not serve natively is the atomic
  * server-side precondition (`If-None-Match: *`). It is synthesized from
  * the strongest single-request primitive each scheme has, with the body
  * ALWAYS staged first so a visible key is always a complete body:
  *
  *  - **`file://`**: POSIX `link(2)` via `Files.createLink` — creating a
  *    second name for the staged inode fails `EEXIST` atomically if the
  *    key exists, and the new name appears fully formed (no torn reads,
  *    no lock window). `createNewFile`-style reserve+publish would
  *    reintroduce the orphan-lock mode this client exists to avoid.
  *  - **other schemes (HDFS-class)**: `FileContext.rename(src, dst,
  *    Rename.NONE)` — a single atomic namenode op that fails
  *    `FileAlreadyExistsException` when the destination exists. The
  *    rename can APPLY and still throw (RPC retry landing server-side
  *    after a client error), so an ambiguous failure is resolved by
  *    probing the destination: our body committed = win; a foreign body =
  *    loss; still absent = transient (the log store re-issues the PUT); a
  *    probe that itself fails propagates, never reading as a loss.
  *
  * Keys resolve against `root` (`new Path(root, key)`): the relative keys
  * [[ObjectStoreLogStore]] builds (`_log/vN.txt`) land under the table
  * root whatever its scheme, and list back relative. ABSOLUTE keys
  * address the filesystem directly and are listed back in the same
  * absolute form.
  * Staging lives under `root/.graft-put-stage`; dot-prefixed basenames
  * are reserved (hidden from [[list]]), matching the `_`/`.` marker
  * convention of every Hadoop table layout. On the local scheme the raw
  * filesystem is used (no `.crc` sidecars — a checksum sibling of the
  * staged file would not follow the hard link).
  *
  * At 100 TB the log this client carries is METADATA (one manifest per
  * commit): requests here are O(commits), never O(data); the data files
  * themselves read/write through the table root's own filesystem.
  */
class HadoopFsObjectStore(root: String, conf: Configuration) extends ObjectStoreClient {

  private lazy val fs: FileSystem = new Path(root).getFileSystem(conf) match {
    // raw local: skip ChecksumFileSystem's .crc sidecars (a hard link of
    // the data file would otherwise publish a key whose checksum sibling
    // still points at the staging name)
    case l: LocalFileSystem => l.getRawFileSystem
    case other => other
  }
  private lazy val rootPath: Path = fs.makeQualified(new Path(root))

  private val StagingDir = ".graft-put-stage"

  private def pathOf(key: String): Path = new Path(rootPath, key)

  override def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean = {
    val dest = pathOf(key)
    if (fs.exists(dest)) return false // cheap 412 fast-path; the primitive below is authoritative
    // stage the full body first: whichever primitive publishes, a visible
    // key is always a COMPLETE body (the no-torn-reads half of the PUT
    // contract); the staged inode is private (uuid name, hidden dir)
    val tmp = new Path(new Path(rootPath, StagingDir), java.util.UUID.randomUUID().toString)
    fs.mkdirs(tmp.getParent)
    val out = fs.create(tmp, /* overwrite = */ false)
    try out.write(bytes)
    catch {
      case e: Throwable =>
        try out.close() catch { case c: Throwable => e.addSuppressed(c) }
        try fs.delete(tmp, false) catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    // a buffered stream can surface disk-full/quota at close(), after
    // every write() succeeded — collect the staged file on that path too
    // (nothing else ever sweeps the staging dir, so a leaked uuid file
    // would accumulate per retry forever)
    try out.close()
    catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    fs.mkdirs(dest.getParent)
    try {
      if (publishViaHardLink) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { renameNoOverwrite(tmp, dest); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException =>
            // the rename can APPLY and still throw (see the class doc):
            // a committed body settles the outcome — ours = win, foreign =
            // loss. Still-absent is AMBIGUOUS (an RPC retry of the rename
            // may land server-side after this probe), so it surfaces as
            // the contract's transient type: ObjectStoreLogStore's
            // resolution loop re-issues the same idempotent conditional
            // PUT until the version settles — a raw IOException would
            // abort the whole commit on the first hiccup, bypassing that
            // loop. A probe that throws too carries the rename's failure
            // as suppressed, so the error that started it is not lost.
            val probed =
              try get(key)
              catch { case p: Throwable => p.addSuppressed(e); throw p }
            probed match {
              case Some(committed) => java.util.Arrays.equals(committed, bytes)
              case None =>
                val t = new ObjectStoreClient.TransientStoreException(
                  s"ambiguous rename publish of $key (still absent after probe): $e")
                t.addSuppressed(e)
                throw t
            }
        }
      }
    } finally {
      // win via link: tmp is a second name of the published inode;
      // win via rename: tmp is already gone; loss: collect the staged body
      try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Branch selector between the two publish primitives — overridable so
    * the contract suite can force the HDFS-class rename branch onto local
    * disk (no HDFS in the sandbox) and fault-inject it.
    * getUri, not getScheme: RawLocalFileSystem never implemented the latter.
    */
  protected def publishViaHardLink: Boolean = fs.getUri.getScheme == "file"

  /** The HDFS-class publish primitive, isolated as the fault-injection
    * seam: one atomic no-overwrite rename that must throw
    * `FileAlreadyExistsException` on an existing destination. The contract
    * suite wraps it to simulate the ambiguous modes the probe in
    * [[putIfNoneMatch]] resolves (rename APPLIED then threw; rename threw
    * with nothing landed; a foreign body landed first).
    */
  protected def renameNoOverwrite(tmp: Path, dest: Path): Unit =
    FileContext.getFileContext(dest.toUri, conf).rename(tmp, dest, Options.Rename.NONE)

  /** Body-free existence probe (the HeadObject analog): one metadata RPC,
    * not a full read — latestVersion's forward walk calls this per probe.
    */
  override def head(key: String): Boolean = fs.exists(pathOf(key))

  /** Unconditional last-writer-wins PUT (checkpoint hints only — commits
    * stay conditional): staged body + delete + rename. Hadoop `rename`
    * refuses an existing destination on HDFS, hence the delete; the tiny
    * absence window (and a torn read under a non-atomic local rename) is
    * acceptable for the ADVISORY object this primitive serves — readers
    * validate the content and fall back to a LIST.
    */
  override def put(key: String, bytes: Array[Byte]): Unit = {
    val dest = pathOf(key)
    val tmp = new Path(new Path(rootPath, StagingDir), java.util.UUID.randomUUID().toString)
    fs.mkdirs(tmp.getParent)
    val out = fs.create(tmp, /* overwrite = */ false)
    try out.write(bytes)
    catch {
      case e: Throwable =>
        try out.close() catch { case c: Throwable => e.addSuppressed(c) }
        try fs.delete(tmp, false) catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    out.close()
    fs.mkdirs(dest.getParent)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) {
      // a concurrent unconditional writer won — last-writer-wins either way
      fs.delete(tmp, false); ()
    }
  }

  override def get(key: String): Option[Array[Byte]] = {
    // open-then-catch, not exists-then-open: the TOCTOU window of a
    // pre-check would misreport a concurrent publish
    val in =
      try fs.open(pathOf(key))
      catch { case _: java.io.FileNotFoundException => return None }
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      Some(buf.toByteArray)
    } finally in.close()
  }

  override def list(prefix: String): Seq[String] = {
    // a prefix may end mid-name ("a/_log/v00"), so list from its deepest
    // DIRECTORY ancestor and filter keys; one recursive LIST stream, not
    // a round trip per level
    val slash = prefix.lastIndexOf('/')
    val dir = if (slash < 0) rootPath else pathOf(prefix.substring(0, slash + 1))
    if (!fs.exists(dir)) return Seq.empty
    val absolute = prefix.startsWith("/")
    val it = fs.listFiles(dir, /* recursive = */ true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next().getPath
      val comps = componentsBelowRoot(f)
      if (!comps.exists(_.startsWith("."))) {
        val key = if (absolute) f.toUri.getPath else comps.mkString("/")
        if (key.startsWith(prefix)) out += key
      }
    }
    out.result()
  }

  /** Path components strictly below the client root (file included),
    * top-down — the inverse of [[pathOf]] for relative keys.
    */
  private def componentsBelowRoot(f: Path): List[String] = {
    val base = rootPath.toUri.getPath
    Iterator.iterate(f)(_.getParent)
      .takeWhile(q => q != null && q.toUri.getPath != base)
      .map(_.getName).toList.reverse
  }
}
