package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.json4s._
import org.json4s.jackson.Serialization

/** Metadata for one live data file (a sorted parquet "generation" segment).
  * Min/max keys are hex-encoded so the manifest JSON stays binary-safe; they
  * drive file pruning on point reads (analog of the reference's per-table
  * `[minKey, maxKey]` search, `kv/lsm/level_handler.go:45-64`). `length`
  * is the file's byte length; -1 (older entries, segment DIRS) lists.
  */
final case class FileMeta(
    path: String,
    level: Int,
    minKeyHex: String,
    maxKeyHex: String,
    rows: Long,
    createdVersion: Long,
    length: Long = -1L)

/** Metadata for one live blob file. `[minBlobId, maxBlobId]` bounds the
  * ids it holds, so a point read dereferences a blob pointer by opening
  * only the files whose range covers it (the reference's value pointer
  * names its vlog file outright, `kv/utils/value.go:19-54`). The defaults
  * — every id — keep manifests written before these fields correct.
  * `length` is as [[FileMeta.length]].
  */
final case class BlobFileMeta(
    path: String,
    rows: Long,
    minBlobId: Long = 0L,
    maxBlobId: Long = Long.MaxValue,
    length: Long = -1L)

/** The full engine state committed atomically. `nextVersion` is the
  * monotonic commit counter that replaces the reference's inverted-ts
  * versioning (`kv/utils/key.go:32-37`); `nextBlobId` allocates blob ids.
  *
  * `rangeBoundsHex` is the FIXED bucket grid (hex split keys, ascending)
  * established by the first bulk write: every later segment write
  * partitions against this grid instead of re-sampling its own range
  * boundaries, so files from different generations align on the same
  * sub-ranges and L0→L1 compaction stays local to the touched buckets
  * (the analog of the reference's stable per-level key-range targets,
  * `kv/lsm/compact.go:626-751`). Empty until the first multi-file write;
  * json4s fills the default for manifests written before this field.
  *
  * `commitSeq` numbers commits; it anchors the change-log replay (a log
  * record applies iff its seq is past the base snapshot's).
  */
final case class ManifestState(
    nextVersion: Long,
    nextBlobId: Long,
    files: Vector[FileMeta],
    blobFiles: Vector[BlobFileMeta],
    rangeBoundsHex: Vector[String] = Vector.empty,
    commitSeq: Long = 0L)

/** One committed change, O(touched files) in size — the reference's
  * manifest change records (`kv/file/manifest.go:122-174`: ADD/DELETE per
  * table) generalized to this engine's state. Counters are absolute (tiny
  * and replay-friendly); file and grid changes are deltas. `clearBounds`
  * precedes `addBounds` on apply, so a grid re-capture is
  * `clear + add-all` and a refine/merge is a one-element delta.
  */
private[core] final case class ChangeRecord(
    seq: Long,
    nextVersion: Long,
    nextBlobId: Long,
    addFiles: Vector[FileMeta] = Vector.empty,
    removePaths: Vector[String] = Vector.empty,
    addBlobs: Vector[BlobFileMeta] = Vector.empty,
    removeBlobPaths: Vector[String] = Vector.empty,
    clearBounds: Boolean = false,
    addBounds: Vector[String] = Vector.empty,
    removeBounds: Vector[String] = Vector.empty)

/** The explicit commit payload: what one commit ADDS and REMOVES, plus
  * absolute counter updates (None = unchanged). Commit CPU and record
  * size are both O(this delta) — the caller states what it touched, so no
  * full-state set-diff runs per commit (at the O(10^5) files a 100 TB
  * table implies, diffing two whole file vectors per 1-row `batchSet`
  * would burn ~N hash/equality ops for a ~3-field change). Field
  * semantics are exactly [[ChangeRecord]]'s (removals by path, then adds;
  * `clearBounds` precedes bounds deltas). An empty delta commits nothing.
  */
final case class ManifestDelta(
    nextVersion: Option[Long] = None,
    nextBlobId: Option[Long] = None,
    addFiles: Vector[FileMeta] = Vector.empty,
    removePaths: Vector[String] = Vector.empty,
    addBlobs: Vector[BlobFileMeta] = Vector.empty,
    removeBlobPaths: Vector[String] = Vector.empty,
    clearBounds: Boolean = false,
    addBounds: Vector[String] = Vector.empty,
    removeBounds: Vector[String] = Vector.empty)

object ManifestDelta {
  val empty: ManifestDelta = ManifestDelta()
}

object Manifest {
  // one writer monitor per rootDir: two Manifest instances on the same
  // dir (stateless reopen, a second GraftDB handle in one JVM) must
  // serialize through the same in-process lock — per-instance locks
  // would let their commits interleave the truncate/append sequence.
  // Keyed by the REAL path (dir created first so it resolves): a lexical
  // normalize would give aliased spellings of one dir — a symlink and
  // its target — different monitors, and the second concurrent commit
  // would then hit the same MANIFEST.lock inode from one JVM and die
  // with OverlappingFileLockException instead of waiting its turn.
  private val rootLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[core] def lockFor(rootDir: String): Object = {
    val p = Paths.get(rootDir).toAbsolutePath
    Files.createDirectories(p)
    val key =
      try p.toRealPath().toString
      catch { case _: java.io.IOException => p.normalize.toString }
    rootLocks.computeIfAbsent(key, _ => new Object)
  }
}

/** Change-log manifest, reference-shaped (`kv/file/manifest.go:122-174,
  * 291-348`): a base snapshot (`MANIFEST.json`, atomic rename) plus an
  * append-only record log (`MANIFEST.log`, one JSON line per commit).
  * A commit appends ONE record sized by the [[ManifestDelta]] it was
  * handed — never the whole table's metadata — so at the O(10^5) files a
  * 100 TB table implies, a 1-row `batchSet` writes ~hundreds of bytes,
  * not tens of MB, and spends commit CPU proportional to the files it
  * touched. Past `logCompactEvery` records the log folds into a fresh
  * snapshot (the reference's rewrite threshold) and restarts empty.
  *
  * Crash contract:
  *  - record append: an UNTERMINATED final chunk (the trailing '\n' is the
  *    last byte a successful append writes) is a crashed append of a
  *    commit that never returned — dropped on replay, truncated by the
  *    next commit before it appends (readers never truncate; only the
  *    single writer does). An unparsable newline-TERMINATED record was
  *    acknowledged to its committer, and an out-of-sequence record broke
  *    the chain — both are real corruption and fail loudly.
  *  - snapshot compaction: snapshot rename is atomic; a crash before the
  *    log truncation leaves stale records whose `seq <= base.commitSeq`,
  *    which replay skips (idempotent).
  *
  * Reads are served from an in-process cached state, revalidated by two
  * cheap file stats (size + mtime of snapshot and log) so a second
  * Manifest instance on the same dir — the stateless-reopen path — still
  * observes foreign commits. A cold (re)load holds the file lock in
  * SHARED mode: it reads two files, and a foreign commit+fold landing
  * between them would otherwise present as corruption (see [[load]]).
  *
  * Writer safety, three rings (the reference's single writer goroutine,
  * `kv/db.go:224-285`, generalized to writers it never had to face):
  *  - same instance, many threads: the per-rootDir monitor serializes.
  *  - same JVM, many INSTANCES on one dir: the monitor is keyed by
  *    normalized rootDir in [[Manifest.lockFor]], so they share it.
  *  - separate PROCESSES on one dir: every commit holds an OS file lock
  *    on `MANIFEST.lock` for its load→truncate→append critical section
  *    (and re-loads inside it), so two JVMs cannot interleave torn-tail
  *    truncation with a live append or double-assign a commit seq. The
  *    lock is advisory, per-commit (never held across commits), and
  *    released by the OS on process death — no stale-lock recovery
  *    needed.
  */
final class Manifest(rootDir: String, logCompactEvery: Int = 1024) {
  private implicit val fmts: Formats = DefaultFormats
  private val manifestPath: Path = Paths.get(rootDir, "MANIFEST.json")
  private val tmpPath: Path = Paths.get(rootDir, "MANIFEST.json.tmp")
  private val logPath: Path = Paths.get(rootDir, "MANIFEST.log")
  private val lockFilePath: Path = Paths.get(rootDir, "MANIFEST.lock")
  private val lock = Manifest.lockFor(rootDir)

  // cached state + the on-disk fingerprint it was derived from
  private var cached: ManifestState = _
  private var cachedStamp: (Long, Long, Long, Long) = _
  private var logRecords: Int = 0
  // byte length of the log's VALID prefix (complete, parsed records). A
  // torn tail beyond it is truncated by the next commit — never appended
  // after, which would merge the torn bytes and the new record into one
  // unparsable line.
  private var validLogBytes: Long = 0L

  Files.createDirectories(Paths.get(rootDir))

  private def stamp(): (Long, Long, Long, Long) = {
    def sizeMtime(p: Path): (Long, Long) =
      if (Files.exists(p)) (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      else (-1L, -1L)
    val (ms, mt) = sizeMtime(manifestPath)
    val (ls, lt) = sizeMtime(logPath)
    (ms, mt, ls, lt)
  }

  private def applyRecord(st: ManifestState, r: ChangeRecord): ManifestState = {
    val files =
      if (r.removePaths.isEmpty && r.addFiles.isEmpty) st.files
      else {
        val rm = r.removePaths.toSet
        st.files.filterNot(f => rm.contains(f.path)) ++ r.addFiles
      }
    val blobs =
      if (r.removeBlobPaths.isEmpty && r.addBlobs.isEmpty) st.blobFiles
      else {
        val rm = r.removeBlobPaths.toSet
        st.blobFiles.filterNot(b => rm.contains(b.path)) ++ r.addBlobs
      }
    val bounds0 = if (r.clearBounds) Vector.empty[String] else st.rangeBoundsHex
    val bounds =
      if (r.addBounds.isEmpty && r.removeBounds.isEmpty) bounds0
      else {
        val rm = r.removeBounds.toSet
        (bounds0.filterNot(rm.contains) ++ r.addBounds).sorted
      }
    ManifestState(r.nextVersion, r.nextBlobId, files, blobs, bounds, r.seq)
  }

  /** The change record one delta produces on top of `cur` — a rename plus
    * the seq stamp and counter defaulting; O(delta), by construction.
    */
  private def recordOf(cur: ManifestState, d: ManifestDelta): ChangeRecord =
    ChangeRecord(
      seq = cur.commitSeq + 1,
      nextVersion = d.nextVersion.getOrElse(cur.nextVersion),
      nextBlobId = d.nextBlobId.getOrElse(cur.nextBlobId),
      addFiles = d.addFiles,
      removePaths = d.removePaths,
      addBlobs = d.addBlobs,
      removeBlobPaths = d.removeBlobPaths,
      clearBounds = d.clearBounds,
      addBounds = d.addBounds,
      removeBounds = d.removeBounds)

  private def coldLoad(): ManifestState = {
    val base =
      if (Files.exists(manifestPath))
        Serialization.read[ManifestState](Files.readString(manifestPath))
      else ManifestState(1L, 1L, Vector.empty, Vector.empty)
    var st = base
    logRecords = 0
    validLogBytes = 0L
    if (Files.exists(logPath)) {
      val bytes = Files.readAllBytes(logPath)
      // Byte-accurate line walk: a record is COMMITTED iff its trailing
      // '\n' made it to disk (the last byte a successful append writes).
      // An unterminated final chunk — parseable or not — is a crashed,
      // unacknowledged append: dropped here, truncated by the next commit.
      // (Applying a parseable-but-unterminated record would advance the
      // in-memory seq past validLogBytes, and the truncating writer would
      // then leave a seq gap on disk.) An unparsable newline-TERMINATED
      // record was acknowledged to its committer — real corruption, fails
      // loudly wherever it sits.
      var start = 0
      var lineNo = 0
      while (start < bytes.length) {
        var end = start
        while (end < bytes.length && bytes(end) != '\n') end += 1
        val terminated = end < bytes.length
        lineNo += 1
        if (terminated && end > start) {
          val line = new String(bytes, start, end - start, StandardCharsets.UTF_8)
          val r =
            try Serialization.read[ChangeRecord](line)
            catch {
              case e: Exception => throw new IllegalStateException(
                s"corrupt manifest log record at $logPath line $lineNo", e)
            }
          if (r.seq > st.commitSeq) {
            if (r.seq != st.commitSeq + 1)
              throw new IllegalStateException(
                s"manifest log gap at $logPath: have seq ${st.commitSeq}, next record is ${r.seq}")
            st = applyRecord(st, r)
            logRecords += 1
          } // seq <= commitSeq: stale pre-compaction record — skip
        }
        if (terminated) validLogBytes = (end + 1).toLong
        start = end + 1
      }
    }
    st
  }

  def load(): ManifestState = lock.synchronized {
    if (cached == null || stamp() != cachedStamp) {
      // cold (re)load under a SHARED file lock: snapshot and log are two
      // files read non-atomically, and a foreign process's commit+fold
      // landing between the two reads would replay as a phantom seq gap
      // (new log against the old snapshot) or cache a state missing the
      // folded records (new snapshot, log read after delete but before
      // the next append). Shared mode: readers never queue behind each
      // other, only behind a writer mid-commit. The stamp is re-taken
      // inside the lock so it fingerprints exactly what was read.
      withFileLock(shared = true) {
        val s = stamp()
        cached = coldLoad()
        cachedStamp = s
      }
    }
    cached
  }

  /** Atomically apply one explicit [[ManifestDelta]] (computed by `f` from
    * the freshest state). Returns the committed new state. Cost is
    * O(delta), not O(all files): the commit appends one change record
    * sized by the delta; only every `logCompactEvery` commits does the
    * full snapshot rewrite run. `ManifestDelta.empty` commits nothing.
    *
    * The whole load→f→truncate→append sequence runs under the
    * cross-process file lock (see the class scaladoc): the inner `load()`
    * re-stats INSIDE it, so a record another process committed between
    * our last read and lock acquisition is replayed before `f` sees the
    * state, and our record chains after it — never over it.
    */
  def commit(f: ManifestState => ManifestDelta): ManifestState = lock.synchronized {
    withFileLock(shared = false) {
      val cur = load()
      val d = f(cur)
      if (d == ManifestDelta.empty) cur // no-op: no record, no seq burn
      else {
        val rec = recordOf(cur, d)
        val next = applyRecord(cur, rec)
        val line = Serialization.write(rec) + "\n"
        // writer-side recovery: drop a torn tail BEFORE appending, so the
        // new record starts its own line instead of merging with the torn
        // bytes (readers never truncate — only the locked writer does)
        if (Files.exists(logPath) && Files.size(logPath) > validLogBytes) {
          val ch = java.nio.channels.FileChannel.open(logPath, StandardOpenOption.WRITE)
          try ch.truncate(validLogBytes) finally ch.close()
        }
        Files.write(logPath, line.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        validLogBytes += line.getBytes(StandardCharsets.UTF_8).length.toLong
        logRecords += 1
        if (logRecords >= logCompactEvery) compactLog(next)
        cached = next
        cachedStamp = stamp()
        next
      }
    }
  }

  // file-lock reentrancy: commit holds the EXCLUSIVE lock and calls
  // load() inside it, which must not reacquire (the JVM would throw
  // OverlappingFileLockException on the self-overlap). Guarded by the
  // per-rootDir monitor, which is always held here.
  private var fileLockHeld = false

  /** Run `body` holding the advisory OS lock on `MANIFEST.lock` — the
    * cross-PROCESS ring: exclusive for a writer's load→truncate→append
    * critical section, shared for a reader's two-file cold load. Within
    * one JVM the per-rootDir monitor is already held (OS file locks are
    * per-JVM, so without it a second in-JVM committer would hit
    * OverlappingFileLockException instead of waiting). `lock()` BLOCKS
    * until a foreign process releases: honest processes serialize rather
    * than fail; the crash case self-heals because the OS drops a dead
    * process's locks.
    */
  private def withFileLock[A](shared: Boolean)(body: => A): A = {
    if (fileLockHeld) body
    else {
      val ch = java.nio.channels.FileChannel.open(lockFilePath,
        StandardOpenOption.CREATE, StandardOpenOption.READ, StandardOpenOption.WRITE)
      try {
        val fl = ch.lock(0L, Long.MaxValue, shared)
        fileLockHeld = true
        try body finally { fileLockHeld = false; fl.release() }
      } finally ch.close()
    }
  }

  /** Fold the log into a fresh base snapshot (the reference's manifest
    * rewrite, `kv/file/manifest.go:291-348`). Snapshot rename is atomic;
    * a crash before the log delete leaves only stale-seq records, which
    * replay skips.
    */
  private def compactLog(st: ManifestState): Unit = {
    Files.writeString(tmpPath, Serialization.write(st))
    Files.move(tmpPath, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(logPath)
    logRecords = 0
    validLogBytes = 0L
  }
}

object Hex {
  private val digits = "0123456789abcdef".toCharArray
  def encode(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach { b => sb.append(digits((b >> 4) & 0xf)).append(digits(b & 0xf)) }
    sb.toString
  }
  def decode(s: String): Array[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
}
