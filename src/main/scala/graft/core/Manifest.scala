package graft.core

import graft.store.{Logged, ManifestLog}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
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
  * `commitSeq` numbers commits: it is the seq of the last record applied.
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

/** The engine's manifest: a [[ManifestLog]] of [[ChangeRecord]]s under
  * `rootDir`, the reference's change records plus rewrite
  * (`kv/file/manifest.go:122-174, 291-348`). A commit publishes ONE
  * record sized by the [[ManifestDelta]] it was handed, so at the O(10^5)
  * files a 100 TB table implies a 1-row `batchSet` writes ~hundreds of
  * bytes and spends commit CPU proportional to the files it touched.
  * Every `logCompactEvery` records the committer also writes a
  * whole-state checkpoint, where cold readers start.
  *
  * Nothing is locked: a writer that loses its seq to another (thread,
  * handle or process) re-runs `f` on the state holding the winner's
  * record, and a crashed writer leaves no state to recover. The state
  * last read is cached per dir and shared by every instance on it, so a
  * reopen starts warm; a load probes for foreign commits. (As with Delta
  * Lake's per-path log cache, deleting a store and making a new one at
  * the same path in a JVM that read the old one is not supported.) A
  * store written before the log is the base of its first records (see
  * [[legacy]]).
  */
final class Manifest(conf: Configuration, rootDir: String, logCompactEvery: Int = 1024) {
  private implicit val fmts: Formats = DefaultFormats
  private val log = new ManifestLog(conf, rootDir, wholeRecords = false)
  private val legacySnapshot = new Path(rootDir, "MANIFEST.json")
  private val legacyLog = new Path(rootDir, "MANIFEST.log")
  private val key = legacySnapshot.getFileSystem(conf).makeQualified(new Path(rootDir)).toString

  private def applyRecord(st: ManifestState, r: ChangeRecord): ManifestState = {
    def patch[A](xs: Vector[A], rm: Vector[String], add: Vector[A])(key: A => String) =
      if (rm.isEmpty && add.isEmpty) xs
      else { val gone = rm.toSet; xs.filterNot(x => gone(key(x))) ++ add }
    val bounds0 = if (r.clearBounds) Vector.empty[String] else st.rangeBoundsHex
    val bounds =
      if (r.addBounds.isEmpty && r.removeBounds.isEmpty) bounds0
      else patch(bounds0, r.removeBounds, r.addBounds)(identity).sorted
    ManifestState(r.nextVersion, r.nextBlobId, patch(st.files, r.removePaths, r.addFiles)(_.path),
      patch(st.blobFiles, r.removeBlobPaths, r.addBlobs)(_.path), bounds, r.seq)
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

  /** The record `text` at `where` applied on top of `st`. A record was
    * acknowledged once written whole, so one that does not parse, or does
    * not carry the next seq, fails loudly; with `folded`, one at or below
    * `st`'s seq (folded into a legacy snapshot) is skipped.
    */
  private def chain(where: Any, st: ManifestState, text: String, folded: Boolean): ManifestState = {
    val r =
      try Serialization.read[ChangeRecord](text)
      catch { case e: Exception => throw new IllegalStateException(s"corrupt manifest record at $where", e) }
    if (folded && r.seq <= st.commitSeq) st
    else if (r.seq == st.commitSeq + 1) applyRecord(st, r)
    else throw new IllegalStateException(
      s"manifest record gap at $where: have seq ${st.commitSeq}, next record is ${r.seq}")
  }

  /** A store written before the log, read and never modified:
    * `MANIFEST.json` (the whole state) plus `MANIFEST.log` (one change
    * record a line, [[chain]]ed). An unterminated final line is an append
    * that crashed before it was acknowledged, and is dropped. The empty
    * state when neither file exists.
    */
  private def legacy(): Logged[ManifestState] = {
    val snapshot = log.read(legacySnapshot)
    val lines = log.read(legacyLog)
    var st = snapshot.fold(ManifestState(1L, 1L, Vector.empty, Vector.empty))(
      Serialization.read[ManifestState](_))
    for (text <- lines; (line, i) <- text.split("\n", -1).dropRight(1).zipWithIndex if line.nonEmpty)
      st = chain(s"$legacyLog line ${i + 1}", st, line, folded = true)
    Logged(st.commitSeq, st, lines.map(_ => legacyLog).orElse(snapshot.map(_ => legacySnapshot)))
  }

  def load(): ManifestState = synchronized {
    val cur = log.load(Option(Manifest.cache.get(key)), legacy(),
      Serialization.read[ManifestState](_))((st, seq, text) =>
      chain(log.record(seq), st, text, folded = false))
    Manifest.cache.put(key, cur)
    cur.state
  }

  /** Atomically apply one explicit [[ManifestDelta]], computed by `f` from
    * the freshest state. Returns the committed new state. Cost is
    * O(delta), not O(all files): the commit publishes one change record
    * sized by the delta, and only every `logCompactEvery` records a
    * whole-state checkpoint. `ManifestDelta.empty` commits nothing. When
    * another writer publishes the seq first, `f` runs again on the state
    * that includes its record, so `f` must only read the state it is
    * handed.
    */
  def commit(f: ManifestState => ManifestDelta): ManifestState = synchronized {
    val cur = load()
    val d = f(cur)
    if (d == ManifestDelta.empty) cur // no-op: no record, no seq burn
    else {
      val rec = recordOf(cur, d)
      if (!log.publish(log.record(rec.seq), Serialization.write(rec))) commit(f)
      else {
        val next = applyRecord(cur, rec)
        Manifest.cache.put(key, Logged(rec.seq, next, Some(log.record(rec.seq))))
        if (rec.seq % logCompactEvery == 0)
          log.publish(log.checkpoint(rec.seq), Serialization.write(next))
        next
      }
    }
  }

  /** Delete the log files a cold reader no longer needs: those before the
    * newest checkpoint, and the legacy files it supersedes.
    */
  def vacuum(): Unit = log.vacuum(legacySnapshot, legacyLog)
}

object Manifest {
  // qualified root dir -> the state last read or committed there
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Logged[ManifestState]]()

  /** Whether `dir` holds an engine manifest, in either layout: whether a
    * load read anything.
    */
  def exists(conf: Configuration, dir: String): Boolean = {
    val m = new Manifest(conf, dir)
    m.load()
    cache.get(m.key).source.isDefined
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
