package graft.store

import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Path}

/** A [[ManifestLog]]'s `state` as of record `seq`, read last from `source` (None: nothing on disk). */
final case class Logged[S](seq: Long, state: S, source: Option[Path])

/** The commit log of every graft manifest, GraftDB's and the five index
  * families', under `dir/_manifest/` (Delta Lake's log, Armbrust et al.,
  * VLDB 2020):
  *   - `<seq>.json` (seq zero-padded to 20 digits) is record `seq`. A
  *     commit publishes record N+1 with [[publish]]: the first writer of a
  *     seq wins, and a loser re-reads.
  *   - `<seq>.checkpoint.json` is the whole state as of record `seq`, where
  *     a cold reader starts. With `wholeRecords` (a family's record is its
  *     whole manifest) every record is its own checkpoint.
  *   - `.<uuid>.tmp` is a record being written, never read.
  *
  * A cold [[load]] lists the dir once; a warm one, from seq s, probes for
  * s+1 and checks that the file it read last still exists: [[vacuum]]
  * deletes in seq order, so then a missing next record was never written.
  * Vacuum spares files younger than [[ManifestLog.retainMs]], so a name a
  * writer read as free is not freed again before it publishes. All I/O
  * goes through the Hadoop FS API, except the publish on `file:`.
  */
final class ManifestLog(conf: Configuration, dir: String, wholeRecords: Boolean) {
  private val logDir = new Path(dir, "_manifest")
  private val fs = logDir.getFileSystem(conf)
  import ManifestLog.{Checkpoint, Record}

  def record(seq: Long): Path = new Path(logDir, f"$seq%020d.json")
  def checkpoint(seq: Long): Path = new Path(logDir, f"$seq%020d.checkpoint.json")

  /** Create `p` holding `text` unless it exists; true when this call
    * created it. The text goes to a tmp file first, so `p` appears whole.
    * `create(overwrite = false)` checks, then creates, and on the local
    * filesystem two racers both succeed; so on `file:` the tmp file is
    * hard-linked to `p` (link(2) fails on an existing name), and elsewhere
    * renamed without OVERWRITE, which HDFS makes atomic. On `file:` the
    * tmp file is written with `java.nio` too: without Hadoop's native
    * library every local `create` forks a `chmod`, about 4 ms.
    */
  def publish(p: Path, text: String): Boolean = {
    val bytes = text.getBytes("UTF-8")
    val tmp = fs.makeQualified(new Path(logDir, s".${UUID.randomUUID()}.tmp"))
    val dst = fs.makeQualified(p)
    if (dst.toUri.getScheme == "file") {
      val t = Paths.get(tmp.toUri)
      Files.createDirectories(t.getParent)
      Files.write(t, bytes, StandardOpenOption.CREATE_NEW)
      try { Files.createLink(Paths.get(dst.toUri), t); true }
      catch { case _: FileAlreadyExistsException => false }
      finally Files.deleteIfExists(t)
    } else {
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      try { FileContext.getFileContext(dst.toUri, conf).rename(tmp, dst); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      finally fs.delete(tmp, false)
    }
  }

  /** The text of `p`, None when it does not exist. */
  def read(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def listed(): Array[FileStatus] =
    try fs.listStatus(logDir) catch { case _: java.io.FileNotFoundException => Array.empty }

  private def seqOf(name: String): Option[Long] = name match {
    case Record(s) => Some(s.toLong)
    case Checkpoint(s) => Some(s.toLong)
    case _ => None
  }

  private def baseSeq(all: Array[FileStatus]): Option[Long] = all.map(_.getPath.getName).collect {
    case Checkpoint(s) => s.toLong
    case Record(s) if wholeRecords => s.toLong
  }.maxOption

  /** `s` advanced by the records after it (with `wholeRecords`, only the
    * newest is applied); None when the miss that ends the probe cannot be
    * trusted: the file read last is gone, or, with nothing on disk read
    * yet, the log now holds a checkpoint.
    */
  private def advance[S](s: Logged[S])(apply: (S, Long, String) => S): Option[Logged[S]] = {
    val texts = Iterator.iterate(s.seq + 1)(_ + 1).map(n => n -> read(record(n)))
      .takeWhile(_._2.isDefined).map { case (n, t) => n -> t.get }.toVector
    val cur = (if (wholeRecords) texts.takeRight(1) else texts).foldLeft(s) {
      case (l, (n, t)) => Logged(n, apply(l.state, n, t), Some(record(n)))
    }
    if (cur.source.fold(baseSeq(listed()).isEmpty)(fs.exists)) Some(cur) else None
  }

  /** The newest state: `cached` advanced while it can be trusted, else the
    * newest checkpoint, `parse`d, or when there is none `legacy` (a store
    * written before the log, or the empty state), advanced.
    */
  def load[S](cached: Option[Logged[S]], legacy: => Logged[S], parse: String => S)(
      apply: (S, Long, String) => S): Logged[S] =
    cached.flatMap(advance(_)(apply)).getOrElse {
      val base = baseSeq(listed()) match {
        case Some(s) =>
          val p = if (wholeRecords) record(s) else checkpoint(s)
          read(p).map(text => Logged(s, parse(text), Some(p)))
        case None => Some(legacy)
      }
      // None: vacuumed since the listing
      base.flatMap(advance(_)(apply)).getOrElse(load(None, legacy, parse)(apply))
    }

  /** Delete what a reader starting at the newest checkpoint no longer
    * needs, once older than [[ManifestLog.retainMs]]: the `legacy` files,
    * the records and checkpoints below it in seq order up to the first
    * younger one, then orphaned tmp files.
    */
  def vacuum(legacy: Path*): Unit = {
    val all = listed()
    baseSeq(all).foreach { base =>
      val cutoff = System.currentTimeMillis() - ManifestLog.retainMs
      val old = legacy.flatMap(p => try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }) ++
        all.flatMap { st =>
          val n = st.getPath.getName
          (if (n.endsWith(".tmp")) Some(Long.MaxValue) else seqOf(n).filter(_ < base)).map(_ -> st)
        }.sortBy(_._1).map(_._2)
      old.takeWhile(_.getModificationTime <= cutoff).foreach(st => fs.delete(st.getPath, false))
    }
  }
}

object ManifestLog {
  private val Record = """(\d{20})\.json""".r
  private val Checkpoint = """(\d{20})\.checkpoint\.json""".r

  /** Vacuum keeps a log file this long: longer than any writer takes from reading seq N to publishing N+1. */
  private[graft] val retainMs = 60000L
}
