package graft.store

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path}
import org.apache.spark.sql.SparkSession

/** The manifest machinery of the persisted index families (text index,
  * near-dup index, IVF, AggView, JoinView). Each family keeps ONE
  * instance for its manifest case class `M` and gets from it the cached
  * read, the guarded commit and the vacuum skeleton. The family keeps its
  * case class (each record on disk is json4s's rendering of it), its data
  * layout, its merge logic and its in-process writer lock.
  *
  * A manifest is a [[ManifestLog]] of whole-manifest records under the
  * store dir; a bare `MANIFEST.json` (a store written before the log)
  * reads as seq 0. Cross-process contract: a commit publishes the record
  * after the one its writer staged against, which only one writer can
  * do, and aborts when the manifest has moved past that snapshot. So a
  * commit lands or fails loudly, in one JVM or across processes, as long
  * as no writer takes longer than [[ManifestLog.retainMs]] from its read
  * to its publish.
  *
  * @param kind       the family's name in abort messages ("text-index")
  * @param vacuumName the public vacuum that reclaims an aborted stage
  */
final class ManifestStore[M <: AnyRef](kind: String, vacuumName: String)(
    implicit mf: scala.reflect.Manifest[M]) {

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  // store dir -> its manifest as of the newest record read (None: none)
  private val cache = new ConcurrentHashMap[String, Logged[Option[M]]]()

  /** Actual parses, so a spec can pin the cache. */
  val parses = new AtomicLong(0L)

  private def parse(text: String): Option[M] = {
    parses.incrementAndGet()
    Some(org.json4s.jackson.Serialization.read[M](text))
  }

  /** Throws IllegalArgumentException when `dir` holds a Hadoop glob
    * metacharacter: path-taking Hadoop and Spark tools (`hadoop fs`,
    * `spark.read`) would expand such a dir as a pattern and silently
    * match nothing. Every entry point starts with a read, so the check
    * fails before anything is staged.
    */
  private def logOf(conf: Configuration, dir: String): ManifestLog = {
    if (dir.exists(ManifestStore.globChars.contains(_)))
      throw new IllegalArgumentException(
        s"$kind dir '$dir' contains a glob metacharacter " +
          s"(one of ${ManifestStore.globChars}); Hadoop would expand it as a " +
          "pattern — use a path without them")
    new ManifestLog(conf, dir, wholeRecords = true)
  }

  private def legacy(dir: String) = new Path(dir, "MANIFEST.json")

  /** The manifest under `dir` with its seq. */
  private def current(conf: Configuration, dir: String): Logged[Option[M]] = {
    val log = logOf(conf, dir)
    def legacyBase = log.read(legacy(dir))
      .fold(Logged(0L, Option.empty[M], None))(t => Logged(0L, parse(t), Some(legacy(dir))))
    val cur = log.load(Option(cache.get(dir)), legacyBase, parse)((_, _, t) => parse(t))
    cache.put(dir, cur)
    cur
  }

  /** The manifest under `dir`, None when there is none; a warm read makes no listing. */
  def read(conf: Configuration, dir: String): Option[M] = current(conf, dir).state

  /** The manifest under `dir`, or an IllegalStateException naming `op`. */
  def required(conf: Configuration, dir: String, op: String): M =
    read(conf, dir).getOrElse(throw new IllegalStateException(
      s"$op: no readable $kind manifest at $dir"))

  /** Publish `next` as the manifest only if it still equals `expected`
    * (None: no manifest yet); throws IllegalStateException otherwise,
    * leaving the manifest untouched.
    */
  def commitIfUnchanged(conf: Configuration, dir: String,
      expected: Option[M], next: M): Unit = {
    val cur = current(conf, dir)
    def abort(now: Any) = throw new IllegalStateException(
      s"concurrent $kind mutation on $dir: manifest moved from $expected " +
        s"to $now while this writer staged against the former — aborting; " +
        s"staged dirs are unreferenced and reclaimed by $vacuumName")
    if (cur.state != expected) abort(cur.state)
    val log = logOf(conf, dir)
    // the cache keeps `cur`: the next read probes this record and reads
    // back what is on disk
    if (!log.publish(log.record(cur.seq + 1), org.json4s.jackson.Serialization.write(next)))
      abort(s"record ${cur.seq + 1} of another writer")
  }

  /** [[commitIfUnchanged]] against snapshot `m`; when it aborts, the
    * writer's `staged` dirs (relative to `dir`) are deleted before the
    * error propagates, and the foreign writer's state stays intact.
    * `next` is evaluated inside the guard: a family check that throws
    * IllegalStateException while computing it (a staged root that does
    * not read under the recorded schema) aborts the commit the same way.
    */
  def commitOrDrop(conf: Configuration, dir: String, m: M, next: => M,
      staged: Seq[String]): Unit =
    try commitIfUnchanged(conf, dir, Some(m), next)
    catch { case e: IllegalStateException =>
      val fs = new Path(dir).getFileSystem(conf)
      staged.foreach(d => fs.delete(new Path(s"$dir/$d"), true))
      throw e
    }

  /** Delete the dirs the manifest no longer references (crashed stages,
    * superseded roots), and the superseded manifest records (by the log's
    * own age rule, [[ManifestLog.vacuum]]). `garbage(m)` names, per dir to
    * list (relative to `dir`; "" is `dir` itself), which child dir names
    * `m` leaves unreferenced. Dirs modified within `minAgeMs` of now are
    * spared: a cross-process writer mid-stage
    * has dirs on disk that no manifest references yet, and the guard below
    * only sees COMMITTED foreign mutations (pass 0 to reclaim everything
    * after a known crash with no live writers). Before deleting anything,
    * a re-read must still equal the manifest the listing was made
    * against, or vacuum throws. Returns the number of dirs removed; 0
    * when there is no manifest.
    */
  def vacuum(conf: Configuration, dir: String, minAgeMs: Long)(
      garbage: M => Seq[(String, String => Boolean)]): Int =
    read(conf, dir) match {
      case None => 0
      case Some(m) =>
        val fs = new Path(dir).getFileSystem(conf)
        val cutoff = System.currentTimeMillis() - minAgeMs
        val stale = garbage(m).flatMap { case (sub, unreferenced) =>
          val listed =
            try fs.listStatus(new Path(if (sub.isEmpty) dir else s"$dir/$sub"))
            catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
          listed.filter(st => st.isDirectory && st.getModificationTime <= cutoff &&
            unreferenced(st.getPath.getName))
        }
        if (read(conf, dir) != Some(m))
          throw new IllegalStateException(
            s"concurrent $kind mutation on $dir during vacuum — " +
              "aborting before deleting anything; re-run vacuum")
        stale.foreach(st => fs.delete(st.getPath, true))
        logOf(conf, dir).vacuum(legacy(dir))
        stale.length
    }
}

object ManifestStore {

  private val globChars = "{}[]*?\\"

  /** The Hadoop configuration the family calls take from their session. */
  def conf(spark: SparkSession): Configuration = spark.sparkContext.hadoopConfiguration

  /** Write `json` to `path` atomically: a tmp file, then a FileContext
    * rename with OVERWRITE, the Hadoop-sanctioned atomic replace (a
    * delete-then-rename would leave a window with no file at all).
    */
  def writeJson(spark: SparkSession, path: String, json: String): Unit = {
    val dst = new Path(path)
    val tmp = new Path(path + ".tmp")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = dst.getFileSystem(conf).create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(dst.toUri, conf).rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  /** The [[ManifestStore.vacuum]] predicate of a family whose stage dirs
    * carry one of `prefixes`: such a dir is garbage unless `live` names it.
    */
  def unreferenced(live: Set[String], prefixes: String*): String => Boolean =
    n => prefixes.exists(n.startsWith) && !live(n)
}

/** The exactly-once fence of one batch-tag sequence, stored in a manifest
  * as a `(tags, highWater)` pair (`get`/`set` address the pair, so a
  * manifest can carry several fences). A tag that `parse` maps to a
  * number is a SEQUENCE tag: it counts as applied when it is at or below
  * the high water, or an entry of `tags` parses to the same number, and
  * recording it raises the high water. Any other tag matches exactly and
  * is recorded in `tags`. [[absorb]] is the fold step: sequence entries
  * left in `tags` by older writers move into the high water.
  * `legacyApplied(tag, highWater)` is asked for a non-sequence tag that
  * `tags` does not hold.
  */
final class TagFence[M](
    get: M => (Vector[String], Long),
    set: (M, Vector[String], Long) => M,
    parse: String => Option[Long],
    legacyApplied: (String, Long) => Boolean) {

  def applied(m: M, tag: String): Boolean = {
    val (tags, hw) = get(m)
    parse(tag) match {
      case Some(v) => v <= hw || tags.exists(parse(_).contains(v))
      case None => tags.contains(tag) || legacyApplied(tag, hw)
    }
  }

  def record(m: M, tag: Option[String]): M = tag.fold(m) { t =>
    val (tags, hw) = get(m)
    parse(t) match {
      case Some(v) => set(m, tags, math.max(hw, v))
      case None => set(m, tags :+ t, hw)
    }
  }

  /** True when `tags` holds sequence tags that [[absorb]] would move. */
  def pending(m: M): Boolean = get(m)._1.exists(parse(_).isDefined)

  def absorb(m: M): M = {
    val (tags, hw) = get(m)
    set(m, tags.filter(parse(_).isEmpty), (hw +: tags.flatMap(parse)).max)
  }
}

object TagFence {

  /** A sequence tag is a PURE digit string, bounded below Long overflow:
    * signs and other decorations take the exact-match path, so "+5" never
    * aliases "5" and "-1" never collides with the -1 never-applied high
    * water.
    */
  def numericTag(t: String): Option[Long] =
    if (t.nonEmpty && t.length <= 18 && t.forall(c => c >= '0' && c <= '9'))
      Some(java.lang.Long.parseLong(t))
    else None

  /** The plain fence: [[numericTag]] sequence tags, no legacy forms. */
  def numeric[M](get: M => (Vector[String], Long),
      set: (M, Vector[String], Long) => M): TagFence[M] =
    new TagFence(get, set, numericTag, (_, _) => false)
}
