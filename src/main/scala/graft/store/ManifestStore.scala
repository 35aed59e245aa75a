package graft.store

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path}
import org.apache.spark.sql.SparkSession

/** The `MANIFEST.json` machinery of the persisted index families (text
  * index, near-dup index, IVF, AggView, JoinView). Each family keeps ONE
  * instance for its manifest case class `M` and gets from it the
  * stamp-cached read, the guarded commit and the vacuum skeleton. The
  * family keeps its case class (the JSON on disk is json4s's rendering
  * of it), its data layout, its merge logic and its in-process writer
  * lock.
  *
  * Cross-process contract, as implemented: a commit is an OPTIMISTIC
  * check followed by a rename. [[commitIfUnchanged]] re-reads the
  * manifest fresh and aborts when it no longer equals the snapshot the
  * writer staged against; otherwise it writes a tmp file and renames it
  * over the manifest. Nothing holds the manifest between that check and
  * the rename, so two writers in different processes can both pass the
  * check, and then the later rename wins: the earlier commit is lost
  * without an error (its staged dirs are left unreferenced for
  * [[vacuum]]). A foreign commit that lands BEFORE a writer's check is
  * always seen and aborts that writer. Inside one JVM the families'
  * writer locks serialize mutations, so the window is cross-process only.
  *
  * @param kind       the family's name in abort messages ("text-index")
  * @param vacuumName the public vacuum that reclaims an aborted stage
  */
final class ManifestStore[M <: AnyRef](kind: String, vacuumName: String)(
    implicit mf: scala.reflect.Manifest[M]) {

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  // store dir -> (length, mtime, parsed manifest)
  private val cache = new ConcurrentHashMap[String, (Long, Long, M)]()

  /** Actual parses (cache misses), so a spec can pin the cache. */
  val parses = new AtomicLong(0L)

  /** The manifest under `dir`, None when there is none. A cached parse is
    * revalidated by (length, mtime) with one getFileStatus; every commit
    * changes that stamp, so foreign commits are seen. `fresh = true`
    * always re-parses: the guard reads need it, because a foreign commit
    * of identical length inside the store's mtime granularity would
    * stamp-match.
    *
    * Throws IllegalArgumentException when `dir` holds a Hadoop glob
    * metacharacter: path-taking Hadoop and Spark tools (`hadoop fs`,
    * `spark.read`) would expand such a dir as a pattern and silently
    * match nothing. Every entry point starts with this read, so the check
    * fails before anything is staged.
    */
  def read(spark: SparkSession, dir: String, fresh: Boolean = false): Option[M] = {
    if (dir.exists(ManifestStore.globChars.contains(_)))
      throw new IllegalArgumentException(
        s"$kind dir '$dir' contains a glob metacharacter " +
          s"(one of ${ManifestStore.globChars}); Hadoop would expand it as a " +
          "pattern — use a path without them")
    val p = new Path(s"$dir/MANIFEST.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None => cache.remove(dir); None
      case Some(s) =>
        val cached = cache.get(dir)
        if (!fresh && cached != null &&
            cached._1 == s.getLen && cached._2 == s.getModificationTime)
          Some(cached._3)
        else {
          val in = fs.open(p)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          val m = org.json4s.jackson.Serialization.read[M](text)
          parses.incrementAndGet()
          cache.put(dir, (s.getLen, s.getModificationTime, m))
          Some(m)
        }
    }
  }

  /** The manifest under `dir`, or an IllegalStateException naming `op`. */
  def required(spark: SparkSession, dir: String, op: String): M =
    read(spark, dir).getOrElse(throw new IllegalStateException(
      s"$op: no readable $kind manifest at $dir"))

  /** Replace the manifest with `next` only if a fresh read still equals
    * `expected` (None: no manifest yet); throws IllegalStateException
    * otherwise, leaving the manifest untouched. See the class doc for the
    * window this check leaves across processes.
    */
  def commitIfUnchanged(spark: SparkSession, dir: String,
      expected: Option[M], next: M): Unit = {
    val cur = read(spark, dir, fresh = true)
    if (cur != expected)
      throw new IllegalStateException(
        s"concurrent $kind mutation on $dir: manifest moved from $expected " +
          s"to $cur while this writer staged against the former — aborting; " +
          s"staged dirs are unreferenced and reclaimed by $vacuumName")
    ManifestStore.writeJson(spark, s"$dir/MANIFEST.json",
      org.json4s.jackson.Serialization.write(next))
    // drop, don't update: the next read restamps from the renamed file's
    // actual status (a cache-side stamp guess could race the rename)
    cache.remove(dir)
  }

  /** [[commitIfUnchanged]] against snapshot `m`; when it aborts, the
    * writer's `staged` dirs (relative to `dir`) are deleted before the
    * error propagates, and the foreign writer's state stays intact.
    * `next` is evaluated inside the guard: a family check that throws
    * IllegalStateException while computing it (a staged root that does
    * not read under the recorded schema) aborts the commit the same way.
    */
  def commitOrDrop(spark: SparkSession, dir: String, m: M, next: => M,
      staged: Seq[String]): Unit =
    try commitIfUnchanged(spark, dir, Some(m), next)
    catch { case e: IllegalStateException =>
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      staged.foreach(d => fs.delete(new Path(s"$dir/$d"), true))
      throw e
    }

  /** Delete the dirs the manifest no longer references (crashed stages,
    * superseded roots). `garbage(m)` names, per dir to list (relative to
    * `dir`; "" is `dir` itself), which child dir names `m` leaves
    * unreferenced. Dirs modified within `minAgeMs` of now are spared: a
    * cross-process writer mid-stage has dirs on disk that no manifest
    * references yet, and the guard below only sees COMMITTED foreign
    * mutations (pass 0 to reclaim everything after a known crash with no
    * live writers). Before deleting anything, a fresh re-read must still
    * equal the manifest the listing was made against, or vacuum throws.
    * Returns the number of dirs removed; 0 when there is no manifest.
    */
  def vacuum(spark: SparkSession, dir: String, minAgeMs: Long)(
      garbage: M => Seq[(String, String => Boolean)]): Int =
    read(spark, dir) match {
      case None => 0
      case Some(m) =>
        val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val cutoff = System.currentTimeMillis() - minAgeMs
        val stale = garbage(m).flatMap { case (sub, unreferenced) =>
          val listed =
            try fs.listStatus(new Path(if (sub.isEmpty) dir else s"$dir/$sub"))
            catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
          listed.filter(st => st.isDirectory && st.getModificationTime <= cutoff &&
            unreferenced(st.getPath.getName))
        }
        if (read(spark, dir, fresh = true) != Some(m))
          throw new IllegalStateException(
            s"concurrent $kind mutation on $dir during vacuum — " +
              "aborting before deleting anything; re-run vacuum")
        stale.foreach(st => fs.delete(st.getPath, true))
        stale.length
    }
}

object ManifestStore {

  private val globChars = "{}[]*?\\"

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
