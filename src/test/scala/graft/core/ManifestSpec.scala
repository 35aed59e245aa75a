package graft.core

import java.nio.file.{Files, Paths, StandardOpenOption}
import graft.store.ManifestLog
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.scalatest.funsuite.AnyFunSuite

/** The local `file` filesystem, running a hook armed by [[FsHook.once]]
  * before it opens a file of the hook's name.
  */
class HookedFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsHook.fire(f); super.open(f, bufferSize)
  }
}

object FsHook {
  @volatile private var armed: Option[(String => Boolean, () => Unit)] = None

  /** Run `body` the next time a [[HookedFileSystem]] opens a file whose
    * name `matches`.
    */
  def once(matches: String => Boolean)(body: => Unit): Unit = armed = Some((matches, () => body))

  def fired: Boolean = armed.isEmpty

  def fire(p: Path): Unit = synchronized {
    armed.filter(_._1(p.getName)).foreach { case (_, body) => armed = None; body() }
  }

  /** A configuration whose `file` scheme is a fresh [[HookedFileSystem]]. */
  def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[HookedFileSystem].getName)
    c.set("fs.file.impl.disable.cache", "true")
    c
  }
}

class ManifestSpec extends AnyFunSuite {
  private implicit val formats: DefaultFormats.type = DefaultFormats
  private val conf = new Configuration()

  private def tmpDir(): String =
    Files.createTempDirectory("graft-manifest").toString

  /** The seqs of the records in `dir`'s log, ascending. */
  private def recordSeqs(dir: String): Vector[Long] = {
    val log = Paths.get(dir, "_manifest")
    if (!Files.exists(log)) Vector.empty
    else Files.list(log).toArray.map(_.toString.split('/').last)
      .collect { case n if n.matches("\\d{20}\\.json") => n.take(20).toLong }.toVector.sorted
  }

  /** Another spelling of `dir`, a symlink to it: instances on it share no
    * cached state with those on `dir`.
    */
  private def spelling(dir: String): String =
    Files.createSymbolicLink(Paths.get(s"$dir-${java.util.UUID.randomUUID()}"), Paths.get(dir)).toString

  /** `dir`'s state as a reader with nothing cached replays it. */
  private def coldLoad(dir: String): ManifestState = new Manifest(conf, spelling(dir)).load()

  private def recordFile(dir: String, seq: Long) = Paths.get(dir, "_manifest", f"$seq%020d.json")

  /** Age every log file of `dir`, and its legacy files, past the vacuum's
    * retention.
    */
  private def backdate(dir: String): Unit = {
    val t = System.currentTimeMillis() - ManifestLog.retainMs - 10000L
    (Files.list(Paths.get(dir, "_manifest")).toArray.map(_.asInstanceOf[java.nio.file.Path]) ++
      Seq("MANIFEST.json", "MANIFEST.log").map(Paths.get(dir, _)).filter(Files.exists(_)))
      .foreach(_.toFile.setLastModified(t))
  }

  /** A store as the log-less layout wrote it: `MANIFEST.json` holding the
    * state after the first `folded` one-file commits (none when 0), and
    * `MANIFEST.log` one change record a line for the commits after, up to
    * `total`.
    */
  private def legacyStore(folded: Int, total: Int): String = {
    val dir = tmpDir()
    val recs = (1 to total).map(i => ChangeRecord(i.toLong, i + 1L, 1L, addFiles = Vector(meta(i - 1))))
    if (folded > 0)
      Files.writeString(Paths.get(dir, "MANIFEST.json"), Serialization.write(ManifestState(
        folded + 1L, 1L, (0 until folded).map(meta(_)).toVector, Vector.empty, commitSeq = folded)))
    Files.writeString(Paths.get(dir, "MANIFEST.log"),
      recs.drop(folded).map(Serialization.write(_) + "\n").mkString)
    dir
  }

  private def meta(i: Int, level: Int = 0): FileMeta =
    FileMeta(s"data/seg-$i/part-0.parquet", level, f"$i%08x", f"$i%08x" + "ff", 100L, i.toLong)

  private def addFile(m: Manifest, i: Int): Unit =
    m.commit(st => ManifestDelta(nextVersion = Some(st.nextVersion + 1),
      addFiles = Vector(meta(i))))

  test("commit cost is O(changed files), not O(all files)") {
    val dir = tmpDir()
    val m = new Manifest(conf, dir, logCompactEvery = 1000000) // never checkpoint in this test
    addFile(m, 0)
    val afterFirst = Files.size(recordFile(dir, 1))
    (1 until 500).foreach(addFile(m, _))
    addFile(m, 500)
    val delta = Files.size(recordFile(dir, 501))
    // one 1-file commit publishes about as many bytes with 500 live files
    // as with 1 — a whole-state rewrite would scale delta with the table
    assert(delta <= 2 * afterFirst,
      s"1-file commit published $delta bytes at 500 files vs $afterFirst at 1 — commit cost scales with table size")
    assert(m.load().files.size == 501)
  }

  test("commit CPU is O(touched files): 1-file commits stay fast on a large table") {
    val dir = tmpDir()
    val m = new Manifest(conf, dir, logCompactEvery = 1000000)
    def timeCommits(ids: Range): Double = {
      val t0 = System.nanoTime()
      ids.foreach(addFile(m, _))
      (System.nanoTime() - t0) / 1e6 / ids.size
    }
    // each side is the BEST of three windows: this asserts a CPU
    // complexity bound on a shared box whose load whipsaws bench numbers
    // 4-5x — one co-tenant spike or GC pause inside a single window must
    // not fail it, and min (unlike mean) discards the spiked windows
    def bestOf3(windows: Seq[Range]): Double = windows.map(timeCommits).min
    timeCommits(0 until 300) // JIT + page-cache warmup, not measured
    val smallPer = bestOf3(Seq(300 until 400, 400 until 500, 500 until 600)) // ~500-file table
    // grow to ~20k live files in a few bulk deltas
    (0 until 10).foreach { k =>
      m.commit(_ => ManifestDelta(
        addFiles = (0 until 2000).map(j => meta(1000000 + k * 2000 + j)).toVector))
    }
    val bigPer = bestOf3(Seq(600 until 700, 700 until 800, 800 until 900))
    // a whole-state set-diff per commit costs O(20k) hash/equality ops here
    // and fails this by an order of magnitude; O(delta) commits are flat
    // (8x + 1ms absolute slack absorbs fs/GC noise, not a linear scan)
    assert(bigPer < smallPer * 8 + 1.0,
      f"1-file commit took $bigPer%.3f ms/commit at ~20k files vs $smallPer%.3f at ~500")
    assert(m.load().files.size == 20900)
  }

  test("two writer instances on one dir interleave commits without lost updates") {
    val dir = tmpDir()
    val a = new Manifest(conf, dir, logCompactEvery = 1000)
    val b = new Manifest(conf, spelling(dir), logCompactEvery = 1000)
    // alternating: each instance must observe the other's commit (the
    // probe for the next record) and chain its seq after it — a lost
    // update or a double-assigned seq breaks the replay chain loudly
    (0 until 10).foreach(i => addFile(if (i % 2 == 0) a else b, i))
    assert(a.load().files.size == 10 && b.load().files.size == 10)
    assert(a.load().commitSeq == 10L)
    // concurrent from two threads, one per instance: only one of them can
    // publish each seq, and the loser re-runs its delta on the winner's
    // state
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fa = Future((100 until 150).foreach(addFile(a, _)))
    val fb = Future((200 until 250).foreach(addFile(b, _)))
    Await.result(Future.sequence(Seq(fa, fb)), 60.seconds)
    val st = a.load()
    assert(st.files.size == 110 && st.commitSeq == 110L,
      s"lost update across instances: ${st.files.size} files, seq ${st.commitSeq}")
    // a cold replay agrees, and the log holds exactly one record a commit
    assert(coldLoad(dir) == st)
    assert(recordSeqs(dir) == (1L to 110L))
  }

  test("cross-PROCESS writers and readers: two foreign JVMs + this one interleave safely") {
    val dir = tmpDir()
    // two REAL foreign JVMs hammer commits (checkpoint threshold 16, so
    // checkpoints land while others are mid-flight) while this JVM commits
    // AND reads concurrently. The exclusive publish must serialize the
    // writers (no lost update, no double-assigned seq), and a reader must
    // never observe a seq gap or go backwards.
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    def spawn(tag: String): Process =
      new ProcessBuilder(javaBin, "-cp", cp, "graft.core.ManifestHammer", dir, tag, "60")
        .redirectErrorStream(true).start()
    val p1 = spawn("p1")
    val p2 = spawn("p2")
    val local = new Manifest(conf, dir, logCompactEvery = 16)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val committer = Future((0 until 60).foreach { i =>
      local.commit(st => ManifestDelta(
        nextVersion = Some(st.nextVersion + 1),
        addFiles = Vector(FileMeta(s"data/h-local-$i", 0, "00", "ff", 1L, st.nextVersion))))
    })
    // a dedicated READER instance with its own cache: every load probes
    // for foreign commits and replays the ones it finds
    val reader = new Manifest(conf, dir, logCompactEvery = 16)
    val reads = Future {
      var last = 0L
      while (!committer.isCompleted || p1.isAlive || p2.isAlive) {
        val st = reader.load() // throws on gap/corruption = test failure
        assert(st.commitSeq >= last, s"manifest went backwards: $last -> ${st.commitSeq}")
        last = st.commitSeq
      }
    }
    assert(p1.waitFor(120, java.util.concurrent.TimeUnit.SECONDS) && p1.exitValue() == 0,
      s"hammer p1 failed: ${new String(p1.getInputStream.readAllBytes())}")
    assert(p2.waitFor(120, java.util.concurrent.TimeUnit.SECONDS) && p2.exitValue() == 0,
      s"hammer p2 failed: ${new String(p2.getInputStream.readAllBytes())}")
    Await.result(committer, 120.seconds)
    Await.result(reads, 120.seconds)
    val st = local.load()
    assert(st.files.size == 180 && st.commitSeq == 180L,
      s"lost update across processes: ${st.files.size} files, seq ${st.commitSeq}")
    assert(coldLoad(dir) == st) // cold replay agrees
    assert(new GraftDB(TestSpark.spark, dir).stats()("manifestSeq") == 180L)
  }

  test("aliased spellings of one dir lose no update (symlink-safe)") {
    val dir = tmpDir()
    val link = dir + "-link"
    Files.createSymbolicLink(Paths.get(link), Paths.get(dir))
    // two spellings of one log: publishing through either must exclude
    // the other, or the two threads would double-assign seqs
    val a = new Manifest(conf, dir, logCompactEvery = 1000)
    val b = new Manifest(conf, link, logCompactEvery = 1000)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fa = Future((0 until 30).foreach(addFile(a, _)))
    val fb = Future((100 until 130).foreach(addFile(b, _)))
    Await.result(Future.sequence(Seq(fa, fb)), 60.seconds)
    assert(a.load().files.size == 60 && a.load().commitSeq == 60L)
    assert(recordSeqs(dir) == (1L to 60L))
  }

  test("log compacts into the snapshot past the threshold and restarts empty") {
    val dir = tmpDir()
    val m = new Manifest(conf, dir, logCompactEvery = 10)
    (0 until 25).foreach(addFile(m, _))
    // 25 commits, threshold 10: checkpoints at 10 and 20, and a cold
    // reader starts at the newest — records 1..19 are never read
    val cps = Files.list(Paths.get(dir, "_manifest")).toArray.map(_.toString)
      .filter(_.endsWith(".checkpoint.json"))
    assert(cps.length == 2, cps.mkString(", "))
    val st = m.load()
    assert(st.files.size == 25 && st.commitSeq == 25L)
    (6L to 19L).foreach(i => Files.writeString(recordFile(dir, i), "{garbage}"))
    assert(coldLoad(dir) == st)
    // vacuum spares log files younger than its retention...
    m.vacuum()
    assert(recordSeqs(dir) == (1L to 25L))
    // ...and drops everything older before the newest checkpoint: the log
    // holds the post-checkpoint tail only, and replays to the same state
    backdate(dir)
    m.vacuum()
    val logRecords = recordSeqs(dir)
    assert(logRecords == (20L to 25L), s"log holds $logRecords past threshold 10")
    assert(coldLoad(dir) == st)
  }

  test("a reader whose next records are vacuumed mid-probe reloads; a commit on top is seen cold") {
    val dir = tmpDir()
    // the writer uses another spelling of the dir, so the reader shares
    // no cached state with it
    val writer = new Manifest(conf, spelling(dir), logCompactEvery = 5)
    (0 until 3).foreach(addFile(writer, _))
    val reader = new Manifest(FsHook.conf(), dir, logCompactEvery = 5)
    assert(reader.load().commitSeq == 3L)
    (3 until 12).foreach(addFile(writer, _)) // checkpoints at 5 and 10
    // the reader reads record 4; before it probes record 5 a vacuum
    // deletes everything below checkpoint 10, records 4 and 5 included
    FsHook.once(_ == recordFile(dir, 5).getFileName.toString) {
      backdate(dir)
      writer.vacuum()
    }
    val st = reader.load()
    assert(FsHook.fired && recordSeqs(dir) == (10L to 12L))
    assert(st.commitSeq == 12L && st == coldLoad(dir),
      s"the reader took seq ${st.commitSeq} for the newest state")
    // so its next commit is record 13, which a cold reader replays
    addFile(reader, 12)
    assert(coldLoad(dir).files.size == 13)
  }

  test("a commit from a second handle overlapping GraftDB.vacuum lands") {
    val dir = tmpDir()
    val m = new Manifest(conf, dir, logCompactEvery = 5)
    (0 until 5).foreach(addFile(m, _)) // a checkpoint, so vacuum has a base
    val db = new GraftDB(TestSpark.spark, dir)
    // the tmp file of a writer mid-publish is younger than the retention
    // and stays; an orphan older than it goes
    val orphan = Paths.get(dir, "_manifest", ".orphan.tmp")
    Files.writeString(orphan, "{garbage}")
    backdate(dir)
    val publishing = Paths.get(dir, "_manifest", ".publishing.tmp")
    Files.writeString(publishing, "{}")
    db.vacuum()
    assert(!Files.exists(orphan) && Files.exists(publishing) && recordSeqs(dir) == Vector(5L))
    Files.delete(publishing)
    // a second handle commits while vacuums run back to back: every
    // commit lands
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val writer = new Manifest(conf, spelling(dir))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val vacuums = Future { while (!done.get) db.vacuum() }
    try (5 until 105).foreach(addFile(writer, _)) finally done.set(true)
    Await.result(vacuums, 60.seconds)
    assert(db.stats()("manifestSeq") == 105L && coldLoad(dir).files.size == 105)
  }

  test("stateless reopen replays base + log to the committed state") {
    val dir = tmpDir()
    val m = new Manifest(conf, dir, logCompactEvery = 1000)
    (0 until 7).foreach(addFile(m, _))
    m.commit(_ => ManifestDelta(removePaths = Vector(meta(3).path)))
    m.commit(_ => ManifestDelta(addBounds = Vector("aa", "cc")))
    m.commit(_ => ManifestDelta(addBounds = Vector("bb"))) // refine delta
    m.commit(_ => ManifestDelta(addBlobs = Vector(BlobFileMeta("blobs/b0", 5L))))
    val want = m.load()
    val got = coldLoad(dir)
    assert(got == want)
    assert(got.files.size == 6 && got.rangeBoundsHex == Vector("aa", "bb", "cc"))
  }

  test("a second instance on the same dir observes foreign commits") {
    val dir = tmpDir()
    val a = new Manifest(conf, dir)
    val b = new Manifest(conf, spelling(dir))
    addFile(a, 0)
    assert(b.load().files.size == 1, "instance b served a stale cache")
    addFile(b, 1)
    assert(a.load().files.size == 2, "instance a served a stale cache")
  }

  test("torn final record (crashed append) is dropped; earlier corruption fails loudly") {
    // a store the log-less layout wrote: 3 commits in MANIFEST.log, then a
    // crash mid-append: partial JSON, no trailing newline
    val dir = legacyStore(folded = 0, total = 3)
    val log = Paths.get(dir, "MANIFEST.log")
    Files.write(log, """{"seq":4,"nextVersion":99,"addFi""".getBytes,
      StandardOpenOption.APPEND)
    val torn = Files.readAllBytes(log).toSeq
    val st = coldLoad(dir)
    assert(st.files.size == 3 && st.commitSeq == 3L, "torn tail must be dropped, not applied")
    // a commit lands on top as record 4 of the log; the legacy files are
    // only ever read
    addFile(new Manifest(conf, dir, logCompactEvery = 1000), 3)
    val recovered = coldLoad(dir)
    assert(recovered.files.size == 4 && recovered.commitSeq == 4L,
      "a commit on top of a torn legacy log was lost")
    assert(Files.readAllBytes(log).toSeq == torn, "the legacy reader modified MANIFEST.log")
    // a PARSEABLE but unterminated final record is still an unacknowledged
    // crash (the '\n' never made it): dropped, and the next commit must
    // not leave a seq gap
    val dir2 = legacyStore(folded = 0, total = 4)
    val st4 = coldLoad(dir2)
    val ghost = """{"seq":5,"nextVersion":99,"nextBlobId":1,"addFiles":[],"removePaths":[],""" +
      """"addBlobs":[],"removeBlobPaths":[],"clearBounds":false,"addBounds":[],"removeBounds":[]}"""
    Files.write(Paths.get(dir2, "MANIFEST.log"), ghost.getBytes, StandardOpenOption.APPEND) // no newline
    assert(coldLoad(dir2) == st4, "unterminated record must not be applied")
    addFile(new Manifest(conf, dir2, logCompactEvery = 1000), 4)
    val st5 = coldLoad(dir2)
    assert(st5.files.size == 5 && st5.commitSeq == 5L && st5.nextVersion != 99L,
      "a commit after a parseable torn tail broke the replay chain")
    // a corrupt but NEWLINE-TERMINATED legacy record was an acknowledged
    // commit — real corruption, fails loudly wherever it sits (including
    // the end)
    val dir3 = legacyStore(folded = 0, total = 3)
    val log3 = Paths.get(dir3, "MANIFEST.log")
    Files.write(log3, "{garbage}\n".getBytes, StandardOpenOption.APPEND)
    assertThrows[IllegalStateException](coldLoad(dir3))
    // corruption in the MIDDLE likewise throws
    val lines = Files.readString(log3).split("\n").toVector
    val mangled = (lines.take(1) :+ "{garbage}") ++ lines.drop(2)
    Files.write(log3, (mangled.mkString("\n") + "\n").getBytes)
    assertThrows[IllegalStateException](coldLoad(dir3))
    // a log record is published whole, so every record that does not parse
    // was acknowledged: loud at the end, for a cold and a warm reader...
    val dir4 = tmpDir()
    val m4 = new Manifest(conf, dir4, logCompactEvery = 1000)
    (0 until 3).foreach(addFile(m4, _))
    Files.writeString(recordFile(dir4, 4), "{garbage}")
    assertThrows[IllegalStateException](coldLoad(dir4))
    assertThrows[IllegalStateException](m4.load())
    // ...and in the middle
    Files.delete(recordFile(dir4, 4))
    Files.writeString(recordFile(dir4, 2), "{garbage}")
    assertThrows[IllegalStateException](coldLoad(dir4))
  }

  test("stale records below the snapshot seq are skipped (crash between snapshot and truncate)") {
    // the log-less layout folded 5 commits into MANIFEST.json; a crash
    // before the log delete leaves a stale pre-fold record behind
    val dir = legacyStore(folded = 5, total = 5)
    Files.write(Paths.get(dir, "MANIFEST.log"),
      ("""{"seq":1,"nextVersion":2,"nextBlobId":1,"addFiles":[{"path":"data/ghost","level":0,""" +
        """"minKeyHex":"00","maxKeyHex":"ff","rows":1,"createdVersion":1}],"removePaths":[],""" +
        """"addBlobs":[],"removeBlobPaths":[],"clearBounds":false,"addBounds":[],"removeBounds":[]}""" + "\n").getBytes)
    val st = coldLoad(dir)
    assert(st.files.size == 5 && st.commitSeq == 5L && !st.files.exists(_.path == "data/ghost"),
      "stale record was replayed over the newer snapshot")
    addFile(new Manifest(conf, dir), 5)
    assert(coldLoad(dir).commitSeq == 6L)
  }

  test("no-op transforms commit nothing") {
    val dir = tmpDir()
    val m = new Manifest(conf, dir, logCompactEvery = 1000)
    addFile(m, 0)
    def logFiles = Files.list(Paths.get(dir, "_manifest")).toArray.map(_.toString).toSet
    val before = logFiles
    val seqBefore = m.load().commitSeq
    m.commit(_ => ManifestDelta.empty)
    assert(logFiles == before && m.load().commitSeq == seqBefore)
  }

  test("concurrent committers serialize: all commits land, seq stays contiguous") {
    val dir = tmpDir()
    val m = new Manifest(conf, dir, logCompactEvery = 25) // compactions happen mid-race
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (0 until 8).map { w =>
      Future {
        (0 until 20).foreach { i =>
          m.commit(st => ManifestDelta(nextVersion = Some(st.nextVersion + 1),
            addFiles = Vector(meta(w * 1000 + i))))
        }
      }
    }
    Await.result(Future.sequence(futures), 60.seconds)
    val st = m.load()
    assert(st.files.size == 160 && st.commitSeq == 160L && st.nextVersion == 161L)
    // a cold replay (snapshot + post-compaction tail) reproduces it exactly
    assert(coldLoad(dir) == st)
  }

  test("pre-changelog manifests (whole-state JSON, no log) still load") {
    val dir = tmpDir()
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "MANIFEST.json"),
      """{"nextVersion":7,"nextBlobId":3,"files":[{"path":"data/x","level":1,""" +
        """"minKeyHex":"00","maxKeyHex":"ff","rows":42,"createdVersion":5}],"blobFiles":[]}""")
    val st = coldLoad(dir)
    assert(st.nextVersion == 7L && st.files.head.rows == 42L && st.commitSeq == 0L)
    // and the first post-upgrade commit appends a v2 change record cleanly
    val m = new Manifest(conf, dir)
    m.commit(s => ManifestDelta(nextVersion = Some(s.nextVersion + 1)))
    assert(coldLoad(dir).nextVersion == 8L)
  }

  test("stores written before the log open, read the same state and take a commit") {
    // the same 4 one-file commits, as a snapshot of 2 plus a log of 2
    // ending in a torn line, and through the log
    val dir = legacyStore(folded = 2, total = 4)
    Files.write(Paths.get(dir, "MANIFEST.log"), """{"seq":5,"nextVer""".getBytes,
      StandardOpenOption.APPEND)
    val fresh = tmpDir()
    val m = new Manifest(conf, fresh)
    (0 until 4).foreach(i => m.commit(st => ManifestDelta(nextVersion = Some(st.nextVersion + 1),
      addFiles = Vector(meta(i)))))
    assert(coldLoad(dir) == m.load())
    addFile(new Manifest(conf, dir), 4)
    addFile(m, 4)
    assert(coldLoad(dir) == m.load())
    // both layouts hold an engine manifest; an empty dir and a log holding
    // only an orphaned tmp file do not
    val snapshotOnly = legacyStore(folded = 2, total = 2)
    Files.delete(Paths.get(snapshotOnly, "MANIFEST.log"))
    val orphan = tmpDir()
    Files.createDirectories(Paths.get(orphan, "_manifest"))
    Files.writeString(Paths.get(orphan, "_manifest", ".0123.tmp"), "{}")
    assert(Seq(dir, fresh, snapshotOnly, legacyStore(folded = 0, total = 2))
      .forall(Manifest.exists(conf, _)))
    assert(!Manifest.exists(conf, tmpDir()) && !Manifest.exists(conf, orphan))
    assert(GraftDB.openBackup(TestSpark.spark, snapshotOnly).stats()("rows") == 200L)
  }

  test("a writer killed mid-commit loses no acknowledged seq; the log stays contiguous") {
    val dir = tmpDir()
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val out = Files.createTempFile("graft-hammer", ".out")
    val p = new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.core.ManifestHammer", dir, "crash", "1000000")
      .redirectOutput(out.toFile).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    // the seqs of the lines the child printed in full: each is a commit
    // that returned (a line cut short by the kill is not)
    def acked(): Vector[Long] = Files.readString(out).split("\n", -1).dropRight(1).toVector
      .collect { case l if l.startsWith("seq ") => l.drop(4).toLong }
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (acked().size < 40 && System.nanoTime() < deadline) {
      assert(p.isAlive, s"hammer exited early: ${Files.readString(out)}")
      Thread.sleep(20)
    }
    p.destroyForcibly()
    assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
    val done = acked()
    assert(done.size >= 40, s"hammer committed only ${done.size} times")
    // an orphaned tmp file, as a writer killed before its publish leaves
    Files.writeString(Paths.get(dir, "_manifest", ".killed.tmp"), "{garbage}")
    val db = new GraftDB(TestSpark.spark, dir)
    val seq = db.stats()("manifestSeq")
    assert(done == (1L to done.size.toLong), s"printed seqs $done")
    assert(done.last <= seq, s"acknowledged seq ${done.last} lost: the log ends at $seq")
    val st = coldLoad(dir)
    assert(st.files.map(_.path) == (0L until seq).map(i => s"data/h-crash-$i"),
      "the log is not one record per commit, in order")
    assert(recordSeqs(dir) == (1L to seq))
    addFile(new Manifest(conf, dir), 1000)
    assert(db.stats()("manifestSeq") == seq + 1)
  }
}
