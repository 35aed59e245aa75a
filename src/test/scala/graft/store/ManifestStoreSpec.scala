package graft.store

import java.nio.file.{Files, Path}
import graft.core.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import ManifestStore.conf

object ManifestStoreSpec {
  final case class ToyManifest(roots: Vector[String], n: Long = 0L)
}

/** The shared manifest machinery on a toy manifest type: the cached
  * read, the guarded commit (across JVMs too) and the vacuum skeleton,
  * including the vacuum age grace and guard that the family specs (all
  * vacuuming with `minAgeMs = 0`) never reach.
  */
class ManifestStoreSpec extends AnyFunSuite {
  import ManifestStoreSpec.ToyManifest

  private lazy val spark = TestSpark.spark

  private def fresh() =
    (new ManifestStore[ToyManifest]("toy", "vacuumToy"),
      Files.createTempDirectory("graft-toystore"))

  private def mkDir(root: Path, name: String, ageMs: Long): Path = {
    val d = Files.createDirectory(root.resolve(name))
    d.toFile.setLastModified(System.currentTimeMillis() - ageMs)
    d
  }

  /** Every file of the manifest log under `root`, by name. */
  private def manifestBytes(root: Path): Map[String, Seq[Byte]] =
    Files.list(root.resolve("_manifest")).toArray.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  private def recordNames(root: Path): Set[String] =
    manifestBytes(root).keySet.filter(_.matches("\\d{20}\\.json"))

  test("two reads parse once; a commit forces a re-parse") {
    val (store, root) = fresh()
    val dir = root.toString
    assert(store.read(conf(spark), dir).isEmpty)
    store.commitIfUnchanged(conf(spark), dir, None, ToyManifest(Vector("toy-a")))
    val p0 = store.parses.get()
    assert(store.read(conf(spark), dir).contains(ToyManifest(Vector("toy-a"))))
    assert(store.read(conf(spark), dir).contains(ToyManifest(Vector("toy-a"))))
    assert(store.parses.get() == p0 + 1)
    val m = store.read(conf(spark), dir)
    store.commitIfUnchanged(conf(spark), dir, m, ToyManifest(Vector("toy-a", "toy-b")))
    val p1 = store.parses.get()
    assert(store.read(conf(spark), dir).contains(ToyManifest(Vector("toy-a", "toy-b"))))
    assert(store.parses.get() == p1 + 1)
    // a reader three records behind parses only the newest
    val other = new ManifestStore[ToyManifest]("toy", "vacuumToy")
    (1 to 3).foreach { i =>
      other.commitIfUnchanged(conf(spark), dir, other.read(conf(spark), dir), ToyManifest(Vector(s"toy-$i")))
    }
    val p2 = store.parses.get()
    assert(store.read(conf(spark), dir).contains(ToyManifest(Vector("toy-3"))))
    assert(store.parses.get() == p2 + 1)
  }

  test("a stale expected aborts the commit and leaves the manifest bytes unchanged") {
    val (store, root) = fresh()
    val dir = root.toString
    store.commitIfUnchanged(conf(spark), dir, None, ToyManifest(Vector("toy-a")))
    val stale = store.read(conf(spark), dir)
    store.commitIfUnchanged(conf(spark), dir, stale, ToyManifest(Vector("toy-a"), n = 1L))
    val bytes = manifestBytes(root)
    val e = intercept[IllegalStateException] {
      store.commitIfUnchanged(conf(spark), dir, stale, ToyManifest(Vector("toy-z")))
    }
    assert(e.getMessage.contains("concurrent toy mutation"), e.getMessage)
    assert(manifestBytes(root) == bytes)
    assert(store.read(conf(spark), dir).contains(ToyManifest(Vector("toy-a"), n = 1L)))
  }

  test("vacuum spares unreferenced dirs younger than minAgeMs") {
    val (store, root) = fresh()
    val dir = root.toString
    store.commitIfUnchanged(conf(spark), dir, None, ToyManifest(Vector("toy-live")))
    val hour = 3600000L
    val live = mkDir(root, "toy-live", 2 * hour)
    val old = mkDir(root, "toy-old", 2 * hour)
    val young = mkDir(root, "toy-young", 0L)
    val foreign = mkDir(root, "other-old", 2 * hour)
    val removed = store.vacuum(conf(spark), dir, minAgeMs = hour)(m =>
      Seq("" -> ManifestStore.unreferenced(m.roots.toSet, "toy-")))
    assert(removed == 1)
    assert(!Files.exists(old))
    assert(Files.exists(live) && Files.exists(young) && Files.exists(foreign))
  }

  test("vacuum deletes nothing and throws when a commit lands between its listing and its guard re-read") {
    val (store, root) = fresh()
    val dir = root.toString
    store.commitIfUnchanged(conf(spark), dir, None, ToyManifest(Vector.empty))
    val old = mkDir(root, "toy-old", 3600000L)
    val e = intercept[IllegalStateException] {
      store.vacuum(conf(spark), dir, minAgeMs = 0L) { m =>
        val garbage = ManifestStore.unreferenced(m.roots.toSet, "toy-")
        var sealedOnce = false
        // the predicate runs on the listed entries: on the first one, a
        // foreign writer seals the dir this vacuum has listed as garbage
        Seq("" -> { (n: String) =>
          if (!sealedOnce) {
            sealedOnce = true
            store.commitIfUnchanged(conf(spark), dir, Some(m), ToyManifest(Vector("toy-old")))
          }
          garbage(n)
        })
      }
    }
    assert(e.getMessage.contains("during vacuum"), e.getMessage)
    assert(Files.exists(old), "vacuum deleted a dir a concurrent commit sealed")
    assert(store.read(conf(spark), dir).contains(ToyManifest(Vector("toy-old"))))
  }

  test("a store holding a bare MANIFEST.json reads it and takes a commit on top") {
    val (store, root) = fresh()
    val dir = root.toString
    // the layout ManifestStore wrote before the log: one whole manifest
    val legacy = """{"roots":["toy-a"],"n":3}"""
    Files.writeString(root.resolve("MANIFEST.json"), legacy)
    val m = store.read(conf(spark), dir)
    assert(m.contains(ToyManifest(Vector("toy-a"), 3L)))
    val next = ToyManifest(Vector("toy-a", "toy-b"), 4L)
    store.commitIfUnchanged(conf(spark), dir, m, next)
    val cold = new ManifestStore[ToyManifest]("toy", "vacuumToy")
    assert(cold.read(conf(spark), dir).contains(next) && store.read(conf(spark), dir).contains(next))
    assert(Files.readString(root.resolve("MANIFEST.json")) == legacy, "the legacy file was rewritten")
    intercept[IllegalStateException](store.commitIfUnchanged(conf(spark), dir, m, ToyManifest(Vector("toy-z"))))
    // vacuum retires what the newest record supersedes, the legacy file
    // and the older records, once they are older than the log's retention
    val mid = ToyManifest(Vector("toy-a", "toy-b"), 5L)
    val last = ToyManifest(Vector("toy-a", "toy-b", "toy-c"), 6L)
    store.commitIfUnchanged(conf(spark), dir, Some(next), mid)
    store.commitIfUnchanged(conf(spark), dir, Some(mid), last)
    assert(recordNames(root).size == 3)
    assert(store.vacuum(conf(spark), dir, minAgeMs = 0L)(_ => Nil) == 0)
    assert(Files.exists(root.resolve("MANIFEST.json")) && recordNames(root).size == 3)
    val t = System.currentTimeMillis() - ManifestLog.retainMs - 10000L
    (manifestBytes(root).keys.map(n => root.resolve("_manifest").resolve(n)) ++
      Seq(root.resolve("MANIFEST.json"))).foreach(_.toFile.setLastModified(t))
    assert(store.vacuum(conf(spark), dir, minAgeMs = 0L)(_ => Nil) == 0)
    assert(!Files.exists(root.resolve("MANIFEST.json")) && recordNames(root).size == 1)
    // `cold` still holds record 1: the record after it is gone too, so it
    // reloads instead of trusting the miss
    assert(cold.read(conf(spark), dir).contains(last) && store.read(conf(spark), dir).contains(last))
    assert(new ManifestStore[ToyManifest]("toy", "vacuumToy").read(conf(spark), dir).contains(last))
  }

  test("two writer JVMs committing to one store: every commit lands or aborts loudly") {
    val (store, root) = fresh()
    val dir = root.toString
    store.commitIfUnchanged(conf(spark), dir, None, ToyManifest(Vector.empty))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def spawn(tag: String): Process =
      new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
        "graft.store.ManifestStoreHammer", dir, tag, "40")
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val procs = Seq(spawn("a"), spawn("b"))
    val outs = procs.map(p => Future(new String(p.getInputStream.readAllBytes(), "UTF-8")))
    procs.foreach(p => assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0))
    val lines = outs.flatMap(o => Await.result(o, 60.seconds).split("\n"))
    val landed = lines.filter(_.startsWith("landed ")).map(_.drop(7)).toSet
    val aborted = lines.count(_.startsWith("aborted "))
    assert(landed.size + aborted == 80, lines.mkString("\n"))
    // none lost silently: the manifest holds exactly the acknowledged roots
    val m = store.read(conf(spark), dir).get
    assert(m.roots.toSet == landed && m.roots.size == landed.size && m.n == landed.size,
      s"acknowledged ${landed.size} commits, the manifest holds ${m.roots.size}")
  }
}
