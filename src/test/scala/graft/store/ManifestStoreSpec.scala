package graft.store

import java.nio.file.{Files, Path}
import graft.core.TestSpark
import org.scalatest.funsuite.AnyFunSuite

object ManifestStoreSpec {
  final case class ToyManifest(roots: Vector[String], n: Long = 0L)
}

/** The shared manifest machinery on a toy manifest type: the stamp
  * cache, the guarded commit and the vacuum skeleton, including the
  * vacuum age grace and guard that the family specs (all vacuuming with
  * `minAgeMs = 0`) never reach.
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

  private def manifestBytes(root: Path): Seq[Byte] =
    Files.readAllBytes(root.resolve("MANIFEST.json")).toSeq

  test("two reads parse once; fresh = true parses again; a commit forces a re-parse") {
    val (store, root) = fresh()
    val dir = root.toString
    assert(store.read(spark, dir).isEmpty)
    store.commitIfUnchanged(spark, dir, None, ToyManifest(Vector("toy-a")))
    val p0 = store.parses.get()
    assert(store.read(spark, dir).contains(ToyManifest(Vector("toy-a"))))
    assert(store.read(spark, dir).contains(ToyManifest(Vector("toy-a"))))
    assert(store.parses.get() == p0 + 1)
    store.read(spark, dir, fresh = true)
    assert(store.parses.get() == p0 + 2)
    val m = store.read(spark, dir)
    store.commitIfUnchanged(spark, dir, m, ToyManifest(Vector("toy-a", "toy-b")))
    val p1 = store.parses.get()
    assert(store.read(spark, dir).contains(ToyManifest(Vector("toy-a", "toy-b"))))
    assert(store.parses.get() == p1 + 1)
  }

  test("a stale expected aborts the commit and leaves the manifest bytes unchanged") {
    val (store, root) = fresh()
    val dir = root.toString
    store.commitIfUnchanged(spark, dir, None, ToyManifest(Vector("toy-a")))
    val stale = store.read(spark, dir)
    store.commitIfUnchanged(spark, dir, stale, ToyManifest(Vector("toy-a"), n = 1L))
    val bytes = manifestBytes(root)
    val e = intercept[IllegalStateException] {
      store.commitIfUnchanged(spark, dir, stale, ToyManifest(Vector("toy-z")))
    }
    assert(e.getMessage.contains("concurrent toy mutation"), e.getMessage)
    assert(manifestBytes(root) == bytes)
    assert(store.read(spark, dir).contains(ToyManifest(Vector("toy-a"), n = 1L)))
  }

  test("vacuum spares unreferenced dirs younger than minAgeMs") {
    val (store, root) = fresh()
    val dir = root.toString
    store.commitIfUnchanged(spark, dir, None, ToyManifest(Vector("toy-live")))
    val hour = 3600000L
    val live = mkDir(root, "toy-live", 2 * hour)
    val old = mkDir(root, "toy-old", 2 * hour)
    val young = mkDir(root, "toy-young", 0L)
    val foreign = mkDir(root, "other-old", 2 * hour)
    val removed = store.vacuum(spark, dir, minAgeMs = hour)(m =>
      Seq("" -> ManifestStore.unreferenced(m.roots.toSet, "toy-")))
    assert(removed == 1)
    assert(!Files.exists(old))
    assert(Files.exists(live) && Files.exists(young) && Files.exists(foreign))
  }

  test("vacuum deletes nothing and throws when a commit lands between its listing and its guard re-read") {
    val (store, root) = fresh()
    val dir = root.toString
    store.commitIfUnchanged(spark, dir, None, ToyManifest(Vector.empty))
    val old = mkDir(root, "toy-old", 3600000L)
    val e = intercept[IllegalStateException] {
      store.vacuum(spark, dir, minAgeMs = 0L) { m =>
        val garbage = ManifestStore.unreferenced(m.roots.toSet, "toy-")
        var sealedOnce = false
        // the predicate runs on the listed entries: on the first one, a
        // foreign writer seals the dir this vacuum has listed as garbage
        Seq("" -> { (n: String) =>
          if (!sealedOnce) {
            sealedOnce = true
            store.commitIfUnchanged(spark, dir, Some(m), ToyManifest(Vector("toy-old")))
          }
          garbage(n)
        })
      }
    }
    assert(e.getMessage.contains("during vacuum"), e.getMessage)
    assert(Files.exists(old), "vacuum deleted a dir a concurrent commit sealed")
    assert(store.read(spark, dir).contains(ToyManifest(Vector("toy-old"))))
  }
}
