package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Lifecycle/robustness parity (FIXTURES.md §6): concurrent writers
  * linearize through the manifest commit; a manifest naming a missing file
  * fails loudly; GC sampling estimates; pull-based iteration.
  */
class RobustnessSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("concurrent batchSet writers all land (skiplist_test.go:59-88 analog)") {
    val db = new GraftDB(spark, Files.createTempDirectory("conc").toString,
      GraftOptions(compactTriggerFiles = 1000))
    val futures = (0 until 8).map { w =>
      Future {
        db.batchSet((0 until 25).map(i =>
          KVEntry(b(f"w$w%02d-k$i%03d"), b(s"v$w-$i"))))
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    assert(db.view().count() == 8 * 25)
    assert(db.get(b("w03-k007")).map(new String(_)).contains("v3-7"))
    // versions allocated without overlap: every row distinct
    assert(db.rawLog().select("version").distinct().count() == 8 * 25)
  }

  test("manifest naming a missing segment fails loudly (manifest.go:79-83 analog)") {
    val dir = Files.createTempDirectory("broken").toString
    val db = new GraftDB(spark, dir, GraftOptions(compactTriggerFiles = 1000))
    db.set(b("k"), b("v"))
    // corrupt: point the manifest at a segment that does not exist (the
    // path may live in any record or checkpoint of the log — mangle all)
    val logFiles = Files.list(Paths.get(dir, "_manifest")).toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(logFiles.nonEmpty)
    for (mf <- logFiles) {
      val txt = Files.readString(mf).replaceAll("data/[0-9a-f-]+", "data/deadbeef")
      Files.writeString(mf, txt)
    }
    // reopened cold, through another spelling of the dir: instances on
    // `dir` itself share the state this JVM has read there
    val cold = Files.createSymbolicLink(Paths.get(dir + "-cold"), Paths.get(dir)).toString
    val reopened = new GraftDB(spark, cold)
    intercept[Exception] { reopened.view().count() }
  }

  test("GC sampling estimate tracks the true dead ratio") {
    val db = new GraftDB(spark, Files.createTempDirectory("gcest").toString,
      GraftOptions(valueThreshold = 8, compactTriggerFiles = 1000, gcDiscardRatio = 2.0))
    db.batchSet((0 until 100).map(i => KVEntry(b(f"k$i%03d"), b(f"valuevalue$i%03d"))))
    (0 until 50).foreach(i => db.del(b(f"k$i%03d")))
    val est = db.estimateDeadBlobRatio(fraction = 1.0) // full sample -> exact
    assert(est == 0.5)
    val (live, dead) = db.gcBlobs() // ratio 0.5 < 2.0 -> no rewrite, just counts
    assert(live == 50 && dead == 50)
  }

  test("pull-based iterator streams ordered rows") {
    val db = new GraftDB(spark, Files.createTempDirectory("iter").toString,
      GraftOptions(compactTriggerFiles = 1000))
    db.batchSet((0 until 30).map(i => KVEntry(b(f"k$i%02d"), b(s"$i"))))
    val keys = db.iterator().map(r => new String(r.getAs[Array[Byte]]("key"))).toSeq
    assert(keys == (0 until 30).map(i => f"k$i%02d"))
  }
}
