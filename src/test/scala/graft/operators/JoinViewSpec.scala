package graft.operators

import java.nio.file.Files
import graft.core.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.store.ManifestStore.conf

/** Lifecycle + model-fuzz coverage for [[JoinView]]: at every point the
  * view must read as `facts_so_far JOIN dim_current` (inner) and as the
  * LEFT form with orphans (outer) — including after dim upserts that
  * mutate payloads, deletes that tombstone keys, upserts that HEAL
  * orphans (a new dim key matching facts ingested before it existed),
  * folds, and replayed batch tags.
  */
class JoinViewSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("jv").toString

  private def factDf(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("k", "fv")
  private def dimDf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("k", "dv")

  /** In-memory model: append-only fact list + LWW dim map. */
  private final class Model {
    val facts = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val dim = scala.collection.mutable.Map[Long, String]()
    def inner: Set[(Long, Long, String)] =
      facts.iterator.flatMap { case (k, fv) => dim.get(k).map(dv => (k, fv, dv)) }.toSet
    def left: Set[(Long, Long, Option[String])] =
      facts.iterator.map { case (k, fv) => (k, fv, dim.get(k)) }.toSet
  }

  private def readInner(dir: String): Set[(Long, Long, String)] =
    JoinView.readJoinView(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def readLeft(dir: String): Set[(Long, Long, Option[String])] =
    JoinView.readJoinView(spark, dir, inner = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet

  test("build/append/upsert/delete/heal: view equals one-shot join throughout") {
    val dir = tmp()
    val m = new Model
    m.facts ++= Seq((1L, 10L), (2L, 20L), (3L, 30L), (9L, 90L))
    m.dim ++= Map(1L -> "a", 2L -> "b", 5L -> "e")
    JoinView.buildJoinView(factDf(m.facts.toSeq), dimDf(m.dim.toSeq), dir,
      joinKeys = Seq("k"), numBuckets = 8)
    assert(readInner(dir) == m.inner)
    assert(readLeft(dir) == m.left) // orphans 3, 9 with null payload

    // fact append joins against the current dim
    val delta = Seq((5L, 50L), (7L, 70L))
    m.facts ++= delta
    assert(JoinView.appendFactsToJoinView(dir, factDf(delta)))
    assert(readInner(dir) == m.inner)

    // dim payload update reaches facts ingested before it
    m.dim(1L) = "a2"
    assert(JoinView.upsertDimToJoinView(dir, dimDf(Seq((1L, "a2")))))
    assert(readInner(dir) == m.inner)

    // a brand-new dim key heals orphans already in the view
    m.dim(3L) = "c"
    assert(JoinView.upsertDimToJoinView(dir, dimDf(Seq((3L, "c")))))
    assert(readInner(dir) == m.inner)
    assert(m.inner.exists(_._1 == 3L), "heal case must be exercised")

    // delete tombstones a key; its facts drop from the inner read
    m.dim.remove(2L)
    assert(JoinView.upsertDimToJoinView(dir,
      Seq(Tuple1(2L)).toDF("k"), delete = true))
    assert(readInner(dir) == m.inner)
    assert(readLeft(dir) == m.left)

    // fold: bit-identical reads, one root + one dim generation
    assert(JoinView.compactJoinView(spark, dir))
    assert(readInner(dir) == m.inner)
    val man = JoinView.store.read(conf(spark), dir).get
    assert(man.roots.size == 1 && man.dimRoots.size == 1)
  }

  test("dim upsert rewrites ONLY the touched buckets") {
    val dir = tmp()
    val facts = (0L until 64L).map(i => (i, i * 10))
    val dim = (0L until 64L by 2L).map(i => (i, s"d$i"))
    JoinView.buildJoinView(factDf(facts), dimDf(dim), dir,
      joinKeys = Seq("k"), numBuckets = 16)
    val delta = Seq((4L, 70L), (5L, 80L))
    JoinView.appendFactsToJoinView(dir, factDf(delta))
    val before = JoinView.store.read(conf(spark), dir).get
    JoinView.upsertDimToJoinView(dir, dimDf(Seq((8L, "new8"))))
    val after = JoinView.store.read(conf(spark), dir).get
    // exactly one new root; prior entries survive minus the touched pks
    assert(after.roots.size == before.roots.size + 1)
    val touched = after.roots.last.pks.toSet
    assert(touched.nonEmpty && touched.size <= 1,
      s"one key must touch exactly one bucket, got $touched")
    before.roots.zip(after.roots.dropRight(1)).foreach { case (b, a) =>
      assert(a.dir == b.dir, "prior roots must not be rewritten")
      assert(a.pks.toSet == b.pks.toSet -- touched)
    }
  }

  test("exactly-once batch tags on both maintenance paths; empty deltas stage nothing") {
    val dir = tmp()
    JoinView.buildJoinView(factDf(Seq((1L, 10L))), dimDf(Seq((1L, "a"))), dir,
      joinKeys = Seq("k"), numBuckets = 4)
    assert(JoinView.appendFactsToJoinView(dir, factDf(Seq((2L, 20L))), Some("101")))
    assert(!JoinView.appendFactsToJoinView(dir, factDf(Seq((2L, 20L))), Some("101")))
    assert(JoinView.upsertDimToJoinView(dir, dimDf(Seq((2L, "b"))), batchTag = Some("102")))
    assert(!JoinView.upsertDimToJoinView(dir, dimDf(Seq((2L, "zz"))), batchTag = Some("102")))
    assert(!JoinView.appendFactsToJoinView(dir, factDf(Nil)))
    assert(readInner(dir) == Set((1L, 10L, "a"), (2L, 20L, "b")))
    // numeric tags collapse into the high-water fence at fold
    assert(JoinView.compactJoinView(spark, dir))
    assert(!JoinView.appendFactsToJoinView(dir, factDf(Seq((9L, 9L))), Some("101")))
  }

  test("upsert for a key in an empty bucket commits the dim without a rebuild") {
    val dir = tmp()
    JoinView.buildJoinView(factDf(Seq((1L, 10L))), dimDf(Seq((1L, "a"))), dir,
      joinKeys = Seq("k"), numBuckets = 4)
    // find a key hashing to a bucket no fact occupies
    val owned = JoinView.store.read(conf(spark), dir).get.roots.flatMap(_.pks).toSet
    val probe = (2L until 200L).find { cand =>
      val pk = spark.range(1).select(
        pmod(xxhash64(lit(cand)), lit(4)).cast("int").as("p"))
        .collect().head.getInt(0)
      !owned.contains(pk)
    }.get
    val rootsBefore = JoinView.store.read(conf(spark), dir).get.roots
    assert(JoinView.upsertDimToJoinView(dir, dimDf(Seq((probe, "ghost")))))
    val after = JoinView.store.read(conf(spark), dir).get
    assert(after.roots == rootsBefore, "no rebuild root for an empty bucket")
    // the dim row is live: a fact arriving later joins against it
    assert(JoinView.appendFactsToJoinView(dir, factDf(Seq((probe, 1L)))))
    assert(readInner(dir).contains((probe, 1L, "ghost")))
  }

  test("vacuum reclaims superseded dirs; maintain folds past the threshold") {
    val dir = tmp()
    JoinView.buildJoinView(factDf(Seq((1L, 10L))), dimDf(Seq((1L, "a"))), dir,
      joinKeys = Seq("k"), numBuckets = 4)
    for (i <- 2 to 7)
      JoinView.appendFactsToJoinView(dir, factDf(Seq((i.toLong, i * 10L))))
    assert(JoinView.maintainJoinView(spark, dir, foldRootsAbove = 4))
    assert(JoinView.store.read(conf(spark), dir).get.roots.size == 1)
    val n = JoinView.vacuumJoinView(spark, dir, minAgeMs = 0L)
    assert(n >= 6, s"expected the superseded roots reclaimed, got $n")
    assert(readInner(dir) == (1 to 7).map(i => (i.toLong, i * 10L, if (i == 1) "a" else null))
      .filter(_._3 != null).toSet)
  }

  test("mixed set+del CDC batch applies as ONE atomic generation") {
    val dir = tmp()
    JoinView.buildJoinView(
      factDf(Seq((1L, 10L), (2L, 20L), (3L, 30L))),
      dimDf(Seq((1L, "a"), (2L, "b"))), dir, joinKeys = Seq("k"), numBuckets = 4)
    // one batch: upsert k=3 (heal), delete k=1 — single tag
    val cdc = Seq((3L, "c", false), (1L, null.asInstanceOf[String], true))
      .toDF("k", "dv", "__delete")
    assert(JoinView.applyDimCdcToJoinView(dir, cdc, batchTag = Some("7")))
    assert(readInner(dir) == Set((2L, 20L, "b"), (3L, 30L, "c")))
    // replay fences the WHOLE batch
    assert(!JoinView.applyDimCdcToJoinView(dir, cdc, batchTag = Some("7")))
    // exactly one dim generation landed for the mixed batch
    assert(JoinView.store.read(conf(spark), dir).get.dimRoots.size == 2)
  }

  test("lookupJoinView prunes to one bucket and resolves like Get") {
    val dir = tmp()
    val facts = (0L until 40L).map(i => (i % 10L, i))
    val dim = (0L until 10L by 2L).map(i => (i, s"d$i"))
    JoinView.buildJoinView(factDf(facts), dimDf(dim), dir,
      joinKeys = Seq("k"), numBuckets = 8)
    val hit = JoinView.lookupJoinView(spark, dir, Seq(4L)).collect()
    assert(hit.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      facts.filter(_._1 == 4L).map { case (k, fv) => (k, fv, "d4") }.toSet)
    // unmatched fact key: present in LEFT storage, empty through lookup
    assert(JoinView.lookupJoinView(spark, dir, Seq(3L)).isEmpty)
    // key whose bucket may hold no facts at all: empty, not an error
    assert(JoinView.lookupJoinView(spark, dir, Seq(1234567L)).isEmpty)
  }

  test("streaming fact ingest + dim CDC equal the batch-maintained view") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp()
    JoinView.buildJoinView(factDf(Seq((0L, 0L))), dimDf(Seq((0L, "z"), (7L, "g"))),
      dir, joinKeys = Seq("k"), numBuckets = 4)
    // fact stream
    val facts = MemoryStream[(Long, Long)]
    val qf = graft.streaming.EventStream.ingestFactsToJoinView(
      facts.toDF().toDF("k", "fv"), dir,
      Files.createTempDirectory("jv-ckpt-f").toString)
    try {
      facts.addData((1L, 10L), (2L, 20L), (7L, 70L))
      qf.processAllAvailable()
      facts.addData((3L, 30L), (0L, 5L))
      qf.processAllAvailable()
    } finally qf.stop()
    // dim CDC stream: set k=1, set k=2, then del k=7 + set k=3 in one batch
    val cdc = MemoryStream[(String, Long, String)]
    val qd = graft.streaming.EventStream.ingestDimCdcToJoinView(
      cdc.toDF().toDF("op", "k", "dv"), dir,
      Files.createTempDirectory("jv-ckpt-d").toString)
    try {
      cdc.addData(("set", 1L, "a"), ("set", 2L, "b"))
      qd.processAllAvailable()
      cdc.addData(("del", 7L, null), ("set", 3L, "c"))
      qd.processAllAvailable()
    } finally qd.stop()
    assert(readInner(dir) == Set(
      (0L, 0L, "z"), (0L, 5L, "z"), (1L, 10L, "a"),
      (2L, 20L, "b"), (3L, 30L, "c")))
  }

  test("cross-process guard: a commit against a stale manifest aborts, state intact") {
    val dir = tmp()
    JoinView.buildJoinView(factDf(Seq((1L, 10L), (2L, 20L))),
      dimDf(Seq((1L, "a"))), dir, joinKeys = Seq("k"), numBuckets = 4)
    val stale = JoinView.store.read(conf(spark), dir).get
    // a "foreign" writer advances the manifest after our snapshot (the
    // in-process lock serializes the public API, so the guard is
    // asserted through the commit primitive — the AggView pattern)
    assert(JoinView.appendFactsToJoinView(dir, factDf(Seq((3L, 30L))), Some("9")))
    val e = intercept[IllegalStateException] {
      JoinView.store.commitIfUnchanged(conf(spark), dir, Some(stale),
        stale.copy(nextSeq = 999L))
    }
    assert(e.getMessage.contains("concurrent"))
    // the view remains exactly the foreign writer's state
    val m = JoinView.store.read(conf(spark), dir).get
    assert(m.roots.size == 2 && m.tagHighWater == 9L && m.nextSeq == stale.nextSeq)
    assert(readInner(dir) == Set((1L, 10L, "a")))
  }

  test("manifest is stamp-cached: N reads of an unchanged view parse once") {
    val dir = tmp()
    JoinView.buildJoinView(factDf(Seq((1L, 10L), (2L, 20L))),
      dimDf(Seq((1L, "a"))), dir, joinKeys = Seq("k"), numBuckets = 4)
    readInner(dir) // prime the stamp
    val p0 = JoinView.store.parses.get()
    (0 until 5).foreach(_ => readInner(dir))
    assert(JoinView.store.parses.get() == p0,
      "unchanged view re-parsed its manifest")
    JoinView.appendFactsToJoinView(dir, factDf(Seq((3L, 30L))))
    readInner(dir)
    assert(JoinView.store.parses.get() > p0, "a commit must restamp")
  }

  test("model fuzz: random append/upsert/delete/fold interleavings") {
    val rnd = new Random(8L)
    for (round <- 0 until 3) {
      val dir = tmp()
      val m = new Model
      val keys = 0L until 24L
      m.facts ++= keys.take(8).map(k => (k, rnd.nextInt(100).toLong))
      m.dim ++= keys.filter(_ => rnd.nextBoolean()).map(k => (k, s"v${rnd.nextInt(5)}"))
      if (m.dim.isEmpty) m.dim(0L) = "seed"
      JoinView.buildJoinView(factDf(m.facts.toSeq), dimDf(m.dim.toSeq), dir,
        joinKeys = Seq("k"), numBuckets = 8)
      for (step <- 0 until 10) {
        rnd.nextInt(4) match {
          case 0 =>
            val delta = (0 until 1 + rnd.nextInt(4))
              .map(_ => (keys(rnd.nextInt(keys.length)), rnd.nextInt(100).toLong))
            m.facts ++= delta
            JoinView.appendFactsToJoinView(dir, factDf(delta))
          case 1 =>
            val delta = (0 until 1 + rnd.nextInt(3))
              .map(_ => (keys(rnd.nextInt(keys.length)), s"u$step-${rnd.nextInt(9)}"))
              .distinctBy(_._1)
            delta.foreach { case (k, v) => m.dim(k) = v }
            JoinView.upsertDimToJoinView(dir, dimDf(delta))
          case 2 if m.dim.nonEmpty =>
            val victim = m.dim.keys.toSeq(rnd.nextInt(m.dim.size))
            m.dim.remove(victim)
            JoinView.upsertDimToJoinView(dir,
              Seq(Tuple1(victim)).toDF("k"), delete = true)
          case _ =>
            JoinView.maintainJoinView(spark, dir, foldRootsAbove = 2)
        }
        assert(readInner(dir) == m.inner, s"round $round step $step (inner)")
      }
      assert(readLeft(dir) == m.left, s"round $round (left)")
    }
  }
}
