package graft.core

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // bucketed saveAsTable (BucketingSpec) needs a writable warehouse
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  /** The number of Spark jobs `body` starts. */
  def sparkJobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isSentinel(e)) jobs.incrementAndGet()
    })(body)
    jobs.get
  }

  /** The bytes the stages `body` runs write to shuffle files. */
  def shuffleBytesDuring(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(body)
    bytes.get
  }

  private def isSentinel(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "sentinel")

  /** Run `body` with `listener` on the listener bus, until every event
    * `body` caused has reached it.
    */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val flush = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isSentinel(e)) sentinelSeen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(flush)
    try {
      body
      // the bus delivers events in order: once the sentinel job's start
      // arrives, every event `body` caused would have arrived before it
      sc.setJobGroup("sentinel", "flush the listener bus")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally { sc.removeSparkListener(listener); sc.removeSparkListener(flush) }
  }
}

/** The local `file` filesystem, recording the paths it opens and
  * creates (Hadoop's local filesystem keeps no per-operation statistics).
  */
class CallRecordingFileSystem extends LocalFileSystem {
  import CallRecordingFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.add(f.toString); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.add(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CallRecordingFileSystem {
  val opens, creates = new ConcurrentLinkedQueue[String]
}

/** Parity tests mirroring the reference's API round-trip suite
  * (`kv/db_test.go`, `kv/vlog_test.go`) on the Spark engine.
  */
class GraftDBSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def freshDb(opts: GraftOptions = GraftOptions(compactTriggerFiles = 1000)): GraftDB = {
    val dir = Files.createTempDirectory("graftdb").toString
    new GraftDB(spark, dir, opts)
  }
  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")
  // special-char corpus like the reference's rand keys (kv/utils/rand.go:15-25)
  private val charset = "0123456789abcdefXYZ~=+%^*/()[]{}/!@#$?"
  private def randKey(rnd: scala.util.Random): Array[Byte] =
    (Array.fill(8)(charset(rnd.nextInt(charset.length))) ++ "12345678").map(_.toByte)

  test("set/get round-trip, 64 random entries (kv/db_test.go:36-49)") {
    val db = freshDb()
    val rnd = new scala.util.Random(42)
    val entries = (0 until 64).map(i => (randKey(rnd), b(s"value-$i")))
    db.batchSet(entries.map { case (k, v) => KVEntry(k, v) })
    // last writer wins among duplicate random keys within the batch
    val expected = entries.foldLeft(Map.empty[Seq[Byte], Array[Byte]]) {
      case (m, (k, v)) => m + (k.toSeq -> v)
    }
    expected.foreach { case (k, v) =>
      assert(db.get(k.toArray).map(_.toSeq).contains(v.toSeq))
    }
    assert(db.get(b("missing-key")).isEmpty)
  }

  test("delete hides key; re-insert resurrects (kv/db_test.go:59-105)") {
    val db = freshDb()
    db.set(b("k1"), b("v1"))
    assert(db.get(b("k1")).map(new String(_)).contains("v1"))
    db.del(b("k1"))
    assert(db.get(b("k1")).isEmpty)
    db.set(b("k1"), b("v2"))
    assert(db.get(b("k1")).map(new String(_)).contains("v2"))
  }

  test("TTL: expired invisible; newer expired version shadows older live one") {
    val db = freshDb()
    db.set(b("ttl1"), b("x"), ttlSeconds = -100) // already expired
    assert(db.get(b("ttl1")).isEmpty)
    // newer expired shadows older live (SURVEY §7.4: TTL filtered AFTER LWW)
    db.set(b("ttl2"), b("live"))
    db.set(b("ttl2"), b("dead"), ttlSeconds = -100)
    assert(db.get(b("ttl2")).isEmpty)
    db.set(b("ttl3"), b("y"), ttlSeconds = 10000)
    assert(db.get(b("ttl3")).map(new String(_)).contains("y"))
  }

  test("blob routing: large values round-trip via blob table (kv/vlog_test.go:25-94)") {
    val db = freshDb(GraftOptions(valueThreshold = 32, compactTriggerFiles = 1000))
    val big = Array.fill[Byte](1000)(7)
    db.set(b("big"), big)
    db.set(b("small"), b("s"))
    assert(db.get(b("big")).map(_.toSeq).contains(big.toSeq))
    assert(db.get(b("small")).map(new String(_)).contains("s"))
    // view resolves blob values too
    val rows = db.view().collect().map(r =>
      new String(r.getAs[Array[Byte]]("key")) -> r.getAs[Array[Byte]]("value").length).toMap
    assert(rows("big") == 1000 && rows("small") == 1)
  }

  test("scan: ordered, range, prefix, desc — binary-safe") {
    val db = freshDb()
    val keys = Seq("a", "ab", "abc", "b", "ba", "z~!", "z~#")
    db.batchSet(keys.map(k => KVEntry(b(k), b(s"v-$k"))))
    val asc = db.scan().collect().map(r => new String(r.getAs[Array[Byte]]("key")))
    assert(asc.toSeq == keys.sorted)
    val desc = db.scan(ascending = false).collect().map(r => new String(r.getAs[Array[Byte]]("key")))
    assert(desc.toSeq == keys.sorted.reverse)
    val pre = db.scan(prefix = Some(b("ab"))).collect().map(r => new String(r.getAs[Array[Byte]]("key")))
    assert(pre.toSeq == Seq("ab", "abc"))
    val rng = db.scan(from = Some(b("ab")), until = Some(b("ba")))
      .collect().map(r => new String(r.getAs[Array[Byte]]("key")))
    assert(rng.toSeq == Seq("ab", "abc", "b"))
  }

  test("prefixSuccessor: carry and all-0xff") {
    assert(GraftDB.prefixSuccessor(Array[Byte](1, 2)).get.toSeq == Seq[Byte](1, 3))
    assert(GraftDB.prefixSuccessor(Array(1.toByte, 0xff.toByte)).get.toSeq == Seq[Byte](2))
    assert(GraftDB.prefixSuccessor(Array(0xff.toByte, 0xff.toByte)).isEmpty)
  }

  test("iterator seek: first key >= target ascending, <= target descending (kv/iterator.go:78-79 stub, implemented)") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000))
    db.batchSet(Seq("a", "c", "e", "g").map(k => KVEntry(b(k), b(s"v$k"))))
    def keys(it: Iterator[org.apache.spark.sql.Row]) =
      it.map(r => new String(r.getAs[Array[Byte]]("key"))).toList
    assert(keys(db.iterator(seek = Some(b("c")))) == List("c", "e", "g"))
    assert(keys(db.iterator(seek = Some(b("d")))) == List("e", "g")) // between keys
    assert(keys(db.iterator(ascending = false, seek = Some(b("d")))) == List("c", "a"))
    assert(keys(db.iterator(ascending = false, seek = Some(b("e")))) == List("e", "c", "a"))
    assert(keys(db.iterator(seek = Some(b("z")))) == Nil)
  }

  test("snapshot: frozen reads survive compaction+vacuum until closed (vlog_gc.go:364-390 refcounts)") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000))
    db.batchSet((0 until 30).map(i => KVEntry(b(f"s$i%03d"), b(s"old$i"))))
    val snap = db.snapshot()
    // the world moves on: overwrites, a delete, compaction, vacuum
    db.batchSet((0 until 30).map(i => KVEntry(b(f"s$i%03d"), b(s"new$i"))))
    db.del(b("s000"))
    db.compact()
    db.vacuum() // must NOT reclaim the snapshot's pinned segments
    val now = db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(now.size == 29 && now("s001") == "new1")
    val frozen = snap.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(frozen.size == 30 && frozen("s000") == "old0" && frozen("s001") == "old1",
      s"snapshot saw later writes: $frozen")
    // close releases the pin; the next vacuum reclaims the old generation
    val dataDir = new java.io.File(s"${db.rootDir}/data")
    val before = dataDir.listFiles().length
    snap.close()
    db.vacuum()
    assert(dataDir.listFiles().length < before, "vacuum reclaimed nothing after the pin was released")
    assert(db.view().count() == 29)
  }

  test("compaction preserves the merge-on-read view and drops dead entries") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000))
    (0 until 5).foreach { gen =>
      db.batchSet((0 until 20).map(i => KVEntry(b(f"key$i%03d"), b(s"g$gen-$i"))))
    }
    db.del(b("key000")); db.del(b("key001"))
    db.set(b("exp"), b("x"), ttlSeconds = -10)
    val before = db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value")))
      .toMap
    assert(before.size == 18 && before("key005") == "g4-5")
    db.compact()
    val after = db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value")))
      .toMap
    assert(after == before)
    assert(db.stats()("level0Segments") == 0)
    // raw log after compaction holds no tombstones/expired rows
    assert(db.rawLog().filter("tombstone OR (expiresAt != 0 AND expiresAt < unix_timestamp())").count() == 0)
    db.vacuum()
    assert(after == db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value"))).toMap)
  }

  test("leveled compaction: non-overlapping level-1 files are not rewritten") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4))
    // build a compacted level-1 range over keys a*
    db.batchSet((0 until 40).map(i => KVEntry(b(f"a$i%03d"), b(s"v$i"))))
    db.compact()
    val l1Paths = { val s = db.stats(); assert(s("level0Segments") == 0); dbFiles(db) }
    // new L0 in a DISJOINT key range z* -> minor compact must keep a* files
    db.batchSet((0 until 10).map(i => KVEntry(b(f"z$i%03d"), b(s"w$i"))))
    db.compact()
    val after = dbFiles(db)
    assert(l1Paths.subsetOf(after), "disjoint level-1 files were rewritten")
    assert(db.view().count() == 50)
    // overlapping write DOES rewrite the touched range
    db.batchSet(Seq(KVEntry(b("a005"), b("updated"))))
    db.compact()
    assert(db.get(b("a005")).map(new String(_)).contains("updated"))
    assert(db.stats()("level0Segments") == 0)
  }

  private def dbFiles(db: GraftDB): Set[String] =
    db.rawLog().select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0)).toSet

  test("vlog fixture: valueThreshold=0 routes every value to the blob table (kv/vlog_test.go:25-94)") {
    val db = freshDb(GraftOptions(valueThreshold = 0, compactTriggerFiles = 1000))
    val v1 = Array.fill[Byte](33)(1)
    val v2 = Array.fill[Byte](34)(2)
    db.set(b("samplekey"), v1)
    db.set(b("samplekeyb"), v2)
    assert(db.get(b("samplekey")).map(_.toSeq).contains(v1.toSeq))
    assert(db.get(b("samplekeyb")).map(_.toSeq).contains(v2.toSeq))
    assert(db.stats()("blobSegments") == 2)
    // the LSM rows carry only blob pointers — no inline values at threshold 0
    assert(db.rawLog().filter("value IS NOT NULL").count() == 0)
    assert(db.rawLog().filter("blobId IS NOT NULL").count() == 2)
    db.close() // parity no-op: the engine stays usable
    assert(db.get(b("samplekey")).map(_.toSeq).contains(v1.toSeq))
  }

  test("blob GC rewrites only live blobs (kv/vlog_test.go:96-136)") {
    val db = freshDb(GraftOptions(valueThreshold = 16, compactTriggerFiles = 1000, gcDiscardRatio = 0.3))
    val mk = (i: Int) => Array.fill[Byte](64)(i.toByte)
    (0 until 10).foreach(i => db.set(b(s"blob$i"), mk(i)))
    (0 until 5).foreach(i => db.del(b(s"blob$i"))) // orphan 5 blobs
    val liveSegsBefore = db.blobSegmentStats().collect { case (bf, lv) if lv > 0 => bf.path }.toSet
    val (live, dead) = db.gcBlobs(maxSegments = 10)
    assert(live == 5 && dead == 5)
    // fully-live segments were never rewritten — same paths survive
    val segsAfter = db.blobSegmentStats().map(_._1.path).toSet
    assert(segsAfter == liveSegsBefore)
    (5 until 10).foreach(i => assert(db.get(b(s"blob$i")).map(_.toSeq).contains(mk(i).toSeq)))
    (0 until 5).foreach(i => assert(db.get(b(s"blob$i")).isEmpty))
  }

  test("per-segment GC: one victim rewritten, other segments untouched (kv/vlog_gc.go:198-253)") {
    val db = freshDb(GraftOptions(valueThreshold = 16, compactTriggerFiles = 1000, gcDiscardRatio = 0.5))
    val mk = (i: Int) => Array.fill[Byte](64)(i.toByte)
    // segment A: 4 blobs, all to die; segments B, C: 4 blobs each, all live
    db.batchSet((0 until 4).map(i => KVEntry(b(s"a$i"), mk(i))))
    db.batchSet((4 until 8).map(i => KVEntry(b(s"b$i"), mk(i))))
    db.batchSet((8 until 12).map(i => KVEntry(b(s"c$i"), mk(i))))
    (0 until 4).foreach(i => db.del(b(s"a$i"))) // kill segment A only
    val before = db.blobSegmentStats()
    assert(before.size == 3)
    val untouched = before.collect { case (bf, lv) if lv > 0 => bf.path }
    assert(untouched.size == 2)
    val (live, dead) = db.gcBlobs() // default: ONE victim per run
    assert(live == 8 && dead == 4)
    val after = db.blobSegmentStats().map(_._1.path)
    assert(after.size == 2 && after.toSet == untouched.toSet,
      "GC must drop exactly the dead segment and leave live segments' files as-is")
    (4 until 12).foreach { i =>
      val k = if (i < 8) s"b$i" else s"c$i"
      assert(db.get(b(k)).map(_.toSeq).contains(mk(i).toSeq))
    }
  }

  test("concurrent gcBlobs from two handles never double-lands a victim's live rows") {
    val dir = Files.createTempDirectory("graftdb").toString
    val opts = GraftOptions(valueThreshold = 16, compactTriggerFiles = 1000, gcDiscardRatio = 0.1)
    val db1 = new GraftDB(spark, dir, opts)
    val mk = (i: Int) => Array.fill[Byte](64)(i.toByte)
    // four blob segments, each half-dead, so BOTH collectors see victims
    (0 until 4).foreach { s =>
      db1.batchSet((0 until 10).map(i => KVEntry(b(f"k$s%d-$i%02d"), mk(s * 10 + i))))
    }
    (0 until 4).foreach { s => (0 until 5).foreach(i => db1.del(b(f"k$s%d-$i%02d"))) }
    val db2 = new GraftDB(spark, dir, opts)
    // the two handles share the per-rootDir commit monitor, but their
    // stats + rewrite phases run OUTSIDE it — they can pick the same
    // victims. The loser's commit must drop replacements whose victim
    // raced away, or every live blobId in that victim lands in TWO blob
    // segments and the view's blob join duplicates those keys.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val f1 = Future(db1.gcBlobs(maxSegments = 10, discardRatio = 0.1))
    val f2 = Future(db2.gcBlobs(maxSegments = 10, discardRatio = 0.1))
    Await.result(Future.sequence(Seq(f1, f2)), 300.seconds)
    assert(db1.scan().count() == 20,
      "blob-join duplication after racing GCs would inflate the visible set")
    (0 until 4).foreach { s =>
      (5 until 10).foreach(i =>
        assert(db1.get(b(f"k$s%d-$i%02d")).map(_.toSeq).contains(mk(s * 10 + i).toSeq)))
    }
    db1.vacuum() // reclaims any orphaned loser rewrite dirs
    assert(db2.scan().count() == 20)
  }

  test("L1 promotion: sustained ingest keeps L1 bounded by l1TargetRows (compact.go:626-751)") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4,
      l1TargetRows = 150))
    val rnd = new scala.util.Random(7)
    (0 until 6).foreach { gen =>
      db.batchSet((0 until 100).map { _ =>
        val k = f"k${rnd.nextInt(400)}%04d"
        KVEntry(b(k), b(s"g$gen-$k"))
      })
      db.compact()
      val st = db.stats()
      assert(st("level0Segments") == 0)
      // L1 stays under target + one compaction's output
      assert(db.levelRows(1) <= 150 + 100,
        s"L1 rows ${db.levelRows(1)} not bounded after gen $gen")
    }
    // L2 exists and holds the promoted mass
    assert(db.levelRows(2) > 0)
    // the merged view is still exact LWW: spot-check a few keys via scan
    val view = db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(view.nonEmpty && view.forall { case (k, v) => v.endsWith(s"-$k") })
    // deletes remain honored across levels (tombstone not dropped early)
    val someKey = view.keys.head
    db.del(b(someKey))
    db.compact()
    assert(db.get(b(someKey)).isEmpty)
  }

  test("leveled promotion: geometric targets build L3+, deletes honored across the tree") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4,
      l1TargetRows = 60, levelSizeMultiplier = 2)) // targets: L1=60, L2=120, L3=240
    val rnd = new scala.util.Random(11)
    (0 until 8).foreach { gen =>
      db.batchSet((0 until 100).map { _ =>
        val k = f"k${rnd.nextInt(500)}%04d"
        KVEntry(b(k), b(s"g$gen-$k"))
      })
      db.compact()
      // compact() drains promotions until every level meets its target
      assert(db.levelRows(1) <= 60, s"L1 over target at gen $gen: ${db.levelRows(1)}")
      assert(db.levelRows(2) <= 120, s"L2 over target at gen $gen: ${db.levelRows(2)}")
    }
    assert(db.levelRows(3) > 0, "geometric ladder never built level 3")
    // the merged view is exact LWW through 4 levels
    val view = db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(view.nonEmpty && view.forall { case (k, v) => v.endsWith(s"-$k") })
    // a delete must not resurrect: tombstones survive until the bottom
    val someKey = view.keys.min
    db.del(b(someKey))
    db.compact()
    assert(db.get(b(someKey)).isEmpty, "tombstone dropped above the bottom level")
    assert(db.view().count() == view.size - 1)
  }

  test("fixed grid: second-generation compaction touches only dirty buckets") {
    // bucketTargetRows pins ~100-row buckets inside the [50, 200] hysteresis
    // band so neither grid refinement nor grid merge fires mid-test
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4,
      bucketTargetRows = 100))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType)))
    def bulk(keys: Seq[String]): Unit = db.write(spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k => org.apache.spark.sql.Row(b(k), b(s"v-$k"))), 4), schema))
    bulk((0 until 400).map(i => f"g$i%04d"))
    assert(db.gridBounds().nonEmpty, "first multi-file bulk write must capture the grid")
    db.compact()
    val l1Before = dbFiles(db)
    // second generation confined to the TOP of the key range: with the
    // fixed grid its L0 files align to the last bucket(s), so compaction
    // must leave the low buckets' L1 files in place
    bulk((380 until 400).map(i => f"g$i%04d"))
    db.compact()
    val l1After = dbFiles(db)
    assert(l1Before.intersect(l1After).nonEmpty,
      "grid-aligned compaction rewrote every L1 file — overlap is not bucket-local")
    assert(db.view().count() == 400)
    (Seq(0, 100, 379, 399)).foreach(i =>
      assert(db.get(b(f"g$i%04d")).map(new String(_)).contains(f"v-g$i%04d")))
  }

  test("grid refinement: skewed ingest into one hot bucket adds a split key and bounds file size") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4,
      bucketTargetRows = 50))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType)))
    def bulk(keys: Seq[String]): Unit = db.write(spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k => org.apache.spark.sql.Row(b(k), b(s"v-$k"))), 4), schema))
    // establish the grid over the full a..z range
    bulk(('a' to 'z').flatMap(c => (0 until 8).map(i => f"$c$i%03d")))
    db.compact()
    val bounds0 = db.gridBounds()
    assert(bounds0.nonEmpty)
    // hammer ONE narrow range: all new keys start with "m" -> one hot bucket
    (0 until 3).foreach { gen =>
      bulk((0 until 120).map(i => f"mm$gen%01d$i%04d"))
      db.compact()
    }
    assert(db.gridBounds().size > bounds0.size,
      "sustained skewed ingest never refined the grid")
    // after refinement, another round must split the hot range across files
    bulk((0 until 120).map(i => f"mz9$i%04d"))
    db.compact()
    val mFiles = db.rawLog()
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("key")).as("mn"))
      .collect()
    val hotFiles = mFiles.filter(r => new String(r.getAs[Array[Byte]]("mn")).startsWith("m"))
    assert(hotFiles.length >= 2, s"hot range still in one file: ${mFiles.length} files total")
    assert(db.view().count() == 26 * 8 + 3 * 120 + 120)
    assert(db.get(b("mm20010")).map(new String(_)).contains("v-mm20010"))
  }

  test("grid refinement converges in ONE compact call under heavy skew (quantile splits)") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4,
      bucketTargetRows = 50))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType)))
    def bulk(keys: Seq[String]): Unit = db.write(spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k => org.apache.spark.sql.Row(b(k), b(s"v-$k"))), 4), schema))
    bulk(('a' to 'z').flatMap(c => (0 until 8).map(i => f"$c$i%03d")))
    db.compact()
    val bounds0 = db.gridBounds()
    // ONE massively skewed generation: 400 rows into one narrow range —
    // an 8x-over-target file must yield MULTIPLE quantile splits in a
    // single compact() (the old one-split-per-call valve would add 1)
    bulk((0 until 400).map(i => f"mm$i%05d"))
    db.compact()
    val added = db.gridBounds().size - bounds0.size
    assert(added >= 3,
      s"single compact added only $added split(s) for an 8x-over-target file — refinement lags skew")
    assert(db.view().count() == 26 * 8 + 400)
  }

  test("grid merge: delete-heavy workload removes split keys instead of stranding empty buckets") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4,
      bucketTargetRows = 100))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType)))
    db.write(spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 400).map(i => org.apache.spark.sql.Row(b(f"m$i%04d"), b(s"v$i"))), 4), schema))
    db.compact()
    val bounds0 = db.gridBounds()
    assert(bounds0.size >= 2, s"need a multi-split grid to merge, got $bounds0")
    // wipe the TOP half of the keyspace: its buckets drop to zero rows after
    // the dead entries are dropped, and their splits stop earning their keep
    db.batchSet((200 until 400).map(i => KVEntry.tombstone(b(f"m$i%04d"))))
    db.compact() // ONE call: the merge drains to fixpoint, not one split per call
    val bounds1 = db.gridBounds()
    assert(bounds1.size < bounds0.size,
      s"emptied buckets never merged: $bounds0 -> $bounds1")
    assert(bounds1.nonEmpty, "merge must stop at the two-bucket floor, not collapse the grid")
    // survivors intact, deletes honored
    assert(db.view().count() == 200)
    assert(db.get(b("m0100")).map(new String(_)).contains("v100"))
    assert(db.get(b("m0300")).isEmpty)
  }

  test("bulk write path: DataFrame generation with blob routing") {
    val db = freshDb(GraftOptions(valueThreshold = 50, compactTriggerFiles = 1000))
    val rows = (0 until 200).map { i =>
      org.apache.spark.sql.Row(b(f"bulk$i%04d"), Array.fill[Byte](if (i % 10 == 0) 80 else 8)(i.toByte))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType)))
    db.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
    assert(db.view().count() == 200)
    assert(db.get(b("bulk0010")).map(_.length).contains(80))
    assert(db.get(b("bulk0011")).map(_.length).contains(8))
    // overwrite some via a second generation
    db.batchSet(Seq(KVEntry(b("bulk0000"), b("overwritten"))))
    assert(db.get(b("bulk0000")).map(new String(_)).contains("overwritten"))
  }

  test("manifest commit cost stays flat as the file count grows (change-log, not whole-state)") {
    val dir = Files.createTempDirectory("graftdb-logcost").toString
    val db = new GraftDB(spark, dir, GraftOptions(compactTriggerFiles = 100000))
    val log = java.nio.file.Paths.get(dir, "_manifest")
    def logFiles(): Map[String, Long] =
      if (!Files.exists(log)) Map.empty
      else Files.list(log).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
    // the bytes of the manifest records one set publishes
    def costOfOneSet(i: Int): Long = {
      val before = logFiles()
      db.set(b(f"key-$i%05d"), b("v"))
      (logFiles() -- before.keySet).values.sum
    }
    val early = costOfOneSet(0)
    assert(early > 0, "a set published no manifest record")
    (1 until 60).foreach(i => db.set(b(f"key-$i%05d"), b("v")))
    val late = costOfOneSet(60)
    // 61 live L0 segments vs 1: the published bytes per 1-row set must not
    // scale with the table's file count (the old whole-state rewrite did)
    assert(late <= 2 * early,
      s"1-row set published $late manifest bytes at 61 files vs $early at 1")
    assert(db.view().count() == 61)
  }

  test("bulk-write blob-id reservation is reclaimed to actual usage") {
    val db = freshDb(GraftOptions(valueThreshold = 8, compactTriggerFiles = 1000))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType)))
    def bulk(n: Int, tag: String): Unit = db.write(spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until n).map(i => org.apache.spark.sql.Row(b(f"$tag$i%04d"), b(s"blobvalue-$tag-$i"))), 3),
      schema))
    bulk(50, "a"); bulk(50, "bb")
    // two bulk batches provisionally reserve 2^46 ids; with the frontier
    // unraced, each write's final commit shrinks back to max-used+1, so
    // the id space lasts ~2^63 blobs instead of 2^18 batches
    val next = db.stats()("nextBlobId")
    assert(next < (1L << 45),
      s"blob-id reservation never reclaimed: nextBlobId=$next after 2 batches")
    assert(db.view().count() == 100)
    assert(db.get(b("a0001")).map(new String(_)).contains("blobvalue-a-1"))
  }

  test("auto-compaction: the L0 trigger fires through batchSet and keeps L0 bounded") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 3))
    // 8 batches: the 3rd, 6th, ... L0 generations trip the trigger inside
    // batchSet itself (no explicit compact() call anywhere in this test)
    (0 until 8).foreach { gen =>
      db.batchSet((0 until 10).map(i => KVEntry(b(f"ak$i%02d"), b(s"g$gen-$i"))))
    }
    val stats = db.stats()
    assert(stats("level0Segments") < 3,
      s"auto-compaction never fired: ${stats("level0Segments")} L0 segments after 8 batches")
    // the merged view is still exact LWW of the last generation
    val got = db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(got.size == 10 && got("ak05") == "g7-5")
  }

  test("bulk write with same-version duplicate keys: get equals view for every key") {
    val db = freshDb(GraftOptions(valueThreshold = 12, compactTriggerFiles = 1000))
    val rnd = new scala.util.Random(11)
    val now = System.currentTimeMillis() / 1000
    def word(n: Int): String = (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    // one write = one commit version, so every duplicate resolves by the
    // tie-break alone: xxhash64(value), blobId, expiresAt, tombstone.
    // Values mix inline, blob-routed and null (a tombstone); expiry mixes
    // none, live and past.
    val rows = (0 until 40).flatMap { i =>
      Seq.fill(1 + rnd.nextInt(4)) {
        val v = rnd.nextInt(6) match {
          case 0 => null
          case 1 | 2 => b(word(1 + rnd.nextInt(2)))
          case _ => b(word(12 + rnd.nextInt(2)))
        }
        val exp = rnd.nextInt(5) match { case 0 => now - 100; case 1 => now + 3600; case _ => 0L }
        Row(b(f"dup$i%02d"), v, exp)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("key", BinaryType),
      StructField("value", BinaryType), StructField("expiresAt", LongType)))
    db.write(spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(rows), 3), schema))
    val view = db.view().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> r.getAs[Array[Byte]]("value").toSeq).toMap
    assert(view.nonEmpty && view.size < 40, s"${view.size} of 40 keys visible: the mix lost its dead keys")
    (0 until 40).map(i => f"dup$i%02d").foreach { k =>
      assert(db.get(b(k)).map(_.toSeq) == view.get(k), s"get($k) disagrees with view()")
    }
  }

  test("get reads a store whose manifest records segment and blob DIRS") {
    // manifests written before per-file metas name each batchSet segment
    // and blob segment by its directory, with no blob id range
    val dir = Files.createTempDirectory("graftdb-dirs").toString
    val (segDir, blobDir) = (s"$dir/data/old", s"$dir/blobs/old")
    import org.apache.spark.sql.SaveMode
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(b("a"), b("inline"), 0L, 0L, false, null),
        Row(b("b"), null, 1L, 0L, false, 7L)), 1), KVEntry.schema)
      .write.mode(SaveMode.Overwrite).parquet(segDir)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(7L, b("blob"))), 1),
      KVEntry.blobSchema).write.mode(SaveMode.Overwrite).parquet(blobDir)
    new Manifest(spark.sparkContext.hadoopConfiguration, dir, 1024).commit(_ => ManifestDelta(
      nextVersion = Some(2L), nextBlobId = Some(8L),
      addFiles = Vector(FileMeta(segDir, 0, Hex.encode(b("a")), Hex.encode(b("b")), 2L, 0L)),
      addBlobs = Vector(BlobFileMeta(blobDir, 1L))))
    val db = new GraftDB(spark, dir)
    assert(Seq("a", "b", "c").map(k => db.get(b(k)).map(new String(_))) ==
      Seq(Some("inline"), Some("blob"), None))
    // the view lists the DIR entries and reads the same rows
    assert(db.view().collect().map(r => new String(r.getAs[Array[Byte]]("key")) ->
      new String(r.getAs[Array[Byte]]("value"))).toSet == Set("a" -> "inline", "b" -> "blob"))
  }

  test("point get runs no Spark job: hit, miss, blob hit, tombstone, expired") {
    val db = freshDb(GraftOptions(valueThreshold = 16, compactTriggerFiles = 1000))
    val blob = Array.fill[Byte](64)(7)
    db.batchSet(Seq(KVEntry(b("hit"), b("v")), KVEntry(b("blob"), blob),
      KVEntry(b("gone"), b("v")), KVEntry.withTTL(b("old"), b("v"), -100)))
    db.del(b("gone"))
    val jobs = TestSpark.sparkJobsDuring {
      val got = Seq("hit", "blob", "gone", "old", "absent").map(k => db.get(b(k)).map(_.toSeq))
      assert(got == Seq(Some(b("v").toSeq), Some(blob.toSeq), None, None, None))
    }
    assert(jobs == 0, s"$jobs Spark jobs ran for five point gets")
  }

  test("batchSet runs no Spark job: inline, blob, TTL and tombstone in one batch") {
    val db = freshDb(GraftOptions(valueThreshold = 16, compactTriggerFiles = 1000))
    val blob = Array.fill[Byte](64)(7)
    val jobs = TestSpark.sparkJobsDuring {
      db.batchSet(Seq(KVEntry(b("inline"), b("v")), KVEntry(b("blob"), blob),
        KVEntry.withTTL(b("ttl"), b("t"), 10000), KVEntry.tombstone(b("gone"))))
      db.set(b("one"), b("1"))
    }
    assert(jobs == 0, s"$jobs Spark jobs ran for two commits")
    assert(Seq("inline", "blob", "ttl", "gone", "one").map(k => db.get(b(k)).map(_.toSeq)) ==
      Seq(Some(b("v").toSeq), Some(blob.toSeq), Some(b("t").toSeq), None, Some(b("1").toSeq)))
  }

  test("batchSet rejects a null key before reserving versions") {
    val db = freshDb()
    db.set(b("a"), b("1"))
    val stats0 = db.stats()
    val files0 = new Manifest(spark.sparkContext.hadoopConfiguration, db.rootDir).load().files
    val e = intercept[IllegalArgumentException] {
      db.batchSet(Seq(KVEntry(b("x"), b("1")), KVEntry(b("y"), b("2")), KVEntry(null, b("3"))))
    }
    assert(e.getMessage.contains("entry 2"), e.getMessage)
    assert(db.stats() == stats0)
    assert(new Manifest(spark.sparkContext.hadoopConfiguration, db.rootDir).load().files == files0)
    assert(db.get(b("x")).isEmpty && db.get(b("a")).map(new String(_)).contains("1"))
  }

  test("driver-written segments round-trip through rawLog, compaction, view and get") {
    val db = freshDb(GraftOptions(valueThreshold = 16, compactTriggerFiles = 1000))
    db.set(b("pre"), b("p"))
    val (v0, blob0) = (db.stats()("nextVersion"), db.stats()("nextBlobId"))
    val blob = Array.fill[Byte](40)(3)
    db.batchSet(Seq(KVEntry(b("k2"), b("inline")), KVEntry(b("k1"), blob),
      KVEntry(b("k3"), b("ttl"), 0L, 4000000000L, tombstone = false, null),
      KVEntry.tombstone(b("k0"))))
    def show(r: Row) = (new String(r.getAs[Array[Byte]]("key")),
      Option(r.getAs[Array[Byte]]("value")).map(new String(_)), r.getAs[Long]("version"),
      r.getAs[Long]("expiresAt"), r.getAs[Boolean]("tombstone"),
      Option(r.getAs[java.lang.Long]("blobId")).map(_.longValue))
    val batchRows = db.rawLog().collect().map(show).filter(_._1 != "pre").sortBy(_._1).toSeq
    assert(batchRows == Seq(
      ("k0", None, v0 + 3, 0L, true, None),
      ("k1", None, v0 + 1, 0L, false, Some(blob0)),
      ("k2", Some("inline"), v0, 0L, false, None),
      ("k3", Some("ttl"), v0 + 2, 4000000000L, false, None)))

    // several driver-written L0 segments fold into L1 without changing a read
    (0 until 4).foreach { gen =>
      db.batchSet((0 until 12).map(i =>
        if (i % 5 == gen) KVEntry.tombstone(b(f"f$i%02d"))
        else KVEntry(b(f"f$i%02d"), if (i % 3 == 0) Array.fill[Byte](20)(gen.toByte) else b(s"g$gen"))))
    }
    val keys = Seq("pre", "k0", "k1", "k2", "k3") ++ (0 until 12).map(i => f"f$i%02d")
    def reads() = (viewMap(db), keys.map(k => db.get(b(k)).map(_.toSeq)))
    val before = reads()
    db.compact()
    assert(db.stats()("level0Segments") == 0)
    assert(reads() == before)
  }

  private def viewMap(db: GraftDB, asOf: Long = System.currentTimeMillis() / 1000) =
    db.view(asOf).collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> r.getAs[Array[Byte]]("value").toSeq).toMap

  test("scan reads only the files overlapping its range and equals the filtered view") {
    val db = freshDb(GraftOptions(valueThreshold = 12, compactTriggerFiles = 1000,
      rangePartitions = 4))
    val rnd = new scala.util.Random(20261019L)
    val keyspace = for (c <- "abcd"; i <- 0 until 20) yield f"$c$i%02d"
    def value() = if (rnd.nextInt(4) == 0) "B" * 20 else s"v${rnd.nextInt(1000)}"
    import org.apache.spark.sql.types._
    val kv = StructType(Seq(StructField("key", BinaryType), StructField("value", BinaryType)))
    // L1: a bulk write captures the grid, compaction buckets it into L1 files
    db.write(spark.createDataFrame(spark.sparkContext.parallelize(
      keyspace.map(k => Row(b(k), b(value()))), 4), kv))
    db.compact()
    // L0 on top: sets, blob values, deletes, live and expired TTLs
    (0 until 4).foreach { _ =>
      db.batchSet((0 until 12).map { _ =>
        val k = b(keyspace(rnd.nextInt(keyspace.size)))
        rnd.nextInt(4) match {
          case 0 => KVEntry.tombstone(k)
          case 1 => KVEntry.withTTL(k, b(value()), if (rnd.nextBoolean()) -100 else 10000)
          case _ => KVEntry(k, b(value()))
        }
      })
    }
    val st = new Manifest(spark.sparkContext.hadoopConfiguration, db.rootDir).load()
    assert(st.files.exists(_.level == 0) && st.files.count(_.level == 1) >= 2, st.files)
    val asOf = System.currentTimeMillis() / 1000
    val view = viewMap(db, asOf).toSeq.sortBy(_._1)

    def bound() = rnd.nextInt(3) match {
      case 0 => None
      case 1 => Some(keyspace(rnd.nextInt(keyspace.size)))
      case _ => Some(s"${"abcde" (rnd.nextInt(5))}${rnd.nextInt(30)}")
    }
    (0 until 12).foreach { _ =>
      val (from, until) = (bound(), bound())
      val prefix = Seq(None, Some(""), Some("b"), Some("c1"), Some("d0"), Some("e"))(rnd.nextInt(6))
      val ascending = rnd.nextBoolean()
      val got = db.scan(from.map(b), until.map(b), prefix.map(b), ascending, asOf).collect()
        .map(r => new String(r.getAs[Array[Byte]]("key")) -> r.getAs[Array[Byte]]("value").toSeq).toSeq
      val want = view.filter { case (k, _) =>
        from.forall(k >= _) && until.forall(k < _) && prefix.forall(k.startsWith) }
      assert(got == (if (ascending) want else want.reverse),
        s"scan(from=$from, until=$until, prefix=$prefix, ascending=$ascending)")
    }

    // an L1 file wholly above the prefix range is not in the scan's plan
    def norm(p: String) = p.replaceFirst("^file:/+", "/")
    val above = st.files.filter(f => f.level == 1 && f.minKeyHex >= Hex.encode(b("b")))
    assert(above.nonEmpty, st.files)
    val read = db.scan(prefix = Some(b("a"))).inputFiles.map(norm).toSet
    above.foreach(f => assert(!read.contains(norm(f.path)), s"scan of a* read ${f.path}"))
  }

  test("key bloom filter is sized to the file and still prunes an in-range absent key") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    def open(file: String, filter: FilterCompat.Filter, bloomOnly: Boolean) =
      ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf),
        HadoopReadOptions.builder(conf).withRecordFilter(filter).useStatsFilter(!bloomOnly)
          .useDictionaryFilter(!bloomOnly).useColumnIndexFilter(!bloomOnly).build())
    // bitset bytes of the key bloom filter of a one-row-group file
    def keyBloomBytes(file: String): Int = {
      val rd = open(file, FilterCompat.NOOP, bloomOnly = false)
      try {
        val block = rd.getFooter.getBlocks.asScala.toSeq match {
          case Seq(g) => g
          case gs => fail(s"$file has ${gs.size} row groups")
        }
        val keyCol = block.getColumns.asScala.find(_.getPath.toDotString == "key").get
        assert(keyCol.getBloomFilterOffset >= 0, s"the footer of $file declares no bloom filter on key")
        rd.getBloomFilterDataReader(block).readBloomFilter(keyCol).getBitsetSize
      } finally rd.close()
    }
    def files(db: GraftDB): Seq[String] =
      db.rawLog().inputFiles.toSeq.map(_.replaceFirst("^file:/+", "/"))

    val db = freshDb()
    db.batchSet((0 until 16).map(i => KVEntry(b(f"bk${2 * i}%03d"), b(s"v$i"))))
    val file = files(db) match {
      case Seq(f) => f
      case fs => fail(s"expected one segment file, got $fs")
    }
    val bytes = new java.io.File(file).length
    assert(bytes < 4096, s"a 16-row segment file is $bytes bytes")
    assert(keyBloomBytes(file) <= 1024)
    // bk001 lies inside the file's [bk000, bk030] range; with statistics,
    // dictionary and column-index filtering off only the bloom filter can
    // drop the row group
    val absent = FilterCompat.get(
      FilterApi.eq(FilterApi.binaryColumn("key"), Binary.fromString("bk001")))
    val rd = open(file, absent, bloomOnly = true)
    try assert(rd.getRowGroups.isEmpty, "the bloom filter kept the row group of an absent key")
    finally rd.close()
    assert(db.get(b("bk001")).isEmpty && db.get(b("bk002")).map(new String(_)).contains("v1"))

    // bulk-write and compaction output (the adaptive filter): each file's
    // filter follows its few hundred keys, not the 1 MB maximum
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType)))
    db.write(spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 400).map(i => Row(b(f"bw$i%04d"), b(s"w$i"))), 4), schema))
    db.compact()
    files(db).foreach(f => assert(keyBloomBytes(f) <= 4096, s"compacted file $f"))
  }
  /** A store on a four-bucket grid: L1 files from a bulk write and a
    * compaction, under L0 batches of sets, blob values, deletes, and live
    * and expired TTLs.
    */
  private def layeredDb(seed: Long): GraftDB = {
    // 20-key buckets: no pair falls under half of bucketTargetRows, so the
    // grid keeps its four buckets
    val db = freshDb(GraftOptions(valueThreshold = 12, compactTriggerFiles = 1000,
      rangePartitions = 4, bucketTargetRows = 40))
    val rnd = new scala.util.Random(seed)
    val keyspace = for (c <- "abcd"; i <- 0 until 20) yield f"$c$i%02d"
    def value() = if (rnd.nextInt(4) == 0) "B" * 20 else s"v${rnd.nextInt(1000)}"
    import org.apache.spark.sql.types._
    val kv = StructType(Seq(StructField("key", BinaryType), StructField("value", BinaryType)))
    db.write(spark.createDataFrame(spark.sparkContext.parallelize(
      keyspace.map(k => Row(b(k), b(value()))), 4), kv))
    db.compact()
    (0 until 4).foreach { _ =>
      db.batchSet((0 until 12).map { _ =>
        val k = b(keyspace(rnd.nextInt(keyspace.size)))
        rnd.nextInt(4) match {
          case 0 => KVEntry.tombstone(k)
          case 1 => KVEntry.withTTL(k, b(value()), if (rnd.nextBoolean()) -100 else 10000)
          case _ => KVEntry(k, b(value()))
        }
      })
    }
    val st = new Manifest(spark.sparkContext.hadoopConfiguration, db.rootDir).load()
    assert(st.rangeBoundsHex.size == 3 && st.files.exists(_.level == 0) &&
      st.files.count(_.level == 1) >= 2 && st.blobFiles.nonEmpty, st)
    db
  }

  private def noShuffle(what: String, plan: String): Unit =
    Seq("Exchange", "Window", "Sort [").foreach(op =>
      assert(!plan.contains(op), s"the $what plan holds a $op:\n$plan"))

  test("view and scans plan no Exchange, Window or Sort; a prefix scan collects in one job") {
    val db = layeredDb(1L)
    noShuffle("view", db.view().queryExecution.executedPlan.toString)
    Seq(true, false).foreach { asc =>
      val scan = db.scan(prefix = Some(b("b")), ascending = asc)
      noShuffle(s"scan(ascending = $asc)", scan.queryExecution.executedPlan.toString)
    }
    var rows = 0
    val jobs = TestSpark.sparkJobsDuring { rows = db.scan(prefix = Some(b("b1"))).collect().length }
    assert(rows > 0 && jobs == 1, s"a prefix scan of $rows rows ran $jobs jobs")
  }

  test("before a grid exists the merge runs one task per compacted file") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 4))
    (0 until 4).foreach(i => db.batchSet((0 until 40).map(j => KVEntry(b(f"k$j%03d"), b(s"v$i")))))
    db.compact()
    val files = db.stats()("dataSegments")
    assert(db.gridBounds().isEmpty && files >= 2, db.stats())
    val view = db.view()
    assert(view.rdd.getNumPartitions == files)
    assert(view.collect().map(r => new String(r.getAs[Array[Byte]]("value"))).toSet == Set("v3"))
  }

  test("compaction is one map-only job: no shuffle bytes, no Exchange or Window in its write") {
    val db = layeredDb(2L)
    val before = viewMap(db)
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    var jobs = 0
    val shuffled =
      try TestSpark.shuffleBytesDuring { jobs = TestSpark.sparkJobsDuring(db.compact()) }
      finally spark.listenerManager.unregister(listener)
    assert(db.stats()("level0Segments") == 0L)
    assert(viewMap(db) == before)
    assert(shuffled == 0L && jobs == 1, s"compaction shuffled $shuffled bytes in $jobs jobs")
    val writes = plans.asScala.filter(_.contains("InsertIntoHadoopFsRelationCommand")).toSeq
    assert(writes.size == 1, plans.asScala.mkString("\n\n"))
    noShuffle("compaction write", writes.head)
  }

  test("iterator over a multi-bucket store equals the view sorted on the driver, both ways") {
    val db = layeredDb(3L)
    val view = viewMap(db).toSeq.sortBy(_._1)
    assert(view.exists(_._2 == b("B" * 20).toSeq), "no blob value is visible")
    for (seek <- Seq(None, Some("a"), Some("b07"), Some("b075"), Some("c19"), Some("e"));
         asc <- Seq(true, false)) {
      val got = db.iterator(asc, seek.map(b)).map(r =>
        new String(r.getAs[Array[Byte]]("key")) -> r.getAs[Array[Byte]]("value").toSeq).toList
      val want =
        if (asc) view.filter { case (k, _) => seek.forall(k >= _) }
        else view.filter { case (k, _) => seek.forall(k <= _) }.reverse
      assert(got == want, s"iterator(ascending = $asc, seek = $seek)")
    }
  }

  test("scans over files of many row groups and pages merge in order both ways") {
    val db = freshDb(GraftOptions(compactTriggerFiles = 1000, rangePartitions = 1))
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = (0 until 1000).map(i => f"r$i%04d")
    import org.apache.spark.sql.types._
    val kv = StructType(Seq(StructField("key", BinaryType), StructField("value", BinaryType)))
    // the writer checks its size every 100 rows: ~100-row row groups and pages
    val saved = Seq("parquet.block.size", "parquet.page.size").map(k => k -> Option(conf.get(k)))
    conf.set("parquet.block.size", "1024"); conf.set("parquet.page.size", "256")
    try db.write(spark.createDataFrame(spark.sparkContext.parallelize(
      keys.map(k => Row(b(k), b(s"v$k"))), 1), kv))
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    db.batchSet(Seq(KVEntry(b("r0500"), b("new")), KVEntry.tombstone(b("r0250"))))
    val rowGroups = new Manifest(conf, db.rootDir).load().files.filter(_.rows == 1000).map { f =>
      val rd = MergeScan.open(conf, graft.store.PartFile(f.path, f.length, None))
      try rd.getRowGroups.size finally rd.close()
    }
    assert(rowGroups.size == 1 && rowGroups.head >= 5, rowGroups)
    val want = keys.filter(_ != "r0250").map(k => k -> (if (k == "r0500") "new" else s"v$k"))
    for ((from, until) <- Seq((None, None), (Some("r0123"), Some("r0877")), (Some("r0499"), Some("r0502")));
         asc <- Seq(true, false)) {
      val got = db.scan(from.map(b), until.map(b), ascending = asc).collect().map(r =>
        new String(r.getAs[Array[Byte]]("key")) -> new String(r.getAs[Array[Byte]]("value"))).toSeq
      val in = want.filter { case (k, _) => from.forall(k >= _) && until.forall(k < _) }
      assert(got == (if (asc) in else in.reverse), s"scan($from, $until, ascending = $asc)")
    }
  }

  test("a data file whose keys are out of order fails the view, naming the file") {
    val db = freshDb()
    db.set(b("m"), b("1"))
    val dir = s"${db.rootDir}/data/unsorted"
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(b("b"), b("2"), 1L, 0L, false, null), Row(b("a"), b("3"), 1L, 0L, false, null)), 1),
      KVEntry.schema).write.parquet(dir)
    val part = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).toSeq match {
      case Seq(f) => f
      case fs => fail(s"expected one part file, got $fs")
    }
    new Manifest(spark.sparkContext.hadoopConfiguration, db.rootDir).commit(st => ManifestDelta(
      nextVersion = Some(st.nextVersion + 1), addFiles = Vector(FileMeta(part.getPath, 0,
        Hex.encode(b("a")), Hex.encode(b("b")), 2L, st.nextVersion, part.length))))
    val e = intercept[Exception](db.view().collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains(s"data file ${part.getPath} is not sorted by key"), msgs)
  }

  /** `body`'s result and the `file` paths it opened and created. The
    * recording filesystem serves `file` paths only while it runs: with the
    * cache off, every `getFileSystem` builds a fresh instance of it.
    */
  private def recordingCalls[T](body: => T): (T, Seq[String], Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CallRecordingFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    CallRecordingFileSystem.opens.clear(); CallRecordingFileSystem.creates.clear()
    val out = try body finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    def norm(p: String) = p.replaceFirst("^file:/+", "/")
    (out, CallRecordingFileSystem.opens.asScala.map(norm).toSeq,
      CallRecordingFileSystem.creates.asScala.map(norm).toSeq)
  }

  test("a local batchSet creates no file through Hadoop; a prefix scan opens only what it reads") {
    val db = freshDb(GraftOptions(valueThreshold = 12, compactTriggerFiles = 1000))
    // batch i holds one blob under a<i> (even i) or b<i> (odd i), and c<i>
    val (_, _, creates) = recordingCalls((0 until 6).foreach { i =>
      db.batchSet(Seq(KVEntry(b(s"${if (i % 2 == 0) "a" else "b"}$i"), b("B" * 20)),
        KVEntry(b(s"c$i"), b("inline"))))
    })
    assert(creates.isEmpty, s"batchSet created through Hadoop: $creates")
    val st = new Manifest(spark.sparkContext.hadoopConfiguration, db.rootDir).load()
    assert(st.files.size == 6 && st.blobFiles.size == 6)
    val (rows, opens, _) = recordingCalls(db.scan(prefix = Some(b("a"))).collect())
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("key"))).toSeq == Seq("a0", "a2", "a4"))
    assert(rows.forall(r => new String(r.getAs[Array[Byte]]("value")) == "B" * 20))
    // commit order: batch i wrote data file i and blob file i
    val even = Set(0, 2, 4)
    assert(opens.filter(_.contains("/blobs/")).toSet == even.map(st.blobFiles(_).path))
    assert(opens.filter(_.contains("/data/")).toSet == even.map(st.files(_).path))
  }
}
