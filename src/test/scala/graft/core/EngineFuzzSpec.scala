package graft.core

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Model-based fuzz: a seeded random program of engine operations
  * (batchSet / bulk write / del / TTL / compact / promote / majorCompact /
  * blob GC / vacuum) runs against GraftDB AND an in-memory LWW model; after
  * every step both the merge-on-read view and a point get of every key
  * must equal the model exactly. This is the cross-cutting check the per-feature specs can't
  * give: grid bucketing, L1→L2 promotion, bottom-level-only dead dropping,
  * and per-segment GC all interacting on one keyspace.
  *
  * (The reference's equivalent is its randomized db_test.go round-trips;
  * here the model also tracks tombstone visibility and value routing.)
  */
class EngineFuzzSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")

  // several seeds: one program cannot hit every interleaving of grid
  // refinement, promotion, GC, log compaction, and reopen
  for (seed <- Seq(20260812L, 7L, 424242L))
  test(s"random op program (seed $seed): view == in-memory LWW model at every lifecycle point") {
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory("fuzz").toString
    // targets sized BELOW the ~60-key live set (30/60/120 at multiplier
    // 2), so random compactions really do promote through L2/L3 and the
    // bottom-level-only dead-dropping rule is what the model checks;
    // manifestLogCompactEvery=7 forces several mid-program change-log
    // compactions, so snapshot+replay churn runs UNDER the fuzz too
    val opts = GraftOptions(valueThreshold = 12, compactTriggerFiles = 1000,
      rangePartitions = 4, l1TargetRows = 30, levelSizeMultiplier = 2,
      bucketTargetRows = 60, gcDiscardRatio = 0.3,
      manifestLogCompactEvery = 7)
    var db = new GraftDB(spark, dir, opts)
    val model = scala.collection.mutable.Map.empty[String, String]
    val keyspace = (0 until 60).map(i => f"k$i%03d")
    def randVal(): String = {
      // mix of inline (< 12 bytes) and blob-routed (>= 12 bytes) values
      val n = if (rnd.nextBoolean()) 4 else 20
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }

    def checkView(tag: String): Unit = {
      val got = db.view().collect()
        .map(r => new String(r.getAs[Array[Byte]]("key")) ->
          new String(r.getAs[Array[Byte]]("value"))).toMap
      assert(got == model.toMap, s"view diverged from model after $tag")
      // point-get parity on the whole keyspace: the driver-side resolve
      // through L0/L1/L2, tombstones, expired TTLs and blob derefs
      keyspace.foreach { k =>
        assert(db.get(b(k)).map(new String(_)) == model.get(k), s"get($k) diverged after $tag")
      }
    }

    // mid-program snapshot: pinned state must read the model AS OF the pin,
    // across every later write/compact/GC, until the end of the program
    var snap: Option[(Snapshot, Map[String, String])] = None

    for (step <- 0 until 12) {
      // stateless REOPEN mid-program (before the pin at step 5 — pins are
      // in-process and deliberately die with their instance): the fresh
      // instance must rebuild the exact state from base snapshot + change
      // log replay, and every later op runs against the replayed state
      if (step == 3) { db = new GraftDB(spark, dir, opts); checkView("reopen") }
      if (step == 5) snap = Some((db.snapshot(), model.toMap))
      rnd.nextInt(5) match {
        case 0 => // batchSet of random upserts (last-in-batch wins, like the model fold)
          val entries = (0 until 15).map { _ =>
            val k = keyspace(rnd.nextInt(keyspace.size)); (k, randVal())
          }
          db.batchSet(entries.map { case (k, v) => KVEntry(b(k), b(v)) })
          entries.foreach { case (k, v) => model(k) = v }
        case 1 => // bulk write generation (one commit version; distinct keys)
          val ks = rnd.shuffle(keyspace).take(20)
          val rows = ks.map(k => (k, randVal()))
          import org.apache.spark.sql.types._
          val schema = StructType(Seq(
            StructField("key", BinaryType), StructField("value", BinaryType)))
          db.write(spark.createDataFrame(
            spark.sparkContext.parallelize(
              rows.map { case (k, v) => org.apache.spark.sql.Row(b(k), b(v)) }, 3),
            schema))
          rows.foreach { case (k, v) => model(k) = v }
        case 2 => // deletes (some for keys that exist, some not)
          val ks = (0 until 6).map(_ => keyspace(rnd.nextInt(keyspace.size)))
          ks.foreach { k => db.del(b(k)); model.remove(k) }
        case 3 => // expired-TTL writes become invisible AND shadow older versions
          val k = keyspace(rnd.nextInt(keyspace.size))
          db.set(b(k), b(randVal()), ttlSeconds = -100)
          model.remove(k)
        case 4 => // lifecycle: compaction (includes promotion + grid refine)
          db.compact()
      }
      checkView(s"step $step")
    }
    db.compact(); checkView("final compact")
    assert(db.levelRows(2) + db.levelRows(3) > 0,
      "fuzz never promoted past L1 — targets no longer exercise the tree")
    db.gcBlobs(maxSegments = 100); checkView("blob GC")
    db.majorCompact(); checkView("major compact")
    db.vacuum(); checkView("vacuum")
    // the pinned snapshot survived GC, major compaction AND vacuum (which
    // must skip its files) — and still reads the model as of the pin
    snap.foreach { case (s, frozen) =>
      val got = s.view().collect()
        .map(r => new String(r.getAs[Array[Byte]]("key")) ->
          new String(r.getAs[Array[Byte]]("value"))).toMap
      assert(got == frozen, "snapshot drifted from its pin-time model")
      s.close()
    }
    // engine actually exercised the interesting machinery
    assert(db.gridBounds().nonEmpty, "fuzz never established the grid")
  }
}
