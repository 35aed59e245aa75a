package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import graft.core.{GraftDB, KVEntry}

/** The engine's whole API on one `GraftDB` with default options: Zipf
  * gets, gets of absent keys inside the key range, small batchSet commits
  * with deletes and TTL entries (every `compactTriggerFiles`-th commit
  * compacts inline) and prefix scans of about 75 keys. Every answer is
  * checked against the benchmark's own last-writer-wins model.
  *
  * Key slots are `k0000000`..; slots with `i % 4 == 3` are never written,
  * so a get on them is an in-range miss that the manifest min/max cannot
  * prune. About 5% of preloaded values are 1200 bytes, over the 1024-byte
  * blob threshold; every commit writes exactly one such value and every
  * cycle reads exactly one.
  */
final class KvMixed(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean)
    extends Workload {
  import KvMixed._

  private val n = 10000
  private val present = (0 until n).filter(_ % 4 != 3).toArray
  private val gen = new Array[Int](n) // model: -1 = deleted, else the live generation
  private val zipf = new Zipf(present.length, 0.99)
  private var db: GraftDB = _
  private var dir: String = _

  // layer figures of the timed phase
  private var timed = false
  private var userBytes = 0L
  private var compactions = 0L
  private var segSum, l0Sum, samples = 0L

  def setup(d: String): Unit = {
    java.util.Arrays.fill(gen, 0)
    val rows = present.toSeq.map(i => Row(key(i), value(i, 0)))
    val schema = StructType(Seq(StructField("key", BinaryType, nullable = false),
      StructField("value", BinaryType, nullable = false)))
    db = new GraftDB(spark, d)
    db.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
    dir = d
  }

  private def slotOf(rank: Int): Int = present(((rank.toLong * 1000003L) % present.length).toInt)

  private def get(i: Int, tpe: String): Op = Op(tpe, "read", () => {
    val got = db.get(key(i))
    val want = if (gen(i) < 0 || i % 4 == 3) None else Some(value(i, gen(i)))
    got.map(_.toSeq) == want.map(_.toSeq)
  })

  /** A get of a live key whose current value is (or is not) a blob. The
    * key is drawn when the call runs (microseconds), from the model's state
    * at that point, so every cycle reads the same number of blob values
    * whatever the seed.
    */
  private def hit(opSeed: Long, blob: Boolean): Op = Op("get_hit", "read", () => {
    val r = new java.util.Random(opSeed)
    val i = Iterator.continually(slotOf(zipf.sample(r))).take(1000000)
      .find(i => gen(i) >= 0 && isBlob(i, gen(i)) == blob)
      .getOrElse(throw new IllegalStateException(s"no live key with blob=$blob"))
    get(i, "get_hit").run()
  })

  /** The next generation after `g` whose value is (or is not) a blob. */
  private def nextGen(i: Int, g: Int, blob: Boolean): Int =
    Iterator.from((g max 0) + 1).find(x => isBlob(i, x) == blob).get

  /** A batchSet of 16 entries: 12 sets (exactly one with a blob value, two
    * with a TTL) and 2 deletes.
    */
  private def write(rnd: java.util.Random): Op = {
    val picks = (0 until 16).map(_ => slotOf(zipf.sample(rnd)))
    Op("write", "write", () => {
      val entries = picks.zipWithIndex.map { case (i, j) =>
        if (j % 8 == 7) (i, -1, KVEntry.tombstone(key(i)))
        else {
          val g = nextGen(i, gen(i), blob = j == 0)
          val v = value(i, g)
          (i, g, if (j % 8 == 3) KVEntry.withTTL(key(i), v, 3600L) else KVEntry(key(i), v))
        }
      }
      val l0 = if (timed && traced) db.stats()("level0Segments") else 0L
      db.batchSet(entries.map(_._3))
      entries.foreach { case (i, g, e) =>
        gen(i) = g
        if (timed) userBytes += e.key.length + Option(e.value).map(_.length).getOrElse(0)
      }
      if (timed && traced && db.stats()("level0Segments") <= l0) compactions += 1
      true
    })
  }

  private def scan(i: Int): Op = {
    val base = i / 100 * 100
    val prefix = new String(key(i), UTF_8).dropRight(2).getBytes(UTF_8)
    Op("scan", "scan", () => {
      val got = db.scan(prefix = Some(prefix)).collect()
        .map(r => (new String(r.getAs[Array[Byte]]("key"), UTF_8), r.getAs[Array[Byte]]("value").toSeq))
      val want = (base until base + 100).filter(j => j % 4 != 3 && gen(j) >= 0)
        .map(j => (new String(key(j), UTF_8), value(j, gen(j)).toSeq))
      got.toSeq == want
    })
  }

  /** One cycle of 12 calls: 4 hits (one of them on a blob value), 3
    * misses, 4 commits, 1 scan, in a seeded order. Two cycles hold 8
    * commits, i.e. one inline compaction.
    */
  private def cycles(count: Int, salt: Long): Iterator[Op] = {
    val rnd = new java.util.Random(seed * 1000003L + salt)
    val mix = Seq(4) ++ Seq.fill(3)(0) ++ Seq.fill(3)(1) ++ Seq.fill(4)(2) ++ Seq(3)
    Iterator.range(0, count).flatMap { _ =>
      val kinds = new java.util.ArrayList[Int]()
      mix.foreach(kinds.add)
      java.util.Collections.shuffle(kinds, rnd)
      val ops = (0 until kinds.size).map(k => kinds.get(k) match {
        case 0 => hit(rnd.nextLong(), blob = false)
        case 4 => hit(rnd.nextLong(), blob = true)
        case 1 => get(rnd.nextInt(n / 4) * 4 + 3, "get_miss")
        case 2 => write(rnd)
        case _ => scan(slotOf(zipf.sample(rnd)))
      })
      ops.iterator.map(sampled)
    }
  }

  private def sampled(op: Op): Op = if (!traced) op else Op(op.tpe, op.cls, () => {
    val ok = op.run()
    if (timed) {
      val st = db.stats()
      segSum += st("dataSegments"); l0Sum += st("level0Segments"); samples += 1
    }
    ok
  })

  def warmOps(): Iterator[Op] = cycles(warmCycles, 1L)
  def timedOps(): Iterator[Op] = { timed = true; cycles(timedCycles(seconds), 2L) }

  private def modelHash(): Long = present.iterator.filter(gen(_) >= 0)
    .map(i => rowHash(key(i), value(i, gen(i)))).sum

  private def viewHash(d: GraftDB): Long = d.view().select("key", "value").collect()
    .iterator.map(r => rowHash(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))).sum

  def finalChecks(): Seq[(String, Boolean)] = {
    val want = modelHash()
    Seq("kv_view_hash" -> (viewHash(db) == want),
      "kv_view_hash_after_reopen" -> (viewHash(new GraftDB(spark, dir)) == want))
  }

  def report(): Map[String, Any] = {
    val live = present.iterator.filter(gen(_) >= 0)
      .map(i => key(i).length + value(i, gen(i)).length.toLong).sum
    val manifest = Seq("MANIFEST.json", "MANIFEST.log")
      .map(f => new java.io.File(s"$dir/$f")).filter(_.exists).map(_.length).sum
    Map("keys" -> present.length, "disk_bytes" -> Files.du(dir), "live_bytes" -> live,
      "user_bytes_written" -> userBytes, "compactions" -> compactions,
      "segments_mean" -> (if (samples > 0) segSum.toDouble / samples else 0.0),
      "l0_segments_mean" -> (if (samples > 0) l0Sum.toDouble / samples else 0.0),
      "manifest_bytes" -> manifest)
  }
}

object KvMixed {
  val warmCycles = 2
  /** Timed cycles for a run of about `seconds` (a cycle takes about 3.5 s):
    * a multiple of 4, so each half holds whole compactions.
    */
  def timedCycles(seconds: Int): Int = 4 * math.max(1, math.round(seconds / 14.0).toInt)

  def key(i: Int): Array[Byte] = f"k$i%07d".getBytes(UTF_8)

  private def mix(i: Int, g: Int): Long = (i.toLong * 1000003L + g) * 0x9E3779B97F4A7C15L | 1L

  /** True for about one (slot, generation) in 20: its value is a blob. */
  def isBlob(i: Int, g: Int): Boolean = java.lang.Long.remainderUnsigned(mix(i, g) >>> 7, 20) == 0

  /** The value of slot `i` at generation `g`: 1200 bytes (over the blob
    * threshold) where [[isBlob]], else 100, filled from a hash of both.
    */
  def value(i: Int, g: Int): Array[Byte] = {
    var x = mix(i, g)
    val len = if (isBlob(i, g)) 1200 else 100
    Array.tabulate(len) { _ =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ('a' + java.lang.Long.remainderUnsigned(x, 26)).toByte
    }
  }

  def rowHash(k: Array[Byte], v: Array[Byte]): Long =
    (MurmurHash3.bytesHash(k).toLong << 32) ^ (MurmurHash3.bytesHash(v) & 0xffffffffL)
}

/** Zipf sampler over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(rnd: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).min(n - 1)
  }
}
