package graft.llmops

import graft.core.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ManifestStore.conf

/** Persisted MinHash-LSH near-dup index: build/append/probe/compact/
  * vacuum lifecycle plus the streaming dedup-at-ingest wire.
  */
class NearDupIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def pairs(df: DataFrame) =
    df.collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("dup_id"),
      r.getAs[Double]("jaccard"))).toSet

  // near-identical docs share every band; unrelated docs share none
  private val base = corpus(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "completely different words about database engines and storage",
    3L -> "graphs stream through windows while aggregates fold quietly")

  test("probe finds exact-jaccard near-dups of indexed docs, ignores novel text") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    val probe = corpus(
      10L -> "the quick brown fox jumps over the lazy dog today", // dup of 1
      11L -> "nothing here resembles any indexed document at all")
    val got = pairs(NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8))
    assert(got === Set((10L, 1L, 1.0)))
    // a lower threshold still verifies with EXACT jaccard values
    val loose = pairs(NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.0))
    assert(loose.forall { case (_, _, j) => j >= 0.0 && j <= 1.0 })
  }

  test("append extends the probe domain; replayed tags are fenced") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-app").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    assert(NearDupIndex.appendToNearDupIndex(idx,
      corpus(4L -> "fresh appended content with its own distinct words"),
      batchTag = Some("0")))
    // replay: nothing written, no duplicate rows to inflate candidates
    assert(!NearDupIndex.appendToNearDupIndex(idx,
      corpus(4L -> "fresh appended content with its own distinct words"),
      batchTag = Some("0")))
    val probe = corpus(20L -> "fresh appended content with its own distinct words")
    assert(pairs(NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8))
      === Set((20L, 4L, 1.0)))
  }

  test("compaction folds roots to one per side and keeps probes identical") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-fold").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    (0 until 4).foreach { i =>
      assert(NearDupIndex.appendToNearDupIndex(idx,
        corpus((10L + i) -> s"unique appended document number $i with padding words"),
        batchTag = Some(i.toString)))
    }
    val probe = corpus(
      30L -> "the quick brown fox jumps over the lazy dog today",
      31L -> "unique appended document number 2 with padding words")
    val pre = pairs(NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8))
    assert(pre.map(p => (p._1, p._2)) === Set((30L, 1L), (31L, 12L)))
    assert(NearDupIndex.compactNearDupIndex(spark, idx))
    val m = NearDupIndex.store.read(conf(spark), idx).get
    assert(m.bands.size === 1 && m.shingles.size === 1 && m.tagHighWater === 3L)
    assert(pairs(NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8)) === pre)
    assert(!NearDupIndex.compactNearDupIndex(spark, idx)) // nothing left
    assert(NearDupIndex.vacuumNearDupIndex(spark, idx, minAgeMs = 0L) > 0)
    assert(pairs(NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8)) === pre)
  }

  test("probe agrees with the batch operator on a shared corpus") {
    // every near-dup pair the BATCH operator reports within (corpus +
    // probe) that crosses the probe/corpus split must surface in the
    // indexed probe too, with the identical exact jaccard
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpusSide = docs.filter(col("doc_id") % 13 =!= 5)
    val probeSide = docs.filter(col("doc_id") % 13 === 5)
    val idx = java.nio.file.Files.createTempDirectory("ndidx-batch").toString
    NearDupIndex.buildNearDupIndex(corpusSide, idx, numBuckets = 16)
    val got = pairs(NearDupIndex.probeNearDupIndex(spark, idx, probeSide, threshold = 0.8))
    val batch = Dedup.minhashLshPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    val crossing = batch.flatMap { case (a, b, j) =>
      (a % 13 == 5, b % 13 == 5) match {
        case (true, false) => Some((a, b, j))
        case (false, true) => Some((b, a, j))
        case _ => None
      }
    }
    assert(crossing.nonEmpty, "test premise: the split must produce crossing pairs")
    assert(crossing.subsetOf(got),
      s"indexed probe missed batch-operator pairs: ${crossing -- got}")
  }

  test("manifest stamp-cache: repeated probes on an unchanged index parse once") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-stamp").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    val probe = corpus(10L -> "the quick brown fox jumps over the lazy dog today")
    NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8).collect()
    val before = NearDupIndex.store.parses.get()
    (0 until 5).foreach { _ =>
      NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8).collect()
    }
    assert(NearDupIndex.store.parses.get() === before,
      "unchanged index re-parsed its manifest on repeated probes")
    // a mutation restamps: the next probe parses exactly once more
    assert(NearDupIndex.appendToNearDupIndex(idx,
      corpus(4L -> "new content"), batchTag = Some("s0")))
    val afterAppend = NearDupIndex.store.parses.get()
    NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.8).collect()
    assert(NearDupIndex.store.parses.get() === afterAppend + 1)
  }

  test("empty-text docs index nothing and probe nothing") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-empty").toString
    NearDupIndex.buildNearDupIndex(corpus(1L -> ""), idx, numBuckets = 8)
    assert(NearDupIndex.store.read(conf(spark), idx).get.bands.isEmpty)
    // probing an EMPTY index returns an empty, well-typed frame
    val out = NearDupIndex.probeNearDupIndex(spark, idx,
      corpus(2L -> "some words"), threshold = 0.5)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("probe_id", "dup_id", "jaccard"))
    assert(!NearDupIndex.appendToNearDupIndex(idx, corpus(3L -> ""), batchTag = Some("0")))
  }

  test("streaming ingest: cross-batch and within-batch dups land in pairsOut") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("ndidx-stream").toString
    val out = java.nio.file.Files.createTempDirectory("ndidx-pairs").toString + "/pairs"
    NearDupIndex.buildNearDupIndex(corpus(), idx, numBuckets = 8) // empty start
    val mem = MemoryStream[(Long, String)]
    val docsStream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = graft.streaming.EventStream.ingestToNearDupIndex(
      docsStream, idx,
      java.nio.file.Files.createTempDirectory("ndidx-ckpt").toString,
      out, threshold = 0.8)
    try {
      mem.addData(1L -> "the quick brown fox jumps over the lazy dog today",
        2L -> "unrelated text about storage engines and compaction")
      q.processAllAvailable()
      // batch 2: one cross-batch dup (of 1) and two within-batch dups
      mem.addData(3L -> "the quick brown fox jumps over the lazy dog today",
        4L -> "windows fold aggregates over quiet streams tonight",
        5L -> "windows fold aggregates over quiet streams tonight")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select(col("probe_id"), col("dup_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3 duplicates 1 (cross-batch; 1 is never a probe so only this
    // direction exists); 4/5 duplicate each other (within-batch, both
    // directions since both probe)
    assert(got === Set((3L, 1L), (4L, 5L), (5L, 4L)), s"unexpected pair set: $got")
  }

  private val dupProbe = corpus(
    40L -> "the quick brown fox jumps over the lazy dog today",      // dup of 1
    41L -> "completely different words about database engines and storage") // dup of 2

  test("delete: tombstoned docs stop matching immediately; others unaffected") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-del").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    assert(pairs(NearDupIndex.probeNearDupIndex(spark, idx, dupProbe, threshold = 0.8))
      .map(p => (p._1, p._2)) === Set((40L, 1L), (41L, 2L)))
    assert(NearDupIndex.deleteFromNearDupIndex(idx, Seq(1L).toDF("doc_id")) === 1L)
    val after = pairs(NearDupIndex.probeNearDupIndex(spark, idx, dupProbe, threshold = 0.8))
    assert(after.map(p => (p._1, p._2)) === Set((41L, 2L)), s"unexpected: $after")
    val m = NearDupIndex.store.read(conf(spark), idx).get
    assert(m.nDocs === 3L && m.nDeleted === 1L && m.tombs.size === 1)
  }

  test("delete: replays and unknown ids change nothing and write nothing") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-del2").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    assert(NearDupIndex.deleteFromNearDupIndex(idx, Seq(1L).toDF("doc_id")) === 1L)
    val m1 = NearDupIndex.store.read(conf(spark), idx).get
    // re-delete + unknown id: 0 newly dead, no new tomb root, manifest unmoved
    assert(NearDupIndex.deleteFromNearDupIndex(idx, Seq(1L, 999L).toDF("doc_id")) === 0L)
    assert(NearDupIndex.store.read(conf(spark), idx).get === m1)
  }

  test("delete survives the fold as a physical purge; counts and tombs reset") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-del3").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    assert(NearDupIndex.appendToNearDupIndex(idx,
      corpus(4L -> "fresh appended content with its own distinct words"),
      batchTag = Some("0")))
    assert(NearDupIndex.deleteFromNearDupIndex(idx, Seq(1L).toDF("doc_id")) === 1L)
    assert(NearDupIndex.compactNearDupIndex(spark, idx))
    val m = NearDupIndex.store.read(conf(spark), idx).get
    assert(m.tombs.isEmpty && m.nDocs === 3L && m.nDeleted === 0L)
    // post-purge probes equal an index never containing doc 1
    val after = pairs(NearDupIndex.probeNearDupIndex(spark, idx, dupProbe, threshold = 0.8))
    assert(after.map(p => (p._1, p._2)) === Set((41L, 2L)))
    // the physical rows are gone, not just subtracted
    val bands = spark.read.parquet(s"$idx/${m.bands.head}")
    assert(bands.filter(col("id") === 1L).count() === 0L)
    // deleting EVERY remaining doc leaves a probe-able empty-result index
    assert(NearDupIndex.deleteFromNearDupIndex(idx,
      Seq(2L, 3L, 4L).toDF("doc_id")) === 3L)
    assert(pairs(NearDupIndex.probeNearDupIndex(spark, idx, dupProbe, threshold = 0.0)).isEmpty)
  }

  test("CDC stream: interleaved set/del batches; deleted docs stop pairing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("ndidx-cdc").toString
    val out = java.nio.file.Files.createTempDirectory("ndidx-cdc-pairs").toString + "/pairs"
    NearDupIndex.buildNearDupIndex(corpus(), idx, numBuckets = 8)
    val mem = MemoryStream[(String, Long, String)]
    val ops = mem.toDF().select(col("_1").as("op"), col("_2").as("doc_id"), col("_3").as("text"))
    val q = graft.streaming.EventStream.ingestCdcToNearDupIndex(ops, idx,
      java.nio.file.Files.createTempDirectory("ndidx-cdc-ckpt").toString,
      out, threshold = 0.8)
    try {
      mem.addData(("set", 1L, "the quick brown fox jumps over the lazy dog today"),
        ("set", 2L, "unrelated text about storage engines and compaction"))
      q.processAllAvailable()
      // batch 1: doc 3 duplicates doc 1 — but doc 1 is deleted in the
      // SAME batch (delete applies before the probe): no pair emitted.
      // Doc 4 is set AND deleted in-batch: del wins on both sides.
      mem.addData(("set", 3L, "the quick brown fox jumps over the lazy dog today"),
        ("del", 1L, ""),
        ("set", 4L, "unrelated text about storage engines and compaction"),
        ("del", 4L, ""))
      q.processAllAvailable()
      // batch 2: doc 5 duplicates the LIVE doc 3 (pair emitted) and the
      // dead docs 1/4 (suppressed)
      mem.addData(("set", 5L, "the quick brown fox jumps over the lazy dog today"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select(col("probe_id"), col("dup_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((5L, 3L)), s"unexpected pair set: $got")
    val m = NearDupIndex.store.read(conf(spark), idx).get
    assert(m.nDeleted === 2L && m.tagHighWater === 2L)
    // probing after the physical purge converges to the same answer
    assert(NearDupIndex.compactNearDupIndex(spark, idx))
    val probe = pairs(NearDupIndex.probeNearDupIndex(spark, idx,
      corpus(50L -> "the quick brown fox jumps over the lazy dog today"), threshold = 0.8))
    assert(probe.map(p => (p._1, p._2)) === Set((50L, 3L), (50L, 5L)))
  }

  test("randomized append/delete/fold/vacuum interleavings match a fresh build (seeded fuzz)") {
    // the delete lifecycle's strongest evidence (the text/IVF fuzz
    // standard): after ANY interleaving of appends, deletes (live, dead,
    // and unknown ids), folds, maintenance, and vacuums, probing the
    // evolved index equals probing a FRESH index built from the model's
    // live corpus — banding is deterministic, so the pair sets must be
    // IDENTICAL, not merely similar
    val rnd = new scala.util.Random(20260813)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def text(seed: Int): String =
      (0 until 8).map(i => vocab((seed + i * 3) % vocab.size)).mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("ndidx-fuzz").toString
    NearDupIndex.buildNearDupIndex(corpus(), idx, numBuckets = 8)
    var model = Map.empty[Long, String]
    var nextId = 100L
    var tag = 0
    val probe = corpus(900L -> text(0), 901L -> text(4), 902L -> "nothing shared here at all")
    for (step <- 1 to 18) {
      rnd.nextInt(5) match {
        case 0 | 1 => // append 1-3 new docs (some near-dups of history)
          val docs = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val id = nextId; nextId += 1
            id -> text(rnd.nextInt(7))
          }
          model ++= docs
          assert(NearDupIndex.appendToNearDupIndex(idx, corpus(docs: _*),
            batchTag = Some(tag.toString)))
          tag += 1
        case 2 => // delete a mix of live, dead, and unknown ids
          val live = model.keys.toVector.sorted
          val victims = (rnd.shuffle(live).take(rnd.nextInt(3)) ++
            Seq(55555L) ++ rnd.shuffle(live).take(1)).distinct
          val newlyDead = victims.count(model.contains)
          assert(NearDupIndex.deleteFromNearDupIndex(idx,
            victims.toDF("doc_id")) === newlyDead)
          model --= victims
        case 3 => NearDupIndex.compactNearDupIndex(spark, idx)
        case 4 =>
          NearDupIndex.maintainNearDupIndex(spark, idx)
          NearDupIndex.vacuumNearDupIndex(spark, idx, minAgeMs = 0L)
      }
      if (step % 6 == 0 || step == 18) {
        val fresh = java.nio.file.Files.createTempDirectory("ndidx-fuzz-ref").toString
        NearDupIndex.buildNearDupIndex(corpus(model.toSeq: _*), fresh, numBuckets = 8)
        val got = pairs(NearDupIndex.probeNearDupIndex(spark, idx, probe, threshold = 0.5))
        val want = pairs(NearDupIndex.probeNearDupIndex(spark, fresh, probe, threshold = 0.5))
        assert(got === want, s"step $step: evolved=$got fresh=$want (live=${model.keys.toSeq.sorted})")
      }
    }
  }

  test("maintainNearDupIndex folds on dead ratio and on root pileup") {
    val idx = java.nio.file.Files.createTempDirectory("ndidx-maint").toString
    NearDupIndex.buildNearDupIndex(base, idx, numBuckets = 8)
    // below both thresholds: no fold
    assert(!NearDupIndex.maintainNearDupIndex(spark, idx, foldRootsAbove = 4,
      deadRatio = 0.5))
    // 1 of 3 dead = 0.33 >= 0.25 default: folds and purges
    assert(NearDupIndex.deleteFromNearDupIndex(idx, Seq(3L).toDF("doc_id")) === 1L)
    assert(NearDupIndex.maintainNearDupIndex(spark, idx))
    assert(NearDupIndex.store.read(conf(spark), idx).get.tombs.isEmpty)
    // root pileup path: 5 appends > foldRootsAbove=4
    (0 until 5).foreach { i =>
      assert(NearDupIndex.appendToNearDupIndex(idx,
        corpus((50L + i) -> s"padding text for append number $i here"),
        batchTag = Some(i.toString)))
    }
    assert(NearDupIndex.maintainNearDupIndex(spark, idx, foldRootsAbove = 4))
    assert(NearDupIndex.store.read(conf(spark), idx).get.bands.size === 1)
  }
}
