package graft.llmops

import graft.core.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ManifestStore.conf

/** Tombstone deletes on the persisted IVF index — the vector-index twin of
  * TextDeleteSpec: deletes mark (one tombstone root + manifest swap),
  * every read subtracts, and any generation rewrite purges physically.
  */
class IvfDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("delete: tombstoned vectors vanish from every read path; purge is physical") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-del").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    val deadIds = (100L to 140L).toSet
    assert(Similarity.deleteFromIvfIndex(spark, dir,
      deadIds.toSeq.toDF("vec_id")) === deadIds.size.toLong)
    // probe never surfaces a dead id, with every cell probed (output is
    // (query_id, neighbor_id, rank) — select by NAME, a positional read
    // of the rank column made this assertion vacuous once)
    val q = emb.filter(col("vec_id") < 5)
    val hits = Similarity.ivfTopKIndexed(spark, dir, q, k = 10, nProbe = 8)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits.intersect(deadIds).isEmpty, s"dead ids surfaced: ${hits.intersect(deadIds)}")
    // the assignment view subtracts exactly the tombstoned rows
    val total = emb.count()
    assert(Similarity.ivfAssigned(spark, dir).count() === total - deadIds.size)
    // the deleted set equals a probe over an index built WITHOUT those rows
    // (same fit artifacts assumed equal is too strong for kmeans; instead
    // gate that the probe result matches the tombstone-free probe domain)
    val live = Similarity.ivfAssigned(spark, dir)
      .filter(col("neighbor_id").isin(deadIds.toSeq: _*)).count()
    assert(live === 0L)
    // major fold = physical purge: new generation has no dead rows and a
    // tombstone-free manifest
    assert(Similarity.compactIvfAppends(spark, dir)) // tombs force a rewrite
    val m = Similarity.ivfStore.read(conf(spark), dir).get
    assert(m.tombDirs.isEmpty)
    assert(Similarity.ivfAssigned(spark, dir).count() === total - deadIds.size)
    val onDisk = spark.read.parquet(s"$dir/g${m.gen}/assigned")
      .filter(col("neighbor_id").isin(deadIds.toSeq: _*)).count()
    assert(onDisk === 0L)
  }

  test("delete: idempotent replays write nothing; disjoint batches accumulate") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-del-idem").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(7L, 8L).toDF("vec_id")) === 2L)
    val m1 = Similarity.ivfStore.read(conf(spark), dir).get
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(7L, 8L).toDF("vec_id")) === 0L)
    assert(Similarity.ivfStore.read(conf(spark), dir).get === m1, "replay mutated the manifest")
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(8L, 9L).toDF("vec_id")) === 1L)
    assert(Similarity.ivfStore.read(conf(spark), dir).get.tombDirs.size === 2)
  }

  test("delete interacts with appends: sealed batches honor tombstones too") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-del-app").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0), dir, numCentroids = 8)
    Similarity.appendToIvfIndex(spark, dir, emb.filter(col("vec_id") % 2 === 1))
    // delete ids living in BOTH the base table and the sealed append
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(10L, 11L).toDF("vec_id")) === 2L)
    val got = Similarity.ivfAssigned(spark, dir)
      .filter(col("neighbor_id").isin(10L, 11L)).count()
    assert(got === 0L)
    // a minor fold carries tombstones (and the dead rows) verbatim —
    // reads stay correct throughout
    Similarity.appendToIvfIndex(spark, dir, emb.filter(col("vec_id") === 10L)) // contract breach: still dead
    assert(Similarity.ivfAssigned(spark, dir)
      .filter(col("neighbor_id").isin(10L, 11L)).count() === 0L)
  }

  test("IVF-PQ probes honor tombstones through the shared assignment view") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-del").toString
    Similarity.buildIvfPqIndex(emb, dir, numCentroids = 8, m = 8, ksub = 16)
    val deadIds = (200L to 260L).toSet
    assert(Similarity.deleteFromIvfIndex(spark, dir,
      deadIds.toSeq.toDF("vec_id")) === deadIds.size.toLong)
    // the codes-only ADC scan and the exact re-rank both route through
    // ivfAssigned — a dead vector must surface from neither
    val q = emb.filter(col("vec_id") < 5)
    val hits = Similarity.ivfPqTopK(spark, dir, q, k = 10, nProbe = 8, rerank = 50)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits.intersect(deadIds).isEmpty,
      s"ADC path surfaced dead ids: ${hits.intersect(deadIds)}")
    // purge rewrites the generation with codes intact and tombstones gone
    assert(Similarity.compactIvfAppends(spark, dir))
    val m = Similarity.ivfStore.read(conf(spark), dir).get
    assert(m.tombDirs.isEmpty)
    val hits2 = Similarity.ivfPqTopK(spark, dir, q, k = 10, nProbe = 8, rerank = 50)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits2.intersect(deadIds).isEmpty)
  }

  test("delete on a legacy root-layout index refuses loudly") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-del-legacy").toString
    // fabricate a legacy layout: root tables, no MANIFEST.json
    emb.limit(10).select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .withColumn("cell", lit(0))
      .write.partitionBy("cell").parquet(s"$dir/assigned")
    val e = intercept[IllegalStateException] {
      Similarity.deleteFromIvfIndex(spark, dir, Seq(1L).toDF("vec_id"))
    }
    assert(e.getMessage.contains("legacy"))
  }

  test("CDC stream: set/del micro-batches keep the probe domain exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf-del-cdc").toString
    // seed the index (CDC maintains an existing index; the empty-corpus
    // start state is the text index's story, vectors need a fit)
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 400), dir, numCentroids = 8)
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val mem = MemoryStream[(String, Long)]
    val rows = emb.select(col("vec_id").as("__id"), col("embedding"))
    val ops = mem.toDF().select(col("_1").as("op"), col("_2").as("vec_id"))
      .join(rows, col("vec_id") === col("__id"), "left")
      .select(col("op"), col("vec_id"),
        coalesce(col("embedding"), array_repeat(lit(0.0f), dim)).as("embedding"))
    val q = graft.streaming.EventStream.ingestCdcToIvfIndex(ops, dir,
      java.nio.file.Files.createTempDirectory("ivf-del-cdc-ckpt").toString)
    try {
      mem.addData(("set", 450L), ("set", 451L)) // appends
      q.processAllAvailable()
      mem.addData(("del", 450L), ("del", 7L), ("set", 452L)) // mixed batch
      q.processAllAvailable()
    } finally q.stop()
    val ids = Similarity.ivfAssigned(spark, dir).select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(451L) && ids.contains(452L), "appended vectors missing")
    assert(!ids.contains(450L) && !ids.contains(7L), "deleted vectors still visible")
  }

  test("maintainIvfIndex purges once tombstone roots accumulate past maxTombRoots") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-del-maint").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    // two delete batches: below the threshold, maintain does nothing
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(1L).toDF("vec_id")) === 1L)
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(2L).toDF("vec_id")) === 1L)
    assert(!Similarity.maintainIvfIndex(spark, dir, maxTombRoots = 3))
    assert(Similarity.ivfStore.read(conf(spark), dir).get.tombDirs.size === 2)
    // the third root trips the purge even though nothing was ever appended
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(3L).toDF("vec_id")) === 1L)
    assert(Similarity.maintainIvfIndex(spark, dir, maxTombRoots = 3))
    val m = Similarity.ivfStore.read(conf(spark), dir).get
    assert(m.tombDirs.isEmpty)
    assert(Similarity.ivfAssigned(spark, dir)
      .filter(col("neighbor_id").isin(1L, 2L, 3L)).count() === 0L)
  }

  test("drift re-fit survives a CDC delete emptying an entire cell") {
    // the stats/grid pairing's classic failure: deletes hollow out one
    // cell, then a drifted batch triggers a re-fit whose KMeans sees the
    // post-delete population — must neither crash on the empty cell nor
    // resurrect the dead ids (the re-fit generation is the physical purge)
    val dir = java.nio.file.Files.createTempDirectory("ivf-refit-cell").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    val cells = Similarity.ivfAssigned(spark, dir)
      .groupBy("cell").count().orderBy(desc("count")).collect()
    val victim = cells.head.getInt(0)
    val deadIds = Similarity.ivfAssigned(spark, dir)
      .filter(col("cell") === victim).select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(deadIds.nonEmpty)
    assert(Similarity.deleteFromIvfIndex(spark, dir,
      deadIds.toSeq.toDF("vec_id")) === deadIds.size.toLong)
    // a far-away outlier batch with a hair-trigger refitFactor forces the
    // drift path through the hollowed index
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val outliers = (9000L to 9007L).map(i =>
      (i, Array.fill(dim)(1e3f + i.toFloat))).toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfIndex(spark, dir, outliers, refitFactor = 1e-9),
      "the outlier batch should have triggered a drift re-fit")
    // fresh generation: tombstones consumed, dead ids physically gone,
    // outliers present, probes serve
    val m = Similarity.ivfStore.read(conf(spark), dir).get
    assert(m.tombDirs.isEmpty, "re-fit generation must carry no tombstones")
    val ids = Similarity.ivfAssigned(spark, dir).select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.intersect(deadIds).isEmpty, "re-fit resurrected deleted vectors")
    assert((9000L to 9007L).forall(ids.contains), "re-fit dropped the drifted batch")
    val hits = Similarity.ivfTopKIndexed(spark, dir,
      emb.filter(col("vec_id") < 3), k = 5, nProbe = 8)
    assert(hits.count() > 0)
  }

  test("drift re-fit survives fewer live rows than k (KMeans k > n)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-refit-kn").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 100), dir, numCentroids = 8)
    // CDC deletes all but three vectors
    val deadIds = (0L until 100L).filterNot(Set(10L, 20L, 30L))
    assert(Similarity.deleteFromIvfIndex(spark, dir,
      deadIds.toDF("vec_id")) === deadIds.size.toLong)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val outliers = Seq((9100L, Array.fill(dim)(1e3f))).toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfIndex(spark, dir, outliers, refitFactor = 1e-9))
    // 4 live vectors, 8 requested centers: Spark ML returns fewer centers;
    // every read path must keep serving
    val live = Similarity.ivfAssigned(spark, dir).select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(live === Set(10L, 20L, 30L, 9100L))
    assert(Similarity.ivfCentroids(spark, dir).count() <= 8L)
    val hits = Similarity.ivfTopKIndexed(spark, dir,
      emb.filter(col("vec_id") === 10), k = 4, nProbe = 8)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits.subsetOf(live) && hits.nonEmpty)
  }

  test("an IVF build over an empty corpus refuses loudly at the boundary") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-empty").toString
    val e = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(emb.limit(0), dir, numCentroids = 4)
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("vacuum reclaims superseded tombstones after the purge, spares live ones") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-del-vac").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    assert(Similarity.deleteFromIvfIndex(spark, dir, Seq(3L).toDF("vec_id")) === 1L)
    // live tombstone: spared even with no age grace
    assert(Similarity.vacuumIvfIndex(spark, dir, minAgeMs = 0L) === 0)
    assert(Similarity.compactIvfAppends(spark, dir)) // purge to a new generation
    // the whole old generation (tombstone included) is now reclaimable
    assert(Similarity.vacuumIvfIndex(spark, dir, minAgeMs = 0L) > 0)
    assert(Similarity.ivfAssigned(spark, dir)
      .filter(col("neighbor_id") === 3L).count() === 0L)
  }
}
