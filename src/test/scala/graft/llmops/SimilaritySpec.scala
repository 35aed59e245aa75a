package graft.llmops

import graft.core.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ManifestStore.conf

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("ivfTopK: shape, no self-matches, and nontrivial recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, numCentroids = 8, nProbe = 3)
      .collect()
    assert(ivf.length == 10 * 5)
    assert(ivf.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val approx = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // random 64-dim corpus, 3/8 cells probed: recall must beat random chance
    assert(recall >= 0.3, s"IVF recall $recall suspiciously low")
  }

  test("persisted IVF index: build once, query path gives same results as inline") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    val queries = emb.filter(col("vec_id") < 5)
    val indexed = Similarity.ivfTopKIndexed(spark, dir, queries, k = 4, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inline = Similarity.ivfTopK(emb, queries, k = 4, numCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(indexed == inline)
    assert(indexed.size == 5 * 4)
  }

  test("appendToIvfIndex: incremental rows are assigned like model.transform and become findable") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    val base = emb.filter(col("vec_id") % 2 === 0)
    val extra = emb.filter(col("vec_id") % 2 === 1)
    Similarity.buildIvfIndex(base, dir, numCentroids = 8, seed = 42L)
    Similarity.appendToIvfIndex(spark, dir, extra)
    // assignment parity: the narrow NearestCentroid map must agree with the
    // (deterministic, seeded) KMeans model's own transform on the same rows
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val fitDf = base.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .withColumn("fv", array_to_vector(col("cv").cast("array<double>")))
    val model = new KMeans().setK(8).setSeed(42L)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(fitDf)
    val want = model.transform(
        extra.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
          .withColumn("fv", array_to_vector(col("cv").cast("array<double>"))))
      .select("neighbor_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.ivfAssigned(spark, dir)
      .join(extra.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"), "left_semi")
      .select("neighbor_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet == want.keySet)
    assert(got == want, "incremental assignment diverged from model.transform")
    // appended vectors are reachable through the normal query path
    val q = extra.limit(3)
    val res = Similarity.ivfTopKIndexed(spark, dir, q, k = 3, nProbe = 8)
    val neighbors = res.collect().map(_.getLong(1)).toSet
    assert(res.count() == 3 * 3)
    assert(neighbors.exists(id => id % 2 == 1), "appended vectors never surfaced as neighbors")
  }

  test("buildIvfIndex fits on a bounded sample but assigns every row") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-sample").toString
    // force the sampled-fit path: 500-row corpus, 100-row fit budget
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8, fitSampleRows = 100)
    val assigned = Similarity.ivfAssigned(spark, dir)
    assert(assigned.count() == emb.count(), "assignment must cover the full corpus, not the fit sample")
    assert(assigned.select("cell").distinct().count() > 1)
    // a sample-fitted quantizer still recalls against brute force
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopKIndexed(spark, dir, queries, k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"sample-fitted IVF recall $recall suspiciously low")
  }

  test("IVF drift trigger: in-distribution append keeps the index, divergent append re-fits") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-drift").toString
    val base = emb.filter(col("vec_id") % 2 === 0)
    Similarity.buildIvfIndex(base, dir, numCentroids = 8, seed = 42L)
    def centroidSnapshot() = Similarity.ivfCentroids(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val c0 = centroidSnapshot()
    // in-distribution batch: the odd half of the same corpus — no re-fit,
    // centroids untouched, rows appended
    val inDist = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 200)
    assert(!Similarity.appendToIvfIndex(spark, dir, inDist),
      "in-distribution append must not trigger a re-fit")
    assert(centroidSnapshot() == c0)
    // divergent batch: every component shifted +10 — mean assignment
    // distance explodes past refitFactor x the fit mean
    val far = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") >= 200)
      .withColumn("vec_id", col("vec_id") + lit(100000L))
      .withColumn("embedding", transform(col("embedding"), x => x + lit(10.0f)))
    assert(Similarity.appendToIvfIndex(spark, dir, far),
      "divergent append must trigger a re-fit")
    val c1 = centroidSnapshot()
    assert(c1.size == 8 && c1 != c0, "re-fit must produce new centroids at the same k")
    // after the re-fit the quantizer covers the new region: shifted queries
    // resolve to shifted neighbors with a SMALL probe count
    val res = Similarity.ivfTopKIndexed(spark, dir, far.limit(3), k = 3, nProbe = 2)
      .collect()
    assert(res.length == 9)
    assert(res.forall(_.getLong(1) >= 100000L),
      s"shifted queries pulled pre-shift neighbors: ${res.mkString(",")}")
  }

  test("IVF generations: re-fit writes a new generation, old one survives until vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-gen").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0), dir, numCentroids = 8)
    assert(Similarity.ivfGeneration(spark, dir).contains(0))
    // force a drift re-fit
    val far = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("vec_id", col("vec_id") + lit(100000L))
      .withColumn("embedding", transform(col("embedding"), x => x + lit(10.0f)))
    assert(Similarity.appendToIvfIndex(spark, dir, far))
    assert(Similarity.ivfGeneration(spark, dir).contains(1),
      "re-fit must commit the next generation")
    // crash-safety evidence: the superseded generation is still on disk for
    // in-flight readers, and the explicit vacuum removes exactly it
    assert(new java.io.File(s"$dir/g0").exists())
    // default grace spares the freshly-written generation (cross-process
    // stage protection); explicit zero-grace reclaims it
    assert(Similarity.vacuumIvfIndex(spark, dir) == 0)
    assert(Similarity.vacuumIvfIndex(spark, dir, minAgeMs = 0L) == 1)
    assert(!new java.io.File(s"$dir/g0").exists())
    assert(new java.io.File(s"$dir/g1").exists())
    // live generation still answers queries after vacuum
    assert(Similarity.ivfTopKIndexed(spark, dir, far.limit(2), k = 3, nProbe = 8).count() == 6)
  }

  test("lshTopK returns ranked neighbors from matching buckets only") {
    val out = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
      bucketBits = 4).collect()
    assert(out.nonEmpty)
    val byQuery = out.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val ranks = rows.map(_.getLong(2)).sorted.toSeq
      assert(ranks == (1L to ranks.length))
    }
  }

  test("multi-probe LSH recall floor: >= 0.15 vs brute force at 6 bits") {
    // quantitative regression gate (VERDICT r1 #6): the pre-multi-probe
    // implementation measured 0.02 recall here; multi-probe measures ~0.18
    // on this corpus. A regression to single-bucket probing fails the floor.
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, queries, k = 5, bucketBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.15, s"multi-probe LSH recall $recall below floor 0.15")
  }

  test("IVF recall floor: >= 0.3 vs brute force at 3/8 probes") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, numCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall below floor 0.3")
  }

  test("PQ codes: m entries, each within [0, ksub); encoding is deterministic") {
    val cb = Similarity.fitPqCodebooks(emb, m = 8, ksub = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16) && cb.forall(_.forall(_.length == 8)))
    import graft.functions.expressions.VectorExpressions
    val codes = emb.select(VectorExpressions.pq_encode(col("embedding"), cb).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(j => j >= 0 && j < 16)))
    // same seed + same sample → identical codebooks (bit-for-bit)
    val cb2 = Similarity.fitPqCodebooks(emb, m = 8, ksub = 16)
    assert(cb.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq)
  }

  test("PQ ADC score equals the hand-computed lut sum on a known vector") {
    import graft.functions.expressions.PqExpressions
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // 2 subspaces of 2 dims, 2 centroids each; unnormalized for hand-math
    val cb = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(0.5, 0.5), Array(-0.5, 0.5)))
    val v = new GenericArrayData(Array(0.9, 0.1, 0.4, 0.6))
    val codes = PqExpressions.encode(v, cb, isFloat = false, normalize = false)
    assert(codes.toIntArray().toSeq == Seq(0, 0)) // (0.9,0.1)->(1,0); (0.4,0.6)->(0.5,0.5)
    val lut = PqExpressions.queryLut(v, cb, isFloat = false, normalize = false)
    val adc = PqExpressions.adcDot(codes, lut)
    // dot((0.9,0.1),(1,0)) + dot((0.4,0.6),(0.5,0.5)) = 0.9 + 0.5
    assert(math.abs(adc - 1.4) < 1e-12)
  }

  test("IVF-PQ index: layout carries codebooks + codes; query hits the recall floor") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-idx").toString
    Similarity.buildIvfPqIndex(emb, dir, numCentroids = 8, m = 8, ksub = 16)
    val cb = Similarity.readIvfCodebooks(spark, dir)
    assert(cb.isDefined && cb.get.length == 8 && cb.get.forall(_.length == 16))
    val assigned = Similarity.ivfAssigned(spark, dir)
    assert(assigned.columns.toSet == Set("neighbor_id", "cv", "code", "cell"))
    val queries = emb.filter(col("vec_id") < 10)
    val rows = Similarity.ivfPqTopK(spark, dir, queries, k = 5, nProbe = 3, rerank = 50)
      .collect()
    assert(rows.length == 10 * 5)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // bounded by the IVF probe (3/8 cells), like the plain-IVF floor
    assert(recall >= 0.3, s"IVF-PQ recall $recall below floor 0.3")
    // a plain-IVF index must refuse the PQ query path loudly
    val plainDir = java.nio.file.Files.createTempDirectory("ivfpq-plain").toString
    Similarity.buildIvfIndex(emb, plainDir, numCentroids = 8)
    intercept[IllegalStateException] {
      Similarity.ivfPqTopK(spark, plainDir, queries, k = 5)
    }
  }

  test("IVF-PQ append: batch rows are PQ-coded and findable through the ADC path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-append").toString
    val base = emb.filter(col("vec_id") < 400)
    Similarity.buildIvfPqIndex(base, dir, numCentroids = 8, m = 8, ksub = 16)
    val extra = emb.filter(col("vec_id") >= 400)
    val refit = Similarity.appendToIvfIndex(spark, dir, extra)
    assert(!refit, "in-distribution append should not trigger a re-fit")
    // every appended row carries a code of the right shape
    val appended = Similarity.ivfAssigned(spark, dir)
      .filter(col("neighbor_id") >= 400)
    assert(appended.count() == extra.count())
    assert(appended.filter(size(col("code")) =!= 8).count() == 0)
    // an appended vector's own near-identical twin ranks first: query WITH
    // an appended row's vector; its nearest (non-self) neighbors must come
    // back through the full ADC + re-rank path without schema errors
    val q = emb.filter(col("vec_id") === 450)
    val top = Similarity.ivfPqTopK(spark, dir, q, k = 3, nProbe = 8, rerank = 20)
      .collect()
    assert(top.length == 3)
    assert(top.forall(_.getAs[Long]("query_id") == 450L))
  }

  test("cross-process guard: a commit staged against a stale manifest aborts loudly") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-guard").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 100), dir, numCentroids = 4)
    val before = Similarity.ivfStore.read(conf(spark), dir)
    // a "foreign" writer seals an append batch — the manifest moves
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150))
    val moved = Similarity.ivfStore.read(conf(spark), dir)
    assert(moved != before, "append did not move the manifest")
    // a writer that staged against the PRE-append snapshot must abort,
    // leaving the moved manifest exactly as the foreign writer wrote it
    intercept[IllegalStateException] {
      Similarity.ivfStore.commitIfUnchanged(conf(spark), dir, before, Similarity.IvfManifest(99))
    }
    assert(Similarity.ivfStore.read(conf(spark), dir) == moved,
      "aborted commit must not touch the manifest")
    // and the index remains fully queryable
    assert(Similarity.ivfTopKIndexed(spark, dir, emb.limit(2), k = 2, nProbe = 4)
      .count() == 4)
  }

  test("filtered ANN composes: pre-filtered brute force == semi-join-filtered IVF probe domain") {
    // metadata-filtered search ("only label 3 docs") needs no index
    // support: pre-filter the corpus for the exact path, or semi-join the
    // assigned table by the allowed ids for the index path — both keep
    // their plan shapes (broadcast pre-filter / cell pruning + semi-join)
    val queries = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("label") === 3)
    val exact = Similarity.bruteForceTopK(allowed, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 15)
    val allowedIds = allowed.select(col("vec_id").as("neighbor_id"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-filtered").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    val assignedFiltered = Similarity.ivfAssigned(spark, dir)
      .join(broadcast(allowedIds), Seq("neighbor_id"), "left_semi")
    // every filtered-index candidate is from the allowed set
    assert(assignedFiltered.join(allowed.select(col("vec_id").as("neighbor_id")),
      Seq("neighbor_id"), "left_anti").count() == 0)
    // and the probe path over the filtered domain returns only allowed ids
    val lab = allowed.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val dirF = java.nio.file.Files.createTempDirectory("ivf-filtered2").toString
    Similarity.buildIvfIndex(allowed, dirF, numCentroids = 8)
    val ivf = Similarity.ivfTopKIndexed(spark, dirF, queries, k = 3, nProbe = 8)
      .collect()
    assert(ivf.length == 15)
    assert(ivf.forall(r => lab.contains(r.getLong(1))))
  }

  test("ivfTopKIndexedFiltered: only allowed ids surface; full probe equals filtered brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("label") === 3)
    val lab = allowed.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivf-opfiltered").toString
    Similarity.buildIvfIndex(emb, dir, numCentroids = 8)
    val part = Similarity.ivfTopKIndexedFiltered(spark, dir, queries, allowed,
      k = 3, nProbe = 2).collect()
    assert(part.nonEmpty && part.forall(r => lab.contains(r.getLong(1))),
      "a disallowed id leaked through the filter")
    // probing EVERY cell makes the filtered probe exhaustive over the
    // allowed set — it must match the brute force over that set exactly
    val full = Similarity.ivfTopKIndexedFiltered(spark, dir, queries, allowed,
        k = 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(allowed, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === exact)
  }

  test("compactIvfAppends folds sealed batches, preserves counts/codes, vacuums clean") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-compact").toString
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 300), dir, numCentroids = 8)
    assert(!Similarity.compactIvfAppends(spark, dir), "nothing to fold yet")
    Similarity.appendToIvfIndex(spark, dir, emb.filter(col("vec_id") >= 300 && col("vec_id") < 400))
    Similarity.appendToIvfIndex(spark, dir, emb.filter(col("vec_id") >= 400))
    val total = emb.count()
    assert(Similarity.ivfAssigned(spark, dir).count() == total)
    // MINOR fold first: two sealed batches become one, generation and
    // base untouched, counts exact, codes intact
    val genPre = Similarity.ivfGeneration(spark, dir).get
    assert(Similarity.compactIvfAppends(spark, dir, includeBase = false))
    assert(Similarity.ivfGeneration(spark, dir).contains(genPre),
      "minor fold must not flip the generation")
    assert(Similarity.ivfStore.read(conf(spark), dir).get.sealedDirs.size == 1)
    assert(Similarity.ivfAssigned(spark, dir).count() == total)
    // one sealed dir left: a second minor fold has nothing to do
    assert(!Similarity.compactIvfAppends(spark, dir, includeBase = false))
    // MAJOR fold collapses everything into the next generation
    assert(Similarity.compactIvfAppends(spark, dir))
    val folded = Similarity.ivfAssigned(spark, dir)
    assert(folded.count() == total)
    assert(folded.filter(size(col("code")) =!= 8).count() == 0)
    // the fit artifacts survived the fold (no re-fit): codebooks readable
    assert(Similarity.readIvfCodebooks(spark, dir).isDefined)
    // old generation + fold debris reclaimed (zero grace: no live writers)
    assert(Similarity.vacuumIvfIndex(spark, dir, minAgeMs = 0L) >= 1)
    assert(folded.count() == total)
  }

  test("ivfPqTopKFiltered: only allowed ids surface; exhaustive probe+rerank equals filtered brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("label") === 3)
    val lab = allowed.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-filtered").toString
    Similarity.buildIvfPqIndex(emb, dir, numCentroids = 8)
    val part = Similarity.ivfPqTopKFiltered(spark, dir, queries, allowed,
      k = 3, nProbe = 2).collect()
    assert(part.nonEmpty && part.forall(r => lab.contains(r.getLong(1))),
      "a disallowed id leaked through the PQ filter")
    // all cells probed + rerank wider than the allowed set ⇒ the exact
    // re-rank re-scores EVERY allowed vector ⇒ equals brute force exactly
    assert(lab.size < 100, s"rerank width must cover the allowed set (${lab.size})")
    val full = Similarity.ivfPqTopKFiltered(spark, dir, queries, allowed,
        k = 3, nProbe = 8, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(allowed, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === exact)
  }

  test("ivf manifest stamp-cache: repeated probes on an unchanged index parse once") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-stamp").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 200), dir, numCentroids = 4)
    Similarity.ivfTopKIndexed(spark, dir, emb.limit(2), k = 2, nProbe = 4).collect()
    val parses0 = Similarity.ivfStore.parses.get()
    (1 to 5).foreach(_ =>
      Similarity.ivfTopKIndexed(spark, dir, emb.limit(2), k = 2, nProbe = 4).collect())
    assert(Similarity.ivfStore.parses.get() === parses0,
      "unchanged index re-parsed its manifest on repeated probes")
    // a mutation moves the stamp and is observed
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 220))
    Similarity.ivfTopKIndexed(spark, dir, emb.limit(2), k = 2, nProbe = 4).collect()
    assert(Similarity.ivfStore.parses.get() > parses0,
      "stamp cache failed to notice a manifest mutation")
  }

  test("fitPqCodebooks rejects (dim, m) combos that leave a subspace empty") {
    // dim=9, m=8 → dsub=2 and the 8th subspace starts at offset 14 > 9:
    // must fail loudly at the precondition, not crash inside a KMeans fit
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val nine = (0 until 40).map(i => (i.toLong, Array.fill(9)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.fitPqCodebooks(nine, m = 8, ksub = 4)
    }
    assert(e.getMessage.contains("subspace"))
    // a valid near-boundary combo still fits: dim=9, m=3 → dsub=3, exact
    val cb = Similarity.fitPqCodebooks(nine, m = 3, ksub = 4)
    assert(cb.length == 3 && cb.forall(_.forall(_.length == 3)))
  }

  test("maintainIvfIndex: minors on slivers, majors only when appends outgrow the base") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-maint").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 400), dir, numCentroids = 8)
    val gen0 = Similarity.ivfGeneration(spark, dir).get
    // two tiny appends: the minor fold runs, the major must not
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 400 && col("vec_id") < 410), refitFactor = 0.0)
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 410 && col("vec_id") < 420), refitFactor = 0.0)
    assert(Similarity.maintainIvfIndex(spark, dir))
    assert(Similarity.ivfGeneration(spark, dir).contains(gen0),
      "maintain majored on a sliver of appends")
    assert(Similarity.ivfStore.read(conf(spark), dir).get.sealedLevels === 1)
    // appends that rival the base cross the size ratio: maintain majors
    // (the corpus is 500 rows — re-shift ids to fabricate bulk appends)
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") < 250)
        .withColumn("vec_id", col("vec_id") + 10000L), refitFactor = 0.0)
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 250)
        .withColumn("vec_id", col("vec_id") + 20000L), refitFactor = 0.0)
    assert(Similarity.maintainIvfIndex(spark, dir, majorSizeRatio = 0.5))
    assert(Similarity.ivfGeneration(spark, dir).contains(gen0 + 1),
      "maintain failed to major once appends outgrew the ratio")
    assert(Similarity.ivfStore.read(conf(spark), dir).get.sealedDirs.isEmpty)
  }

  test("randomized append/compact interleavings keep the assignment table exact (seeded mini-fuzz)") {
    val rnd = new scala.util.Random(4242)
    val dir = java.nio.file.Files.createTempDirectory("ivf-fuzz").toString
    val slices = Seq(
      emb.filter(col("vec_id") < 150),
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 230),
      emb.filter(col("vec_id") >= 230 && col("vec_id") < 300),
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 420),
      emb.filter(col("vec_id") >= 420))
    Similarity.buildIvfIndex(slices.head, dir, numCentroids = 8)
    slices.tail.foreach { b =>
      // refitFactor 0: plain appends — the fuzz targets the seal/fold
      // machinery, not the drift trigger (covered by its own spec).
      // Both fold shapes interleave (minor folds are what the stream
      // actually runs).
      Similarity.appendToIvfIndex(spark, dir, b, refitFactor = 0.0)
      if (rnd.nextBoolean())
        Similarity.compactIvfAppends(spark, dir, includeBase = rnd.nextBoolean())
    }
    Similarity.compactIvfAppends(spark, dir)
    // exactness: the folded table holds EXACTLY the union of appended ids
    val got = Similarity.ivfAssigned(spark, dir)
      .select("neighbor_id").collect().map(_.getLong(0)).sorted
    val want = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq, "fold lost or duplicated rows")
    // and the folded index still answers probes across the whole id space
    val res = Similarity.ivfTopKIndexed(spark, dir, emb.limit(3), k = 3, nProbe = 8)
    assert(res.count() === 9)
  }

  test("PQ recall floor: >= 0.5 vs brute force with 50-candidate exact re-rank") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, queries, k = 5, rerank = 50)
    val rows = pq.collect()
    assert(rows.length == 10 * 5)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // measured 0.72 on this corpus; rerank recovers what 4-bit codes blur
    assert(recall >= 0.5, s"PQ recall $recall below floor 0.5")
    // the exact re-rank must dominate the raw ADC ranking
    val raw = Similarity.pqTopK(emb, queries, k = 5, rerank = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (exact intersect raw).size.toDouble / exact.size
    assert(recall >= rawRecall, s"re-rank ($recall) worse than raw ADC ($rawRecall)")
  }

  test("pcaFit recovers a known dominant axis; basis orthonormal; fits deterministic") {
    import spark.implicits._
    // points spread along (1, 2)/sqrt(5) with small off-axis jitter
    val rnd = new scala.util.Random(7L)
    val rows = (1L to 500L).map { i =>
      val t = rnd.nextGaussian() * 10.0
      val e = rnd.nextGaussian() * 0.1
      (i, Array(t * 1.0 / math.sqrt(5) - e * 2 / math.sqrt(5) + 3.0,
                t * 2.0 / math.sqrt(5) + e * 1 / math.sqrt(5) - 1.0))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(df, "embedding", k = 2)
    val axis = m.components(0)
    assert(math.abs(axis(0) - 1 / math.sqrt(5)) < 0.02 &&
      math.abs(axis(1) - 2 / math.sqrt(5)) < 0.02,
      s"dominant axis ${axis.toSeq} != (1,2)/sqrt(5)")
    assert(math.abs(m.mean(0) - 3.0) < 1.0 && math.abs(m.mean(1) + 1.0) < 1.0)
    // orthonormal basis
    for (a <- m.components.indices; b <- m.components.indices) {
      val dot = m.components(a).zip(m.components(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"basis not orthonormal at ($a,$b): $dot")
    }
    // sign convention kills the eigenvector ambiguity: refits identical
    val m2 = Similarity.pcaFit(df, "embedding", k = 2)
    assert(m.components.flatten.toSeq == m2.components.flatten.toSeq &&
      m.mean.toSeq == m2.mean.toSeq)
  }

  test("randomProject: basis replays an independent MessageDigest reference; projection is the exact mat-vec") {
    import spark.implicits._
    val k = 8; val d = 16; val seed = 99L
    // independent basis reference: MessageDigest directly, no graft code
    val md = java.security.MessageDigest.getInstance("MD5")
    def refSign(c: Int, j: Int): Double = {
      md.reset()
      val hex = md.digest(s"$seed:$c:$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (hex.charAt(0) < '8') 1.0 else -1.0
    }
    val basis = Similarity.randomProjectionBasis(k, d, seed)
    val scale = 1.0 / math.sqrt(k.toDouble)
    for (c <- 0 until k; j <- 0 until d)
      assert(basis(c)(j) == refSign(c, j) * scale, s"basis ($c,$j)")
    // both sign values occur (a constant basis would project to a line)
    assert(basis.flatten.distinct.length == 2)
    // projection equals the driver-side mat-vec bit-for-bit
    val rnd = new scala.util.Random(3L)
    val rows = (1L to 50L).map(i => (i, Array.fill(d)(rnd.nextGaussian())))
    val got = Similarity.randomProject(rows.toDF("vec_id", "v"), "v", k, d, seed)
      .select("vec_id", "rp").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    rows.foreach { case (id, v) =>
      val exp = Array.tabulate(k) { c =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += basis(c)(j) * v(j); j += 1 }
        acc
      }
      assert(got(id).toSeq == exp.toSeq, s"projection differs for $id")
    }
    intercept[IllegalArgumentException](Similarity.randomProjectionBasis(0, d, seed))
    intercept[IllegalArgumentException](Similarity.randomProjectionBasis(k, 0, seed))
  }

  test("randomProject: JL distance preservation on gaussian vectors") {
    import spark.implicits._
    val d = 64; val k = 24
    val rnd = new scala.util.Random(11L)
    val rows = (1L to 40L).map(i => (i, Array.fill(d)(rnd.nextGaussian())))
    val proj = Similarity.randomProject(rows.toDF("vec_id", "v"), "v", k, d, seed = 5L)
      .select("vec_id", "rp").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val orig = rows.toMap
    def sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for (a <- 1L to 40L; b <- (a + 1) to 40L)
      yield sq(proj(a), proj(b)) / sq(orig(a), orig(b))
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.2, s"mean distortion $mean")
    assert(ratios.min > 0.05 && ratios.max < 5.0,
      s"distortion tails ${ratios.min} .. ${ratios.max}")
  }

  test("sqFit/sqEncode/sqDecode: codes in range, half-cell reconstruction, degenerate dims encode 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    // dim 0 constant (degenerate), dim 1 tiny range, dim 2 wide
    val rows = (1L to 200L).map(i =>
      (i, Array(7.5, rnd.nextDouble() * 0.001, rnd.nextGaussian() * 100)))
    val df = rows.toDF("vec_id", "v")
    val m = Similarity.sqFit(df, "v")
    assert(m.d == 3 && m.mins(0) == 7.5 && m.maxs(0) == 7.5)
    val enc = Similarity.sqEncode(df, "v", m)
    val codes = enc.select("vec_id", "sq").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(codes.values.forall(_(0) == 0), "degenerate dim must encode 0")
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    // extremes hit the code range ends
    assert(codes.values.map(_(2)).min == 0 && codes.values.map(_(2)).max == 255)
    // midpoint decode: every element within half a cell of the original
    val dec = enc.withColumn("xhat", Similarity.sqDecode(col("sq"), m))
      .select("vec_id", "v", "xhat").collect()
    dec.foreach { r =>
      val x = r.getSeq[Double](1); val xh = r.getSeq[Double](2)
      for (j <- 1 until 3) { // skip the degenerate dim (decode = midpoint of cell 0)
        val half = (m.maxs(j) - m.mins(j)) / 255.0 / 2.0
        assert(math.abs(x(j) - xh(j)) <= half * (1 + 1e-9) + 1e-12,
          s"dim $j error ${math.abs(x(j) - xh(j))} > half-cell $half")
      }
    }
    // code is monotone in the value within each dim
    val sorted2 = rows.sortBy(_._2(2))
    val codeSeq = sorted2.map(t => codes(t._1)(2))
    assert(codeSeq == codeSeq.sorted, "codes must be monotone in the value")
    intercept[IllegalArgumentException](
      Similarity.sqFit(Seq.empty[(Long, Array[Double])].toDF("vec_id", "v"), "v"))
  }

  test("sq8TopK: near-exact recall with re-rank, shape, no self-matches") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(emb, queries, k = 5, rerank = 20).collect()
    assert(sq.length == 10 * 5)
    assert(sq.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val approx = sq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 8 bits per dim blurs almost nothing; with exact re-rank the SQ8
    // path should essentially reproduce brute force
    assert(recall >= 0.9, s"SQ8 recall $recall below 0.9")
    // no-rerank path still beats chance by a wide margin (pure
    // decoded-midpoint ranking)
    val raw = Similarity.sq8TopK(emb, queries, k = 5, rerank = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (exact intersect raw).size.toDouble / exact.size
    assert(rawRecall >= 0.7, s"raw SQ8 recall $rawRecall below 0.7")
    // a pre-fitted model gives identical results (deterministic fit)
    val m = Similarity.sqFit(emb, "embedding")
    val refit = Similarity.sq8TopK(emb, queries, k = 5, rerank = 20,
      fitted = Some(m)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refit == approx)
  }

  test("sq8 fuzz: codes equal an independent driver-side reference across random shapes/partitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    for (round <- 1 to 8) {
      val n = 5 + rnd.nextInt(80)
      val d = 1 + rnd.nextInt(12)
      val parts = 1 + rnd.nextInt(5)
      val rows = (1L to n).map(i =>
        (i, Array.fill(d)(rnd.nextGaussian() * math.exp(rnd.nextGaussian()))))
      val df = rows.toDF("vec_id", "v").repartition(parts)
      val m = Similarity.sqFit(df, "v")
      val got = Similarity.sqEncode(df, "v", m)
        .select("vec_id", "sq").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
      // independent reference: plain Scala over the raw rows, same ops
      val mins = Array.tabulate(d)(j => rows.map(_._2(j)).min)
      val maxs = Array.tabulate(d)(j => rows.map(_._2(j)).max)
      rows.foreach { case (id, v) =>
        val exp = Array.tabulate(d) { j =>
          if (maxs(j) > mins(j)) {
            val s = 255.0 / (maxs(j) - mins(j))
            math.min(math.max(math.floor((v(j) - mins(j)) * s), 0.0), 255.0).toInt
          } else 0
        }.toSeq
        assert(got(id) == exp, s"round $round (n=$n d=$d parts=$parts) id=$id")
      }
    }
    // non-finite inputs fail the fit loudly, never NaN-poison the codes
    val e = intercept[IllegalArgumentException](Similarity.sqFit(
      Seq((1L, Array(1.0, Double.PositiveInfinity)), (2L, Array(0.5, 2.0)))
        .toDF("vec_id", "v"), "v"))
    assert(e.getMessage.contains("non-finite"), e.getMessage)
  }

  test("sqFit: NULL elements and NULL vectors raise loudly (no silent NULL codes or [0,0] ranges)") {
    // a NULL element would pass a skip-nulls fit yet make sqEncode's
    // zip_with emit a silent NULL code for it — and a dimension NULL in
    // EVERY row would fit range [0, 0] (every code 0, decode 0) with no
    // error anywhere; both must fail at fit like the Inf/NaN case
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    val withNullElem = Seq(
        (1L, Seq[Option[Double]](Some(1.0), None)),
        (2L, Seq[Option[Double]](Some(0.5), Some(2.0))))
      .toDF("vec_id", "v")
    val e1 = intercept[Exception](Similarity.sqFit(withNullElem, "v"))
    assert(msgs(e1).exists(m => m != null && m.contains("sqFit") &&
        m.contains("NULL element")), s"expected the NULL-element guard, got $e1")
    // a dimension that is NULL in every row (the [0,0]-range hole)
    val allNullDim = Seq(
        (1L, Seq[Option[Double]](Some(1.0), None)),
        (2L, Seq[Option[Double]](Some(0.5), None)))
      .toDF("vec_id", "v")
    val e2 = intercept[Exception](Similarity.sqFit(allNullDim, "v"))
    assert(msgs(e2).exists(m => m != null && m.contains("sqFit")), s"got $e2")
    // a NULL whole vector (it would skip the posexplode silently, then
    // resurface as an all-NULL code row at encode)
    val withNullVec = Seq(
        (1L, Seq[Option[Double]](Some(1.0), Some(2.0))),
        (2L, null.asInstanceOf[Seq[Option[Double]]]))
      .toDF("vec_id", "v")
    val e3 = intercept[Exception](Similarity.sqFit(withNullVec, "v"))
    assert(msgs(e3).exists(m => m != null && m.contains("sqFit") &&
        m.contains("NULL vector")), s"expected the NULL-vector guard, got $e3")
    // and a clean fit still succeeds with the guards in the plan
    val m = Similarity.sqFit(
      Seq((1L, Array(1.0, 2.0)), (2L, Array(0.5, 3.0))).toDF("vec_id", "v"), "v")
    assert(m.d == 2 && m.mins(0) == 0.5 && m.maxs(1) == 3.0)
  }

  test("randomProjectionBasis fuzz: random (k, d, seed) all equal the MessageDigest reference") {
    val rnd = new scala.util.Random(55L)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (_ <- 1 to 10) {
      val k = 1 + rnd.nextInt(20)
      val d = 1 + rnd.nextInt(100)
      val seed = rnd.nextLong()
      val basis = Similarity.randomProjectionBasis(k, d, seed)
      val scale = 1.0 / math.sqrt(k.toDouble)
      for (c <- 0 until k; j <- 0 until d) {
        md.reset()
        val b0 = md.digest(s"$seed:$c:$j".getBytes("UTF-8"))(0)
        val exp = if ((b0 & 0x80) == 0) scale else -scale
        assert(basis(c)(j) == exp, s"k=$k d=$d seed=$seed cell ($c,$j)")
      }
    }
  }

  test("SQ model persistence: byte-identical roundtrip; graft_sq8 TVF equals the API") {
    import spark.implicits._
    val sample = emb.limit(100).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val m = Similarity.sqFit(sample, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("sq-model").toString
    Similarity.saveSqModel(m, dir, spark)
    val m2 = Similarity.loadSqModel(spark, dir)
    assert(m2.mins.toSeq == m.mins.toSeq && m2.maxs.toSeq == m.maxs.toSeq)
    graft.GraftExtensions.register(spark)
    sample.createOrReplaceTempView("sq_tvf_in")
    val viaSql = spark.sql(
        s"SELECT vec_id, sq FROM graft_sq8('$dir', 'sq_tvf_in', 'embedding')")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val viaApi = Similarity.sqEncode(sample, "embedding", m)
      .select("vec_id", "sq")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaSql == viaApi)
    // corrupt model (missing maxs row) loads loudly, never half-formed
    val bad = java.nio.file.Files.createTempDirectory("sq-bad").toString
    Seq(("mins", m.mins.toSeq)).toDF("kind", "vec")
      .write.mode("overwrite").parquet(s"$bad/model")
    val e = intercept[IllegalStateException](Similarity.loadSqModel(spark, bad))
    assert(e.getMessage.contains("missing 'maxs'"), e.getMessage)
  }

  test("randomProject/sqEncode are stream-safe: stateless narrow maps give batch-identical output on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val rows = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
    val batch = rows.toDF("vec_id", "v")
    val m = Similarity.sqFit(batch, "v")
    val input = MemoryStream[(Long, Array[Double])]
    val streamed = Similarity.sqEncode(
      Similarity.randomProject(input.toDF().toDF("vec_id", "v"),
        "v", k = 4, d = 8, seed = 3L),
      "v", m, out = "sq")
    val q = streamed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("rp_sq_stream").start()
    try {
      input.addData(rows: _*); q.processAllAvailable()
      val got = spark.table("rp_sq_stream").select("vec_id", "rp", "sq")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Int](2)))
        .sortBy(_._1).toSeq
      val exp = Similarity.sqEncode(
          Similarity.randomProject(batch, "v", k = 4, d = 8, seed = 3L),
          "v", m, out = "sq")
        .select("vec_id", "rp", "sq").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Int](2)))
        .sortBy(_._1).toSeq
      assert(got == exp, "streaming projection/quantization diverged from batch")
    } finally q.stop()
  }

  test("pcaFit: k above the data's effective rank fails loudly at fit time") {
    import spark.implicits._
    // 3-dim vectors confined to a 2-dim subspace (z = x + y): the third
    // principal axis has ~zero variance, so whitening would multiply it
    // by an astronomical factor while claiming unit variance — the fit
    // must raise instead of shipping a degenerate scale
    val rnd = new scala.util.Random(23L)
    val rows = (1L to 300L).map { i =>
      val t = rnd.nextGaussian() * 5.0
      val s = rnd.nextGaussian() * 2.0
      (i, Array(t, s, t + s))
    }
    val df = rows.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.pcaFit(df, "embedding", k = 3))
    assert(e.getMessage.contains("effective rank"), e.getMessage)
    // at the true rank the same data fits (and whitens) fine
    val m = Similarity.pcaFit(df, "embedding", k = 2)
    assert(m.scales.forall(s => s > 0.0 && java.lang.Double.isFinite(s)))
  }

  test("pcaProject: k=d reconstruction is lossless; whiten gives unit variance") {
    import spark.implicits._
    val sample = emb.limit(200).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val d = 64
    val m = Similarity.pcaFit(sample, "embedding", k = d)
    val proj = Similarity.pcaProject(sample, "embedding", m, "y")
      .select("vec_id", "embedding", "y").collect()
    proj.foreach { r =>
      val x = r.getSeq[Double](1).toArray
      val y = r.getSeq[Double](2).toArray
      // complete orthonormal basis: x == mean + E^T y exactly (within FP)
      val rec = Array.tabulate(d)(j =>
        m.mean(j) + m.components.indices.map(c => m.components(c)(j) * y(c)).sum)
      x.zip(rec).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"reconstruction off: $a vs $b") }
    }
    // whitening: every projected axis has unit variance over the df itself
    val white = Similarity.pcaProject(sample, "embedding", m, "y", whiten = true)
    val vars = white.select(posexplode(col("y")).as(Seq("i", "v")))
      .groupBy("i").agg(avg(col("v") * col("v")).as("s2"))
      .collect().map(r => r.getDouble(1))
    vars.foreach(v => assert(math.abs(v - 1.0) < 1e-6, s"whitened var $v != 1"))
  }

  test("PCA model persistence: byte-identical roundtrip; graft_pca TVF equals the API") {
    import spark.implicits._
    val sample = emb.limit(150).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val m = Similarity.pcaFit(sample, "embedding", k = 6)
    val dir = java.nio.file.Files.createTempDirectory("pca-model").toString
    Similarity.savePcaModel(m, dir, spark)
    val m2 = Similarity.loadPcaModel(spark, dir)
    assert(m2.mean.toSeq == m.mean.toSeq)
    assert(m2.components.map(_.toSeq).toSeq == m.components.map(_.toSeq).toSeq)
    assert(m2.explained.toSeq == m.explained.toSeq)
    assert(m2.scales.toSeq == m.scales.toSeq)
    // the SQL read surface projects identically (incl. fit-time whiten)
    graft.GraftExtensions.register(spark)
    sample.createOrReplaceTempView("pca_tvf_in")
    val viaSql = spark.sql(
        s"SELECT vec_id, pca FROM graft_pca('$dir', 'pca_tvf_in', 'embedding', true)")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaApi = Similarity.pcaProject(sample, "embedding", m, "pca", whiten = true)
      .select("vec_id", "pca")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaSql == viaApi)
    // whitened variance over the FIT data is exactly unit (fit-time scales)
    val vars = Similarity.pcaProject(sample, "embedding", m2, "y", whiten = true)
      .select(posexplode(col("y")).as(Seq("i", "v")))
      .groupBy("i").agg(avg(col("v") * col("v")).as("s2"))
      .collect().map(_.getDouble(1))
    vars.foreach(v => assert(math.abs(v - 1.0) < 1e-9, s"whitened var $v"))
    // corrupt model fails loudly
    val e = intercept[Exception](
      Similarity.loadPcaModel(spark, dir + "/nope"))
    assert(e != null)
  }

  test("pcaProject decorrelates: projected covariance is diagonal with ordered spectrum") {
    val sample = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val k = 8
    val m = Similarity.pcaFit(sample, "embedding", k)
    val proj = Similarity.pcaProject(sample, "embedding", m, "y")
    val mom = proj.select(posexplode(
        flatten(transform(col("y"), a => transform(col("y"), b => a * b)))
      ).as(Seq("i", "v")))
      .groupBy("i").agg(avg(col("v")).as("mom"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val diag = (0 until k).map(c => mom(c * k + c))
    val offMax = (for (a <- 0 until k; b <- 0 until k if a != b)
      yield math.abs(mom(a * k + b))).max
    assert(offMax < 0.02 * diag.max,
      s"projection not decorrelated: max offdiag $offMax vs diag max ${diag.max}")
    diag.sliding(2).foreach { case Seq(hi, lo) =>
      assert(hi >= lo - 1e-9, s"spectrum out of order: $diag") }
  }
}
