package graft.llmops

import graft.core.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ManifestStore.conf

/** BM25 + RRF retrieval semantics on hand-checkable corpora. */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def queries(rows: (Long, String)*): DataFrame =
    rows.toDF("query_id", "qtext")

  test("bm25: a doc matching both query terms outranks single-term docs") {
    val docs = corpus(
      1L -> "apple banana cherry",
      2L -> "apple dog echo",
      3L -> "banana fig grape",
      4L -> "dog echo fig grape")
    val out = Search.bm25TopK(docs, queries(0L -> "apple banana"), k = 4)
      .orderBy("rank").collect()
    assert(out.head.getAs[Long]("doc_id") === 1L)
    assert(out.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L, 3L))
    // scores strictly ordered, ranks 1..n
    assert(out.map(_.getAs[Long]("rank")).toSeq === (1L to out.length))
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("bm25: rarer terms weigh more (idf)") {
    // "rare" appears in 1 of 5 docs, "common" in 4 of 5; same tf and
    // identical doc lengths, so the rare-term doc must score higher.
    val docs = corpus(
      1L -> "rare alpha beta",
      2L -> "common alpha beta",
      3L -> "common gamma delta",
      4L -> "common epsilon zeta",
      5L -> "common eta theta")
    val out = Search.bm25TopK(docs, queries(0L -> "rare common"), k = 5)
      .orderBy("rank").collect()
    assert(out.head.getAs[Long]("doc_id") === 1L)
  }

  test("bm25: length normalization prefers the shorter doc at equal tf") {
    val docs = corpus(
      1L -> "target one two",
      2L -> "target one two three four five six seven eight nine ten",
      3L -> "filler filler filler")
    val out = Search.bm25TopK(docs, queries(0L -> "target"), k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("doc_id")).take(2).toSeq === Seq(1L, 2L))
  }

  test("bm25: excludeSelf drops the query's own document") {
    val docs = corpus(1L -> "alpha beta gamma", 2L -> "alpha beta delta")
    val qs = queries(1L -> "alpha beta gamma")
    val withSelf = Search.bm25TopK(docs, qs, k = 2).collect()
    val noSelf = Search.bm25TopK(docs, qs, k = 2, excludeSelf = true).collect()
    assert(withSelf.map(_.getAs[Long]("doc_id")).contains(1L))
    assert(!noSelf.map(_.getAs[Long]("doc_id")).contains(1L))
    assert(noSelf.map(_.getAs[Long]("doc_id")).toSeq === Seq(2L))
  }

  test("bm25: multiple queries rank independently") {
    val docs = corpus(
      1L -> "apple apple apple",
      2L -> "banana banana banana",
      3L -> "apple banana mixed")
    val out = Search.bm25TopK(docs,
        queries(0L -> "apple", 1L -> "banana"), k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
    assert(out === Map(0L -> 1L, 1L -> 2L))
  }

  test("rrf: fusion rewards documents ranked well in BOTH runs") {
    val runA = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val runB = Seq((0L, 11L, 1L), (0L, 12L, 2L), (0L, 13L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val fused = Search.rrfFuse(Seq(runA, runB), k = 4)
      .orderBy("rank").collect()
    // doc 11: 1/62 + 1/61 beats doc 10 (1/61) and doc 12 (1/63 + 1/62)
    assert(fused.head.getAs[Long]("doc_id") === 11L)
    assert(fused.map(_.getAs[Long]("doc_id")).toSeq === Seq(11L, 12L, 10L, 13L))
    // exact decimal weights: doc 10's fused score is round(1/61, 9)
    val d10 = fused.find(_.getAs[Long]("doc_id") == 10L).get.getAs[Double]("score")
    assert(math.abs(d10 - 0.016393443) < 1e-12)
  }

  test("rrf: ties broken by doc_id ascending") {
    val runA = Seq((0L, 20L, 1L), (0L, 5L, 1L))
      .toDF("query_id", "doc_id", "rank") // same rank in one run = same weight
    val fused = Search.rrfFuse(Seq(runA), k = 2).orderBy("rank").collect()
    assert(fused.map(_.getAs[Long]("doc_id")).toSeq === Seq(5L, 20L))
  }

  test("indexed bm25 returns BIT-IDENTICAL results to the scan form") {
    val docs = corpus(
      1L -> "apple banana cherry apple",
      2L -> "apple dog echo",
      3L -> "banana fig grape banana banana",
      4L -> "dog echo fig grape",
      5L -> "cherry cherry dog apple fig")
    val qs = queries(0L -> "apple banana", 1L -> "fig dog", 7L -> "cherry")
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(docs, idx, numBuckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    val scan = rows(Search.bm25TopK(docs, qs, k = 4))
    val indexed = rows(Search.bm25TopKIndexed(spark, idx, qs, k = 4))
    assert(indexed === scan)
    // excludeSelf parity too
    val scanNoSelf = rows(Search.bm25TopK(docs, queries(1L -> "apple dog"), k = 4,
      excludeSelf = true))
    val idxNoSelf = rows(Search.bm25TopKIndexed(spark, idx,
      queries(1L -> "apple dog"), k = 4, excludeSelf = true))
    assert(idxNoSelf === scanNoSelf && !idxNoSelf.exists(_._3 == 1L))
  }

  test("indexed bm25 ignores terms absent from the corpus") {
    val docs = corpus(1L -> "alpha beta", 2L -> "beta gamma")
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(docs, idx, numBuckets = 4)
    val out = Search.bm25TopKIndexed(spark, idx,
      queries(0L -> "alpha unseen-term"), k = 2).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
  }

  test("bm25TopKIndexed fails loudly on a missing or torn index") {
    val empty = java.nio.file.Files.createTempDirectory("graft-noidx").toString
    intercept[Exception] {
      Search.bm25TopKIndexed(spark, empty, queries(0L -> "x"), k = 1).collect()
    }
    // torn/corrupt manifest: loud failure, never a silent empty result
    val torn = java.nio.file.Files.createTempDirectory("graft-tornidx")
    java.nio.file.Files.writeString(torn.resolve("MANIFEST.json"), "{\"numBu")
    intercept[Exception] {
      Search.bm25TopKIndexed(spark, torn.toString, queries(0L -> "x"), k = 1).collect()
    }
    // and appends must refuse it too, not re-initialize over it
    intercept[Exception] {
      Search.appendToTextIndex(torn.toString, corpus(1L -> "a b"), Some("t"))
    }
  }

  test("an index dir holding a glob metacharacter is refused before anything is staged") {
    // the bucket-pruned probe builds a Hadoop glob from the dir: a `[1]`
    // in it would match nothing and every probe would come back empty
    val parent = java.nio.file.Files.createTempDirectory("graft-globidx")
    val idx = parent.resolve("idx[1]").toString
    val e = intercept[IllegalArgumentException] {
      Search.buildTextIndex(corpus(1L -> "apple banana"), idx, numBuckets = 4)
    }
    assert(e.getMessage.contains(idx), e.getMessage)
    assert(java.nio.file.Files.list(parent).count() == 0, "the refused build staged dirs")
  }

  test("appended index is BIT-IDENTICAL to a fresh build over the full corpus") {
    val half1 = corpus(
      1L -> "apple banana cherry apple",
      2L -> "apple dog echo")
    val half2a = corpus(3L -> "banana fig grape banana banana")
    val half2b = corpus(
      4L -> "dog echo fig grape",
      5L -> "cherry cherry dog apple fig")
    val full = half1.unionByName(half2a).unionByName(half2b)
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(half1, idx, numBuckets = 8)
    assert(Search.appendToTextIndex(idx, half2a, batchTag = Some("b1")))
    assert(Search.appendToTextIndex(idx, half2b, batchTag = Some("b2")))
    val qs = queries(0L -> "apple banana", 1L -> "fig dog", 7L -> "cherry")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    // df, nDocs, avgdl all shifted with the appends — scores must equal
    // the SCAN form over the full corpus exactly, not approximately
    assert(rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
      === rows(Search.bm25TopK(full, qs, k = 5)))
  }

  test("append replays fence on the batch tag; vacuum reclaims folded-away dirs") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    def rows(dir: String) = Search.bm25TopKIndexed(spark, dir,
        queries(0L -> "beta"), k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    Search.buildTextIndex(corpus(1L -> "alpha beta"), idx, numBuckets = 4)
    val batch = corpus(2L -> "beta gamma")
    assert(Search.appendToTextIndex(idx, batch, batchTag = Some("t1")))
    val before = rows(idx)
    // replay of the SAME tag must be a no-op — df/nDocs would double-count
    assert(!Search.appendToTextIndex(idx, batch, batchTag = Some("t1")))
    assert(rows(idx) === before)
    // an append supersedes nothing (delta dicts) — only a fold does
    assert(Search.compactTextIndex(spark, idx))
    // default vacuum SPARES fresh dirs (cross-process stage grace)...
    assert(Search.vacuumTextIndex(spark, idx) === 0,
      "default-grace vacuum deleted recently-written dirs")
    // ...and an explicit zero-grace vacuum reclaims the pre-fold roots
    val removed = Search.vacuumTextIndex(spark, idx, minAgeMs = 0L)
    assert(removed >= 2, s"fold left pre-fold roots unreclaimed (removed=$removed)")
    assert(rows(idx) === before, "vacuum touched live index data")
    // and the replay fence SURVIVES the fold
    assert(!Search.appendToTextIndex(idx, batch, batchTag = Some("t1")))
    assert(rows(idx) === before)
  }

  test("compactTextIndex folds to one root each, stays BIT-IDENTICAL, bounds the manifest") {
    val batches = Seq(
      corpus(1L -> "apple banana cherry apple", 2L -> "apple dog echo"),
      corpus(3L -> "banana fig grape banana banana"),
      corpus(4L -> "dog echo fig grape"),
      corpus(5L -> "cherry cherry dog apple fig"))
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(batches.head, idx, numBuckets = 8)
    batches.tail.zipWithIndex.foreach { case (b, i) =>
      assert(Search.appendToTextIndex(idx, b, batchTag = Some(i.toString)))
    }
    val m0 = Search.textStore.read(conf(spark), idx).get
    assert(m0.postings.size === 4 && m0.dicts.size === 3,
      s"expected one root per batch before fold: $m0")
    val qs = queries(0L -> "apple banana", 1L -> "fig dog", 7L -> "cherry")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    val preFold = rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
    assert(Search.compactTextIndex(spark, idx))
    val m1 = Search.textStore.read(conf(spark), idx).get
    // ONE postings root, ONE dict root, numeric tags collapsed to the
    // high-water — the manifest no longer grows with stream lifetime
    assert(m1.postings.size === 1 && m1.dicts.isEmpty && m1.appliedTags.isEmpty)
    assert(m1.tagHighWater === 2L)
    assert(m1.nDocs === m0.nDocs && m1.sumDl === m0.sumDl)
    // scores bit-identical: to the pre-fold index AND the scan form
    val postFold = rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
    assert(postFold === preFold)
    assert(postFold === rows(Search.bm25TopK(batches.reduce(_ unionByName _), qs, k = 5)))
    // idempotent: nothing left to fold
    assert(!Search.compactTextIndex(spark, idx))
    // appends keep working after a fold
    assert(Search.appendToTextIndex(idx, corpus(9L -> "apple kiwi"), batchTag = Some("3")))
    val withMore = rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
    assert(withMore === rows(Search.bm25TopK(
      batches.reduce(_ unionByName _).unionByName(corpus(9L -> "apple kiwi")), qs, k = 5)))
  }

  test("minor compaction folds only the L0s — base and prior L1s are never rewritten") {
    val batches = Seq(
      corpus(1L -> "apple banana cherry", 2L -> "apple dog echo"),
      corpus(3L -> "banana fig grape"),
      corpus(4L -> "dog echo fig"),
      corpus(5L -> "cherry dog apple"))
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx-minor").toString
    Search.buildTextIndex(batches.head, idx, numBuckets = 8)
    val base = Search.textStore.read(conf(spark), idx).get.postings.head
    batches.tail.zipWithIndex.foreach { case (b, i) =>
      assert(Search.appendToTextIndex(idx, b, batchTag = Some(i.toString)))
    }
    val qs = queries(0L -> "apple banana", 1L -> "fig dog")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    val pre = rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
    assert(Search.compactTextIndex(spark, idx, includeBase = false))
    val m = Search.textStore.read(conf(spark), idx).get
    // three L0s folded into one L1; the base root is the SAME directory
    assert(m.postings.size === 2 && m.postings.head === base &&
      m.dicts.size === 1 && m.levelRoots === 2, s"minor fold shape wrong: $m")
    val l1 = m.postings(1)
    assert(rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5)) === pre)
    // no L0s left: a second minor fold is a no-op
    assert(!Search.compactTextIndex(spark, idx, includeBase = false))
    // one new L0 is not worth a fold either (threshold 2)
    assert(Search.appendToTextIndex(idx, corpus(6L -> "apple zebra"), batchTag = Some("9")))
    assert(!Search.compactTextIndex(spark, idx, includeBase = false))
    // a second L0 folds — into a NEW L1, leaving base AND the first L1
    // untouched (re-folding prior L1s would make fold cost grow with
    // stream lifetime instead of data-since-last-fold)
    assert(Search.appendToTextIndex(idx, corpus(7L -> "banana yak"), batchTag = Some("10")))
    assert(Search.compactTextIndex(spark, idx, includeBase = false))
    val m2 = Search.textStore.read(conf(spark), idx).get
    assert(m2.postings.size === 3 && m2.postings.head === base &&
      m2.postings(1) === l1 && m2.levelRoots === 3,
      s"minor fold re-folded a prior level: $m2")
    // and everything still matches the scan form exactly
    val full = batches.reduce(_ unionByName _)
      .unionByName(corpus(6L -> "apple zebra", 7L -> "banana yak"))
    assert(rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
      === rows(Search.bm25TopK(full, qs, k = 5)))
    // a MAJOR fold collapses all levels to one root
    assert(Search.compactTextIndex(spark, idx))
    val m3 = Search.textStore.read(conf(spark), idx).get
    assert(m3.postings.size === 1 && m3.dicts.isEmpty && m3.levelRoots === 1)
    assert(rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
      === rows(Search.bm25TopK(full, qs, k = 5)))
  }

  test("maintainTextIndex: size-ratio policy majors only once appends outgrow the base") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx-maint").toString
    Search.buildTextIndex(
      corpus((1L to 20L).map(i => i -> s"base$i common words here"): _*), idx, numBuckets = 8)
    val base = Search.textStore.read(conf(spark), idx).get.postings.head
    // two tiny appends: minor fold runs, but the major must NOT (appends
    // are a sliver of the base)
    assert(Search.appendToTextIndex(idx, corpus(100L -> "tiny one"), batchTag = Some("0")))
    assert(Search.appendToTextIndex(idx, corpus(101L -> "tiny two"), batchTag = Some("1")))
    assert(Search.maintainTextIndex(spark, idx))
    val m1 = Search.textStore.read(conf(spark), idx).get
    assert(m1.postings.head === base && m1.levelRoots === 2,
      s"maintain majored on a sliver: $m1")
    // a big append (larger than the base) crosses the ratio: maintain
    // majors and the index collapses to one fresh root
    assert(Search.appendToTextIndex(idx,
      corpus((200L to 260L).map(i => i -> s"bulk$i lots of heavy append text"): _*),
      batchTag = Some("2")))
    assert(Search.appendToTextIndex(idx, corpus(300L -> "more"), batchTag = Some("3")))
    assert(Search.maintainTextIndex(spark, idx))
    val m2 = Search.textStore.read(conf(spark), idx).get
    assert(m2.postings.size === 1 && m2.levelRoots === 1,
      s"maintain failed to major once appends outgrew the base: $m2")
  }

  test("an append's dict delta holds only the batch vocabulary (no corpus-wide rewrite)") {
    // 20-doc build with a wide vocabulary spread over many buckets, then a
    // single-term append: the delta dict dir must contain ONLY the one
    // bucket that term hashes to — appending cost is proportional to the
    // batch, not the corpus vocabulary
    val big = corpus((1L to 20L).map(i => i -> s"word$i filler$i common"): _*)
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(big, idx, numBuckets = 32)
    assert(Search.appendToTextIndex(idx, corpus(100L -> "zzz-solo"), batchTag = Some("d1")))
    val m = Search.textStore.read(conf(spark), idx).get
    assert(m.dicts.size === 1)
    val deltaBuckets = new java.io.File(s"$idx/${m.dicts.head}")
      .listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("bucket="))
    assert(deltaBuckets.length === 1,
      s"1-term append materialized ${deltaBuckets.length} dict buckets: " +
        deltaBuckets.mkString(","))
    // the base dict was NOT rewritten — still the build's root
    val m0dict = m.dict
    assert(Search.textStore.read(conf(spark), idx).get.dict === m0dict)
  }

  test("an empty append batch stages nothing (no orphan dirs)") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(corpus(1L -> "alpha beta"), idx, numBuckets = 4)
    def dirCount = new java.io.File(idx).listFiles().count(_.isDirectory)
    val before = dirCount
    assert(!Search.appendToTextIndex(idx, corpus(), batchTag = Some("e1")))
    assert(dirCount === before, "empty batch leaked staged dirs")
    // and the manifest did not move (the tag is NOT burned — a later
    // non-empty retry of the same micro-batch must not be fenced out)
    assert(!Search.textStore.read(conf(spark), idx).get.appliedTags.contains("e1"))
  }

  test("numeric tags fence via the high-water mark, non-numeric tags exactly") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(corpus(1L -> "alpha"), idx, numBuckets = 4)
    assert(Search.appendToTextIndex(idx, corpus(2L -> "beta"), batchTag = Some("5")))
    val m = Search.textStore.read(conf(spark), idx).get
    assert(m.tagHighWater === 5L && m.appliedTags.isEmpty,
      s"numeric tag not absorbed into the high-water: $m")
    // at-or-below the high-water = replay (the monotonic batch-id contract)
    assert(!Search.appendToTextIndex(idx, corpus(3L -> "gamma"), batchTag = Some("5")))
    assert(!Search.appendToTextIndex(idx, corpus(3L -> "gamma"), batchTag = Some("4")))
    assert(Search.appendToTextIndex(idx, corpus(3L -> "gamma"), batchTag = Some("6")))
    // non-numeric tags are remembered exactly, independent of the fence
    assert(Search.appendToTextIndex(idx, corpus(4L -> "delta"), batchTag = Some("run-a")))
    assert(!Search.appendToTextIndex(idx, corpus(4L -> "delta"), batchTag = Some("run-a")))
    val m2 = Search.textStore.read(conf(spark), idx).get
    assert(m2.tagHighWater === 6L && m2.appliedTags === Vector("run-a"))
  }

  test("bucket pruning survives appends: probe scans read ONLY the probed bucket dirs, one scan per family") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx-prune").toString
    Search.buildTextIndex(corpus(1L -> "alpha beta", 2L -> "beta gamma"), idx, numBuckets = 16)
    assert(Search.appendToTextIndex(idx, corpus(3L -> "gamma delta"), batchTag = Some("0")))
    assert(Search.appendToTextIndex(idx, corpus(4L -> "beta epsilon"), batchTag = Some("1")))
    val probe = Search.bm25TopKIndexed(spark, idx, queries(0L -> "beta"), k = 4)
    // ONE scan per family over the recorded files of all its roots; the
    // scan's partition filter selects only the probed term's bucket files
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case s: FileSourceScanExec => Seq(s)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      }.flatten
    val fileScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.toSeq == Seq("bucket"))
    // one postings scan + one dict scan — not one per root
    assert(fileScans.size == 2,
      s"expected 2 bucket-pruned family scans, got ${fileScans.size}")
    val beta = org.apache.spark.unsafe.types.UTF8String.fromString("beta")
    val expectedBucket = java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        beta, org.apache.spark.sql.types.StringType, 42L), 16L)
    for (s <- fileScans) {
      val read = s.relation.location.listFiles(s.partitionFilters, Nil)
        .flatMap(_.files.map(_.getPath.toString))
      assert(read.forall(_.contains(s"/bucket=$expectedBucket/")),
        s"scan reads a non-probed bucket's files: $read")
      // "beta" lives in the base and the second append — the root whose
      // batch never touched the probed bucket has no file there
      val roots = read.map(f => new org.apache.hadoop.fs.Path(f).getParent.getParent).distinct
      assert(roots.size == 2, s"expected files of 2 roots (the beta-bearing " +
        s"base + append; the gamma-delta root has no beta bucket), got $roots")
      assert(s.relation.location.inputFiles.length > read.size,
        "the index holds only the probed bucket: the pruning check would be vacuous")
    }
  }

  test("manifest stamp-cache: repeated queries on an unchanged index parse once") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(corpus(1L -> "alpha beta", 2L -> "beta gamma"), idx, numBuckets = 4)
    val qs = queries(0L -> "beta")
    Search.bm25TopKIndexed(spark, idx, qs, k = 2).collect() // warm the cache
    val parses0 = Search.textStore.parses.get()
    (1 to 5).foreach(_ => Search.bm25TopKIndexed(spark, idx, qs, k = 2).collect())
    assert(Search.textStore.parses.get() === parses0,
      "unchanged index re-parsed its manifest on repeated queries")
    // a mutation moves the stamp → exactly the ONE re-parse happens
    assert(Search.appendToTextIndex(idx, corpus(3L -> "beta delta"), batchTag = Some("s1")))
    Search.bm25TopKIndexed(spark, idx, qs, k = 2).collect()
    assert(Search.textStore.parses.get() > parses0,
      "stamp cache failed to notice a manifest mutation")
  }

  test("randomized append/fold interleavings match fresh builds (seeded mini-fuzz)") {
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def randDocs(ids: Range) = corpus(ids.map(i => i.toLong ->
      Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")): _*)
    val batches = Seq(randDocs(0 until 7), randDocs(7 until 12),
      randDocs(12 until 20), randDocs(20 until 23), randDocs(23 until 30))
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Search.buildTextIndex(batches.head, idx, numBuckets = 8)
    batches.tail.zipWithIndex.foreach { case (b, i) =>
      assert(Search.appendToTextIndex(idx, b, batchTag = Some(s"fz-$i")))
      // minor AND major folds interleave randomly with appends — any
      // interleaving must be invisible to queries (bit-identical
      // postings/df totals)
      if (rnd.nextBoolean())
        Search.compactTextIndex(spark, idx, includeBase = rnd.nextBoolean())
    }
    val full = batches.reduce(_ unionByName _)
    val qs = queries(0L -> "alpha beta", 1L -> "kappa gamma delta", 2L -> "theta")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(rows(Search.bm25TopKIndexed(spark, idx, qs, k = 8))
      === rows(Search.bm25TopK(full, qs, k = 8)))
  }

  test("a stream of micro-batches builds the index exactly-once from empty") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    // empty build = the streaming start state
    Search.buildTextIndex(corpus(), idx, numBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val docsStream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = graft.streaming.EventStream.ingestToTextIndex(docsStream, idx,
      java.nio.file.Files.createTempDirectory("graft-textidx-ckpt").toString)
    try {
      mem.addData((1L, "apple banana cherry"), (2L, "apple dog echo"))
      q.processAllAvailable()
      mem.addData((3L, "banana fig grape"))
      q.processAllAvailable()
    } finally q.stop()
    val batchDual = corpus(1L -> "apple banana cherry", 2L -> "apple dog echo",
      3L -> "banana fig grape")
    val qs = queries(0L -> "apple banana", 1L -> "fig")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(rows(Search.bm25TopKIndexed(spark, idx, qs, k = 5))
      === rows(Search.bm25TopK(batchDual, qs, k = 5)))
  }

  test("streaming ingest with compactEvery keeps the root count bounded and stays exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx-auto").toString
    Search.buildTextIndex(corpus(), idx, numBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val docsStream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = graft.streaming.EventStream.ingestToTextIndex(docsStream, idx,
      java.nio.file.Files.createTempDirectory("graft-textidx-auto-ckpt").toString,
      compactEvery = 2)
    try {
      Seq(
        Seq((1L, "apple banana cherry")),
        Seq((2L, "apple dog echo")),
        Seq((3L, "banana fig grape")),
        Seq((4L, "dog cherry fig"))
      ).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val m = Search.textStore.read(conf(spark), idx).get
    // batches 1 and 3 (0-indexed) folded: at most (1 fold result + 1
    // unfolded append) roots at any point — never one root per batch
    assert(m.postings.size <= 2 && m.dicts.size <= 2,
      s"auto-compaction left unbounded roots: $m")
    assert(m.tagHighWater === 3L)
    val batchDual = corpus(1L -> "apple banana cherry", 2L -> "apple dog echo",
      3L -> "banana fig grape", 4L -> "dog cherry fig")
    val qset = queries(0L -> "apple banana", 1L -> "fig")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(rows(Search.bm25TopKIndexed(spark, idx, qset, k = 5))
      === rows(Search.bm25TopK(batchDual, qset, k = 5)))
  }

  test("a previous-format manifest (no dicts/tagHighWater fields) still loads and migrates") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx-legacy").toString
    Search.buildTextIndex(corpus(1L -> "alpha beta", 2L -> "beta gamma"), idx, numBuckets = 4)
    val m = Search.textStore.read(conf(spark), idx).get
    // rewrite the manifest in the OLD schema: single dict, applied tags as
    // a plain vector (numeric ones included), none of the new fields
    val legacy = s"""{"numBuckets":${m.numBuckets},"nDocs":${m.nDocs},
      "sumDl":${m.sumDl},"dict":"${m.dict}",
      "postings":[${m.postings.map("\"" + _ + "\"").mkString(",")}],
      "appliedTags":["stream-batch-7","run-x"]}""".replaceAll("\n\\s*", "")
    // as the old code stored it: a bare MANIFEST.json and no manifest log
    val mp = new org.apache.hadoop.fs.Path(s"$idx/MANIFEST.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_manifest"), true))
    val out = fs.create(mp, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    val parsed = Search.textStore.read(conf(spark), idx).get
    assert(parsed.dicts.isEmpty && parsed.tagHighWater === -1L,
      s"legacy manifest did not default the new fields: $parsed")
    // legacy tags still fence — INCLUDING the old ingest's
    // "stream-batch-N" spelling replayed by the upgraded ingest as a
    // bare batch id (same sequence, different spelling: a checkpoint
    // replay across the upgrade must not double-count)
    assert(!Search.appendToTextIndex(idx, corpus(3L -> "delta"), batchTag = Some("7")))
    assert(!Search.appendToTextIndex(idx, corpus(3L -> "delta"),
      batchTag = Some("stream-batch-7")))
    assert(!Search.appendToTextIndex(idx, corpus(3L -> "delta"), batchTag = Some("run-x")))
    // ...and queries work
    assert(Search.bm25TopKIndexed(spark, idx, queries(0L -> "beta"), k = 4).count() === 2)
    // compaction migrates: numeric tags absorb into the high-water mark —
    // and a tag-ONLY migration is a pure manifest edit (identical roots,
    // no corpus rewrite)
    val rootsBefore = Search.textStore.read(conf(spark), idx).get.postings
    assert(Search.compactTextIndex(spark, idx))
    val migrated = Search.textStore.read(conf(spark), idx).get
    assert(migrated.tagHighWater === 7L && migrated.appliedTags === Vector("run-x"))
    assert(migrated.postings === rootsBefore,
      "tag-only migration rewrote the postings roots")
    assert(!Search.appendToTextIndex(idx, corpus(3L -> "delta"), batchTag = Some("7")),
      "legacy numeric tag lost its fence after migration")
    assert(!Search.appendToTextIndex(idx, corpus(3L -> "delta"),
      batchTag = Some("stream-batch-7")))
    // a "-1" tag must NOT collide with the high-water's -1 sentinel: it
    // takes the exact-match path (first use appends, replay fences)
    assert(Search.appendToTextIndex(idx, corpus(4L -> "neg"), batchTag = Some("-1")))
    assert(!Search.appendToTextIndex(idx, corpus(4L -> "neg"), batchTag = Some("-1")))
    assert(Search.textStore.read(conf(spark), idx).get.appliedTags.contains("-1"))
  }

  test("topk scored output carries the decimal-exact score") {
    val docs = corpus(1L -> "alpha beta", 2L -> "alpha gamma")
    val out = Search.bm25TopK(docs, queries(0L -> "alpha"), k = 2).collect()
    // both docs match "alpha" identically (same tf, dl, df) → equal scores,
    // tie broken by doc_id
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L))
    assert(out(0).getAs[Double]("score") === out(1).getAs[Double]("score"))
  }

  test("cross-process guard: a commit staged against a stale manifest aborts loudly") {
    val idx = java.nio.file.Files.createTempDirectory("graft-textidx-guard").toString
    Search.buildTextIndex(corpus(1L -> "apple banana"), idx, numBuckets = 4)
    val before = Search.textStore.read(conf(spark), idx)
    // a "foreign" writer appends — the manifest moves
    assert(Search.appendToTextIndex(idx, corpus(2L -> "cherry dog"), batchTag = Some("f1")))
    val moved = Search.textStore.read(conf(spark), idx)
    assert(moved != before, "append did not move the manifest")
    // a writer that staged against the PRE-append snapshot must abort,
    // leaving the moved manifest exactly as the foreign writer wrote it
    intercept[IllegalStateException] {
      Search.textStore.commitIfUnchanged(conf(spark), idx, before, moved.get.copy(nDocs = 99L))
    }
    assert(Search.textStore.read(conf(spark), idx) == moved,
      "aborted commit must not touch the manifest")
    // and the index still answers with both writers' documents
    val out = Search.bm25TopKIndexed(spark, idx, queries(0L -> "cherry apple"), k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(1L, 2L))
  }

  test("mmrRerank: a redundant near-dup loses its relevance rank to a diverse pick") {
    import spark.implicits._
    // doc 1 and doc 2 are near-identical; doc 3 is orthogonal with lower
    // relevance. Pure relevance order is 1, 2, 3 — MMR at λ=0.5 must
    // demote the near-dup: 1, 3, 2.
    val cands = Seq(
      (7L, 1L, 1.00, Array(1.0f, 0.0f)),
      (7L, 2L, 0.99, Array(0.999f, 0.02f)),
      (7L, 3L, 0.50, Array(0.0f, 1.0f))
    ).toDF("query_id", "doc_id", "score", "vec")
    val got = Search.mmrRerank(cands, k = 3, lambda = 0.5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")))
    assert(got.toSeq == Seq((1L, 1), (3L, 2), (2L, 3)), s"unexpected: ${got.toSeq}")
  }

  test("mmrRerank: k past the candidate count returns them all; scores are 6dp") {
    import spark.implicits._
    val cands = Seq(
      (1L, 10L, 0.9, Array(1.0f, 0.0f)),
      (1L, 11L, 0.8, Array(0.0f, 1.0f))
    ).toDF("query_id", "doc_id", "score", "vec")
    val got = Search.mmrRerank(cands, k = 5, lambda = 0.7).collect()
    assert(got.length == 2)
    // pick 1: 0.7*0.9 = 0.63; pick 2: 0.7*0.8 - 0.3*cos(orthogonal)=0.56
    val byRank = got.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("mmr"))
    assert(byRank(0) == 0.63 && byRank(1) == 0.56, s"unexpected: ${byRank.toSeq}")
  }

  test("mmrRerank: ties break on lower doc_id, selection is order-independent") {
    import spark.implicits._
    val rows = Seq(
      (1L, 21L, 0.8, Array(1.0f, 0.0f, 0.0f)),
      (1L, 20L, 0.8, Array(0.0f, 1.0f, 0.0f)),
      (1L, 22L, 0.8, Array(0.0f, 0.0f, 1.0f)))
    for (perm <- Seq(rows, rows.reverse)) {
      val got = Search.mmrRerank(perm.toDF("query_id", "doc_id", "score", "vec"),
          k = 3, lambda = 0.7)
        .orderBy("rank").collect().map(_.getAs[Long]("doc_id")).toSeq
      // all scores equal and mutually orthogonal: pure id order
      assert(got == Seq(20L, 21L, 22L), s"unexpected: $got")
    }
  }
}
