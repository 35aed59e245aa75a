package graft.operators

import java.nio.file.Files
import graft.core.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ManifestStore.conf

class AggViewSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def mkBatch(ids: Range): DataFrame =
    ids.map { i =>
      (s"g${i % 3}", s"p${i % 2}", (i % 7) * 10.01 + 0.5)
    }.toDF("status", "prio", "price")

  /** One-shot reference aggregate with the SAME per-row decimal cast the
    * view applies at ingest (std mirrors finalizeCols' exact double
    * expression, operand for operand).
    */
  private def oneShot(df: DataFrame): Array[Seq[Any]] = {
    val d = col("price").cast("decimal(18,2)")
    val sumD = sum(d).cast("double")
    val sqD = sum((d * d).cast("decimal(38,4)")).cast("double")
    val n = count(lit(1)).cast("double")
    df.groupBy("status", "prio")
      .agg(count(lit(1)).as("cnt"),
        round(sumD, 2).as("price_sum"),
        round(min(d).cast("double"), 2).as("price_min"),
        round(max(d).cast("double"), 2).as("price_max"),
        round(sumD / count(lit(1)), 6).as("price_avg"),
        round(sqrt(greatest(lit(0.0), sqD / n - (sumD / n) * (sumD / n))), 6)
          .as("price_std"))
      .orderBy("status", "prio").collect().map(_.toSeq)
  }

  private def readSorted(dir: String): Array[Seq[Any]] =
    AggView.readAggView(spark, dir).orderBy("status", "prio")
      .collect().map(_.toSeq)

  private def rootCount(dir: String): Int =
    AggView.store.read(conf(spark), dir).get.roots.size

  test("incremental view == one-shot aggregate at every step, any append order") {
    val dir = Files.createTempDirectory("aggview").toString
    val b0 = mkBatch(0 until 500)
    val b1 = mkBatch(500 until 800)
    val b2 = mkBatch(800 until 1100)
    AggView.buildAggView(b0, dir, Seq("status", "prio"), Seq("price"))
    assert(readSorted(dir).toSeq == oneShot(b0).toSeq)
    assert(AggView.appendToAggView(dir, b1))
    assert(readSorted(dir).toSeq == oneShot(b0.union(b1)).toSeq)
    assert(AggView.appendToAggView(dir, b2))
    assert(readSorted(dir).toSeq == oneShot(b0.union(b1).union(b2)).toSeq)
    assert(rootCount(dir) == 3, "each append is its own root before the fold")
  }

  test("compaction folds to one root, results bit-identical, fence survives") {
    val dir = Files.createTempDirectory("aggview-fold").toString
    AggView.buildAggView(mkBatch(0 until 400), dir, Seq("status", "prio"), Seq("price"))
    AggView.appendToAggView(dir, mkBatch(400 until 600), batchTag = Some("7"))
    AggView.appendToAggView(dir, mkBatch(600 until 900), batchTag = Some("8"))
    val before = readSorted(dir)
    assert(AggView.compactAggView(spark, dir))
    assert(rootCount(dir) == 1)
    assert(readSorted(dir).toSeq == before.toSeq)
    // the numeric-tag fence collapses into the high-water mark: a replay
    // of a PRE-fold batch is still dropped
    assert(!AggView.appendToAggView(dir, mkBatch(0 until 10), batchTag = Some("7")))
    assert(readSorted(dir).toSeq == before.toSeq)
    assert(!AggView.compactAggView(spark, dir), "single clean root: fold is a no-op")
  }

  test("replayed tags and empty batches write nothing") {
    val dir = Files.createTempDirectory("aggview-replay").toString
    AggView.buildAggView(mkBatch(0 until 100), dir, Seq("status", "prio"), Seq("price"))
    assert(AggView.appendToAggView(dir, mkBatch(100 until 200), batchTag = Some("1")))
    val snap = readSorted(dir)
    assert(!AggView.appendToAggView(dir, mkBatch(100 until 200), batchTag = Some("1")))
    assert(!AggView.appendToAggView(dir, mkBatch(0 until 0)))
    assert(rootCount(dir) == 2)
    assert(readSorted(dir).toSeq == snap.toSeq)
  }

  test("lookup returns the single key's merged row and prunes to its pk partition") {
    val dir = Files.createTempDirectory("aggview-lookup").toString
    AggView.buildAggView(mkBatch(0 until 300), dir, Seq("status", "prio"), Seq("price"),
      numBuckets = 8)
    AggView.appendToAggView(dir, mkBatch(300 until 500))
    val full = readSorted(dir)
    val hit = AggView.lookupAggView(spark, dir, Seq("g1", "p0"))
    // plan prunes: the pk literal must land as a PARTITION filter on every
    // root scan (partition pruning, not a post-scan predicate)
    // sparkPlan, not executedPlan: AQE wraps the executed tree and hides
    // the scans from a plain collect
    val scans = hit.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "pk"))),
      "a root scan lost its pk partition filter — lookup reads every partition")
    val row = hit.collect()
    assert(row.length == 1)
    assert(full.contains(row.head.toSeq))
  }

  test("lookup casts probe literals to the stored key type (Int probe on Long key)") {
    val dir = Files.createTempDirectory("aggview-ktype").toString
    val df = (0L until 100L).map(i => (i % 5, (i % 9) + 0.25)).toDF("kid", "v")
    AggView.buildAggView(df, dir, Seq("kid"), Seq("v"))
    // probe with an Int where the key column is Long: the pk hash must
    // still land on the right partition and the row must come back
    val hit = AggView.lookupAggView(spark, dir, Seq(3)).collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 3L && hit.head.getLong(1) == 20L)
  }

  test("maintain folds past the root threshold; vacuum reclaims superseded roots") {
    val dir = Files.createTempDirectory("aggview-maint").toString
    AggView.buildAggView(mkBatch(0 until 50), dir, Seq("status", "prio"), Seq("price"))
    (0 until 5).foreach(i =>
      AggView.appendToAggView(dir, mkBatch(50 * (i + 1) until 50 * (i + 2))))
    assert(rootCount(dir) == 6)
    val before = readSorted(dir)
    assert(AggView.maintainAggView(spark, dir, foldRootsAbove = 4))
    assert(rootCount(dir) == 1)
    assert(readSorted(dir).toSeq == before.toSeq)
    // 6 superseded roots now orphaned; age grace 0 reclaims them
    val removed = AggView.vacuumAggView(spark, dir, minAgeMs = 0L)
    assert(removed == 6, s"expected 6 reclaimed roots, got $removed")
    assert(readSorted(dir).toSeq == before.toSeq)
  }

  test("HLL distinct sketches merge across appends (exact at small cardinality)") {
    val dir = Files.createTempDirectory("aggview-hll").toString
    def b(ids: Range) = ids.map(i => (s"g${i % 2}", "p0", 1.0, s"u${i % 40}"))
      .toDF("status", "prio", "price", "user")
    AggView.buildAggView(b(0 until 200), dir, Seq("status", "prio"), Seq("price"),
      distinctCols = Seq("user"))
    AggView.appendToAggView(dir, b(200 until 500))
    val got = AggView.readAggView(spark, dir)
      .select("status", "user_approx_distinct").orderBy("status")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // 40 distinct users split evenly across the two groups; HLL is exact
    // at this cardinality, and crucially the count must NOT double-count
    // users that appear in BOTH the base and the append
    assert(got.toSeq == Seq(("g0", 20L), ("g1", 20L)), s"got $got")
  }

  test("histogram percentiles: merged view == one-shot, within a bin of exact") {
    val dir = Files.createTempDirectory("aggview-hist").toString
    // prices span [0.5, 60.56]; histogram [0, 70) in 35 bins of width 2
    AggView.buildAggView(mkBatch(0 until 40), dir,
      keys = Seq("status", "prio"), metrics = Seq("price"),
      histCols = Seq("price"), histLo = 0.0, histHi = 70.0, histBins = 35)
    AggView.appendToAggView(dir, mkBatch(40 until 90), batchTag = Some("1"))
    AggView.appendToAggView(dir, mkBatch(90 until 200), batchTag = Some("2"))
    val view = AggView.readAggView(spark, dir)
      .select("status", "prio", "price_p50", "price_p90", "price_p99")
      .orderBy("status", "prio").collect().map(_.toSeq)
    // one-shot over the union: same buckets, same crossing rule
    val d = mkBatch(0 until 200)
    val shifted = (least(greatest(floor((col("price") - lit(0.0)) / lit(2.0)),
      lit(-1L)), lit(35L)) + lit(1L)).as("b")
    val oneShotHist = d.select(col("status"), col("prio"), shifted)
      .groupBy("status", "prio", "b").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("status", "prio").orderBy("b")))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("status", "prio")))
      .groupBy("status", "prio")
      .agg(
        round(min(when(col("cum").cast("double") >= lit(0.5) * col("n").cast("double"),
          col("b") * 2.0)), 6).as("price_p50"),
        round(min(when(col("cum").cast("double") >= lit(0.9) * col("n").cast("double"),
          col("b") * 2.0)), 6).as("price_p90"),
        round(min(when(col("cum").cast("double") >= lit(0.99) * col("n").cast("double"),
          col("b") * 2.0)), 6).as("price_p99"))
      .orderBy("status", "prio").collect().map(_.toSeq)
    assert(view.toSeq == oneShotHist.toSeq,
      "merged histogram percentiles diverge from the one-shot histogram")
    // accuracy: within one bin width of the exact DISCRETE quantile (the
    // crossing bucket contains the order statistic at ceil(q*n) by
    // construction; an INTERPOLATED quantile can sit between two sparse
    // order stats arbitrarily far from either)
    val exact = mkBatch(0 until 200).groupBy("status", "prio")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY price)").as("e50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY price)").as("e90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY price)").as("e99"))
      .orderBy("status", "prio").collect()
    view.zip(exact).foreach { case (v, e) =>
      assert(math.abs(v(2).asInstanceOf[Double] - e.getDouble(2)) <= 2.0 &&
        math.abs(v(3).asInstanceOf[Double] - e.getDouble(3)) <= 2.0 &&
        math.abs(v(4).asInstanceOf[Double] - e.getDouble(4)) <= 2.0,
        s"histogram percentile off by more than a bin for ${v(0)}/${v(1)}")
    }
    // a histogram-free view still reads (manifest back-compat: defaults)
    val plainDir = Files.createTempDirectory("aggview-plain").toString
    AggView.buildAggView(mkBatch(0 until 50), plainDir,
      keys = Seq("status", "prio"), metrics = Seq("price"))
    val cols = AggView.readAggView(spark, plainDir).columns.toSet
    assert(!cols.exists(_.endsWith("_p50")), "plain view grew histogram columns")
  }

  test("manifest is stamp-cached: N reads of an unchanged view parse once") {
    val dir = Files.createTempDirectory("aggview-stamp").toString
    AggView.buildAggView(mkBatch(0 until 60), dir, Seq("status", "prio"), Seq("price"))
    AggView.readAggView(spark, dir).collect() // prime the stamp
    val p0 = AggView.store.parses.get()
    (0 until 5).foreach(_ => AggView.readAggView(spark, dir).collect())
    assert(AggView.store.parses.get() == p0,
      "unchanged view re-parsed its manifest")
    AggView.appendToAggView(dir, mkBatch(60 until 80))
    AggView.readAggView(spark, dir).collect()
    assert(AggView.store.parses.get() > p0, "a commit must restamp")
  }

  test("cross-process guard: a commit against a stale manifest aborts, state intact") {
    val dir = Files.createTempDirectory("aggview-xproc").toString
    AggView.buildAggView(mkBatch(0 until 80), dir, Seq("status", "prio"), Seq("price"))
    val stale = AggView.store.read(conf(spark), dir).get
    // a "foreign" writer moves the manifest after our snapshot (the
    // in-process lock serializes the public API, so the guard is
    // asserted through the commit primitive — the TextDelete pattern)
    assert(AggView.appendToAggView(dir, mkBatch(80 until 120), Some("9")))
    val e = intercept[IllegalStateException] {
      AggView.store.commitIfUnchanged(conf(spark), dir, Some(stale), stale.copy(nRows = 999L))
    }
    assert(e.getMessage.contains("concurrent"))
    // the view remains exactly the foreign writer's state
    val m = AggView.store.read(conf(spark), dir).get
    assert(m.roots.size == 2 && m.nRows == 120L && m.tagHighWater == 9L)
  }

  test("a staged root missing a recorded column aborts its commit and is dropped") {
    val dir = Files.createTempDirectory("aggview-schema").toString
    AggView.buildAggView(mkBatch(0 until 80), dir, Seq("status", "prio"), Seq("price"))
    val m = AggView.store.read(conf(spark), dir).get
    // every file of the manifest log, by name
    def manifestBytes = Files.list(java.nio.file.Paths.get(dir, "_manifest")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    val bytes = manifestBytes
    val before = readSorted(dir)
    // a partial root without the price__max column, as a writer with a
    // diverging partial aggregate would stage it
    val bad = AggView.readAggView(spark, dir).select(col("status"), col("prio"),
        col("cnt").as("__cnt"), lit(0).as("pk"))
    val root = graft.store.ManifestFileIndex.stage(bad, dir, "agg-", Some("pk"))
    val e = intercept[IllegalStateException] {
      AggView.commitAppend(spark, dir, m, root, 1L, None)
    }
    assert(e.getMessage.contains("price__max"), e.getMessage)
    assert(manifestBytes == bytes, "the aborted commit changed the manifest")
    assert(!Files.exists(java.nio.file.Paths.get(dir, root._1)), "the aborted stage was kept")
    assert(readSorted(dir).sameElements(before))
  }

  test("streaming ingestToAggView equals the batch view over the same rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("aggview-stream").toString
    val ckpt = Files.createTempDirectory("aggview-ckpt").toString
    AggView.buildAggView(mkBatch(0 until 100), dir, Seq("status", "prio"), Seq("price"))
    val input = MemoryStream[(String, String, Double)]
    val q = graft.streaming.EventStream.ingestToAggView(
      input.toDF().toDF("status", "prio", "price"), dir, ckpt)
    try {
      input.addData((100 until 160).map(i =>
        (s"g${i % 3}", s"p${i % 2}", (i % 7) * 10.01 + 0.5)): _*)
      q.processAllAvailable()
      input.addData((160 until 220).map(i =>
        (s"g${i % 3}", s"p${i % 2}", (i % 7) * 10.01 + 0.5)): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(readSorted(dir).toSeq == oneShot(mkBatch(0 until 220)).toSeq)
  }
}
