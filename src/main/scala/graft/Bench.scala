package graft
import org.apache.spark.sql.SparkSession
import graft.queries.Catalog

/** Benchmark main: runs the headline queries against SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized through the noop
  * sink (count() would let Catalyst prune projections/sorts and under-report
  * the real work).
  *
  * Headline rows are timed over INTERLEAVED suite passes — one untimed
  * warm pass, then `runs` (default 3) timed passes in row-major order,
  * per-row MIN across passes. Single-shot timings on a shared machine
  * whipsaw with load (observed 0.4 s vs 15.5 s for the same query across
  * rounds); back-to-back min-of-3 fixed the single-row spikes but r14
  * showed its failure mode — a multi-minute load window overlapped a
  * CONTIGUOUS ten-row block and swallowed all three adjacent samples of
  * each — so samples of one row are now separated by a full pass of other
  * work and a transient window can poison at most one of them. Set
  * SPARK_GRAFT_BENCH_RUNS to change the pass count.
  */
object Bench {
  /** `SPARK_GRAFT_CPUS` as a JSON value: a number when it is one, else an
    * escaped string (`local[*]` is valid; a quote must not break the line).
    */
  private[graft] def cpusJson(cpus: String): String =
    if (cpus.nonEmpty && cpus.forall(_.isDigit)) cpus
    else org.json4s.jackson.JsonMethods.compact(org.json4s.JString(cpus))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else Catalog.headlines
    // warm-up: JIT + codegen + file listing on a small query, not timed
    try SparkEntry.queries("q1_agg")(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // ---- headline timing: INTERLEAVED suite passes, not back-to-back
    // per-row runs. In r14 a CONTIGUOUS block of ten rows regressed
    // 2.0-3.1x in the official record with zero code changes, while two
    // builder-run suites showed the same rows at floor: an environmental
    // slowdown window during the driver run swallowed ALL THREE
    // back-to-back samples of every row it overlapped, so min-of-3 was
    // powerless. Timed samples of one row are now separated by a full
    // suite pass (minutes of other work), so a transient window can
    // poison at most one of a row's samples and the min stays a
    // property of the code. Pass 0 is an untimed warm pass over every
    // row — it generalizes the old per-row warm probes (memoized index
    // builds, file listings, codegen, the graph iteration loop's cold
    // localCheckpoint path all land there, outside any measurement).
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name: ${e.getMessage}"); -1.0
      }
    }
    names.foreach(once) // pass 0: warm, untimed
    // sub-second rows dominated by per-call file-listing jitter (~±0.2 s)
    // keep their 5+-sample floor (the r9→r10 phantom-drift pair, plus
    // graph_hits from r14) by sampling twice per timed pass
    val extraSamples =
      Set("search_bm25_indexed", "search_bm25_deleted", "graph_hits")
    val samples =
      scala.collection.mutable.Map(names.map(_ -> List.empty[Double]): _*)
    for (_ <- 1 to runs; name <- names) {
      val perPass = if (extraSamples.contains(name)) 2 else 1
      for (_ <- 1 to perPass) samples(name) ::= once(name)
    }
    // a failed query reports -1 (matching the lifecycle rows' convention),
    // never its elapsed-to-failure: a 0.06 s fail-fast silently deflating
    // `total` would let a regression masquerade as a speedup (round-7 bug)
    val results = names.map { name =>
      val times = samples(name)
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    // text-index lifecycle: the number that certifies compactTextIndex
    // matters. 50 sealed append batches (a long-lived streaming ingest's
    // state) are queried as-is, folded, and queried again — post-fold
    // should sit near the fresh-build probe (search_bm25_indexed) while
    // pre-fold pays the 50-root union. Setup (build/appends/fold) is
    // untimed; only the query path is reported, min-of-`runs` like the
    // headlines. Failures report -1 rather than killing the bench.
    val lifecycle: Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.llmops.Search
      val laDir = java.nio.file.Files.createTempDirectory("graft-bench-textidx").toString
      // the experiment's index is throwaway — reclaim it even when a
      // stage throws (2x the tokenized corpus per invocation otherwise
      // piles up), through the path's own filesystem like every other
      // cleanup in this repo
      try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        Search.buildTextIndex(docs.filter(pmod(col("doc_id"), lit(51L)) === 0),
          laDir, numBuckets = 64)
        (1 until 51).foreach { i =>
          Search.appendToTextIndex(laDir,
            docs.filter(pmod(col("doc_id"), lit(51L)) === i),
            batchTag = Some(i.toString))
        }
        import spark.implicits._
        val qs = Seq((0L, "stream filter group"), (1L, "hash join order"),
          (2L, "slow scan data")).toDF("query_id", "qtext")
        def once(): Double = {
          val t0 = System.nanoTime()
          Search.bm25TopKIndexed(spark, laDir, qs, k = 10)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // the 51-root degraded read is the suite's most FS-state-
        // sensitive row (r15 official-vs-rerun spread hit 1.61x): its
        // first sample was also the roots' FIRST listing, so cold
        // file-listing + footer reads landed inside the clock. Untimed
        // probe + min-of-5 — the same pin that stabilized the agg-view
        // degraded read and search_bm25_minorfold.
        once()
        val pre = (0 until runs.max(5)).map(_ => once()).min
        // minor fold first (the streaming-maintenance shape: appends fold,
        // base untouched), then the major fold's one-root floor.
        // Same steady-state pin the _indexed/_deleted probes got in r11:
        // one untimed probe absorbs the post-fold file-listing cold path,
        // and five samples floor the ~±0.2 s listing jitter a sub-second
        // row is otherwise dominated by (r10→r11 this row drifted
        // 0.33→0.61 s with no code change)
        Search.compactTextIndex(spark, laDir, includeBase = false)
        once()
        val minor = (0 until runs.max(5)).map(_ => once()).min
        Search.compactTextIndex(spark, laDir)
        val post = (0 until runs).map(_ => once()).min
        // delete lifecycle on the same folded index: 20% of docs
        // tombstoned (the read-time subtraction probe — what a
        // delete-heavy index pays between purges), then the purge's
        // return to the clean-index floor
        Search.deleteFromTextIndex(laDir,
          docs.filter(pmod(col("doc_id"), lit(5L)) === 2).select("doc_id"))
        val tombed = (0 until runs).map(_ => once()).min
        Search.compactTextIndex(spark, laDir)
        val purged = (0 until runs).map(_ => once()).min
        Seq("search_bm25_longappend" -> pre, "search_bm25_minorfold" -> minor,
          "search_bm25_postfold" -> post, "search_bm25_tombstoned" -> tombed,
          "search_bm25_purged" -> purged)
      } finally {
        val p = new org.apache.hadoop.fs.Path(laDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] text-index lifecycle: ${e.getMessage}")
      Seq("search_bm25_longappend" -> -1.0, "search_bm25_minorfold" -> -1.0,
        "search_bm25_postfold" -> -1.0, "search_bm25_tombstoned" -> -1.0,
        "search_bm25_purged" -> -1.0)
    }
    // agg-view lifecycle: the number that certifies O(delta) refresh
    // matters. A lineitem-by-suppkey view takes 50 appended delta roots
    // (a long-lived streaming refresh's state); the merge-on-read is
    // timed degraded (51 roots), after compactAggView (1 root), and
    // against a fresh one-shot build's read (the floor). Two setup-path
    // rows make the refresh story itself a number: one O(delta) append
    // vs re-aggregating the whole table. Untimed setup, min-of-`runs`,
    // -1 on failure — the text-index lifecycle's conventions.
    val aggLifecycle: Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.operators.AggView
      val avDir = java.nio.file.Files.createTempDirectory("graft-bench-aggview").toString
      val freshDir = java.nio.file.Files.createTempDirectory("graft-bench-aggview-fresh").toString
      try {
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_suppkey"), col("l_orderkey"),
            col("l_extendedprice"), col("l_quantity"))
        def slice(i: Int) =
          li.filter(pmod(col("l_orderkey"), lit(51L)) === i).drop("l_orderkey")
        AggView.buildAggView(slice(0), avDir,
          keys = Seq("l_suppkey"), metrics = Seq("l_extendedprice", "l_quantity"))
        (1 until 51).foreach { i =>
          AggView.appendToAggView(avDir, slice(i), batchTag = Some(i.toString))
        }
        def read(dir: String): Double = {
          val t0 = System.nanoTime()
          AggView.readAggView(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // the 51-root degraded read drifted 7.66 -> 11.51 -> 13.13 s
        // over two code-untouched rounds: the first timed read was also
        // the 51 roots' FIRST listing (cold file-listing + footer reads
        // landed inside the measurement). Untimed warm probe + min-of-5,
        // the pin that held search_bm25_minorfold stable. The tempdir is
        // fresh per bench process, so no cross-run state accumulates.
        read(avDir)
        val pre = (0 until runs.max(5)).map(_ => read(avDir)).min
        AggView.compactAggView(spark, avDir)
        val post = (0 until runs).map(_ => read(avDir)).min
        // the O(delta) refresh vs full re-aggregation pair (distinct tags
        // per run so the exactly-once fence doesn't skip the work)
        val refresh = (0 until runs).map { r =>
          val t0 = System.nanoTime()
          AggView.appendToAggView(avDir, slice(r % 51), batchTag = Some(s"bench-extra-$r"))
          (System.nanoTime() - t0) / 1e9
        }.min
        val rebuild = (0 until runs).map { _ =>
          val t0 = System.nanoTime()
          AggView.buildAggView(li.drop("l_orderkey"), freshDir,
            keys = Seq("l_suppkey"), metrics = Seq("l_extendedprice", "l_quantity"))
          (System.nanoTime() - t0) / 1e9
        }.min
        val fresh = (0 until runs).map(_ => read(freshDir)).min
        Seq("q_agg_view_longappend" -> pre, "q_agg_view_postfold" -> post,
          "q_agg_view_freshread" -> fresh, "q_agg_view_refresh" -> refresh,
          "q_agg_view_rebuild" -> rebuild)
      } finally {
        for (d <- Seq(avDir, freshDir)) {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] agg-view lifecycle: ${e.getMessage}")
      Seq("q_agg_view_longappend" -> -1.0, "q_agg_view_postfold" -> -1.0,
        "q_agg_view_freshread" -> -1.0, "q_agg_view_refresh" -> -1.0,
        "q_agg_view_rebuild" -> -1.0)
    }
    // join-view lifecycle: same A/B discipline for delta-join
    // maintenance — the 51-root pruned read degraded vs post-fold vs a
    // fresh build's floor, plus the two maintenance costs themselves:
    // a bucket-pruned dim upsert (repairs ONLY the touched buckets)
    // vs rebuilding the whole view from scratch.
    val joinLifecycle: Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.operators.JoinView
      val jvDir = java.nio.file.Files.createTempDirectory("graft-bench-joinview").toString
      val freshDir = java.nio.file.Files.createTempDirectory("graft-bench-joinview-fresh").toString
      try {
        val fact = spark.read.parquet(s"$sfDir/orders.parquet")
          .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
        val dim = spark.read.parquet(s"$sfDir/customer.parquet")
          .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
            col("c_acctbal").as("acctbal"))
        def slice(i: Int) = fact.filter(pmod(col("o_orderkey"), lit(51L)) === i)
        JoinView.buildJoinView(slice(0), dim, jvDir, joinKeys = Seq("custkey"))
        (1 until 51).foreach { i =>
          JoinView.appendFactsToJoinView(jvDir, slice(i), batchTag = Some(i.toString))
        }
        def read(dir: String): Double = {
          val t0 = System.nanoTime()
          JoinView.readJoinView(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val pre = (0 until runs).map(_ => read(jvDir)).min
        JoinView.compactJoinView(spark, jvDir)
        val post = (0 until runs).map(_ => read(jvDir)).min
        // the bucket-pruned dim repair in the MAINTAINED steady state
        // (folded view, one changed key = one touched bucket) — the
        // per-key CDC cost a live pipeline actually pays; contrast with
        // `rebuild` below, the cost pruning avoids
        val upsert = (0 until runs).map { r =>
          val t0 = System.nanoTime()
          JoinView.upsertDimToJoinView(jvDir,
            dim.filter(col("custkey") === (r + 1).toLong),
            batchTag = Some(s"bench-dim-$r"))
          (System.nanoTime() - t0) / 1e9
        }.min
        val rebuild = (0 until runs).map { _ =>
          val t0 = System.nanoTime()
          JoinView.buildJoinView(fact, dim, freshDir, joinKeys = Seq("custkey"))
          (System.nanoTime() - t0) / 1e9
        }.min
        val fresh = (0 until runs).map(_ => read(freshDir)).min
        Seq("q_join_view_longappend" -> pre, "q_join_view_dimupsert" -> upsert,
          "q_join_view_postfold" -> post, "q_join_view_freshread" -> fresh,
          "q_join_view_rebuild" -> rebuild)
      } finally {
        for (d <- Seq(jvDir, freshDir)) {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] join-view lifecycle: ${e.getMessage}")
      Seq("q_join_view_longappend" -> -1.0, "q_join_view_dimupsert" -> -1.0,
        "q_join_view_postfold" -> -1.0, "q_join_view_freshread" -> -1.0,
        "q_join_view_rebuild" -> -1.0)
    }
    // lifecycle rows are A/B experiments (indexed bm25 against a
    // deliberately degraded 50-root index then folded; the agg view's
    // 51-root merge vs post-fold vs fresh floor; the join view's same
    // triple plus the pruned-repair vs rebuild pair) — they ride along
    // in `queries` but stay out of `total`, which tracks the headline
    // suite round-over-round
    val all = results ++ lifecycle ++ aggLifecycle ++ joinLifecycle
    val qs = all.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // total sums only succeeded rows — a -1 must not deflate the suite number
    val total = results.map(_._2).filter(_ >= 0).sum
    // echo the EFFECTIVE parallelism: r16's driver flagged
    // `suspect_cpus_ignored` because the output line carried no evidence
    // that $SPARK_GRAFT_CPUS reached the session — printing the env value
    // and sc.defaultParallelism makes the honor check mechanical
    // (additive fields; existing keys and methodology unchanged)
    println(s"""{"metric":"total","value":$total,"unit":"sec","cpus":${cpusJson(cpus)},"defaultParallelism":${spark.sparkContext.defaultParallelism},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
