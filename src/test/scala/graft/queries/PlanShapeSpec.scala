package graft.queries

import graft.core.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression gates: the scale story rests on optimizer
  * properties (pushdown, broadcast, map-side truncation, no cartesian
  * blowups) that a code change can silently lose while every value-level
  * oracle stays green. These specs pin the load-bearing markers in the
  * physical plan text, so losing one turns a perf regression into a red
  * test (the `.explain("formatted")` loop from the build brief, made
  * permanent).
  */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Catalog.queries(name)(spark, sf)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  /** The file scans in `name`'s physical plan. */
  private def fileScans(name: String): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    scans(Catalog.queries(name)(spark, sf).queryExecution.executedPlan)
  }

  /** `name`'s scans of bucket-partitioned index roots select, by their
    * partition filters, only some of the files the index holds, each in
    * a bucket dir.
    */
  private def assertBucketPruned(name: String): Unit = {
    val bucketScans = fileScans(name)
      .filter(_.relation.partitionSchema.fieldNames.toSeq == Seq("bucket"))
    assert(bucketScans.nonEmpty, s"$name: no scan over a bucket-partitioned index")
    for (s <- bucketScans) {
      assert(s.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"$name: the index scan lost its bucket PartitionFilters")
      val read = s.relation.location.listFiles(s.partitionFilters, Nil)
        .flatMap(_.files.map(_.getPath.toString))
      assert(read.nonEmpty && read.forall(_.contains("/bucket=")) &&
        read.size < s.relation.location.inputFiles.length,
        s"$name: the scan reads ${read.size} of ${s.relation.location.inputFiles.length} " +
          "index files — every query would read the whole index")
    }
  }

  test("emb_rp / emb_sq8: projection and quantization stay narrow maps — one exchange (the output sort), pruned scan") {
    for (name <- Seq("emb_rp", "emb_sq8")) {
      val p = plan(name)
      // the compression itself must never shuffle: the only exchange in
      // the plan is the presentation ORDER BY's range partitioning
      val ex = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
      assert(ex == 1, s"$name: expected exactly 1 exchange (the output sort), got $ex:\n$p")
      // (emb_sq8's min/max fit is a separate bounded job at build time —
      // the RETURNED plan is pure encode, so neither row may aggregate)
      assert(!p.contains("HashAggregate"),
        s"$name: the narrow map grew an aggregate")
      assert(!p.contains("Join"), s"$name: the narrow map grew a join")
      // column pruning: the scan reads only (vec_id, embedding)
      val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
      assert(read.contains("vec_id") && read.contains("embedding") &&
        !read.contains("label"),
        s"$name: scan is not pruned to (vec_id, embedding): $read")
    }
  }

  test("kv_prefix_scan: prefix reaches the parquet scan as a pushed StringStartsWith") {
    val p = plan("kv_prefix_scan")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("StringStartsWith("),
      s"prefix did not push to the scan as StringStartsWith: $pushed")
  }

  test("q5_region_revenue: every dimension join is broadcast, none sort-merge") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), "dimension joins are not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a dimension join fell back to sort-merge — broadcast threshold or hints regressed")
  }

  test("ann_topk: top-k is a partial (map-side) aggregate, not a window funnel") {
    val p = plan("ann_topk")
    assert(p.contains("partial_topkby"),
      "topk_by lost its partial-aggregation phase — the shuffle now carries every scored row")
    assert(!p.contains("Window"), "ann_topk regressed to a window ranking")
  }

  test("range/band join: bin-bucketed EQUI-join, never a broadcast nested loop") {
    // the left-outer members ride the same bins (plus a keyed anti
    // complement for the replicated-side forms) — same no-nested-loop bar
    for (name <- Seq("q_range_join", "q_band_join", "q_range_join_left",
        "q_interval_join_left", "q_band_join_left")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name regressed to Spark's native non-equi plan (nested loop)")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"),
        s"$name lost its equi-join on (keys, bin)")
    }
  }

  test("q_interval_join: binned equi-join, never a nested loop, no dedup pass") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval overlap regressed to Spark's native non-equi plan")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "interval overlap lost its equi-join")
    // first-shared-bin emit means no distinct over the join output — the
    // only aggregates are the final groupBy (and its partial)
    assert(!p.contains("Deduplicate"), "an output dedup pass appeared")
  }

  test("q_resample: one raw scan, no join — gap rows generate from aggregated state") {
    val p = plan("q_resample")
    val scans = p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"resample re-scans the input ($scans scans):\n$p")
    assert(!p.contains("Join"), "resample regressed to the grid-join formulation")
    assert(p.contains("Window") && p.contains("Generate"),
      "resample lost its lead+sequence gap generation")
  }

  test("q_agg_view_hist: percentiles read aggregate state only — no raw-data pass") {
    val p = plan("q_agg_view_hist")
    assert(!p.contains("Join") && !p.contains("Window"),
      "histogram percentiles left the merge-on-read shape")
    assert(!p.contains("orders.parquet"),
      "the histogram read touched the RAW table — state-only reads regressed")
  }

  test("q_asof_join: union-window form — one key shuffle, no join of any kind") {
    // the as-of operator's scale contract (KVOps.asofJoinBackward): tag +
    // union + ONE window over the key partition. A join-based plan (range
    // explode, BNL) can return identical rows while multiplying matching
    // pairs at scale — pin the shape, not just the values.
    val p = plan("q_asof_join")
    assert(p.contains("Window"), s"asof lost its window form:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "asof regressed to a join-based plan (range explode or nested loop)")
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1,
      s"asof should shuffle exactly once on the keys, saw $hashEx hash exchanges in:\n$p")
  }

  test("q_range_join_sql: the optimizer rule plans the naive SQL as a binned equi-join") {
    val p = plan("q_range_join_sql")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the rewrite rule did not fire on the SQL route:\n$p")
    assert(p.contains("Generate"),
      s"no bin replication (Generate) in the SQL-route plan:\n$p")
  }

  test("q_range_join_left_sql: the outer path of the rule keeps LEFT JOIN off the nested loop") {
    val p = plan("q_range_join_left_sql")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the left-outer rewrite did not fire on the SQL route:\n$p")
    assert(p.contains("Generate"),
      s"no bin replication (Generate) in the left-outer SQL plan:\n$p")
    assert(p.contains("LeftOuter"),
      s"the rewritten join lost its LeftOuter type (semantics!):\n$p")
  }

  test("q_range_join_semi_sql: EXISTS plans as a binned semi join, no nested loop") {
    val p = plan("q_range_join_semi_sql")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the semi rewrite did not fire on the EXISTS route:\n$p")
    assert(p.contains("LeftSemi"),
      s"the rewritten join lost its LeftSemi type:\n$p")
    assert(p.contains("Generate"),
      s"no bin replication (Generate) in the semi SQL plan:\n$p")
  }

  test("q_interval_join_sql: the overlap path of the rule plans SQL without a nested loop") {
    val p = plan("q_interval_join_sql")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the overlap rewrite did not fire on the SQL route:\n$p")
    assert(p.contains("Generate"),
      s"no bin replication (Generate) in the SQL-route overlap plan:\n$p")
  }

  test("q_interval_coalesce: one key shuffle — island grouping reuses the window partitioning") {
    // Intervals.coalesce's scale contract: the running-max/island windows
    // and BOTH downstream aggregations (by (key, island), then by key)
    // ride one hashpartitioning(user_id) exchange — the island column
    // only ever REFINES the window partitioning, so a second hash
    // exchange appearing means the grouping stopped reusing it.
    val p = plan("q_interval_coalesce")
    assert(p.contains("Window"), s"interval coalesce lost its window form:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "interval coalesce regressed to a join-based plan")
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1,
      s"interval coalesce should shuffle exactly once on the key, saw $hashEx hash exchanges in:\n$p")
  }

  test("q_interval_subtract: the boundary sweep rides one key shuffle, no join") {
    // both running coverages, the segment windows, the island merge and
    // the final aggregation all reuse hashpartitioning(user_id); a join
    // or a second hash exchange means the sweep stopped being a sweep
    val p = plan("q_interval_subtract")
    assert(p.contains("Window"), s"interval subtract lost its window form:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "interval subtract regressed to a join-based plan")
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1,
      s"interval subtract should shuffle exactly once on the key, saw $hashEx in:\n$p")
  }

  test("dedup_embedding_pairs: the certified plan contains no cartesian or nested-loop join") {
    val p = plan("dedup_embedding_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "embedding dedup regressed to an all-pairs join")
  }

  test("ann_ivf_topk: probe cells dynamically prune the index scan's partitions") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("dynamicpruning"),
      "the assignment-table scan lost dynamic partition pruning on cell — " +
        "every probe would read the whole index")
  }

  test("ann_ivfpq_topk: probes prune partitions AND the ADC scan never reads the vectors") {
    val p = plan("ann_ivfpq_topk")
    assert(p.contains("dynamicpruning"),
      "the IVF-PQ assignment scan lost dynamic partition pruning on cell")
    // the ADC scan must read codes, not float vectors: at least one scan
    // of the assignment table projects code WITHOUT cv (column pruning is
    // the whole memory story of PQ — losing it re-reads the full vectors)
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(l => l.contains("code") && !l.contains("cv")),
      s"no vector-free ADC read schema found:\n${schemas.mkString("\n")}")
  }

  test("q_bucketed_join: the fact-fact join reads co-located buckets — neither orderkey ever shuffles") {
    // broadcast disabled so the plan can't sidestep the claim: the join
    // must run bucket-to-bucket (sort-merge over pre-bucketed scans); the
    // only exchange allowed is the groupBy ABOVE the join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q_bucketed_join")
      assert(p.contains("SortMergeJoin"), "bucketed join lost its sort-merge form")
      assert(!p.contains("hashpartitioning(l_orderkey") &&
        !p.contains("hashpartitioning(o_orderkey"),
        s"a bucketed side re-shuffled on its orderkey — co-location lost:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ann_filtered_topk: allowed-id semi-join gates the scan AND probe cells still prune") {
    val p = plan("ann_filtered_topk")
    assert(p.contains("LeftSemi"),
      "the metadata filter lost its semi-join — disallowed vectors reach the scorer")
    assert(p.contains("dynamicpruning"),
      "the filtered probe lost dynamic partition pruning on cell")
    assert(!p.contains("CartesianProduct"))
  }

  test("recall gates: no cartesian or nested-loop join in any declared recall plan") {
    for (name <- Seq("dedup_simhash_recall", "dedup_minhash_recall",
        "ann_ivf_recall", "ann_lsh_recall", "ann_pq_recall", "ann_ivfpq_recall",
        "ann_filtered_recall")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name contains a cartesian product — quadratic at scale")
    }
  }

  test("search_bm25: top-k is a partial aggregate and the corpus never cartesian-joins") {
    val p = plan("search_bm25")
    assert(p.contains("partial_topkby"),
      "bm25 top-k lost its partial-aggregation phase — every candidate's score " +
        "would funnel through one reducer per query")
    assert(!p.contains("CartesianProduct"),
      "bm25 contains a cartesian product — the query-term semi-join regressed")
    assert(!p.contains("Window"), "bm25 ranking regressed to a window funnel")
  }

  test("search_bm25_indexed: query-term buckets prune the postings scan at the PATH level") {
    // one scan per family over the index's recorded files, whose
    // PartitionFilters select only the query terms' bucket files
    // (SearchSpec pins the multi-root scan-count/files contract
    // rigorously; this pins the headline query's shape)
    assertBucketPruned("search_bm25_indexed")
    assert(plan("search_bm25_indexed").contains("partial_topkby"),
      "indexed bm25 lost map-side top-k truncation")
  }

  test("search_bm25_deleted: tombstones broadcast AND query-term buckets still prune") {
    assertBucketPruned("search_bm25_deleted")
    val p = plan("search_bm25_deleted")
    // the tombstone subtraction must ride broadcast joins — a shuffled
    // anti/semi join here would re-shuffle the postings stream per query
    assert(p.contains("BroadcastHashJoin") &&
      (p.contains("LeftAnti") || p.contains("Anti")),
      s"tombstone anti-join is not a broadcast join:\n${p.take(2000)}")
    assert(p.contains("partial_topkby"), "deleted bm25 lost map-side top-k truncation")
  }

  test("pipeline_chunk: the splitter is one narrow pass — no shuffle at all") {
    val p = plan("pipeline_chunk")
    // the orderBy in the declared query adds the output sort's exchange;
    // everything below it (tokenize -> sequence -> explode -> slice) must
    // be exchange-free
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1,
      s"chunking shuffled beyond the declared output sort ($exchanges exchanges):\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "chunking acquired a join — it must be a pure per-row explode")
  }

  test("dedup_index_probe: band and shingle scans prune partitions; probe side broadcasts") {
    val p = plan("dedup_index_probe")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("pb") && pf.contains("ps"),
      s"the near-dup probe lost partition pruning (pb=bands, ps=shingles) — " +
        s"every probe would scan the whole index: $pf")
    assert(p.contains("BroadcastHashJoin"),
      "the probe side stopped broadcasting — corpus-sized shuffle per probe batch")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup probe plan degenerated:\n${p.take(2000)}")
  }

  test("dedup_span_frac: span joins are key-partitioned, never broadcast corpus state") {
    val p = plan("dedup_span_frac")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span-stats plan degenerated:\n${p.take(2000)}")
  }

  test("search_hybrid: fused plan keeps partial top-k and stays cartesian-free") {
    val p = plan("search_hybrid")
    assert(p.contains("partial_topkby"), "hybrid fusion lost map-side top-k truncation")
    assert(!p.contains("CartesianProduct"),
      "hybrid retrieval contains a cartesian product")
  }

  test("pipeline_contamination: probe shingles broadcast; the corpus side never shuffles for the join") {
    val p = plan("pipeline_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "the probe-set join is not broadcast — the corpus would shuffle on shingle")
    assert(!p.contains("SortMergeJoin"),
      "the contamination join fell back to sort-merge")
  }

  test("pipeline_decontaminate: both vocabulary joins broadcast; the train corpus never shuffles") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "a vocabulary join is not broadcast — the train corpus would shuffle on shingle")
    assert(!p.contains("SortMergeJoin"),
      "a decontamination join fell back to sort-merge")
  }

  test("pipeline_paragraph_dedup: keep-first is one partial hash agg — no window, no join-back") {
    val p = plan("pipeline_paragraph_dedup")
    assert(!p.contains("Window"),
      "unit dedup regressed to row_number over partition-by-unit — unbounded " +
        "sort state on a hot boilerplate unit")
    // winner selection must partial-aggregate map-side: a repeated unit
    // combines to one row per map task BEFORE the unit-keyed exchange
    assert(p.contains("partial_min") || p.contains("Partial") && p.contains("min("),
      s"min(struct) winner agg lost its partial phase:\n${p.take(1500)}")
    // exactly one exchange keyed by the unit string (the dedup agg); the
    // remaining exchanges key on doc_id (reassembly) or the output sort
    val unitExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning(unit")).size
    assert(unitExchanges == 1,
      s"expected exactly 1 unit-keyed exchange, got $unitExchanges")
  }

  test("q1_agg: scan reads only the referenced columns with the date filter pushed") {
    val p = plan("q1_agg")
    val scanLine = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!scanLine.contains("l_comment") && !scanLine.contains("l_orderkey"),
      s"column pruning lost: $scanLine")
    assert(p.linesIterator.filter(_.contains("PushedFilters")).mkString.contains("l_shipdate"),
      "shipdate filter not pushed to the scan")
  }

  test("q_zorder_scan: both clustered-column predicates reach the parquet scan") {
    val p = plan("q_zorder_scan")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_orderkey") && pushed.contains("l_partkey"),
      s"z-ordered scan lost its pushed predicates: $pushed")
    // min/max skipping is only as good as the stats the clustered write
    // produced — the layout property itself is pinned in LayoutSpec
    val scanLine = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!scanLine.contains("l_comment"), s"column pruning lost: $scanLine")
  }

  test("q_hilbert_scan: both clustered-column predicates reach the parquet scan") {
    val p = plan("q_hilbert_scan")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_orderkey") && pushed.contains("l_partkey"),
      s"hilbert-ordered scan lost its pushed predicates: $pushed")
    val scanLine = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!scanLine.contains("l_comment"), s"column pruning lost: $scanLine")
  }

  test("q_agg_view: merge-on-read touches aggregate state only — no join, no window") {
    val p = plan("q_agg_view")
    // the read merges partial-agg roots with ONE re-aggregation; any join
    // or window here means the view started re-reading base data
    assert(!p.contains("Join") && !p.contains("Window"),
      "agg-view read stopped being a pure union + re-aggregate")
    assert(p.contains("HashAggregate"), "agg-view merge lost its hash aggregate")
    // roots store decimal partials — a double anywhere in the scan schema
    // means the determinism boundary moved to read time. The merged read
    // widens every partial decimal to precision 38 (fold roots already
    // store 38; widening is lossless and matches the old unionByName
    // coercion), so pin the widened form AND the absence of doubles.
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(scans.contains("__sum:decimal(38,2)") && !scans.contains("double"),
      s"partial-agg roots no longer carry decimal sums: $scans")
  }

  test("q_join_view: read is a pruned union — no join, no LWW resolve at read time") {
    val p = plan("q_join_view")
    // the whole IVM contract: maintenance pays the joins, reads pay ONE
    // scan over the union of the roots' owned files. A Join or Window
    // here means the read path started re-deriving state
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("Union"),
      "join-view read stopped being a single scan")
    val scans = fileScans("q_join_view")
    assert(scans.size == 1, s"expected one view scan, got ${scans.size}")
    // the dim mutations moved buckets to rebuild roots: the scan reads
    // only each live root's files of the buckets it still owns, fewer
    // than those roots hold on disk
    val loc = scans.head.relation.location
    val read = loc.inputFiles.toSet
    val fs = loc.rootPaths.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = loc.rootPaths.flatMap { r =>
      val it = fs.listFiles(r, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq
    }.toSet
    assert(read.nonEmpty && read.subsetOf(onDisk) && read.size < onDisk.size,
      s"the view scan reads ${read.size} of the ${onDisk.size} files its roots hold: " +
        "superseded buckets would read stale rows")
  }

  test("dedup_editdist_pairs: candidates equi-join on chunk hashes — never a cartesian") {
    val p = plan("dedup_editdist_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "edit-distance blocking regressed to a quadratic join")
    assert(p.contains("xxhash64"),
      "candidate keys are no longer hashed chunks")
    assert(p.contains("levenshtein"),
      "verification lost the early-exit levenshtein")
  }

  test("q_funnel: stage frontier is ONE window pass — no per-stage self-joins") {
    val p = plan("q_funnel")
    assert(!p.contains("Join"),
      "funnel grew a self-join — stage depth must add projections, not joins")
    // events scans once: a second scan means a stage re-reads the source
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 2,
      s"funnel scans the source more than once:\n$p")
    // the whole scale contract: funnel depth adds projections, never
    // exchanges — exactly one key shuffle (window + per-user agg share
    // it) plus the single-partition gather for the one-row final
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1,
      s"funnel should shuffle exactly once on the keys, saw $hashEx hash exchanges in:\n$p")
    assert(p.contains("SinglePartition"),
      s"funnel lost its single-partition final gather:\n$p")
  }

  test("q_interval_gaps: the complement rides the same single key shuffle as coalesce") {
    val p = plan("q_interval_gaps")
    assert(p.contains("Window"), s"interval gaps lost its window form:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "interval gaps regressed to a join-based plan")
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1,
      s"interval gaps should shuffle exactly once on the key, saw $hashEx hash exchanges in:\n$p")
  }

  test("text_subword: piece join-back broadcasts — per-instance resplit never returns") {
    val p = plan("text_subword")
    assert(p.contains("BroadcastHashJoin"),
      "the distinct-word piece table stopped broadcasting onto the token stream")
    assert(!p.contains("CartesianProduct"), "subword encode grew a cartesian")
    assert(p.contains("subwordsplit") || p.contains("SubwordSplit") ||
      p.contains("subword_split"),
      "the native segmentation kernel left the plan — encode regressed to SQL emulation")
  }

  test("text_nb_classify: model joins broadcast — the token stream never sort-merges") {
    val p = plan("text_nb_classify")
    assert(!p.contains("SortMergeJoin"),
      "a classifier model join fell back to sort-merge — the vocab x labels " +
        "grid must broadcast (it is bounded by vocabulary, not corpus)")
    assert(!p.contains("CartesianProduct"),
      "classifier scoring grew a cartesian product")
  }

  test("q_merge_upsert: one keyed outer join, dup guard rides the source exchange") {
    val p = plan("q_merge_upsert")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"merge regressed to a non-equi plan:\n${p.take(1500)}")
    assert(p.contains("FullOuter"), "merge lost its full-outer join form")
    // the dup-source guard is a FILTER (column-prune-proof), not a projection
    assert(p.linesIterator.exists(l => l.contains("Filter") || l.contains("raise_error")),
      "the duplicate-source guard left the plan")
  }

  test("dedup_span_removal: every join is equi (span key or doc id), no cartesian") {
    val p = plan("dedup_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span removal grew an all-pairs join:\n${p.take(1500)}")
    assert(p.contains("LeftAnti"), "the removed-position anti-join left the plan")
    // the five-keyed-shuffle budget (span-hash agg, first-occurrence join
    // back, removed-position distinct, anti-join, reassembly agg) — a
    // sixth exchange means a pass stopped reusing its upstream partitioning
    val ex = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(ex <= 5, s"span removal grew to $ex keyed exchanges (budget 5):\n${p.take(2000)}")
    // and the shuffle key is the 128-bit hash pair, not the span string
    assert(p.contains("xxhash64"), "span shuffle key lost its hash form")
  }

  test("q7/q8/q9: dimension sides broadcast, no nested loop, part filter pushes to scan") {
    for (name <- Seq("q7_volume", "q8_market_share", "q9_profit")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name grew a nested-loop/cartesian join:\n${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$name lost its broadcast dimension joins")
    }
    // the selective part filters must reach the parquet scan, not sit
    // above the join (scan-level pruning is the 100 TB lever)
    val p8 = plan("q8_market_share")
    assert(p8.linesIterator.filter(_.contains("PushedFilters"))
        .exists(_.contains("p_type")),
      "q8's p_type filter no longer pushes to the part scan")
    val p9 = plan("q9_profit")
    assert(p9.linesIterator.filter(_.contains("PushedFilters"))
        .exists(_.contains("p_name")),
      "q9's p_name LIKE no longer pushes to the part scan")
  }

  test("decorrelation pack: subqueries rewrite to joins, never nested loops") {
    // the unit under test is Catalyst decorrelation: a correlated
    // subquery left as a per-row probe would be quadratic at scale
    for (name <- Seq("q17_small_qty", "q2_min_cost", "q21_waiting", "q22_idle_cust",
        "q20_dominant_supplier")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name kept a nested-loop/cartesian — decorrelation failed:\n${p.take(2000)}")
    }
    // q20's depth-2 nest: the IN becomes a semi join AND the correlated
    // HAVING scalar becomes a per-part aggregate — both in one plan
    val p20 = plan("q20_dominant_supplier")
    assert(p20.contains("LeftSemi"), "q20's IN did not rewrite to a semi join")
  }

  test("q17: the correlated avg becomes ONE grouped aggregate joined back") {
    val p = plan("q17_small_qty")
    assert(p.contains("avg(l_quantity"),
      "the per-part mean is no longer a standalone aggregate")
  }

  test("q21: EXISTS/NOT EXISTS become LeftSemi/LeftAnti with the <> residual") {
    val p = plan("q21_waiting")
    assert(p.contains("LeftSemi"), "EXISTS did not rewrite to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not rewrite to an anti join")
    assert(p.linesIterator.filter(_.contains("Join condition")).exists(_.contains("NOT")),
      "the suppkey <> residual left the join condition")
  }

  test("q22: scalar subquery and anti-side filters push to the scans") {
    val p = plan("q22_idle_cust")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThan(o_totalprice,300000.0)"),
      "the uncorrelated NOT EXISTS conjunct no longer pushes into the orders scan")
    assert(pushed.contains("ScalarSubquery"),
      "the global-mean scalar subquery no longer pushes into the customer scan")
  }

  test("text_repetition_chars: pure per-row algebra — ZERO hash exchanges, no explode") {
    val p = plan("text_repetition_chars")
    assert(!p.contains("Generate"),
      "a gram explode reappeared — signals should never leave the row")
    val hashEx = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashEx.isEmpty,
      s"expected zero hash exchanges (intra-document algebra), got:\n${hashEx.mkString("\n")}")
  }

  test("q_attribution: rollup, frontier windows, and model explode share one conv-id exchange") {
    val p = plan("q_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the candidate join regressed to a nested loop")
    assert(p.contains("Window"), "the per-conversion frontier windows disappeared")
    val reparts = p.linesIterator.filter(_.contains("REPARTITION_BY_COL")).toSeq
    assert(reparts.size == 1 && reparts.head.contains("__conv_id"),
      s"expected one conv-id repartition serving rollup+window+explode, got:\n${reparts.mkString("\n")}")
  }

  test("q_decompose: MA, phase, and centering windows all ride the fill's key exchange") {
    val p = plan("q_decompose")
    val hashEx = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    // exchange 1: the fill's (key, bucket) agg; exchange 2: the key —
    // decompose itself must add ZERO exchanges (superset rule: the
    // (key, phase) seasonal window and the key centering window both
    // accept key-partitioning), and the phase-mean state never joins back
    assert(hashEx.size == 2,
      s"decompose grew an exchange:\n${hashEx.mkString("\n")}")
    assert(hashEx.last.contains("event_type") && !hashEx.last.contains("__"),
      s"the shared exchange is no longer keyed on the keys alone: ${hashEx.last}")
    assert(!p.contains("Join"), "the phase-mean state now joins back")
    assert("Window \\(".r.findAllIn(p).size == 4,
      "expected fill-lead + MA + phase + centering windows exactly")
  }

  test("q_seasonal_holt: the composed chain stays nested-loop-free") {
    val p = plan("q_seasonal_holt")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the seasonal-index join-back regressed to a nested loop")
  }

  test("q_scd2_lookup: the effective-dated lookup is JOIN-FREE — scd2 + union-window") {
    val p = plan("q_scd2_lookup")
    assert(!p.contains("Join"),
      "the as-of composition regressed to an actual join (pair-explosion risk)")
    val hashEx = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashEx.size == 2 && hashEx.forall(_.contains("user_id")),
      s"expected scd2's + the as-of window's key exchanges only:\n${hashEx.mkString("\n")}")
  }

  test("q_asof_sql: the SQL TVF path plans the union-window form — no join node") {
    val p = plan("q_asof_sql")
    assert(!p.contains("Join"),
      s"graft_asof regressed to a join plan:\n${p.take(2000)}")
    assert(p.contains("Window"), "graft_asof lost its carry window")
    val ex = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(ex == 1, s"expected ONE key exchange in the as-of SQL path, got $ex:\n${p.take(2000)}")
  }

  test("TPC-H breadth pack: every composed join stays hash-based, nothing nested-loops") {
    for (name <- Seq("q4_priority", "q13_cust_dist", "q14_promo",
        "q15_top_supplier", "q16_supp_count", "q18_big_orders", "q19_disjunct")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name grew a nested-loop/cartesian join:\n${p.take(2000)}")
    }
  }

  test("q19: the equi key is EXTRACTED from the disjunction — hash join with OR pushed to both scans") {
    val p = plan("q19_disjunct")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"),
      "the partkey equi-conjunct was not extracted from the OR — no hash join planned")
    // the derived per-side disjunct bundles must reach the parquet scans
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("Or(") && pushed.contains("l_quantity"),
      s"the quantity OR-bundle no longer pushes into the lineitem scan: $pushed")
    assert(pushed.contains("p_brand"),
      s"the brand/size OR-bundle no longer pushes into the part scan: $pushed")
  }

  test("q4: EXISTS plans as LeftSemi with the R-flag filter pushed below the join") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), "EXISTS did not plan as a semi join")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("EqualTo(l_returnflag,R)"),
      s"the returnflag filter no longer pushes into the lineitem scan: $pushed")
  }

  test("q18: the HAVING agg runs BEFORE the join-backs and top-100 is a TakeOrdered") {
    val p = plan("q18_big_orders")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-100 regressed to a global sort + limit")
    // the qualifying-order filter must sit directly on the aggregate,
    // under the joins (agg → filter → join), never above them
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && joinIdx < aggIdx,
      "the lineitem agg no longer feeds the joins (join-then-agg would ship every line)")
  }

  test("q16: the supplier exclusion is a LeftAnti and part filters push to the scan") {
    val p = plan("q16_supp_count")
    assert(p.contains("LeftAnti"), "NOT IN did not plan as an anti join")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("In(p_size"),
      s"the p_size IN-list no longer pushes into the part scan: $pushed")
  }

  test("q6_forecast_revenue: all three predicates push to the scan, 3-column ReadSchema") {
    val p = plan("q6_forecast_revenue")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c predicate not pushed to the lineitem scan: $pushed")
    val schema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(schema.contains("l_extendedprice") && !schema.contains("l_orderkey"),
      s"scan reads more than the 3 needed columns: $schema")
    assert(!p.contains("Join"), "q6 must be join-free")
  }

  test("q10_returned_items: nation broadcasts, revenue aggregates BEFORE the customer join") {
    val p = plan("q10_returned_items")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "nation/customer dims not broadcast at this sf")
    // the o_custkey revenue agg must sit under the customer join: a plan
    // that joins customer first carries customer width through the big agg
    val custScan = p.indexOf("customer.parquet")
    assert(custScan >= 0, "expected a customer scan in the plan")
    val before = p.substring(0, custScan)
    assert(before.contains("partial_sum") && before.contains("Keys [1]: [o_custkey"),
      "revenue aggregation no longer keys on o_custkey before the customer join")
  }

  test("q12_priority_class: one conditional agg pass over the join — no second scan") {
    val p = plan("q12_priority_class")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      "lineitem scanned more than once — the two CASE channels split into two passes")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate"), s"year filter not pushed: $pushed")
  }

  test("runtime bloom filter: a selective dim filter seeds might_contain on the fact side") {
    // The 100 TB shuffle-saver this suite can't see at sf sizes: when a
    // big-big join's build side carries a selective filter, Catalyst
    // injects a bloom_filter_agg on it and a might_contain runtime
    // filter on the probe-side scan, cutting the fact shuffle BEFORE the
    // join. Defaults gate on a 10 GB application-side scan, so the test
    // lowers the thresholds to prove the capability path stays alive on
    // this build (a Spark upgrade or an extensions change could silently
    // lose it).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = spark.read.parquet(s"$sf/lineitem.parquet")
      val p = spark.read.parquet(s"$sf/part.parquet")
        .filter(org.apache.spark.sql.functions.col("p_size") <= 2)
      val j = l.join(p, org.apache.spark.sql.functions.col("l_partkey") ===
        org.apache.spark.sql.functions.col("p_partkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") && plan.contains("might_contain"),
        s"runtime bloom-filter injection regressed — no might_contain in:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q_acf / q_rolling_corr: the hourly agg DISTRIBUTES before any unpartitioned window") {
    // both rows run their (documented, dimension-sized) unpartitioned
    // window strictly AFTER the keyed hourly aggregation — if the agg
    // ever slips above the window, the full event stream funnels into
    // one partition
    for (name <- Seq("q_acf", "q_rolling_corr")) {
      val p = plan(name)
      // in the formatted TREE a node prints above its children: the
      // Window must sit above a HashAggregate that sits above the scan
      val winIdx = p.indexOf("Window")
      assert(winIdx >= 0, s"$name lost its window")
      val below = p.substring(winIdx)
      val aggIdx = below.indexOf("HashAggregate")
      assert(aggIdx >= 0,
        s"$name: the hourly aggregation no longer sits between scan and window")
      assert(below.indexOf("events.parquet") > aggIdx,
        s"$name: the scan feeds the window directly — the keyed agg moved above it")
    }
  }

  test("q_rfm: scoring windows stay mktsegment-PARTITIONED, never a global ntile") {
    val p = plan("q_rfm")
    val ntiles = p.linesIterator.filter(_.contains("ntile(")).toSeq
    assert(ntiles.nonEmpty, "the quartile windows disappeared")
    assert(ntiles.forall(_.contains("c_mktsegment")),
      s"an ntile window lost its partition spec (single-partition sort at scale):\n${ntiles.mkString("\n")}")
    // formatted mode prints each node twice (tree + detail header); count nodes
    val bnl = p.linesIterator.filter(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")).toSeq
    assert(bnl.size <= 1, s"only the one-row now-date gate may cross-join:\n${bnl.mkString("\n")}")
  }

  test("q_basket_rules: pairs generate MAP-SIDE — no basket self-join, cross gates stay one-row") {
    val p = plan("q_basket_rules")
    assert(p.contains("Generate"), "the per-basket pair explode disappeared")
    val joinKeys = p.linesIterator
      .filter(l => l.contains("Left keys") || l.contains("Right keys")).mkString
    assert(!joinKeys.contains("__basket"),
      "a join keys on the basket id — the quadratic basket self-join returned")
    val bnl = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin Cross")).toSeq
    assert(bnl.size <= 2,
      s"unexpected nested-loop joins (only the two one-row count gates are allowed):\n${bnl.mkString("\n")}")
  }

  test("distributed rank family: NO single-partition window in gini / pareto / skyline") {
    // these three rank frames that are NOT structurally bounded (one
    // row per customer / supplier / distinct attribute cell), so they
    // route through Rank's two-phase scan: every Window must carry a
    // partition spec (the per-bucket local scan), and any
    // SinglePartition exchange may only funnel partial-aggregate rows
    // (the scalar-total idiom), never sort or window data
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    for (name <- Seq("q_gini", "q_pareto", "q_skyline_parts", "q_skyline_sql",
        "q_quantiles_exact", "q_quantiles_sql", "q_rank_sql",
        "q_rank_desc_sql", "q_running_sum_sql", "q_prefix_max_sql",
        "q_ntile_sql", "q_percent_rank_sql", "q_cume_dist_sql")) {
      val df = Catalog.queries(name)(spark, sf)
      val phys = df.queryExecution.sparkPlan
      val wins = phys.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name lost its per-bucket scan window")
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name has an UNPARTITIONED window — the single-partition ceiling is back"))
      val singles = phys.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      singles.foreach(e => assert(e.child.isInstanceOf[BaseAggregateExec],
        s"$name: a SinglePartition exchange feeds ${e.child.nodeName}, not a scalar aggregate"))
    }
  }

  test("pipeline_priority_sample: map-side top-k aggregate — no sort, no window, winners broadcast back") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (name <- Seq("pipeline_priority_sample", "pipeline_priority_sample_sql")) {
      val df = Catalog.queries(name)(spark, sf)
      val phys = df.queryExecution.sparkPlan
      // the global fixed-k sample must never rank via a window or sort
      // the data (the ORDER BY on the k output rows is fine — it sits
      // above the broadcast join of an already-k-sized frame)
      assert(phys.collect { case w: WindowExec => w }.isEmpty,
        s"$name: the priority sample grew a window — the single-partition ranking hazard")
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the k winners must join back as a broadcast, never a shuffle")
      assert(!p.contains("SortMergeJoin"),
        s"$name: the k-row winner frame fell back to sort-merge")
      // exactly the TopKBy aggregate pair (partial + final) ranks the data:
      // no SortExec may sit BELOW the aggregate (sorting the corpus to
      // sample it is the anti-pattern this operator exists to avoid)
      val aggs = phys.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a }
      assert(aggs.nonEmpty, s"$name: the TopKBy aggregate disappeared")
      assert(aggs.forall(a => a.collect { case s: SortExec => s }.isEmpty),
        s"$name: a sort feeds the top-k aggregate — the corpus is being sorted")
    }
  }

  test("q_skyline3 + its graft_skyline_n TVF twin: one cells aggregate, frontier scans stay join-free") {
    for (name <- Seq("q_skyline3", "q_skyline3_sql")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name: the d-dim frontier regressed to a quadratic join formulation")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"$name: skylineN grew a join — local-then-merge needs none")
      // exactly one keyed exchange: the distinct-cells aggregate (formatted
      // mode prints each node twice: tree line + detail header)
      val ex = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
      assert(ex == 1, s"$name: expected exactly 1 exchange (the cells agg), got $ex:\n$p")
    }
  }

  test("q11_important_stock: share threshold decorrelates to a hash join — no nested loop") {
    val p = plan("q11_important_stock")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the HAVING-share total joined as a nested loop — key the one-row total on the dummy column")
    assert(p.contains("BroadcastHashJoin"),
      "the nation supplier list / grand total lost their broadcasts")
    assert(!p.contains("SortMergeJoin"),
      "a broadcastable side fell back to sort-merge")
  }

  test("graph_hits: the superstep loop and collect start at most 5 Spark jobs") {
    // all 20 half-steps are stages of the one norm job; a per-step
    // checkpoint or action would add a job per step
    val jobs = TestSpark.sparkJobsDuring {
      assert(Catalog.queries("graph_hits")(spark, sf).collect().nonEmpty)
    }
    assert(jobs <= 5, s"graph_hits started $jobs Spark jobs")
  }

  test("text_codeid: every regex/token scan appears ONCE — the layered projection defeats CASE-branch double evaluation") {
    // emitting code_score next to its component features in one fused
    // Project evaluated every scan twice per row (CASE-branch subtrees
    // are invisible to Spark's CSE — verified via
    // EquivalentExpressions.getCommonSubexpressions, which extracted
    // only the guard predicates); withCodeFeatures layers the
    // projection so each regex runs once. Pin the count in the
    // OPTIMIZED plan: CollapseProject must keep refusing to inline the
    // multiply-referenced feature aliases.
    val opt = Catalog.queries("text_codeid")(spark, sf)
      .queryExecution.optimizedPlan.toString
    def cnt(pat: String): Int =
      java.util.regex.Pattern.quote(pat).r.findAllIn(opt).size
    for ((label, pat, want) <- Seq(
        ("symbol strip", "[{}\\[\\]();=<>#_]", 1),
        ("token normalize", "normalizews(", 1),
        ("camel rlike", "[a-z][A-Z]", 1),
        ("statement-end rlike", "[;{}:] *$", 1)))
      assert(cnt(pat) == want,
        s"$label regex appears ${cnt(pat)}x in the optimized plan " +
          s"(want $want — a scan is being re-evaluated):\n$opt")
    // and it stays a pure narrow map: no exchange but the output sort
    val p = plan("text_codeid")
    val ex = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(ex == 1, s"text_codeid: expected 1 exchange (output sort), got $ex")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "text_codeid grew a join or aggregate")
  }

  test("pipeline_c4_clean: the cleaner is a pure narrow map — no exchange but the output sort") {
    val p = plan("pipeline_c4_clean")
    val ex = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(ex == 1, s"pipeline_c4_clean: expected 1 exchange (output sort), got $ex")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "pipeline_c4_clean grew a join or aggregate")
    // and the line-ify + split runs ONCE (the layered projection): the
    // single-use `lined` alias inlines into the split, but the split
    // array itself is referenced three times (filter, n_lines,
    // n_dropped) and must stay materialized once
    val opt = Catalog.queries("pipeline_c4_clean")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val lineify = java.util.regex.Pattern.quote("((\\S+ ){4}\\S+) ").r
      .findAllIn(opt).size
    assert(lineify == 1,
      s"the line-ify regex appears ${lineify}x in the optimized plan (want 1):\n$opt")
  }

  test("pipeline_temperature_mix: the returned plan is scan + filter only — no corpus shuffle, join, or aggregate") {
    // the |strata|-cell count fit runs at BUILD time as its own bounded
    // job; the plan handed back must be nothing but the Knuth-draw
    // filter over the pruned scan (plus the presentation sort) — in
    // both modes (clamp and exact-budget water-filling)
    for (name <- Seq("pipeline_temperature_mix",
        "pipeline_temperature_mix_exact")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
      assert(!p.contains("HashAggregate"), s"$name grew an aggregate:\n$p")
      val ex = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
      assert(ex == 1, s"$name: expected 1 exchange (output sort), got $ex")
      assert(p.contains("Filter"), s"$name lost its draw filter")
    }
  }
  test("pipeline_dsir_weights: eager fit leaves a single-pass apply — one gram explode, model joins broadcast") {
    val p = plan("pipeline_dsir_weights")
    // the fit (two bounded bucket aggs) runs at BUILD time; the RETURNED
    // plan is the apply only: one gram explode over the corpus, the
    // 1024-row model as a broadcast join, one per-doc aggregate, and the
    // zero-gram-doc join back. A lazy fit re-aggregated the full gram
    // stream TWICE per corpus for the smoothing totals (4 corpus passes
    // where 2 suffice) — the Generate count pins the single pass.
    val gen = p.linesIterator.count(_.trim.matches("""\(\d+\) Generate.*"""))
    assert(gen == 1, s"pipeline_dsir_weights: expected exactly 1 gram " +
      s"explode in the apply plan, got $gen:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"pipeline_dsir_weights: the model join must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"pipeline_dsir_weights grew an unbounded join:\n$p")
    // the fit's lang filter must NOT appear: the apply scans only
    // (doc_id, text)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!reads.contains("lang"),
      s"pipeline_dsir_weights: the apply scan is not pruned to " +
        s"(doc_id, text): $reads")
  }

  test("pipeline_dsir_model: the narrow-map apply is zero-join, zero-agg — one exchange (the output sort)") {
    val p = plan("pipeline_dsir_model")
    val ex = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(ex == 1,
      s"pipeline_dsir_model: expected 1 exchange (output sort), got $ex:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"pipeline_dsir_model: the narrow map grew a join or aggregate:\n$p")
  }

  test("pipeline_e2e: the composite stays 3 exchanges — clean/gate/mix are narrow, dedup broadcasts its survivor set") {
    // the end-to-end chain (C4 clean -> encoding/script gate -> exact
    // dedup -> temperature mix -> corpus report) must not accumulate
    // exchanges as stages stack: the only shuffles are the dedup
    // fingerprint aggregate, the report aggregate, and the
    // presentation sort; the survivor set joins back as a BROADCAST
    // left-semi (it is an aggregate output, never corpus-sized on the
    // build side), and the mix keep-filter is a pure narrow map (its
    // |strata|-cell fit is a separate bounded job at plan build).
    // r17: the clean/gate stage and the dedup survivor set materialize
    // ONCE per run via localCheckpoint (they each fed 2+ downstream
    // consumers — four full regex passes over the corpus before), so the
    // returned plan is the report over the checkpointed survivors: the
    // report aggregate and the presentation sort are the only exchanges,
    // and the corpus sources appear as the checkpoint scan (the dedup
    // agg + broadcast semi-join run inside the checkpoint job).
    val p = plan("pipeline_e2e")
    val ex = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(ex == 2,
      s"pipeline_e2e: expected exactly 2 exchanges (report agg, output sort), got $ex:\n$p")
    assert(p.contains("ExistingRDD"),
      s"pipeline_e2e: the composite stopped reading its checkpointed survivor set:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pipeline_e2e: a cartesian/BNLJ crept into the composite:\n$p")
  }
}
