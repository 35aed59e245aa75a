package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.expressions.{CosineSimilarity, HyperplaneBucket, JaccardSorted, MinHashBands, MisraGries, RollingHash64, SimHash64, SubwordSplit, TextStats, TopKBy, WordShingles}

/** SparkSessionExtensions hook: registers the engine's custom Catalyst
  * expressions as SQL functions, so `spark.sql` users get the same surface
  * as the Column API:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  *   SELECT simhash64(tokens), minhash_bands(shingles, 8, 4),
  *          jaccard_sorted(a, b), word_shingles(tokens, 3) ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects an integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n argument(s), got ${args.length}")

  private def stringArrayLit(e: Expression, name: String): Array[String] =
    GraftExtensions.stringArrayLit(e, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => { arity("simhash64", args, 1); SimHash64(args.head) }))

    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (args: Seq[Expression]) => { arity("minhash_bands", args, 3)
        MinHashBands(args(0), intLit(args(1), "numBands"), intLit(args(2), "rowsPerBand")) }))

    ext.injectFunction((
      new FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSorted].getName, "jaccard_sorted"),
      (args: Seq[Expression]) => { arity("jaccard_sorted", args, 2)
        JaccardSorted(args(0), args(1)) }))

    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => { arity("word_shingles", args, 2)
        WordShingles(args(0), intLit(args(1), "k")) }))

    ext.injectFunction((
      new FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (args: Seq[Expression]) => { arity("text_stats", args, 1); TextStats(args.head) }))

    ext.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      (args: Seq[Expression]) => { arity("hyperplane_bucket", args, 2)
        HyperplaneBucket(args(0), intLit(args(1), "bits")) }))

    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => { arity("cosine_sim", args, 2)
        CosineSimilarity(args(0), args(1)) }))

    ext.injectFunction((
      new FunctionIdentifier("rolling_hash64"),
      new ExpressionInfo(classOf[RollingHash64].getName, "rolling_hash64"),
      (args: Seq[Expression]) => { arity("rolling_hash64", args, 1); RollingHash64(args.head) }))

    ext.injectFunction((
      new FunctionIdentifier("subword_split"),
      new ExpressionInfo(classOf[SubwordSplit].getName, "subword_split"),
      (args: Seq[Expression]) => { arity("subword_split", args, 3)
        SubwordSplit(args(0), stringArrayLit(args(1), "vocab"),
          intLit(args(2), "maxPieceLen")) }))

    ext.injectFunction((
      new FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[TopKBy].getName, "topk_by"),
      (args: Seq[Expression]) => { arity("topk_by", args, 3)
        TopKBy(args(0), args(1), intLit(args(2), "k")).toAggregateExpression() }))

    ext.injectFunction((
      new FunctionIdentifier("topk_by_scored"),
      new ExpressionInfo(classOf[TopKBy].getName, "topk_by_scored"),
      (args: Seq[Expression]) => { arity("topk_by_scored", args, 3)
        TopKBy(args(0), args(1), intLit(args(2), "k"), withScores = true)
          .toAggregateExpression() }))

    ext.injectFunction((
      new FunctionIdentifier("quantile_sketch"),
      new ExpressionInfo(classOf[graft.functions.expressions.QuantileSketch].getName,
        "quantile_sketch"),
      (args: Seq[Expression]) => { arity("quantile_sketch", args, 3)
        graft.functions.expressions.QuantileSketch(args(0),
          GraftExtensions.doubleCsvLit(args(1), "quantile_sketch probsCsv"),
          intLit(args(2), "k")).toAggregateExpression() }))

    ext.injectFunction((
      new FunctionIdentifier("approx_heavy_hitters"),
      new ExpressionInfo(classOf[MisraGries].getName, "approx_heavy_hitters"),
      (args: Seq[Expression]) => { arity("approx_heavy_hitters", args, 2)
        MisraGries(args(0), intLit(args(1), "k")).toAggregateExpression() }))

    //   SELECT hilbert_key(x, y, 8), interleave_bits(array(x, y), 8) ...
    // the layout keys as plain scalar functions, so a SQL user can
    // cluster-sort or inspect curve positions without the Column API
    ext.injectFunction((
      new FunctionIdentifier("hilbert_key"),
      new ExpressionInfo(classOf[graft.functions.expressions.HilbertD2].getName,
        "hilbert_key"),
      (args: Seq[Expression]) => { arity("hilbert_key", args, 3)
        graft.functions.expressions.HilbertD2(
          org.apache.spark.sql.catalyst.expressions.CreateArray(
            Seq(args(0), args(1))), intLit(args(2), "bits")) }))

    ext.injectFunction((
      new FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(classOf[graft.functions.expressions.InterleaveBits].getName,
        "interleave_bits"),
      (args: Seq[Expression]) => { arity("interleave_bits", args, 2)
        graft.functions.expressions.InterleaveBits(args(0), intLit(args(1), "bits")) }))

    // ---- table-valued functions: the engine's READ surfaces in pure SQL
    //   SELECT * FROM graft_view('/path/to/db')
    //   SELECT * FROM graft_view('/path/to/db', 1755150000)   -- asOf secs
    //   SELECT * FROM graft_agg_view('/path/to/view')
    //   SELECT * FROM graft_join_view('/path/to/view')        -- inner
    //   SELECT * FROM graft_join_view('/path/to/view', false) -- left form
    ext.injectTableFunction((
      new FunctionIdentifier("graft_view"),
      new ExpressionInfo(classOf[graft.core.GraftDB].getName, "graft_view"),
      (args: Seq[Expression]) => GraftExtensions.graftViewPlan(args)))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_agg_view"),
      new ExpressionInfo(classOf[graft.operators.AggView.type].getName, "graft_agg_view"),
      (args: Seq[Expression]) => GraftExtensions.graftAggViewPlan(args)))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_join_view"),
      new ExpressionInfo(classOf[graft.operators.JoinView.type].getName, "graft_join_view"),
      (args: Seq[Expression]) => GraftExtensions.graftJoinViewPlan(args)))
    //   SELECT * FROM graft_changes('/backup', '/live')  -- catch-up feed
    ext.injectTableFunction((
      new FunctionIdentifier("graft_changes"),
      new ExpressionInfo(classOf[graft.core.GraftDB].getName, "graft_changes"),
      (args: Seq[Expression]) => GraftExtensions.graftChangesPlan(args)))
    //   SELECT * FROM graft_search('/idx', 'query text')       -- top 10
    //   SELECT * FROM graft_search('/idx', 'query text', 25)   -- top k
    ext.injectTableFunction((
      new FunctionIdentifier("graft_search"),
      new ExpressionInfo(classOf[graft.llmops.Search.type].getName, "graft_search"),
      (args: Seq[Expression]) => GraftExtensions.graftSearchPlan(args)))
    //   SELECT * FROM graft_ann('/idx', array(0.1, 0.2, ...), 10)     -- top k
    //   SELECT * FROM graft_ann('/idx', array(...), 10, 8)            -- nProbe
    ext.injectTableFunction((
      new FunctionIdentifier("graft_ann"),
      new ExpressionInfo(classOf[graft.llmops.Similarity.type].getName, "graft_ann"),
      (args: Seq[Expression]) => GraftExtensions.graftAnnPlan(args)))
    //   SELECT * FROM graft_asof('clicks', 'quotes', 'user_id', 'ts_ms',
    //                            'ts_ms', 'value', 'backward', 'event_id')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_asof"),
      new ExpressionInfo(classOf[graft.operators.KVOps.type].getName, "graft_asof"),
      (args: Seq[Expression]) => GraftExtensions.graftAsofPlan(args)))
    //   SELECT * FROM graft_attribution('events', 'purchase', 'click,view', 604800000)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_attribution"),
      new ExpressionInfo(classOf[graft.operators.Analytics.type].getName, "graft_attribution"),
      (args: Seq[Expression]) => GraftExtensions.graftAttributionPlan(args)))
    //   SELECT * FROM graft_skyline('parts', 'p_retailprice', 'p_size')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_skyline"),
      new ExpressionInfo(classOf[graft.operators.Analytics.type].getName, "graft_skyline"),
      (args: Seq[Expression]) => GraftExtensions.graftSkylinePlan(args)))
    //   SELECT * FROM graft_rules('baskets', 'order_id', 'item', 0.01)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_rules"),
      new ExpressionInfo(classOf[graft.operators.Analytics.type].getName, "graft_rules"),
      (args: Seq[Expression]) => GraftExtensions.graftRulesPlan(args)))
    //   SELECT * FROM graft_quantiles('orders', 'o_totalprice', '0.25,0.5,0.75')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_quantiles"),
      new ExpressionInfo(classOf[graft.operators.Rank.type].getName, "graft_quantiles"),
      (args: Seq[Expression]) => GraftExtensions.graftQuantilesPlan(args)))
    //   SELECT * FROM graft_bpe('documents', 8)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_bpe"),
      new ExpressionInfo(classOf[graft.llmops.Tokenize.type].getName, "graft_bpe"),
      (args: Seq[Expression]) => GraftExtensions.graftBpePlan(args)))
    //   SELECT * FROM graft_rank('orders', 'o_totalprice', 'o_orderkey')
    //   SELECT * FROM graft_rank('orders', 'o_totalprice', 'o_orderkey', true)  -- desc
    ext.injectTableFunction((
      new FunctionIdentifier("graft_rank"),
      new ExpressionInfo(classOf[graft.operators.Rank.type].getName, "graft_rank"),
      (args: Seq[Expression]) => GraftExtensions.graftRankPlan(args)))
    //   SELECT * FROM graft_running_sum('spend', 'cents', 'o_custkey', 'cents')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_running_sum"),
      new ExpressionInfo(classOf[graft.operators.Rank.type].getName, "graft_running_sum"),
      (args: Seq[Expression]) => GraftExtensions.graftRunningSumPlan(args)))
    //   SELECT * FROM graft_prefix_max('spend', 'cents', 'o_custkey', 'cents')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_prefix_max"),
      new ExpressionInfo(classOf[graft.operators.Rank.type].getName, "graft_prefix_max"),
      (args: Seq[Expression]) => GraftExtensions.graftPrefixMaxPlan(args)))
    //   SELECT * FROM graft_ntile('spend', 'cents', 'o_custkey', 4)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_ntile"),
      new ExpressionInfo(classOf[graft.operators.Rank.type].getName, "graft_ntile"),
      (args: Seq[Expression]) => GraftExtensions.graftNtilePlan(args)))
    //   SELECT * FROM graft_percent_rank('spend', 'cents', 'o_custkey')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_percent_rank"),
      new ExpressionInfo(classOf[graft.operators.Rank.type].getName, "graft_percent_rank"),
      (args: Seq[Expression]) => GraftExtensions.graftPercentRankPlan(args)))
    //   SELECT * FROM graft_cume_dist('spend', 'cents')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_cume_dist"),
      new ExpressionInfo(classOf[graft.operators.Rank.type].getName, "graft_cume_dist"),
      (args: Seq[Expression]) => GraftExtensions.graftCumeDistPlan(args)))
    //   SELECT * FROM graft_priority_sample('documents', 50, 'n_chars', 'doc_id')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_priority_sample"),
      new ExpressionInfo(classOf[graft.llmops.Curation.type].getName, "graft_priority_sample"),
      (args: Seq[Expression]) => GraftExtensions.graftPrioritySamplePlan(args)))
    //   SELECT * FROM graft_resample('events_view', 'user_id', 'ts_ms', 'value', 'event_id', 3600000)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_stratum_sample"),
      new ExpressionInfo(classOf[graft.llmops.Curation.type].getName, "graft_stratum_sample"),
      (args: Seq[Expression]) => GraftExtensions.graftStratumSamplePlan(args)))
    //   SELECT * FROM graft_pca('/model', 'emb_view', 'embedding', true)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_pca"),
      new ExpressionInfo(classOf[graft.llmops.Similarity.type].getName, "graft_pca"),
      (args: Seq[Expression]) => GraftExtensions.graftPcaPlan(args)))
    //   SELECT * FROM graft_random_project('emb_view', 'embedding', 16, 64, 7)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_random_project"),
      new ExpressionInfo(classOf[graft.llmops.Similarity.type].getName, "graft_random_project"),
      (args: Seq[Expression]) => GraftExtensions.graftRandomProjectPlan(args)))
    //   SELECT doc_id, code_score FROM graft_codeid('documents', 'text')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_codeid"),
      new ExpressionInfo(classOf[graft.functions.Text.type].getName, "graft_codeid"),
      (args: Seq[Expression]) => GraftExtensions.graftCodeidPlan(args)))
    //   SELECT doc_id, enc_score FROM graft_encoding('documents', 'text')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_encoding"),
      new ExpressionInfo(classOf[graft.functions.Text.type].getName, "graft_encoding"),
      (args: Seq[Expression]) => GraftExtensions.graftEncodingPlan(args)))
    //   SELECT doc_id, script_pred FROM graft_script('documents', 'text')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_script"),
      new ExpressionInfo(classOf[graft.functions.Text.type].getName, "graft_script"),
      (args: Seq[Expression]) => GraftExtensions.graftScriptPlan(args)))
    //   SELECT doc_id, clean_text FROM graft_c4_clean('documents', 'text')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_c4_clean"),
      new ExpressionInfo(classOf[graft.functions.Text.type].getName, "graft_c4_clean"),
      (args: Seq[Expression]) => GraftExtensions.graftC4CleanPlan(args)))
    //   SELECT vec_id, sq FROM graft_sq8('/model', 'emb_view', 'embedding')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_sq8"),
      new ExpressionInfo(classOf[graft.llmops.Similarity.type].getName, "graft_sq8"),
      (args: Seq[Expression]) => GraftExtensions.graftSq8Plan(args)))
    //   SELECT * FROM graft_temperature_mix('documents', 'lang', 250)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_temperature_mix"),
      new ExpressionInfo(classOf[graft.llmops.Curation.type].getName, "graft_temperature_mix"),
      (args: Seq[Expression]) => GraftExtensions.graftTemperatureMixPlan(args)))
    //   SELECT * FROM graft_corpus_report('documents', 'source', 'text')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_corpus_report"),
      new ExpressionInfo(classOf[graft.llmops.Curation.type].getName, "graft_corpus_report"),
      (args: Seq[Expression]) => GraftExtensions.graftCorpusReportPlan(args)))
    //   SELECT doc_id, oov_rate FROM graft_oov('documents', 15)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_oov"),
      new ExpressionInfo(classOf[graft.llmops.Tokenize.type].getName, "graft_oov"),
      (args: Seq[Expression]) => GraftExtensions.graftOovPlan(args)))
    //   SELECT doc_id, oov_rate FROM graft_oov_model('/model', 'documents')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_oov_model"),
      new ExpressionInfo(classOf[graft.llmops.Tokenize.type].getName, "graft_oov_model"),
      (args: Seq[Expression]) => GraftExtensions.graftOovModelPlan(args)))
    //   SELECT doc_id, logw FROM graft_dsir('target_docs', 'documents', 1024)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_dsir"),
      new ExpressionInfo(classOf[graft.llmops.Importance.type].getName, "graft_dsir"),
      (args: Seq[Expression]) => GraftExtensions.graftDsirPlan(args)))
    //   SELECT doc_id, logw FROM graft_dsir_model('/model', 'documents')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_dsir_model"),
      new ExpressionInfo(classOf[graft.llmops.Importance.type].getName, "graft_dsir_model"),
      (args: Seq[Expression]) => GraftExtensions.graftDsirModelPlan(args)))
    //   SELECT * FROM graft_boilerplate('documents', 8, 0.005, 3)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_boilerplate"),
      new ExpressionInfo(classOf[graft.llmops.Dedup.type].getName, "graft_boilerplate"),
      (args: Seq[Expression]) => GraftExtensions.graftBoilerplatePlan(args)))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_resample"),
      new ExpressionInfo(classOf[graft.operators.Resample.type].getName, "graft_resample"),
      (args: Seq[Expression]) => GraftExtensions.graftResamplePlan(args)))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_interpolate"),
      new ExpressionInfo(classOf[graft.operators.Resample.type].getName, "graft_interpolate"),
      (args: Seq[Expression]) => GraftExtensions.graftInterpolatePlan(args)))
    //   SELECT * FROM graft_skyline_n('part', 'p_retailprice', 'p_size,p_partkey')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_skyline_n"),
      new ExpressionInfo(classOf[graft.operators.Analytics.type].getName, "graft_skyline_n"),
      (args: Seq[Expression]) => GraftExtensions.graftSkylineNPlan(args)))

    // ---- optimizer rules: the range-join bin rewrite (opt-in via
    //   SET spark.graft.rangeJoin.binSize=<units> — see RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}

object GraftExtensions {

  /** Rank-family TVF boundary guard: the ordering key seeds the
    * quantile buckets via a double cast, so a non-numeric column would
    * silently cast to NULL and collapse every row into bucket 0 —
    * correct output, single-partition performance (the skyline2 hazard
    * class). Fail loudly at the SQL boundary instead. */
  private def requireNumeric(df: org.apache.spark.sql.DataFrame,
      colName: String, fn: String): Unit =
    require(df.schema(colName).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$fn: ordering column '$colName' must be numeric (it seeds the " +
        "distributed rank's quantile buckets), got " +
        df.schema(colName).dataType.simpleString)

  /** A FOLDABLE probs-CSV string literal (e.g. `'0.25,0.5,0.75'`) — the
    * probabilities parameter shape for `quantile_sketch` in SQL. */
  private[graft] def doubleCsvLit(e: Expression, name: String): Seq[Double] = {
    require(e.foldable, s"$name expects a CSV string literal, got $e")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String =>
        s.toString.split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
      case other => throw new IllegalArgumentException(
        s"$name expects a CSV string literal, evaluated to $other")
    }
  }

  /** A FOLDABLE array-of-strings argument (e.g. `array('ab', 'cd')`) —
    * the vocab parameter shape for `subword_split` in SQL.
    */
  private[graft] def stringArrayLit(e: Expression, name: String): Array[String] = {
    require(e.foldable, s"$name expects a foldable array<string> literal, got $e")
    e.eval() match {
      case d: org.apache.spark.sql.catalyst.util.ArrayData =>
        d.toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString)
      case other => throw new IllegalArgumentException(
        s"$name expects array<string>, evaluated to $other")
    }
  }

  // ---- TVF builders: each opens the engine/view read-only and hands its
  // DataFrame's ANALYZED plan to the SQL query tree. Opening per query is
  // cheap by design — a warm manifest load, the state being cached per dir —
  // and keeps the TVF stateless (no handle cache to invalidate on commits).

  private def stringLit(e: Expression, name: String): String = {
    require(e.foldable && e.dataType == org.apache.spark.sql.types.StringType,
      s"$name expects a string literal, got $e")
    val v = e.eval()
    require(v != null, s"$name expects a non-null string literal")
    v.toString
  }

  private def longLit(e: Expression, name: String): Long = {
    require(e.foldable, s"$name expects an integral literal, got $e")
    e.eval() match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$name expects an integral literal, evaluated to $other")
    }
  }

  private def boolLit(e: Expression, name: String): Boolean = {
    require(e.foldable && e.dataType == org.apache.spark.sql.types.BooleanType,
      s"$name expects a boolean literal, got $e")
    e.eval().asInstanceOf[Boolean]
  }

  /** An integral literal that must FIT in 32 bits: a bare
    * `longLit(...).toInt` silently truncates an out-of-range value (e.g.
    * `graft_ntile(..., 5000000000)` becomes a wrong-but-positive bucket
    * count that passes downstream `require(n > 0)` checks), so every TVF
    * int parameter routes through this boundary check instead.
    */
  private def intLit(e: Expression, name: String): Int = {
    val l = longLit(e, name)
    require(l >= Int.MinValue && l <= Int.MaxValue,
      s"$name must fit in a 32-bit integer, got $l")
    l.toInt
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n argument(s), got ${args.length}")

  private[graft] def graftViewPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 1 || args.length == 2,
      s"graft_view(path[, asOfUnixSec]) expects 1-2 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val db = new graft.core.GraftDB(spark, stringLit(args.head, "graft_view path"))
    val view =
      if (args.length == 2) db.view(longLit(args(1), "graft_view asOfUnixSec"))
      else db.view()
    view.queryExecution.analyzed
  }

  /** `graft_search(indexDir, query[, k])`: BM25 top-k over a persisted
    * text index as a pure-SQL table function — the partition-pruned
    * probe plan of [[graft.llmops.Search.bm25TopKIndexed]], identical
    * scores, one row per hit `(rank, doc_id, score)`.
    */
  private[graft] def graftSearchPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      s"graft_search(indexDir, query[, k]) expects 2-3 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val qs = Seq((0L, stringLit(args(1), "graft_search query")))
      .toDF("query_id", "qtext")
    val k = if (args.length == 3) intLit(args(2), "graft_search k") else 10
    graft.llmops.Search
      .bm25TopKIndexed(spark, stringLit(args.head, "graft_search indexDir"), qs, k)
      .select(org.apache.spark.sql.functions.col("rank"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("score"))
      .queryExecution.analyzed
  }

  /** `graft_ann(indexDir, queryVec, k[, nProbe])`: ANN top-k over a
    * persisted IVF index as a pure-SQL table function — the broadcast
    * centroid rank + cell-pruned probe of
    * [[graft.llmops.Similarity.ivfTopKIndexed]], one row per hit
    * `(rank, neighbor_id)`. The query vector is a foldable SQL
    * array literal (`array(0.1, 0.2, ...)`).
    */
  private[graft] def graftAnnPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      s"graft_ann(indexDir, queryVec, k[, nProbe]) expects 3-4 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val vec = floatArrayLit(args(1), "graft_ann queryVec")
    val k = intLit(args(2), "graft_ann k")
    val nProbe = if (args.length == 4) intLit(args(3), "graft_ann nProbe") else 4
    val qs = Seq((-1L, vec.toSeq)).toDF("vec_id", "embedding")
    graft.llmops.Similarity
      .ivfTopKIndexed(spark, stringLit(args.head, "graft_ann indexDir"),
        qs, k, nProbe)
      .select(org.apache.spark.sql.functions.col("rank"),
        org.apache.spark.sql.functions.col("neighbor_id"))
      .queryExecution.analyzed
  }

  /** A FOLDABLE numeric-array literal (`array(0.1, 0.2, ...)`) coerced
    * to Float elements — the query-vector parameter shape for
    * `graft_ann` in SQL.
    */
  private[graft] def floatArrayLit(e: Expression, name: String): Array[Float] = {
    require(e.foldable, s"$name expects a foldable array<numeric> literal, got $e")
    val elemT = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(t, _) => t
      case other => throw new IllegalArgumentException(
        s"$name expects an array literal, got type $other")
    }
    e.eval() match {
      case d: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until d.numElements()).map { i =>
          d.get(i, elemT) match {
            case f: Float => f
            case x: Double => x.toFloat
            case x: Int => x.toFloat
            case x: Long => x.toFloat
            case x: org.apache.spark.sql.types.Decimal => x.toFloat
            case other => throw new IllegalArgumentException(
              s"$name: non-numeric element $other")
          }
        }.toArray
      case other => throw new IllegalArgumentException(
        s"$name expects an array literal, evaluated to $other")
    }
  }

  /** `graft_asof(leftTable, rightTable, keysCsv, leftTimeCol,
    * rightTimeCol, payloadCsv, direction, rightOrderCol[, toleranceMs])`:
    * the as-of join family ([[graft.operators.KVOps]]) as a pure-SQL
    * table function over registered tables/views — the #1 event-
    * analytics idiom, reachable without the Column API. `direction` is
    * `'backward' | 'forward' | 'nearest'` (pandas merge_asof's three
    * modes); `rightOrderCol` breaks ties among right rows sharing a
    * timestamp (pass `''` to skip); `toleranceMs` bounds match distance.
    * Output = left columns + `asof_<payload>` — and the plan is the
    * union-window form (ONE hash exchange on the keys, NO join node),
    * identical to the Column API: PlanShapeSpec pins it.
    */
  private[graft] def graftAsofPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 8 || args.length == 9,
      "graft_asof(leftTable, rightTable, keysCsv, leftTimeCol, rightTimeCol, " +
        s"payloadCsv, direction, rightOrderCol[, toleranceMs]) expects 8-9 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val left = spark.table(stringLit(args(0), "graft_asof leftTable"))
    val right = spark.table(stringLit(args(1), "graft_asof rightTable"))
    def csv(i: Int, name: String): Seq[String] =
      stringLit(args(i), name).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val keys = csv(2, "graft_asof keysCsv")
    require(keys.nonEmpty, "graft_asof: keysCsv must name at least one key column")
    val lt = stringLit(args(3), "graft_asof leftTimeCol")
    val rt = stringLit(args(4), "graft_asof rightTimeCol")
    val payload = csv(5, "graft_asof payloadCsv")
    require(payload.nonEmpty, "graft_asof: payloadCsv must name at least one payload column")
    val ord = stringLit(args(7), "graft_asof rightOrderCol") match {
      case "" => None
      case s => Some(s)
    }
    val tol = if (args.length == 9) Some(longLit(args(8), "graft_asof toleranceMs")) else None
    val out = stringLit(args(6), "graft_asof direction").toLowerCase match {
      case "backward" =>
        graft.operators.KVOps.asofJoinBackward(left, right, keys, lt, rt, payload, ord, tol)
      case "forward" =>
        graft.operators.KVOps.asofJoinForward(left, right, keys, lt, rt, payload, ord, tol)
      case "nearest" =>
        graft.operators.KVOps.asofJoinNearest(left, right, keys, lt, rt, payload, ord, tol)
      case other => throw new IllegalArgumentException(
        s"graft_asof: direction must be backward|forward|nearest, got '$other'")
    }
    out.queryExecution.analyzed
  }

  /** `graft_attribution(eventsTable, convType, touchTypesCsv, lookbackMs)`:
    * the multi-touch attribution cells straight from SQL — routes to
    * [[graft.operators.Analytics.attribution]] with the operator's
    * default column names (`user_id`/`event_type`/`ts_ms`/`event_id`/
    * `value`) and a day-sized bin, so the SQL surface carries the same
    * binned-candidates + one-conv-exchange plan the Column API certifies.
    */
  private[graft] def graftAttributionPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4,
      "graft_attribution(eventsTable, convType, touchTypesCsv, lookbackMs) " +
        s"expects 4 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val events = spark.table(stringLit(args(0), "graft_attribution eventsTable"))
    val conv = stringLit(args(1), "graft_attribution convType")
    val touches = stringLit(args(2), "graft_attribution touchTypesCsv")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val look = longLit(args(3), "graft_attribution lookbackMs")
    graft.operators.Analytics.attribution(events, conv, touches, look)
      .queryExecution.analyzed
  }

  /** `graft_skyline(table, minCol, maxCol)`: the 2-attribute Pareto
    * frontier straight from SQL — routes to
    * [[graft.operators.Analytics.skyline2]] (distinct cells → the
    * distributed two-phase prefix-max frontier scan; never a
    * single-partition window, never the raw table). `minCol` must be
    * NUMERIC — it seeds the frontier's quantile buckets (enforced with a
    * clear error); `maxCol` needs only an ordering. For d≥3 attributes
    * use `graft_skyline_n`.
    */
  private[graft] def graftSkylinePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3,
      s"graft_skyline(table, minCol, maxCol) expects 3 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_skyline table"))
    graft.operators.Analytics.skyline2(df,
        stringLit(args(1), "graft_skyline minCol"),
        stringLit(args(2), "graft_skyline maxCol"))
      .queryExecution.analyzed
  }

  /** `graft_rules(table, basketCol, itemCol, minSupport[, minConfidence])`:
    * market-basket association rules straight from SQL — routes to
    * [[graft.operators.Analytics.basketRules]] (map-side pair
    * generation, a-priori pruning, loud width guard).
    */
  private[graft] def graftRulesPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4 || args.length == 5,
      "graft_rules(table, basketCol, itemCol, minSupport[, minConfidence]) " +
        s"expects 4-5 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_rules table"))
    graft.operators.Analytics.basketRules(df,
        stringLit(args(1), "graft_rules basketCol"),
        stringLit(args(2), "graft_rules itemCol"),
        minSupport = doubleLit(args(3), "graft_rules minSupport"),
        minConfidence =
          if (args.length == 5) doubleLit(args(4), "graft_rules minConfidence")
          else 0.0)
      .queryExecution.analyzed
  }

  /** `graft_quantiles(table, valueCol, probsCsv)`: EXACT distributed
    * discrete quantiles straight from SQL — routes to
    * [[graft.operators.Rank.quantilesDisc]] (two-phase global rank, no
    * single-partition sort, no whole-column aggregation buffer).
    * `probsCsv` is a comma-separated list of probabilities in [0, 1].
    */
  private[graft] def graftQuantilesPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3,
      s"graft_quantiles(table, valueCol, probsCsv) expects 3 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_quantiles table"))
    requireNumeric(df, stringLit(args(1), "graft_quantiles valueCol"), "graft_quantiles")
    val probs = stringLit(args(2), "graft_quantiles probsCsv")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
    graft.operators.Rank.quantilesDisc(df,
        stringLit(args(1), "graft_quantiles valueCol"), probs)
      .queryExecution.analyzed
  }

  /** `graft_bpe(table, numMerges[, textCol])`: iterative BPE merge
    * training straight from SQL — routes to
    * [[graft.llmops.Tokenize.bpeMerges]]; returns the learned
    * `(merge_rank, pair, pair_count)` table. Note the training loop
    * runs at PLAN time (one bounded argmax collect per round), so the
    * TVF call itself pays the rounds — the standard trainer contract.
    */
  private[graft] def graftBpePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      s"graft_bpe(table, numMerges[, textCol]) expects 2-3 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_bpe table"))
    graft.llmops.Tokenize.bpeMerges(df,
        numMerges = intLit(args(1), "graft_bpe numMerges"),
        textCol =
          if (args.length == 3) stringLit(args(2), "graft_bpe textCol")
          else "text")
      .queryExecution.analyzed
  }

  /** `graft_rank(table, valueCol, tieCol[, descending])`: the two-phase
    * distributed global `row_number` from SQL — routes to
    * [[graft.operators.Rank.rowNumber]] over the total order
    * `(valueCol, tieCol)` (no single-partition window; `valueCol` must
    * be numeric — it seeds the quantile buckets). Pass `true` as the
    * optional 4th argument for a DESCENDING value order (ties still
    * ascend): the TVF negates the numeric key internally, so SQL users
    * never hand-negate. Returns the input columns plus `rn`.
    */
  private[graft] def graftRankPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      "graft_rank(table, valueCol, tieCol[, descending]) expects 3-4 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_rank table"))
    val v = stringLit(args(1), "graft_rank valueCol")
    requireNumeric(df, v, "graft_rank")
    val tie = stringLit(args(2), "graft_rank tieCol")
    val desc = args.length == 4 && boolLit(args(3), "graft_rank descending")
    val key =
      if (desc) org.apache.spark.sql.functions.negate(
        org.apache.spark.sql.functions.col(v))
      else org.apache.spark.sql.functions.col(v)
    graft.operators.Rank.rowNumber(df,
        Seq(key, org.apache.spark.sql.functions.col(tie)),
        bucketOn = key, out = "rn")
      .queryExecution.analyzed
  }

  /** `graft_running_sum(table, orderCol, tieCol, valueCol)`: distributed
    * global running sum (current row inclusive) over the total order
    * `(orderCol, tieCol)` — routes to
    * [[graft.operators.Rank.runningSum]]; no single-partition window.
    * `orderCol` must be numeric (quantile-bucket seed); use an
    * exact-integer `valueCol` when the result feeds a hash compare (the
    * Rank contract). Returns the input columns plus `running_sum`.
    */
  private[graft] def graftRunningSumPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4,
      "graft_running_sum(table, orderCol, tieCol, valueCol) expects 4 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_running_sum table"))
    val o = stringLit(args(1), "graft_running_sum orderCol")
    requireNumeric(df, o, "graft_running_sum")
    val tie = stringLit(args(2), "graft_running_sum tieCol")
    val v = stringLit(args(3), "graft_running_sum valueCol")
    graft.operators.Rank.runningSum(df,
        Seq(org.apache.spark.sql.functions.col(o),
          org.apache.spark.sql.functions.col(tie)),
        bucketOn = org.apache.spark.sql.functions.col(o),
        value = org.apache.spark.sql.functions.col(v), out = "running_sum")
      .queryExecution.analyzed
  }

  /** `graft_prefix_max(table, orderCol, tieCol, valueCol)`: distributed
    * global STRICT-prefix max (current row excluded; NULL for the global
    * first row) over the total order `(orderCol, tieCol)` — routes to
    * [[graft.operators.Rank.prefixMax]]; no single-partition window.
    * `orderCol` must be numeric. Returns the input columns plus
    * `prefix_max`.
    */
  private[graft] def graftPrefixMaxPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4,
      "graft_prefix_max(table, orderCol, tieCol, valueCol) expects 4 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_prefix_max table"))
    val o = stringLit(args(1), "graft_prefix_max orderCol")
    requireNumeric(df, o, "graft_prefix_max")
    val tie = stringLit(args(2), "graft_prefix_max tieCol")
    val v = stringLit(args(3), "graft_prefix_max valueCol")
    graft.operators.Rank.prefixMax(df,
        Seq(org.apache.spark.sql.functions.col(o),
          org.apache.spark.sql.functions.col(tie)),
        bucketOn = org.apache.spark.sql.functions.col(o),
        value = org.apache.spark.sql.functions.col(v), out = "prefix_max")
      .queryExecution.analyzed
  }

  /** `graft_ntile(table, valueCol, tieCol, n)`: global EXACT-SQL
    * `ntile(n)` over the total order `(valueCol, tieCol)` — routes to
    * [[graft.operators.Rank.ntile]]; pure integer bucket arithmetic any
    * SQL engine's `ntile()` reproduces bit-for-bit, no single-partition
    * window. Returns the input columns plus `bucket`.
    */
  private[graft] def graftNtilePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4,
      s"graft_ntile(table, valueCol, tieCol, n) expects 4 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_ntile table"))
    val v = stringLit(args(1), "graft_ntile valueCol")
    requireNumeric(df, v, "graft_ntile")
    val tie = stringLit(args(2), "graft_ntile tieCol")
    graft.operators.Rank.ntile(df,
        Seq(org.apache.spark.sql.functions.col(v),
          org.apache.spark.sql.functions.col(tie)),
        bucketOn = org.apache.spark.sql.functions.col(v),
        n = intLit(args(3), "graft_ntile n"), out = "bucket")
      .queryExecution.analyzed
  }

  /** `graft_percent_rank(table, valueCol, tieCol)`: global
    * `percent_rank` over the total order `(valueCol, tieCol)` — routes
    * to [[graft.operators.Rank.percentRank]] (`(rn-1)/(c-1)` IEEE
    * double, 0.0 for a single row); no single-partition window.
    * Returns the input columns plus `percent_rank`.
    */
  private[graft] def graftPercentRankPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3,
      "graft_percent_rank(table, valueCol, tieCol) expects 3 arguments, " +
        s"got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_percent_rank table"))
    val v = stringLit(args(1), "graft_percent_rank valueCol")
    requireNumeric(df, v, "graft_percent_rank")
    val tie = stringLit(args(2), "graft_percent_rank tieCol")
    graft.operators.Rank.percentRank(df,
        Seq(org.apache.spark.sql.functions.col(v),
          org.apache.spark.sql.functions.col(tie)),
        bucketOn = org.apache.spark.sql.functions.col(v),
        out = "percent_rank")
      .queryExecution.analyzed
  }

  /** `graft_cume_dist(table, valueCol)`: global `cume_dist` over the
    * ascending value — routes to [[graft.operators.Rank.cumeDist]]
    * (distinct-value running sum + keyed join back; the SQL tie rule,
    * no single-partition window). Returns the input columns plus
    * `cume_dist`.
    */
  private[graft] def graftCumeDistPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2,
      s"graft_cume_dist(table, valueCol) expects 2 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_cume_dist table"))
    val v = stringLit(args(1), "graft_cume_dist valueCol")
    requireNumeric(df, v, "graft_cume_dist")
    graft.operators.Rank.cumeDist(df, v, out = "cume_dist")
      .queryExecution.analyzed
  }

  /** `graft_priority_sample(table, k, weightCol, idCol)`: fixed-size
    * weighted sample without replacement (priority sampling,
    * Duffield–Lund–Thorup) — routes to
    * [[graft.llmops.Curation.prioritySample]]: map-side top-k partial
    * aggregate on the bit-stable `w/u` priority key, winners broadcast
    * back; no global sort, no single-partition window. Returns the
    * input columns plus `priority` and the `w_hat` tau-threshold
    * estimator.
    */
  private[graft] def graftPrioritySamplePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4,
      "graft_priority_sample(table, k, weightCol, idCol) expects 4 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_priority_sample table"))
    val k = intLit(args(1), "graft_priority_sample k")
    val w = stringLit(args(2), "graft_priority_sample weightCol")
    requireNumeric(df, w, "graft_priority_sample")
    val id = stringLit(args(3), "graft_priority_sample idCol")
    graft.llmops.Curation.prioritySample(df, k, w, id)
      .queryExecution.analyzed
  }

  /** `graft_pca(modelDir, table, vecCol[, whiten])`: project a table's
    * vectors through a [[graft.llmops.Similarity.savePcaModel]]-persisted
    * basis — the persisted-model read surface (the `graft_ann` /
    * `graft_search` convention: fit once programmatically, consume from
    * any SQL session). Returns the input columns plus `pca`
    * (array<double>, length k; centered, optionally whitened by the
    * model's fit-time scales).
    */
  private[graft] def graftPcaPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      "graft_pca(modelDir, table, vecCol[, whiten]) expects 3-4 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val model = graft.llmops.Similarity.loadPcaModel(spark,
      stringLit(args(0), "graft_pca modelDir"))
    val df = spark.table(stringLit(args(1), "graft_pca table"))
    graft.llmops.Similarity.pcaProject(df,
        stringLit(args(2), "graft_pca vecCol"), model, out = "pca",
        whiten = args.length == 4 && boolLit(args(3), "graft_pca whiten"))
      .queryExecution.analyzed
  }

  /** `graft_random_project(table, vecCol, k, d, seed)`: Johnson–
    * Lindenstrauss random projection of an embedding column to `k`
    * dims — routes to [[graft.llmops.Similarity.randomProject]] (a
    * deterministic md5-sign ±1/sqrt(k) basis, codegen'd k x d mat-vec,
    * narrow map; the "model" is just the literals, so any SQL session
    * projects identically with no persisted state). Returns the input
    * columns plus `rp` (array<double>, length k).
    */
  private[graft] def graftRandomProjectPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 5,
      "graft_random_project(table, vecCol, k, d, seed) expects 5 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_random_project table"))
    graft.llmops.Similarity.randomProject(df,
        vecCol = stringLit(args(1), "graft_random_project vecCol"),
        k = intLit(args(2), "graft_random_project k"),
        d = intLit(args(3), "graft_random_project d"),
        seed = longLit(args(4), "graft_random_project seed"))
      .queryExecution.analyzed
  }

  /** `graft_sq8(modelDir, table, vecCol)`: 8-bit scalar-quantize a
    * table's vectors against a
    * [[graft.llmops.Similarity.saveSqModel]]-persisted model — the
    * `graft_pca` convention (fit once programmatically, consume from
    * any SQL session). Returns the input columns plus `sq`
    * (array<int> codes in [0, 255]).
    */
  private[graft] def graftSq8Plan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3,
      s"graft_sq8(modelDir, table, vecCol) expects 3 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val model = graft.llmops.Similarity.loadSqModel(spark,
      stringLit(args(0), "graft_sq8 modelDir"))
    val df = spark.table(stringLit(args(1), "graft_sq8 table"))
    graft.llmops.Similarity.sqEncode(df,
        stringLit(args(2), "graft_sq8 vecCol"), model)
      .queryExecution.analyzed
  }

  /** `graft_temperature_mix(table, strataCol, budget[, alpha[, exact]])`:
    * temperature-flattened source mixing from SQL — routes to
    * [[graft.llmops.Curation.temperatureMix]] (p^alpha keep-rates over
    * the certified Knuth draw; the |strata|-cell count fit runs at plan
    * build, the `graft_bpe` eager-fit convention — bounded there by the
    * operator's maxStrata guard, so an accidental high-cardinality
    * strataCol fails loudly at SQL analysis instead of flooding the
    * driver). `exact = true` selects the water-filling exact-budget
    * mode. Returns the surviving rows with their original columns.
    */
  private[graft] def graftTemperatureMixPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length >= 3 && args.length <= 5,
      "graft_temperature_mix(table, strataCol, budget[, alpha[, exact]]) " +
        s"expects 3-5 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_temperature_mix table"))
    graft.llmops.Curation.temperatureMix(df,
        strataCol = stringLit(args(1), "graft_temperature_mix strataCol"),
        budget = longLit(args(2), "graft_temperature_mix budget"),
        alpha = if (args.length >= 4)
          doubleLit(args(3), "graft_temperature_mix alpha") else 0.5,
        exactBudget = args.length == 5 &&
          boolLit(args(4), "graft_temperature_mix exact"))
      .queryExecution.analyzed
  }

  /** `graft_codeid(table, textCol)`: code-vs-prose routing signals from
    * SQL — routes to [[graft.functions.Text.withCodeFeatures]] (builtin
    * functions only, narrow map, each regex/token scan evaluated ONCE
    * per row via the layered projection — the fused single-Project form
    * ran every scan twice because CASE-branch subtrees are invisible to
    * Spark's subexpression elimination). Returns the input columns plus
    * `symbol_ratio`, `keyword_ratio`, `camel_ratio`, `line_ratio`,
    * `code_score` (6dp doubles, bit-equal to the standalone
    * [[graft.functions.Text.codeScore]] family).
    */
  private[graft] def graftCodeidPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2,
      s"graft_codeid(table, textCol) expects 2 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_codeid table"))
    val tc = org.apache.spark.sql.functions.col(
      stringLit(args(1), "graft_codeid textCol"))
    graft.functions.Text.withCodeFeatures(df, tc)
      .queryExecution.analyzed
  }

  /** `graft_encoding(table, textCol)`: encoding-quality signals from SQL
    * — routes to [[graft.functions.Text.withEncodingQuality]] (narrow
    * map, each regex scan once per row). Returns the input columns plus
    * `n_cp`, `repl_ratio`, `ctrl_ratio`, `enc_score`.
    */
  private[graft] def graftEncodingPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2,
      s"graft_encoding(table, textCol) expects 2 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_encoding table"))
    graft.functions.Text.withEncodingQuality(df,
        org.apache.spark.sql.functions.col(
          stringLit(args(1), "graft_encoding textCol")))
      .queryExecution.analyzed
  }

  /** `graft_c4_clean(table, textCol)`: C4-style line cleaning from SQL —
    * routes to [[graft.functions.Text.withC4LineClean]] (narrow map).
    * Returns the input columns plus `clean_text`, `n_lines`, `n_kept`,
    * `n_dropped`.
    */
  private[graft] def graftC4CleanPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2,
      s"graft_c4_clean(table, textCol) expects 2 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_c4_clean table"))
    graft.functions.Text.withC4LineClean(df,
        org.apache.spark.sql.functions.col(
          stringLit(args(1), "graft_c4_clean textCol")))
      .queryExecution.analyzed
  }

  /** `graft_script(table, textCol)`: Unicode-script profile from SQL —
    * routes to [[graft.functions.Text.withScriptProfile]] (narrow map).
    * Returns the input columns plus `script_latin/_han/_cyrillic/
    * _arabic/_other` and `script_pred`.
    */
  private[graft] def graftScriptPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2,
      s"graft_script(table, textCol) expects 2 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_script table"))
    graft.functions.Text.withScriptProfile(df,
        org.apache.spark.sql.functions.col(
          stringLit(args(1), "graft_script textCol")))
      .queryExecution.analyzed
  }

  /** `graft_corpus_report(table, sourceCol, textCol)`: the per-source
    * corpus health dashboard from SQL — routes to
    * [[graft.llmops.Curation.corpusReport]] (one narrow pass into one
    * hash aggregate; every aggregated value an integer sum, so exact
    * under any partitioning; NULL text counts as a zero-length doc).
    * Returns (source, n_docs, n_tokens, n_chars, n_code_docs,
    * n_repl_chars, n_ctrl_chars, n_latin_docs, avg_tokens, avg_chars,
    * latin_share).
    */
  private[graft] def graftCorpusReportPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3,
      "graft_corpus_report(table, sourceCol, textCol) expects 3 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_corpus_report table"))
    graft.llmops.Curation.corpusReport(df,
        sourceCol = stringLit(args(1), "graft_corpus_report sourceCol"),
        textCol = stringLit(args(2), "graft_corpus_report textCol"))
      .queryExecution.analyzed
  }

  /** `graft_oov(table, vocabSize[, idCol, textCol])`: per-document
    * vocabulary coverage / OOV rate from SQL — routes to
    * [[graft.llmops.Tokenize.vocabCoverage]] (exact top-K vocabulary
    * fit as a map-side partial count + TakeOrdered, applied as one
    * broadcast left join — all lazy plan, no eager driver fit).
    * Returns (idCol, n_tokens, n_oov, oov_rate).
    */
  private[graft] def graftOovPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 4,
      "graft_oov(table, vocabSize[, idCol, textCol]) expects 2 or 4 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_oov table"))
    graft.llmops.Tokenize.vocabCoverage(df,
        vocabSize = intLit(args(1), "graft_oov vocabSize"),
        idCol = if (args.length == 4)
          stringLit(args(2), "graft_oov idCol") else "doc_id",
        textCol = if (args.length == 4)
          stringLit(args(3), "graft_oov textCol") else "text")
      .queryExecution.analyzed
  }

  /** `graft_oov_model(modelDir, table[, idCol, textCol])`: per-document
    * OOV against a [[graft.llmops.Tokenize.saveVocabModel]]-PERSISTED
    * vocabulary — the `graft_pca`/`graft_sq8` convention (fit once
    * programmatically, consume from any SQL session). The model loads
    * at plan build (loud on corrupt/empty) and the apply is the
    * stateless narrow map ([[graft.llmops.Tokenize.oovAgainstVocab]]).
    * Returns (idCol, n_tokens, n_oov, oov_rate).
    */
  private[graft] def graftOovModelPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 4,
      "graft_oov_model(modelDir, table[, idCol, textCol]) expects 2 or " +
        s"4 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val vocab = graft.llmops.Tokenize.loadVocabModel(spark,
      stringLit(args(0), "graft_oov_model modelDir"))
    val df = spark.table(stringLit(args(1), "graft_oov_model table"))
    graft.llmops.Tokenize.oovAgainstVocab(df, vocab,
        idCol = if (args.length == 4)
          stringLit(args(2), "graft_oov_model idCol") else "doc_id",
        textCol = if (args.length == 4)
          stringLit(args(3), "graft_oov_model textCol") else "text")
      .queryExecution.analyzed
  }

  /** `graft_dsir(targetTable, table[, buckets])`: DSIR importance
    * weights ([[graft.llmops.Importance]]) from pure SQL — fit hashed
    * n-gram distributions on `targetTable` (the distribution you want)
    * vs `table` (the raw pool), score every `table` document. The fit
    * runs at plan build (the eager bounded-fit discipline); the plan
    * handed back is the single-pass relational apply. Returns
    * (doc_id, n_grams, logw).
    */
  private[graft] def graftDsirPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "graft_dsir(targetTable, table[, buckets]) expects 2 or 3 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val target = spark.table(stringLit(args(0), "graft_dsir targetTable"))
    val df = spark.table(stringLit(args(1), "graft_dsir table"))
    val buckets =
      if (args.length == 3) intLit(args(2), "graft_dsir buckets") else 8192
    graft.llmops.Importance.dsirWeights(df,
        graft.llmops.Importance.dsirFit(target, df, buckets), buckets)
      .queryExecution.analyzed
  }

  /** `graft_dsir_model(modelDir, table[, idCol, textCol])`: DSIR
    * weights against a [[graft.llmops.Importance.saveDsirModel]]-
    * PERSISTED model — the `graft_oov_model` convention (fit once
    * programmatically, consume from any SQL session). The model loads
    * at plan build (loud on corrupt/missing/gapped) and the apply is
    * the zero-exchange narrow map
    * ([[graft.llmops.Importance.dsirScore]]).
    */
  private[graft] def graftDsirModelPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 4,
      "graft_dsir_model(modelDir, table[, idCol, textCol]) expects 2 " +
        s"or 4 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val lut = graft.llmops.Importance.loadDsirModel(spark,
      stringLit(args(0), "graft_dsir_model modelDir"))
    val df = spark.table(stringLit(args(1), "graft_dsir_model table"))
    graft.llmops.Importance.dsirScore(df, lut,
        idCol = if (args.length == 4)
          stringLit(args(2), "graft_dsir_model idCol") else "doc_id",
        textCol = if (args.length == 4)
          stringLit(args(3), "graft_dsir_model textCol") else "text")
      .queryExecution.analyzed
  }

  /** `graft_boilerplate(table, chunkTokens, minDocFrac, minDocs)`:
    * CCNet-style boilerplate removal from pure SQL — documents chunk
    * into `chunkTokens`-token units and every unit crossing the
    * document-frequency threshold is removed from EVERY doc
    * ([[graft.llmops.Dedup.removeBoilerplate]]). Returns
    * (doc_id, n_units, n_kept, text_cleaned).
    */
  private[graft] def graftBoilerplatePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4,
      "graft_boilerplate(table, chunkTokens, minDocFrac, minDocs) " +
        s"expects 4 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_boilerplate table"))
    val units = graft.llmops.Curation.chunkDocuments(df,
        chunkTokens = intLit(args(1), "graft_boilerplate chunkTokens"),
        strideTokens = intLit(args(1), "graft_boilerplate chunkTokens"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("chunk_id").as("pos"),
        org.apache.spark.sql.functions.col("chunk_text").as("unit"))
    graft.llmops.Dedup.removeBoilerplate(
        df.select(org.apache.spark.sql.functions.col("doc_id")), units,
        minDocFrac = doubleLit(args(2), "graft_boilerplate minDocFrac"),
        minDocs = intLit(args(3), "graft_boilerplate minDocs"),
        joinSep = " ")
      .queryExecution.analyzed
  }

  /** `graft_stratum_sample(table, k, weightCol, strataCol, idCol)`: the
    * per-stratum form — exactly k weight-proportional rows from EVERY
    * stratum, routed to
    * [[graft.llmops.Curation.prioritySampleByStratum]].
    */
  private[graft] def graftStratumSamplePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 5,
      "graft_stratum_sample(table, k, weightCol, strataCol, idCol) " +
        s"expects 5 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_stratum_sample table"))
    val k = intLit(args(1), "graft_stratum_sample k")
    val w = stringLit(args(2), "graft_stratum_sample weightCol")
    requireNumeric(df, w, "graft_stratum_sample")
    graft.llmops.Curation.prioritySampleByStratum(df, k, w,
        strataCol = stringLit(args(3), "graft_stratum_sample strataCol"),
        idCol = stringLit(args(4), "graft_stratum_sample idCol"))
      .queryExecution.analyzed
  }

  /** `graft_resample(table, keyCol, tsMsCol, valueCol, tieCol, stepMs)`:
    * fixed-step gap-filled resampling from SQL — routes to
    * [[graft.operators.Resample.resampleForwardFill]] (one keyed hash
    * agg; the grid materializes from aggregated spans, never from raw
    * events). Returns `(keyCol, bucket_ms, n_events, sum_<valueCol>,
    * last_<valueCol>)`.
    */
  private[graft] def graftResamplePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 6,
      "graft_resample(table, keyCol, tsMsCol, valueCol, tieCol, stepMs) " +
        s"expects 6 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_resample table"))
    // a non-numeric ts/value would cast to NULL inside the bucketing
    // arithmetic and yield a silent NULL-bucket row — the
    // graft_priority_sample requireNumeric discipline applies here too
    requireNumeric(df, stringLit(args(2), "graft_resample tsMsCol"),
      "graft_resample")
    requireNumeric(df, stringLit(args(3), "graft_resample valueCol"),
      "graft_resample")
    graft.operators.Resample.resampleForwardFill(df,
        keys = Seq(stringLit(args(1), "graft_resample keyCol")),
        tsMsCol = stringLit(args(2), "graft_resample tsMsCol"),
        valueCol = stringLit(args(3), "graft_resample valueCol"),
        tieCol = stringLit(args(4), "graft_resample tieCol"),
        stepMs = longLit(args(5), "graft_resample stepMs"))
      .queryExecution.analyzed
  }

  /** `graft_interpolate(table, keyCol, tsMsCol, valueCol, tieCol,
    * stepMs)`: the LINEAR gap-fill twin — routes to
    * [[graft.operators.Resample.resampleInterpolate]]. Returns
    * `(keyCol, bucket_ms, n_events, interp_<valueCol>)`.
    */
  private[graft] def graftInterpolatePlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 6,
      "graft_interpolate(table, keyCol, tsMsCol, valueCol, tieCol, stepMs) " +
        s"expects 6 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_interpolate table"))
    requireNumeric(df, stringLit(args(2), "graft_interpolate tsMsCol"),
      "graft_interpolate")
    requireNumeric(df, stringLit(args(3), "graft_interpolate valueCol"),
      "graft_interpolate")
    graft.operators.Resample.resampleInterpolate(df,
        keys = Seq(stringLit(args(1), "graft_interpolate keyCol")),
        tsMsCol = stringLit(args(2), "graft_interpolate tsMsCol"),
        valueCol = stringLit(args(3), "graft_interpolate valueCol"),
        tieCol = stringLit(args(4), "graft_interpolate tieCol"),
        stepMs = longLit(args(5), "graft_interpolate stepMs"))
      .queryExecution.analyzed
  }

  /** `graft_skyline_n(table, minColsCsv, maxColsCsv)`: the d-dimensional
    * Pareto frontier from SQL — routes to
    * [[graft.operators.Analytics.skylineN]] (distinct cells →
    * per-partition frontier scan → candidates-only merge with a loud
    * guard). Either CSV may be empty, but together they must name ≥2
    * DISTINCT NUMERIC attributes (dominance compares doubles — enforced
    * with a clear error). Output: the attributes as doubles (original
    * orientation) + `n_rows` per frontier cell.
    */
  private[graft] def graftSkylineNPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3,
      "graft_skyline_n(table, minColsCsv, maxColsCsv) expects 3 " +
        s"arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.table(stringLit(args(0), "graft_skyline_n table"))
    def csvCols(i: Int, name: String): Seq[String] =
      stringLit(args(i), name).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    graft.operators.Analytics.skylineN(df,
        minCols = csvCols(1, "graft_skyline_n minColsCsv"),
        maxCols = csvCols(2, "graft_skyline_n maxColsCsv"))
      .queryExecution.analyzed
  }

  private def doubleLit(e: Expression, name: String): Double = {
    require(e.foldable, s"$name expects a numeric literal, got $e")
    e.eval() match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$name expects a numeric literal, evaluated to $other")
    }
  }

  private[graft] def graftAggViewPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 1,
      s"graft_agg_view(path) expects 1 argument, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    graft.operators.AggView
      .readAggView(spark, stringLit(args.head, "graft_agg_view path"))
      .queryExecution.analyzed
  }

  private[graft] def graftJoinViewPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 1 || args.length == 2,
      s"graft_join_view(path[, inner]) expects 1-2 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val inner = if (args.length == 2) boolLit(args(1), "graft_join_view inner") else true
    graft.operators.JoinView
      .readJoinView(spark, stringLit(args.head, "graft_join_view path"), inner)
      .queryExecution.analyzed
  }

  /** `graft_changes(fromDir, toDir[, asOfUnixSec])` — the change feed
    * between two ON-DISK engine states (a backup vs the live engine, or
    * two backups): what a replica at `fromDir`'s state applies to reach
    * `toDir`'s. Snapshot states carry absolute segment paths, so the
    * cross-instance diff reads each side's own files.
    */
  private[graft] def graftChangesPlan(
      args: Seq[Expression]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      s"graft_changes(fromDir, toDir[, asOfUnixSec]) expects 2-3 arguments, got ${args.length}")
    val spark = org.apache.spark.sql.SparkSession.active
    val dbA = new graft.core.GraftDB(spark, stringLit(args(0), "graft_changes fromDir"))
    val dbB = new graft.core.GraftDB(spark, stringLit(args(1), "graft_changes toDir"))
    val (sa, sb) = (dbA.snapshot(), dbB.snapshot())
    val feed =
      if (args.length == 3)
        dbA.changesBetween(sa, sb, longLit(args(2), "graft_changes asOfUnixSec"))
      else dbA.changesBetween(sa, sb)
    feed.queryExecution.analyzed
  }

  /** Runtime registration for an already-built session (no config needed). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("simhash64",
      args => SimHash64(args.head), "built-in")
    reg.createOrReplaceTempFunction("minhash_bands",
      args => { arity("minhash_bands", args, 3)
        MinHashBands(args(0), intLit(args(1), "numBands"),
          intLit(args(2), "rowsPerBand")) }, "built-in")
    reg.createOrReplaceTempFunction("jaccard_sorted",
      args => JaccardSorted(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction("word_shingles",
      args => { arity("word_shingles", args, 2)
        WordShingles(args(0), intLit(args(1), "k")) }, "built-in")
    reg.createOrReplaceTempFunction("text_stats",
      args => TextStats(args.head), "built-in")
    reg.createOrReplaceTempFunction("hyperplane_bucket",
      args => { arity("hyperplane_bucket", args, 2)
        HyperplaneBucket(args(0), intLit(args(1), "bits")) }, "built-in")
    reg.createOrReplaceTempFunction("cosine_sim",
      args => CosineSimilarity(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction("rolling_hash64",
      args => RollingHash64(args.head), "built-in")
    reg.createOrReplaceTempFunction("subword_split",
      args => { arity("subword_split", args, 3)
        SubwordSplit(args(0), stringArrayLit(args(1), "vocab"),
          intLit(args(2), "maxPieceLen")) }, "built-in")
    reg.createOrReplaceTempFunction("topk_by",
      args => { arity("topk_by", args, 3)
        TopKBy(args(0), args(1), intLit(args(2), "k"))
          .toAggregateExpression() }, "built-in")
    reg.createOrReplaceTempFunction("topk_by_scored",
      args => { arity("topk_by_scored", args, 3)
        TopKBy(args(0), args(1), intLit(args(2), "k"), withScores = true)
          .toAggregateExpression() }, "built-in")
    reg.createOrReplaceTempFunction("approx_heavy_hitters",
      args => { arity("approx_heavy_hitters", args, 2)
        MisraGries(args(0), intLit(args(1), "k"))
          .toAggregateExpression() }, "built-in")
    reg.createOrReplaceTempFunction("quantile_sketch",
      args => { arity("quantile_sketch", args, 3)
        graft.functions.expressions.QuantileSketch(args(0),
          doubleCsvLit(args(1), "quantile_sketch probsCsv"),
          intLit(args(2), "quantile_sketch k"))
          .toAggregateExpression() }, "built-in")
    reg.createOrReplaceTempFunction("hilbert_key",
      args => { arity("hilbert_key", args, 3)
        graft.functions.expressions.HilbertD2(
          org.apache.spark.sql.catalyst.expressions.CreateArray(
            Seq(args(0), args(1))), intLit(args(2), "bits")) }, "built-in")
    reg.createOrReplaceTempFunction("interleave_bits",
      args => { arity("interleave_bits", args, 2)
        graft.functions.expressions.InterleaveBits(args(0),
          intLit(args(1), "bits")) }, "built-in")
    val treg = spark.sessionState.tableFunctionRegistry
    treg.createOrReplaceTempFunction("graft_view", graftViewPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_agg_view", graftAggViewPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_join_view", graftJoinViewPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_changes", graftChangesPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_search", graftSearchPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_ann", graftAnnPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_asof", graftAsofPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_attribution", graftAttributionPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_skyline", graftSkylinePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_rules", graftRulesPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_quantiles", graftQuantilesPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_bpe", graftBpePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_rank", graftRankPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_running_sum", graftRunningSumPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_prefix_max", graftPrefixMaxPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_ntile", graftNtilePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_cume_dist", graftCumeDistPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_priority_sample", graftPrioritySamplePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_stratum_sample", graftStratumSamplePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_pca", graftPcaPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_random_project", graftRandomProjectPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_codeid", graftCodeidPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_encoding", graftEncodingPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_script", graftScriptPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_c4_clean", graftC4CleanPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_sq8", graftSq8Plan, "built-in")
    treg.createOrReplaceTempFunction("graft_temperature_mix", graftTemperatureMixPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_corpus_report", graftCorpusReportPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_oov", graftOovPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_oov_model", graftOovModelPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_dsir", graftDsirPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_dsir_model", graftDsirModelPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_boilerplate", graftBoilerplatePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_resample", graftResamplePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_interpolate", graftInterpolatePlan, "built-in")
    treg.createOrReplaceTempFunction("graft_percent_rank", graftPercentRankPlan, "built-in")
    treg.createOrReplaceTempFunction("graft_skyline_n", graftSkylineNPlan, "built-in")
    // runtime twin of injectOptimizerRule (idempotent across register calls)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRewrite
  }
}
