package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import graft.store.{ManifestFileIndex, ManifestStore, PartFile, TagFence}
import graft.store.ManifestStore.conf

/** Incrementally-maintained materialized aggregate views — the LSM write
  * discipline (reference: `kv/lsm/level.go:82` flushes immutable runs,
  * `kv/lsm/compact.go:124-226` folds them in the background, readers
  * merge across levels) applied to GROUP BY state. A view is a set of
  * PARTIAL-aggregate generations on disk: the base build and every append
  * each contribute one key-partitioned parquet root of
  * `(keys..., __cnt, m__sum, m__min, m__max)` rows; a read merges the
  * roots with one re-aggregation (merge-on-read, the LWW-resolve shape);
  * [[compactAggView]] folds them back to one root (the compaction);
  * appends are exactly-once under a batch tag (the manifest fence every
  * index family here shares), so a Structured Streaming `foreachBatch`
  * replay converges.
  *
  * Why partial aggregates: count/sum/min/max are commutative monoids, so
  * a delta batch folds into the view WITHOUT re-reading the base data —
  * refresh cost is O(delta), the whole point at 100 TB (re-running the
  * full GROUP BY is exactly the "rewrite the level on every append"
  * anti-pattern the reference's LSM exists to avoid). avg finalizes as
  * sum/cnt at read time.
  *
  * Determinism: metric values are cast to `decimal(18, scale)` PER ROW at
  * ingest (the determinism boundary — the same cast replays in plain
  * SQL), then summed as decimals, so the merged view is bit-identical to
  * a one-shot GROUP BY over the union of all ingested batches at ANY
  * partitioning and ANY append order; the Catalog row `q_agg_view` is
  * FULLY oracled on that property.
  *
  * Read contract: every read is ONE parquet scan over the part files and
  * data schema the manifest records ([[graft.store.ManifestFileIndex]]),
  * listing nothing; a staged root whose footers do not read under that
  * schema aborts its commit.
  *
  * Scale shape: each root is hash-partitioned on the group keys (`pk`),
  * so [[lookupAggView]] point reads prune to one partition; a root's size
  * is bounded by KEY CARDINALITY, not ingested rows — the read-side merge
  * union touches aggregate state only. Roots accumulate per append;
  * [[maintainAggView]] is the fold policy that keeps the root count flat
  * (the text/IVF/near-dup `maintain` contract).
  */
object AggView {

  private[operators] final case class AggViewManifest(
      keys: Seq[String],
      metrics: Seq[String],
      scale: Int,
      numBuckets: Int,
      roots: Vector[String],
      appliedTags: Vector[String] = Vector.empty,
      tagHighWater: Long = -1L,
      nRows: Long = 0L,
      distinctCols: Seq[String] = Nil,
      // equi-width histogram state (mergeable percentiles): one shared
      // (lo, hi, bins) config; per column, bins+2 count columns
      // (underflow | bins | overflow). Absent on pre-round-8 views
      // (json4s fills the defaults), which therefore read unchanged.
      histCols: Seq[String] = Nil,
      histLo: Double = 0.0,
      histHi: Double = 0.0,
      histBins: Int = 0,
      // per root, its part files; the roots' data schema (StructType.json).
      // Absent on older views: their roots list and a footer gives the schema
      files: Map[String, Vector[PartFile]] = Map.empty,
      schema: String = "")

  private val lock = new Object

  private[operators] val store =
    new ManifestStore[AggViewManifest]("agg-view", "vacuumAggView")
  private val tags = TagFence.numeric[AggViewManifest](
    m => (m.appliedTags, m.tagHighWater),
    (m, t, hw) => m.copy(appliedTags = t, tagHighWater = hw))

  private def sumCol(m: String): String = s"${m}__sum"
  private def minCol(m: String): String = s"${m}__min"
  private def maxCol(m: String): String = s"${m}__max"
  private def sumsqCol(m: String): String = s"${m}__sumsq"
  private def hllCol(c: String): String = s"${c}__hll"
  private def histCol(c: String, i: Int): String = s"${c}__h$i"

  private def pkExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong)).cast("int")

  /** Partial-aggregate one batch into the root schema. The per-row
    * decimal cast is the determinism boundary (see object doc).
    */
  private def partialAgg(df: DataFrame, m: AggViewManifest): DataFrame = {
    val dec = s"decimal(18,${m.scale})"
    val aggs =
      count(lit(1)).as("__cnt") +:
      (m.metrics.flatMap { c =>
        val d = col(c).cast(dec)
        // sumsq is the variance monoid half: decimal(37, 2*scale) per-row
        // squares summed exactly, so merged stddev equals one-shot stddev
        Seq(sum(d).as(sumCol(c)), min(d).as(minCol(c)), max(d).as(maxCol(c)),
          sum((d * d).cast(s"decimal(38,${2 * m.scale})")).as(sumsqCol(c)))
      } ++
      // distinct counting merges as an HLL sketch union — the ONLY sane
      // shape for count-distinct in an incremental view (exact distinct
      // is not a monoid; re-reading the base per refresh is the
      // anti-pattern this operator exists to avoid)
      m.distinctCols.map(c => hll_sketch_agg(col(c)).as(hllCol(c))) ++
      // histogram partials: the SHIFTED bucket index (0 = underflow,
      // 1..bins = in-range, bins+1 = overflow) turns into bins+2
      // conditional sums — all codegen'd in the same single hash-agg
      // pass as every other partial
      m.histCols.flatMap { c =>
        val w = (m.histHi - m.histLo) / m.histBins
        val shifted = least(greatest(
          floor((col(c) - lit(m.histLo)) / lit(w)), lit(-1L)),
          lit(m.histBins.toLong)) + lit(1L)
        (0 to m.histBins + 1).map(i =>
          sum(when(shifted === i, 1L).otherwise(0L)).as(histCol(c, i)))
      })
    df.groupBy(m.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("pk", pkExpr(m.keys, m.numBuckets))
  }

  /** The merge aggregates over partial columns (shared by read, lookup,
    * and fold): sums add, mins/maxes fold, sketches union.
    */
  private def mergeAggs(m: AggViewManifest): Seq[Column] =
    sum(col("__cnt")).as("__cnt") +:
    (m.metrics.flatMap { c => Seq(
      sum(col(sumCol(c))).as(sumCol(c)),
      min(col(minCol(c))).as(minCol(c)),
      max(col(maxCol(c))).as(maxCol(c)),
      sum(col(sumsqCol(c))).as(sumsqCol(c)))
    } ++
    m.distinctCols.map(c => hll_union_agg(col(hllCol(c))).as(hllCol(c))) ++
    m.histCols.flatMap(c => (0 to m.histBins + 1).map(i =>
      sum(col(histCol(c, i))).as(histCol(c, i)))))

  /** Finalized output columns from merged partials. `m_std` is the
    * population stddev computed in DOUBLE from the exact decimal
    * partials with a fixed operand order — the same expression the
    * oracle runs, so it replays bit-for-bit.
    */
  private def finalizeCols(m: AggViewManifest): Seq[Column] =
    m.keys.map(col) ++ Seq(col("__cnt").as("cnt")) ++
    m.metrics.flatMap { c =>
      val sumD = col(sumCol(c)).cast("double")
      val sqD = col(sumsqCol(c)).cast("double")
      val n = col("__cnt").cast("double")
      Seq(
        round(sumD, m.scale).as(s"${c}_sum"),
        round(col(minCol(c)).cast("double"), m.scale).as(s"${c}_min"),
        round(col(maxCol(c)).cast("double"), m.scale).as(s"${c}_max"),
        round(sumD / col("__cnt"), 6).as(s"${c}_avg"),
        round(sqrt(greatest(lit(0.0), sqD / n - (sumD / n) * (sumD / n))), 6)
          .as(s"${c}_std"))
    } ++
    m.distinctCols.map(c =>
      hll_sketch_estimate(col(hllCol(c))).as(s"${c}_approx_distinct")) ++
    // histogram percentiles: first shifted bucket whose cumulative count
    // reaches q*cnt, reported as that bucket's RIGHT edge (lo + j*w for
    // shifted index j) — deterministic, replays in plain SQL, and within
    // one bin width of the exact quantile for in-range data (the oracled
    // gate's bound). The q*cnt product is computed in DOUBLE on both
    // sides (a decimal literal would round differently).
    m.histCols.flatMap { c =>
      val w = (m.histHi - m.histLo) / m.histBins
      // the bins+2 count columns fold as ONE linear higher-order
      // `aggregate` over an array (a naive shared-cumsum when-chain
      // builds a quadratic expression tree that Catalyst's
      // subexpression-elimination pass spins on for MINUTES at plan
      // time): walk the array once, record the first index whose
      // cumulative count reaches q*cnt, report that bucket's right edge
      val harr = array((0 to m.histBins + 1).map(i => col(histCol(c, i))): _*)
      Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99").map { case (q, tag) =>
        val target = lit(q) * col("__cnt").cast("double")
        val crossing = aggregate(harr,
          struct(lit(0L).as("cum"), lit(-1).as("ans"), lit(0).as("i")),
          (acc, x) => {
            val cum2 = acc.getField("cum") + x
            struct(cum2.as("cum"),
              coalesce(
                when(acc.getField("ans") >= 0, acc.getField("ans")),
                when(cum2.cast("double") >= target, acc.getField("i")),
                lit(-1)).as("ans"),
              (acc.getField("i") + lit(1)).as("i"))
          },
          acc => acc.getField("ans"))
        round(when(crossing >= 0,
          lit(m.histLo) + crossing.cast("double") * lit(w)), 6)
          .as(s"${c}_$tag")
      }
    }

  private def stageRoot(df: DataFrame, viewDir: String, m: AggViewManifest,
      skipIfEmpty: Boolean): Option[(ManifestFileIndex.Root, Long)] = {
    val n = df.count()
    if (skipIfEmpty && n == 0) None
    else Some((ManifestFileIndex.stage(partialAgg(df, m), viewDir, "agg-", Some("pk")), n))
  }

  /** The roots' data schema, every non-key decimal widened to precision
    * 38: append roots store `m__sum` as decimal(p+10, s), fold roots as
    * decimal(38, s), and the reader widens the narrower one losslessly.
    */
  private def rootSchema(partial: StructType, keys: Seq[String]): StructType =
    StructType(ManifestFileIndex.dataSchema(partial, "pk").map { f =>
      f.dataType match {
        case d: DecimalType if !keys.contains(f.name) => f.copy(dataType = DecimalType(38, d.scale))
        case _ => f
      }
    })

  /** The view's root files and their data schema. */
  private def filesAndSchema(spark: SparkSession, viewDir: String,
      m: AggViewManifest): (Seq[PartFile], StructType) = {
    val files = ManifestFileIndex.rootFiles(spark, viewDir, m.roots, m.files, Some("pk"))
    (files, rootSchema(ManifestFileIndex.recordedSchema(spark, m.schema, files), m.keys))
  }

  /** `next` with the staged root's files and the view's schema recorded,
    * once the staged files read under that schema. Evaluated inside
    * `commitOrDrop`, so a root that does not read aborts the commit.
    */
  private def withStaged(spark: SparkSession, viewDir: String, m: AggViewManifest,
      staged: ManifestFileIndex.Root, next: AggViewManifest): AggViewManifest = {
    val schema = filesAndSchema(spark, viewDir, m)._2
    ManifestFileIndex.requireReadable(spark, viewDir, staged, schema)
    next.copy(files = (m.files + staged).filter { case (r, _) => next.roots.contains(r) },
      schema = schema.json)
  }

  /** Create a view at `viewDir` over `df`, grouped by `keys`, maintaining
    * count/sum/min/max/avg/std for each of `metrics` (numeric columns,
    * decimal-cast at `scale` — 2 for money, 6 for ratios) and an HLL
    * distinct sketch per `distinctCols` column. Replaces any prior
    * manifest; superseded roots wait for [[vacuumAggView]].
    *
    * Metric columns are assumed NON-NULL: `cnt` counts rows while
    * sum/min/max skip nulls, so a null-bearing metric skews avg/std —
    * `coalesce` or filter upstream if the source permits nulls.
    */
  def buildAggView(
      df: DataFrame,
      viewDir: String,
      keys: Seq[String],
      metrics: Seq[String],
      scale: Int = 2,
      numBuckets: Int = 32,
      distinctCols: Seq[String] = Nil,
      histCols: Seq[String] = Nil,
      histLo: Double = 0.0,
      histHi: Double = 1.0,
      histBins: Int = 64): Unit = lock.synchronized {
    require(keys.nonEmpty, "buildAggView: at least one group key")
    require(metrics.nonEmpty, "buildAggView: at least one metric column")
    require(histCols.isEmpty || (histBins > 0 && histHi > histLo),
      "buildAggView: histogram needs histHi > histLo and histBins > 0")
    val spark = df.sparkSession
    val prior = store.read(conf(spark), viewDir)
    val m0 = AggViewManifest(keys, metrics, scale, numBuckets, Vector.empty,
      distinctCols = distinctCols, histCols = histCols,
      histLo = histLo, histHi = histHi,
      histBins = if (histCols.isEmpty) 0 else histBins)
    val (root, n) = stageRoot(df, viewDir, m0, skipIfEmpty = false).get
    store.commitIfUnchanged(conf(spark), viewDir, prior,
      m0.copy(roots = Vector(root._1), nRows = n, files = Map(root),
        schema = rootSchema(partialAgg(df, m0).schema, keys).json))
  }

  /** Fold one delta batch into the view: O(delta) — one partial agg over
    * the batch, one root write, one manifest swap; the base roots are
    * NEVER re-read. Exactly-once under `batchTag` (a replayed tag returns
    * false and writes nothing — the streaming fence); an empty batch
    * stages nothing. Returns true when the view changed.
    */
  def appendToAggView(
      viewDir: String,
      df: DataFrame,
      batchTag: Option[String] = None): Boolean = lock.synchronized {
    val spark = df.sparkSession
    val m = store.required(conf(spark), viewDir, "appendToAggView")
    if (batchTag.exists(tags.applied(m, _))) return false
    stageRoot(df, viewDir, m, skipIfEmpty = true) match {
      case None => false
      case Some((root, n)) => commitAppend(spark, viewDir, m, root, n, batchTag); true
    }
  }

  /** Commit staged append root `staged` of `n` ingested rows against `m`;
    * a root that does not read under the view's schema aborts and is
    * dropped.
    */
  private[operators] def commitAppend(spark: SparkSession, viewDir: String, m: AggViewManifest,
      staged: ManifestFileIndex.Root, n: Long, batchTag: Option[String]): Unit =
    store.commitOrDrop(conf(spark), viewDir, m, withStaged(spark, viewDir, m, staged,
      tags.record(m.copy(roots = m.roots :+ staged._1, nRows = m.nRows + n), batchTag)),
      Seq(staged._1))

  /** All roots in ONE scan over their recorded files, with `pk`. */
  private def readRoots(spark: SparkSession, viewDir: String,
      m: AggViewManifest): DataFrame = {
    val (files, schema) = filesAndSchema(spark, viewDir, m)
    ManifestFileIndex.read(spark, files, schema, Some("pk"))
  }

  /** The merged PARTIAL state (keys..., __cnt, m__sum/min/max, one row
    * per key) — the re-aggregation of all roots. Internal merge step for
    * reads and folds.
    */
  private def mergedPartial(spark: SparkSession, viewDir: String,
      m: AggViewManifest): DataFrame = {
    val aggs = mergeAggs(m)
    readRoots(spark, viewDir, m)
      .groupBy(m.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Read the finalized view: one row per key with
    * `cnt`, and per metric `m`: `m_sum` (scale-dp), `m_min`, `m_max`,
    * `m_avg` (6dp) — bit-identical to a one-shot GROUP BY over everything
    * ever ingested, regardless of how the rows arrived.
    */
  def readAggView(spark: SparkSession, viewDir: String): DataFrame = {
    val m = store.required(conf(spark), viewDir, "readAggView")
    mergedPartial(spark, viewDir, m).select(finalizeCols(m): _*)
  }

  /** Point lookup of one key tuple — the one scan prunes to the key's
    * single `pk` partition (the view's answer to the reference's `Get`:
    * manifest → partition prune → merge). `values` align with the view's
    * `keys`.
    */
  def lookupAggView(spark: SparkSession, viewDir: String,
      values: Seq[Any]): DataFrame = {
    val m = store.required(conf(spark), viewDir, "lookupAggView")
    require(values.length == m.keys.length,
      s"lookupAggView: ${m.keys.length} key values expected")
    val aggs = mergeAggs(m)
    val roots = readRoots(spark, viewDir, m)
    // probe literals are CAST to the stored key types before hashing and
    // comparing — an Int literal probing a Long key column would
    // otherwise xxhash64 to a different pk and read an empty partition
    val keyTypes = m.keys.map(k => roots.schema(k).dataType)
    val typed = m.keys.zip(values).zip(keyTypes)
      .map { case ((k, v), t) => (k, lit(v).cast(t)) }
    val pred = typed.map { case (k, v) => col(k) <=> v }.reduce(_ && _)
    // pk literal prunes the partitioned scan; the key predicate finishes
    // the job inside the pruned partition
    val pkVals = spark.range(1).select(
      typed.map { case (k, v) => v.as(k) }: _*)
      .select(pkExpr(m.keys, m.numBuckets).as("pk"))
      .collect().map(_.getInt(0))
    roots
      .filter(col("pk") === pkVals.head && pred)
      .groupBy(m.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(finalizeCols(m): _*)
  }

  /** Fold all roots into one (the compaction): the merged partial state
    * is rewritten as a single root, numeric batch tags collapse into the
    * high-water fence, and reads stop paying the multi-root union.
    * Bit-identical before/after by the monoid property. Returns true
    * when a fold ran.
    */
  def compactAggView(spark: SparkSession, viewDir: String): Boolean = lock.synchronized {
    store.read(conf(spark), viewDir) match {
      case Some(m) if m.roots.size > 1 || tags.pending(m) =>
        val root = ManifestFileIndex.stage(mergedPartial(spark, viewDir, m)
          .withColumn("pk", pkExpr(m.keys, m.numBuckets)), viewDir, "agg-", Some("pk"))
        store.commitOrDrop(conf(spark), viewDir, m, withStaged(spark, viewDir, m, root,
          tags.absorb(m.copy(roots = Vector(root._1)))), Seq(root._1))
        true
      case _ => false
    }
  }

  /** The auto-fold policy (the shared `maintain` contract): fold when
    * append roots pile past `foldRootsAbove`. Returns true when a fold
    * ran.
    */
  def maintainAggView(spark: SparkSession, viewDir: String,
      foldRootsAbove: Int = 4): Boolean = lock.synchronized {
    store.read(conf(spark), viewDir) match {
      case Some(m) if m.roots.size > foldRootsAbove =>
        compactAggView(spark, viewDir)
      case _ => false
    }
  }

  /** Delete roots the manifest no longer references (crashed stages,
    * superseded folds) past an age grace for in-flight foreign stages.
    * Returns the number of directories removed.
    */
  def vacuumAggView(spark: SparkSession, viewDir: String,
      minAgeMs: Long = 600000L): Int = lock.synchronized {
    store.vacuum(conf(spark), viewDir, minAgeMs)(m =>
      Seq("" -> ManifestStore.unreferenced(m.roots.toSet, "agg-")))
  }
}
