package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.functions.expressions.TopKExpressions
import graft.store.ManifestStore
import graft.store.ManifestStore.conf

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) query set
  * against the full corpus — one narrow pass over the corpus, no shuffle on
  * the corpus side, then a two-phase top-k aggregate. At 100 TB this is the
  * right plan whenever |queries| is small: the corpus is scanned once and
  * the k-way reduction really is map-side (see [[topKPerQuery]]).
  *
  * `lshTopK` is the scale path for large query sets: both sides bucketed by
  * random-hyperplane LSH, candidates joined per bucket with 1-bit
  * multi-probe. `ivfTopK`/`ivfTopKIndexed` partition by a k-means coarse
  * quantizer instead; `pqTopK` and the persisted IVF-PQ index
  * (`buildIvfPqIndex`/`ivfPqTopK`) add product-quantized scoring — see
  * each operator's scaladoc for its scale contract.
  */
object Similarity {

  /** Two-phase top-k over scored `(query_id, neighbor_id, cos)` rows: the
    * [[TopKExpressions.topk_by]] aggregate reduces each input partition to
    * <= k entries per query BEFORE the shuffle (map-side partial
    * aggregation), so the exchange carries <= k * numPartitions rows per
    * query — never the full corpus's scores through one reducer, which is
    * what a `row_number() OVER (PARTITION BY query_id)` window would do.
    * Ranking order (cos desc, neighbor_id asc) matches the window form
    * bit-for-bit, so oracled results are unchanged.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKExpressions.topk_by(col("cos"), col("neighbor_id"), k).as("__nb"))
      .select(col("query_id"),
        posexplode(col("__nb")).as(Seq("__pos", "neighbor_id")))
      .select(col("query_id"), col("neighbor_id"),
        (col("__pos") + 1).cast("long").as("rank"))

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank), rank 1..k by cosine desc,
    * ties broken by neighbor_id asc for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `numCentroids` cells; each query probes only its `nProbe`
    * nearest cells. The scale path for large corpora AND large query sets:
    * corpus is scanned once to assign cells (then the assignment is a
    * materialized index), and each query touches ~nProbe/numCentroids of
    * the data. Returns (query_id, neighbor_id, rank).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      fitSampleRows: Long = 262144L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // fit on a bounded sample, assign every row natively — same scale
    // split as [[buildIvfIndex]] (identical to a full fit for small corpora)
    val total = c.count()
    val fitInput =
      if (fitSampleRows > 0 && total > fitSampleRows)
        c.sample(withReplacement = false, fitSampleRows.toDouble / total, seed)
      else c
    val model = new KMeans().setK(numCentroids).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(fitInput.withColumn("fv", array_to_vector(col("cv").cast("array<double>"))))
    val centroidArr = model.clusterCenters.map(_.toArray)
    val assigned = c.withColumn("cell",
      graft.functions.expressions.VectorExpressions.nearest_centroid(col("cv"), centroidArr))
    // centroid table is tiny: broadcast-joined against the queries, ranked
    // by distance, keep nProbe cells per query
    import spark.implicits._
    val centroids = centroidArr.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq.toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qCells = q.join(broadcast(centroids), lit(true))
      .withColumn("dist", Vectors.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist").desc, col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = assigned.join(qCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }

  // ----------------------------------------------------- IVF index layout
  //
  // Generational: each build/re-fit writes a COMPLETE new generation under
  // indexDir/g<N>/{centroids,assigned,stats} and then atomically points
  // indexDir's manifest at it — a writer never touches the live
  // generation, so a re-fit that dies mid-write leaves the index exactly
  // as it was (the GraftDB manifest pattern applied to the index). Old
  // generations stay on disk for in-flight readers until vacuumIvfIndex.
  // Indexes from the pre-manifest layout (tables at the indexDir root) are
  // still readable: no manifest resolves to the root paths.

  private def ivfFs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The index manifest: live generation plus the SEALED append batches of
    * that generation. An append stages its rows under
    * `g<N>/append-<uuid>/` and only then commits the dir name here (one
    * atomic manifest swap) — readers never see a torn batch, and a crash
    * mid-stage leaves an unreferenced dir that [[vacuumIvfIndex]] removes
    * (the same write-then-flip contract as every other index mutation).
    * `sealedLevels` counts the leading sealed dirs that are MINOR-FOLD
    * products — a later minor fold must never re-fold them, or per-fold
    * cost would grow with stream lifetime instead of the data appended
    * since the last fold (legacy manifests default to 0: every sealed
    * dir is an unfolded L0).
    *
    * `tombDirs` are tombstone roots (`g<N>/tombs-<uuid>/`, parquet of
    * `neighbor_id`), one per [[deleteFromIvfIndex]] batch and disjoint by
    * construction — the reference's Del applied to the vector index.
    * EVERY assignment read ([[ivfAssigned]]) anti-joins them, so probes,
    * ADC scans, re-ranks, and drift re-fits all see only live vectors;
    * the physical purge is any generation rewrite (major fold or re-fit),
    * whose fresh manifest starts with no tombstones.
    */
  private[llmops] final case class IvfManifest(gen: Int,
      sealedDirs: Vector[String] = Vector.empty, sealedLevels: Int = 0,
      tombDirs: Vector[String] = Vector.empty)

  private implicit val ivfFmts: org.json4s.Formats = org.json4s.DefaultFormats

  // serializes every index MUTATION (build commit, append stage+seal,
  // vacuum) in-process — an unsynchronized read-modify-write of the
  // manifest would let two appends both read the same sealedDirs and the
  // last writer silently orphan the other's batch, and a vacuum running
  // between an append's stage and seal would delete the staged dir out
  // from under it. The cross-process contract is ManifestStore's.
  private val ivfLock = new Object

  private[llmops] val ivfStore =
    new ManifestStore[IvfManifest]("index", "vacuumIvfIndex")

  /** Live generation number: Some(n) under the manifest layout, None for
    * a legacy root-layout (or empty) directory.
    */
  def ivfGeneration(spark: org.apache.spark.sql.SparkSession, indexDir: String): Option[Int] =
    ivfStore.read(conf(spark), indexDir).map(_.gen)

  private def ivfPaths(spark: org.apache.spark.sql.SparkSession, indexDir: String): (String, String, String) =
    ivfGeneration(spark, indexDir) match {
      case Some(g) => (s"$indexDir/g$g/centroids", s"$indexDir/g$g/assigned", s"$indexDir/g$g/stats.json")
      case None => (s"$indexDir/centroids", s"$indexDir/assigned", s"$indexDir/stats")
    }

  /** All live assignment roots: the generation's base `assigned` table
    * plus every SEALED append batch (see [[IvfManifest]]). Every root is
    * `partitionBy("cell")` parquet, so multi-root partition discovery
    * keeps `cell` a partition column across the union.
    */
  private def ivfAssignedPaths(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Seq[String] =
    ivfStore.read(conf(spark), indexDir) match {
      case Some(m) =>
        s"$indexDir/g${m.gen}/assigned" +: m.sealedDirs.map(d => s"$indexDir/g${m.gen}/$d")
      case None => Seq(s"$indexDir/assigned")
    }

  /** Fit statistics (k, n, sumSqDist). Stored as a tiny JSON FILE inside
    * the generation — stats is the one artifact a non-drift append must
    * update in place, and a file swaps atomically (FileContext OVERWRITE
    * rename) where a parquet directory overwrite would leave a torn state
    * on crash. Unreadable/absent stats degrade to None (plain appends, no
    * drift trigger) rather than failing the append. Legacy root-layout
    * indexes keep their parquet stats table, read through the same path.
    */
  private def readIvfStats(spark: org.apache.spark.sql.SparkSession,
      statsPath: String): Option[(Int, Long, Double)] =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(statsPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else if (statsPath.endsWith(".json")) {
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        // a real JSON parse (json4s, like the manifest), not a field regex:
        // robust to field order/whitespace/formatting, and a renamed or
        // missing field degrades to None the same way unreadable stats do
        val j = org.json4s.jackson.JsonMethods.parse(text)
        for {
          k <- (j \ "k").extractOpt[Int]
          n <- (j \ "n").extractOpt[Long]
          s <- (j \ "sumSqDist").extractOpt[Double]
        } yield (k, n, s)
      } else {
        spark.read.parquet(statsPath).collect().headOption.map { r =>
          (r.getAs[Int]("k"), r.getAs[Long]("n"), r.getAs[Double]("sumSqDist"))
        }
      }
    }.toOption.flatten

  private def writeIvfStats(spark: org.apache.spark.sql.SparkSession,
      statsPath: String, k: Int, n: Long, sumSqDist: Double): Unit =
    ManifestStore.writeJson(spark, statsPath,
      s"""{"k": $k, "n": $n, "sumSqDist": $sumSqDist}""")

  private def commitIvfGeneration(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, expected: Option[IvfManifest], gen: Int): Unit =
    ivfStore.commitIfUnchanged(conf(spark), indexDir, expected, IvfManifest(gen)) // fresh gen: no sealed appends

  /** Delete all index generations except the live one (the explicit
    * cleanup point, like GraftDB.vacuum — in-flight readers of old
    * generations are the caller's concern). Dirs modified within
    * `minAgeMs` of now are SPARED: a cross-process writer mid-stage (a
    * new generation being built, or an append dir not yet sealed) is on
    * disk but referenced by no manifest, and the re-read guard only
    * detects COMMITTED foreign mutations — the age grace keeps vacuum
    * from deleting a concurrent stage out from under its writer (pass 0
    * to reclaim everything after a known crash with no live writers).
    */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      minAgeMs: Long = 600000L): Int = ivfLock.synchronized {
    ivfStore.vacuum(conf(spark), indexDir, minAgeMs)(m => Seq(
      // superseded generations, plus the pre-manifest root tables a
      // legacy index leaves behind after its first manifest-era build
      "" -> ((n: String) => (n.matches("g\\d+") && n != s"g${m.gen}") ||
        n == "centroids" || n == "assigned" || n == "stats"),
      // staged-but-never-sealed append/tombstone dirs inside the LIVE
      // generation (a crashed writer's leftovers, invisible to reads)
      s"g${m.gen}" -> ManifestStore.unreferenced(
        (m.sealedDirs ++ m.tombDirs).toSet, "append-", "tombs-")))
  }

  /** Build and persist an IVF index: k-means centroids + the cell-assigned
    * corpus, both as parquet under a fresh generation of `indexDir` (see
    * the layout note above). At 100 TB this is the point — fit/assign
    * once, then every query run is a broadcast centroid rank + a join
    * against the (cell-partitioned) assignment table.
    *
    * Scale split between FIT and ASSIGN: iterative k-means over the full
    * corpus is many full passes — a scale-killer at 100 TB, and pointless,
    * since a coarse quantizer converges on a bounded sample (FAISS trains
    * IVF on ~max(10^4, 256k) vectors regardless of corpus size). The fit
    * runs on at most `fitSampleRows` rows (the whole corpus when smaller,
    * so small-corpus results are bit-identical to a full fit); the
    * assignment of ALL rows is then ONE narrow pass through the native
    * [[graft.functions.expressions.NearestCentroid]] expression — spec-
    * verified to agree with `model.transform` — with no ML-vector
    * conversion on the big side.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      indexDir: String,
      numCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      fitSampleRows: Long = 262144L): Unit = ivfLock.synchronized {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val total = c.count()
    // an empty corpus would crash deep inside the KMeans summarizer
    // ("Nothing has been added") — refuse at the API boundary instead.
    require(total > 0, s"IVF build: empty corpus at $indexDir — " +
      "a CDC delete stream that emptied the index must rebuild from source data")
    // FEWER live rows than k (the post-CDC-delete drift re-fit's classic
    // degenerate case) must clamp: Spark 4's block KMeans aggregator
    // over-indexes (AIOOBE in euclideanUpdateInPlace) when init yields
    // fewer centers than k. The persisted stats keep the REQUESTED k, so
    // a later re-fit over a regrown corpus heals back to full resolution
    // (IvfDeleteSpec pins both properties).
    val kEff = math.min(numCentroids.toLong, total).toInt
    val fitInput =
      if (fitSampleRows > 0 && total > fitSampleRows)
        c.sample(withReplacement = false, fitSampleRows.toDouble / total, seed)
      else c
    val model = new KMeans().setK(kEff).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(fitInput.withColumn("fv", array_to_vector(col("cv").cast("array<double>"))))
    val centroidArr = model.clusterCenters.map(_.toArray)
    // write the ENTIRE generation before the manifest flips — a failure
    // anywhere below leaves the previous generation live and untouched
    val m0 = ivfStore.read(conf(spark), indexDir)
    val nextGen = m0.map(_.gen + 1).getOrElse(0)
    val genDir = s"$indexDir/g$nextGen"
    centroidArr.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$genDir/centroids")
    c.withColumn("cell",
        graft.functions.expressions.VectorExpressions.nearest_centroid(col("cv"), centroidArr))
      .repartition(col("cell")) // co-locate cells for the probe join
      .write.mode("overwrite").partitionBy("cell").parquet(s"$genDir/assigned")
    // fit statistics: trainingCost is the sum of squared assignment
    // distances over the FIT rows — the baseline the drift trigger in
    // [[appendToIvfIndex]] compares append batches against (a sample mean
    // is an unbiased estimate of the corpus mean)
    val n = model.summary.clusterSizes.map(_.toLong).sum
    writeIvfStats(spark, s"$genDir/stats.json", numCentroids, n, model.summary.trainingCost)
    commitIvfGeneration(spark, indexDir, m0, nextGen)
  }

  /** Incrementally append vectors to a persisted IVF index (the streaming-
    * ingest path [[buildIvfIndex]] lacks: rebuild-free). The centroid table
    * is tiny by definition (a coarse quantizer), so it is collected once
    * and baked into the native [[graft.functions.expressions.NearestCentroid]]
    * expression — assignment is a NARROW map over the new rows (no
    * crossJoin, no window, no shuffle except the partitionBy write), with
    * the same euclidean metric and lowest-index tie-break as Spark ML
    * KMeans, so appended cells agree with `model.transform`'s.
    *
    * Drift trigger: the coarse quantizer is only as good as the data it was
    * fitted on. Each append batch's mean squared assignment distance is
    * compared against the index's running fit mean (persisted at build time
    * from the KMeans `trainingCost`, maintained across appends); a batch
    * whose mean exceeds `refitFactor` x the fit mean is drawn from a
    * distribution the centroids never saw, so the index is RE-FITTED —
    * otherwise those rows all land in a few far-away cells where probe
    * recall collapses. Re-fit cost is one full rebuild (with
    * [[buildIvfIndex]]'s bounded-sample fit) — the trigger's job is making
    * that rare. The drift metrics ride the append write itself via
    * `Dataset.observe`, so the batch is read exactly once; on drift the
    * re-fit rebuilds from the assignment table, which already contains the
    * batch.
    *
    * Crash contract (manifest layout): the batch is STAGED under
    * `g<N>/append-<uuid>/` and becomes visible only when the manifest
    * swap seals it — a crash mid-stage leaves an unreferenced dir
    * ([[vacuumIvfIndex]] reclaims it), never a torn batch in the live
    * table. A legacy root-layout index (no manifest to seal into) keeps
    * the weaker direct-append contract.
    *
    * Returns true when the batch triggered a re-fit. `refitFactor <= 0`
    * disables the trigger (plain append), as does an index built before
    * stats existed.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      newRows: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      refitFactor: Double = 4.0,
      seed: Long = 42L): Boolean = ivfLock.synchronized {
    // the WHOLE append holds ivfLock: a manifest read outside the lock
    // would go stale by seal time — two concurrent appends would then
    // both seal from the same snapshot and the last writer would orphan
    // the other's batch (and a generation flip mid-stage would strand the
    // staged dir under the dead generation)
    import spark.implicits._
    import graft.functions.expressions.VectorExpressions
    val (centroidsPath, assignedPath, statsPath) = ivfPaths(spark, indexDir)
    val manifest = ivfStore.read(conf(spark), indexDir)
    val centroids = spark.read.parquet(centroidsPath)
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
    val rows = newRows.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // an IVF-PQ index carries a code column — appended rows must too, or
    // the union'd assignment table goes schema-ragged and ADC scans break
    val codebooksOpt = readIvfCodebooks(spark, indexDir)
    val cellAssigned = rows
      .withColumn("cell", VectorExpressions.nearest_centroid(col("cv"), centroids))
    val assignedNew = codebooksOpt match {
      case Some(cb) => cellAssigned
        .withColumn("code", VectorExpressions.pq_encode(col("cv"), cb))
      case None => cellAssigned
    }
    val stats = if (refitFactor > 0) readIvfStats(spark, statsPath) else None
    // drift metrics ride the one batch write via Observation (stats=None
    // skips the metric columns but the write path is identical)
    val obs = org.apache.spark.sql.Observation()
    val toWrite = if (stats.isDefined)
      assignedNew.observe(obs,
        count(lit(1)).as("bn"),
        sum(VectorExpressions.nearest_centroid_dist(col("cv"), centroids)).as("bs"))
    else assignedNew
    manifest match {
      case Some(m) =>
        // stage, then SEAL with one atomic manifest swap
        val batchDir = s"append-${java.util.UUID.randomUUID().toString}"
        val batchPath = s"$indexDir/g${m.gen}/$batchDir"
        toWrite.repartition(col("cell"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("cell").parquet(batchPath)
        // an EMPTY batch writes no parquet files — sealing the bare dir
        // would make every later read of the index fail schema inference;
        // drop the stage instead of sealing it
        val (fs, _) = ivfFs(spark, indexDir)
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(batchPath), true)
        var hasParquet = false
        while (!hasParquet && it.hasNext)
          hasParquet = it.next().getPath.getName.endsWith(".parquet")
        if (hasParquet)
          ivfStore.commitOrDrop(conf(spark), indexDir, m,
            m.copy(sealedDirs = m.sealedDirs :+ batchDir), Seq(s"g${m.gen}/$batchDir"))
        else fs.delete(new org.apache.hadoop.fs.Path(batchPath), true)
      case None => // legacy root layout: no manifest to seal into
        toWrite.repartition(col("cell"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .partitionBy("cell").parquet(assignedPath)
    }
    stats match {
      case Some((k, n, fitSum)) =>
        val met = obs.get
        val bn = met("bn").asInstanceOf[Long]
        val bs = met.get("bs").collect { case d: java.lang.Double => d.doubleValue }.getOrElse(0.0)
        val drifted = bn > 0 &&
          bs / bn > refitFactor * (fitSum / math.max(1L, n))
        if (drifted) {
          // the batch is already sealed into the live generation, so the
          // re-fit reads it through ivfAssigned while writing the NEXT
          // generation; the manifest only flips once that generation is
          // complete — no read-your-own-overwrite hazard. dropDuplicates
          // on the id collapses rows an at-least-once ingest (e.g. a
          // streaming-checkpoint replay) appended twice: same id = same
          // vector, so the survivor is well-defined
          val base = ivfAssigned(spark, indexDir).select(col("neighbor_id"), col("cv"))
            .dropDuplicates("neighbor_id")
          codebooksOpt match {
            case Some(cb) => buildIvfPqIndex(base, indexDir, numCentroids = k,
              m = cb.length, ksub = cb(0).length,
              idCol = "neighbor_id", vecCol = "cv", seed = seed)
            case None => buildIvfIndex(base, indexDir,
              numCentroids = k, idCol = "neighbor_id", vecCol = "cv", seed = seed)
          }
          true
        } else {
          // fold the batch into the running fit stats so the baseline
          // tracks the indexed population, not just the original fit —
          // an ATOMIC file swap (see readIvfStats); a torn parquet
          // overwrite here would break every later append
          if (statsPath.endsWith(".json"))
            writeIvfStats(spark, statsPath, k, n + bn, fitSum + bs)
          else // legacy root-layout index: keep its parquet stats table
            Seq((k, n + bn, fitSum + bs)).toDF("k", "n", "sumSqDist")
              .write.mode("overwrite").parquet(statsPath)
          false
        }
      case None => false
    }
  }

  /** Fold sealed append batches together — the small-files compaction of
    * the vector index (the LSM story applied to IVF: appends are L0
    * segments; this is their merge). A long-running streaming ingest
    * seals one batch dir per micro-batch, and thousands of small parquet
    * files per cell eventually dominate probe latency at any scale.
    *
    * Two fold shapes, like [[Search.compactTextIndex]]'s major/minor
    * split:
    *  - `includeBase = true` (major): everything — base assignment table
    *    plus sealed batches — rewrites as one cell-partitioned table in
    *    a complete NEW generation reusing the live fit artifacts
    *    (centroids, codebooks, stats — no re-fit, quantization is
    *    unchanged); the manifest flips only when done. Replay duplicates
    *    from an at-least-once ingest collapse here (same id = same
    *    vector, matching the drift re-fit's contract).
    *  - `includeBase = false` (minor): only the UNFOLDED sealed batches
    *    (the L0s past `sealedLevels`) fold, into one new sealed dir
    *    inside the LIVE generation — prior fold products are never
    *    re-read, so each fold's cost is proportional to the data
    *    appended SINCE THE LAST FOLD, never the stream's lifetime.
    *    Duplicates WITHIN the folded batches collapse; a replay
    *    duplicating a base row waits for the next major fold (exactly
    *    the pre-fold read semantics — ANN probes tolerate it), which
    *    [[maintainIvfIndex]]'s size-ratio policy schedules.
    *
    * Both shapes stage-then-swap: readers never see a half-folded index,
    * and a crash mid-fold leaves the old state live ([[vacuumIvfIndex]]
    * reclaims the debris). Returns true when a fold happened; false when
    * there was nothing to fold.
    */
  def compactIvfAppends(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, includeBase: Boolean = true): Boolean = ivfLock.synchronized {
    ivfStore.read(conf(spark), indexDir) match {
      case Some(m) if !includeBase && m.sealedDirs.size - m.sealedLevels >= 2 =>
        // minor: fold the L0 batches into one dir, base, generation, and
        // prior fold products untouched
        val genDir = s"$indexDir/g${m.gen}"
        val batchDir = s"append-${java.util.UUID.randomUUID}"
        m.sealedDirs.drop(m.sealedLevels).map(d => spark.read.parquet(s"$genDir/$d"))
          .reduce(_.unionByName(_))
          .dropDuplicates("neighbor_id")
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$genDir/$batchDir")
        ivfStore.commitOrDrop(conf(spark), indexDir, m,
          m.copy(sealedDirs = m.sealedDirs.take(m.sealedLevels) :+ batchDir,
            sealedLevels = m.sealedLevels + 1), Seq(s"g${m.gen}/$batchDir"))
        true
      case Some(m) if includeBase && (m.sealedDirs.nonEmpty || m.tombDirs.nonEmpty) =>
        // tombstones alone also justify the rewrite: the generation flip
        // IS the physical purge (ivfAssigned below excludes dead rows)
        val (fs, _) = ivfFs(spark, indexDir)
        val oldGenDir = s"$indexDir/g${m.gen}"
        val nextGen = m.gen + 1
        val genDir = s"$indexDir/g$nextGen"
        // the union read targets the OLD generation's paths while every
        // write lands in the new one — no read-your-own-overwrite
        ivfAssigned(spark, indexDir)
          .dropDuplicates("neighbor_id")
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$genDir/assigned")
        spark.read.parquet(s"$oldGenDir/centroids")
          .write.mode("overwrite").parquet(s"$genDir/centroids")
        for (f <- Seq("codebooks.json", "stats.json")) {
          val src = new org.apache.hadoop.fs.Path(s"$oldGenDir/$f")
          if (fs.exists(src))
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new org.apache.hadoop.fs.Path(s"$genDir/$f"),
              false, spark.sparkContext.hadoopConfiguration)
        }
        commitIvfGeneration(spark, indexDir, Some(m), nextGen) // sealedDirs reset
        true
      case _ => false
    }
  }

  /** The standing-stream maintenance policy — [[Search.maintainTextIndex]]
    * for vectors: minor-fold the accumulated L0 batches, then run a MAJOR
    * fold only once the sealed dirs have grown to `majorSizeRatio` x the
    * base assignment table's bytes (size-ratio merge: majors amortize
    * geometrically, each row rewritten O(log growth) times over a
    * stream's lifetime — and replayed base-row duplicates collapse
    * there).
    *
    * A major ALSO fires once `maxTombRoots` tombstone roots accumulate —
    * the purge trigger for delete-heavy indexes that never append. (The
    * text index triggers on its exact dead RATIO; the IVF manifest
    * deliberately tracks no corpus count — stats `n` is a bounded fit
    * sample — so the trigger here bounds what actually grows per delete
    * batch: the root list every probe's tombstone broadcast unions.)
    * Returns true when any fold ran.
    */
  def maintainIvfIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      majorSizeRatio: Double = 1.0, maxTombRoots: Int = 8): Boolean = ivfLock.synchronized {
    val minored = compactIvfAppends(spark, indexDir, includeBase = false)
    val majored = ivfStore.read(conf(spark), indexDir) match {
      case Some(m) if m.tombDirs.size >= math.max(1, maxTombRoots) =>
        compactIvfAppends(spark, indexDir)
      case Some(m) if m.sealedDirs.nonEmpty =>
        val (fs, _) = ivfFs(spark, indexDir)
        def bytes(p: String): Long =
          try fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
          catch { case _: java.io.FileNotFoundException => 0L }
        val genDir = s"$indexDir/g${m.gen}"
        val base = math.max(1L, bytes(s"$genDir/assigned"))
        if (m.sealedDirs.map(d => bytes(s"$genDir/$d")).sum >= majorSizeRatio * base)
          compactIvfAppends(spark, indexDir)
        else false
      case _ => false
    }
    minored || majored
  }

  /** The live generation's centroid table (readers should use this rather
    * than assuming an on-disk layout).
    */
  def ivfCentroids(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(ivfPaths(spark, indexDir)._1)

  /** The live generation's cell-assigned corpus: base table plus every
    * sealed append batch. Each root is loaded separately (sibling roots
    * under one generation dir would confuse partition inference) and
    * unioned — `cell` stays a partition column per root, so a cell filter
    * pushes through the union into every scan's partition filters.
    */
  def ivfAssigned(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame = {
    val all = ivfAssignedPaths(spark, indexDir)
      .map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_))
    // tombstones subtract HERE, at the one chokepoint every reader uses —
    // probes, ADC scans, re-ranks, drift re-fits, and the major fold all
    // see only live vectors, and the fold/re-fit generation rewrite is
    // thereby the physical purge (its fresh manifest carries no tombs)
    ivfStore.read(conf(spark), indexDir) match {
      case Some(m) if m.tombDirs.nonEmpty =>
        all.join(broadcast(ivfTombIds(spark, indexDir, m)), Seq("neighbor_id"), "left_anti")
      case _ => all
    }
  }

  private val ivfTombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("neighbor_id", org.apache.spark.sql.types.LongType)))

  /** All tombstoned ids of the live generation — roots are disjoint by
    * construction (every delete anti-joins the prior tombstones).
    */
  private def ivfTombIds(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, m: IvfManifest): DataFrame =
    m.tombDirs
      .map(d => spark.read.schema(ivfTombSchema).parquet(s"$indexDir/g${m.gen}/$d"))
      .reduce(_.unionByName(_))

  /** Delete vectors from the index — the reference's `Del` applied to the
    * vector index: one tombstone root (the ids) plus one manifest swap;
    * the assignment tables are untouched. Every read then anti-joins the
    * broadcast tombstones (see [[ivfAssigned]]), and the next generation
    * rewrite — [[compactIvfAppends]]'s major fold or a drift re-fit —
    * purges the rows physically and clears the tombstones.
    *
    * Already-tombstoned ids are dropped (a replayed delete is idempotent
    * and writes nothing new); ids never indexed are tolerated — the index
    * has no cheap membership probe, and a dangling tombstone is harmless
    * until the purge sweeps it. Returns the count of newly tombstoned
    * ids. Deletes between generation rewrites must stay broadcast-sized;
    * requires the manifest layout (legacy root-layout indexes predate
    * the staging contract tombstones ride on — rebuild to gain deletes).
    */
  def deleteFromIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      ids: DataFrame,
      idCol: String = "vec_id"): Long = ivfLock.synchronized {
    val m = ivfStore.read(conf(spark), indexDir).getOrElse(throw new IllegalStateException(
      s"deleteFromIvfIndex: no manifest at $indexDir — legacy root-layout " +
        "indexes don't support deletes; rebuild with buildIvfIndex"))
    val fresh0 = ids.select(col(idCol).cast("long").as("neighbor_id")).distinct()
    val fresh = if (m.tombDirs.isEmpty) fresh0
      else fresh0.join(ivfTombIds(spark, indexDir, m), Seq("neighbor_id"), "left_anti")
    // stage, read the staged root back for the count, then seal — the
    // same write-then-flip contract as every other index mutation
    val tDir = s"tombs-${java.util.UUID.randomUUID}"
    val tPath = s"$indexDir/g${m.gen}/$tDir"
    fresh.write.mode("overwrite").parquet(tPath)
    val (fs, _) = ivfFs(spark, indexDir)
    val n = spark.read.schema(ivfTombSchema).parquet(tPath).count()
    if (n == 0) {
      fs.delete(new org.apache.hadoop.fs.Path(tPath), true)
      return 0L
    }
    ivfStore.commitOrDrop(conf(spark), indexDir, m,
      m.copy(tombDirs = m.tombDirs :+ tDir), Seq(s"g${m.gen}/$tDir"))
    n
  }

  /** Query a persisted IVF index (see [[buildIvfIndex]]): probes `nProbe`
    * cells per query; cell partition pruning limits the scan to the probed
    * cells' files.
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfTopKIndexedImpl(spark, indexDir, queries, None, k, nProbe, idCol, vecCol)

  private def ivfTopKIndexedImpl(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      allowOpt: Option[DataFrame],
      k: Int,
      nProbe: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val centroids = ivfCentroids(spark, indexDir)
    val assigned = allowOpt.foldLeft(ivfAssigned(spark, indexDir))(
      (a, allow) => a.join(allow, Seq("neighbor_id"), "left_semi"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qCells = q.join(broadcast(centroids), lit(true))
      .withColumn("dist", Vectors.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist").desc, col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = assigned.join(qCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }

  /** Filtered ANN over a persisted IVF index: top-k restricted to an
    * `allowed` id set (the metadata-predicate composition — "nearest
    * neighbors among docs WHERE lang='en'"). The allowed set SEMI-JOINS
    * the assignment scan BEFORE any cosine is computed (PlanShapeSpec
    * pins it), so disallowed vectors never reach the scoring expression;
    * probe cells still partition-prune the scan exactly as
    * [[ivfTopKIndexed]]. `broadcastAllowed` (default) is right whenever
    * the filter set fits an executor — a predicate selecting billions of
    * ids should pass false and pay the shuffle semi-join instead.
    *
    * Equivalent to querying an index built over only the allowed corpus,
    * EXCEPT the coarse quantizer is the full-corpus fit (cells rank by
    * the same centroids) — recall against the filtered brute force is
    * gated in `ann_filtered_recall`.
    */
  def ivfTopKIndexedFiltered(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      allowed: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      allowedIdCol: String = "vec_id",
      broadcastAllowed: Boolean = true): DataFrame = {
    val allow0 = allowed.select(col(allowedIdCol).as("neighbor_id")).distinct()
    val allow = if (broadcastAllowed) broadcast(allow0) else allow0
    ivfTopKIndexedImpl(spark, indexDir, queries, Some(allow), k, nProbe, idCol, vecCol)
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket.
    * Recall < 1 by construction; bucketBits trades recall for cost.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      bucketBits: Int = 8,
      multiProbe: Boolean = true,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("b", Vectors.hyperplaneBucket(col("cv"), bucketBits))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("b0", Vectors.hyperplaneBucket(col("qv"), bucketBits))
    // multi-probe: also visit every bucket at Hamming distance 1 from the
    // query's bucket — vectors near a hyperplane land on either side, and
    // 1-bit probes recover most of that lost recall for bits+1 x the probes
    val q =
      if (multiProbe) {
        val probes = Seq(col("b0")) ++
          (0 until bucketBits).map(i => col("b0").bitwiseXOR(lit(1L << i)))
        qBase.withColumn("b", explode(array(probes: _*)))
      } else qBase.withColumn("b", col("b0"))
    val scored = c.join(q, Seq("b")).filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }

  /** Fit product-quantization codebooks: the vector space is cut into `m`
    * subspaces and each gets a `ksub`-centroid k-means quantizer (FAISS
    * PQ). Fitted on a bounded sample of UNIT-normalized vectors — PQ here
    * approximates the COSINE (normalized inner product), so both encode
    * and the query lut normalize too. Returns `m x ksub x dsub` centroids
    * (deterministic: fixed seed, deterministic sample).
    */
  def fitPqCodebooks(
      corpus: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      fitSampleRows: Int = 10000,
      seed: Long = 42L,
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    require(m > 0 && ksub > 1, "fitPqCodebooks: need m > 0 and ksub > 1")
    val c = corpus.select(col(vecCol).as("cv"))
    val dim = c.select(size(col("cv"))).head().getInt(0)
    require(dim >= m, s"fitPqCodebooks: dim $dim < m $m")
    val dsub = (dim + m - 1) / m
    // with dsub = ceil(dim/m), a (dim, m) combo where the last subspace
    // starts past the vector end (e.g. dim=9, m=8 → dsub=2, offset 14)
    // would hand the trailing KMeans fits empty slices and crash with an
    // obscure error — reject it loudly up front (pick m dividing dim, or
    // small enough that every subspace holds at least one dimension)
    require((m - 1) * dsub < dim,
      s"fitPqCodebooks: dim=$dim, m=$m leaves subspace ${dim / dsub} empty " +
        s"(dsub=ceil(dim/m)=$dsub); choose m so every subspace is non-empty")
    val total = c.count()
    // same degenerate-population guards as the IVF builders: refuse empty,
    // clamp k to the live row count (Spark 4's block KMeans AIOOBEs when
    // init yields fewer centers than k)
    require(total > 0, "fitPqCodebooks: empty corpus")
    val kEffSub = math.min(ksub.toLong, total).toInt
    val fitInput =
      if (fitSampleRows > 0 && total > fitSampleRows)
        c.sample(withReplacement = false, fitSampleRows.toDouble / total, seed)
      else c
    // unit-normalize once (bounded sample — this cost never touches the
    // full corpus; corpus-side normalization happens inside PqEncode's
    // tight loop)
    val normed = new org.apache.spark.ml.feature.Normalizer()
      .setInputCol("fv").setOutputCol("nrm").setP(2.0)
      .transform(fitInput.withColumn("fv",
        array_to_vector(col("cv").cast("array<double>"))))
      .withColumn("nv", vector_to_array(col("nrm")))
    (0 until m).map { i =>
      val off = i * dsub
      val len = math.min(dsub, dim - off)
      val model = new KMeans().setK(kEffSub).setSeed(seed + i)
        .setFeaturesCol("sv").setPredictionCol("cell")
        .fit(normed.withColumn("sv", array_to_vector(slice(col("nv"), off + 1, len))))
      // pad ragged tails to dsub — PqEncode zero-pads the vector the same way
      model.clusterCenters.map { v =>
        val a = v.toArray
        if (a.length < dsub) a ++ Array.fill(dsub - a.length)(0.0) else a
      }
    }.toArray
  }

  /** Product-quantization ANN: the corpus compresses to m small-int codes
    * per vector (here m x 4 bits of information per row vs m x dsub
    * floats — the memory path to billion-scale corpora), queries carry an
    * (m x ksub) lookup table, and scoring is m array lookups per corpus
    * row (asymmetric distance, cosine contract) — no full-vector math in
    * the scan. `rerank > 0` re-scores the top `rerank` ADC candidates
    * with EXACT cosine (the standard PQ pipeline: cheap scan first, exact
    * math on a bounded candidate set). Returns (query_id, neighbor_id,
    * rank) like the other ANN paths.
    *
    * `fitted` supplies pre-fitted codebooks (from [[fitPqCodebooks]]) so
    * repeated queries against one corpus pay the m k-means fits once —
    * the fit is deterministic, so results are identical either way.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      rerank: Int = 50,
      fitSampleRows: Int = 10000,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fitted: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val codebooks = fitted.getOrElse(
      fitPqCodebooks(corpus, m, ksub, fitSampleRows, seed, vecCol))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    import graft.functions.expressions.VectorExpressions
    val codes = c.select(col("neighbor_id"),
      VectorExpressions.pq_encode(col("cv"), codebooks).as("code"))
    val qlut = q.select(col("query_id"),
      VectorExpressions.pq_query_lut(col("qv"), codebooks).as("lut"))
    val scored = codes.join(broadcast(qlut), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorExpressions.pq_adc_dot(col("code"), col("lut")))
    if (rerank <= 0) topKPerQuery(scored, k)
    else {
      // exact re-rank of the bounded ADC candidate set: |Q| x rerank rows
      // broadcast back against the corpus — full-vector cosine only there
      val cand = topKPerQuery(scored, math.max(k, rerank))
        .select(col("query_id"), col("neighbor_id"))
      val exact = c.join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
      topKPerQuery(exact, k)
    }
  }

  // --------------------------------------------------------- IVF-PQ index
  //
  // The billion-scale composition (FAISS IVFPQ): the IVF coarse quantizer
  // prunes WHICH cells a query reads, and PQ codes shrink WHAT each read
  // costs — the probe scan touches (neighbor_id, code, cell) only, m bytes
  // of code per vector instead of the full float array, and scores with m
  // array lookups. Exact re-rank then pays full-vector math on a bounded
  // candidate set. Same generation/manifest/vacuum machinery as the plain
  // IVF index; the PQ artifacts are one extra file in the generation.

  private def ivfCodebooksPath(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[String] =
    ivfGeneration(spark, indexDir).map(g => s"$indexDir/g$g/codebooks.json")

  /** The live generation's PQ codebooks, None for a plain-IVF (or legacy
    * root-layout) index. Stored as JSON next to the generation's stats —
    * m x ksub x dsub doubles, a few hundred KB at 768 dims.
    */
  def readIvfCodebooks(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[Array[Array[Array[Double]]]] =
    ivfCodebooksPath(spark, indexDir).flatMap { path =>
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        org.json4s.jackson.JsonMethods.parse(text)
          .extractOpt[Array[Array[Array[Double]]]]
      }
    }

  private def writeIvfCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String, cb: Array[Array[Array[Double]]]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(dst, true) // pre-commit write inside a fresh generation
    try out.write(org.json4s.jackson.Serialization.write(cb).getBytes("UTF-8"))
    finally out.close()
  }

  /** Build and persist an IVF-PQ index: [[buildIvfIndex]]'s layout plus PQ
    * codebooks in the generation and a `code` column (m small ints per
    * vector) in the assignment table. Both quantizers fit on bounded
    * samples; the corpus-wide pass is ONE narrow map computing (cell,
    * code) per row. The full vector is kept alongside the code — the
    * re-rank stage and drift re-fits need it — but the ADC probe scan
    * never reads it (column pruning; PlanShapeSpec pins the read schema).
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      indexDir: String,
      numCentroids: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      fitSampleRows: Long = 262144L): Unit = ivfLock.synchronized {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import graft.functions.expressions.VectorExpressions
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val total = c.count()
    // an empty corpus would crash deep inside the KMeans summarizer
    // ("Nothing has been added") — refuse at the API boundary instead.
    require(total > 0, s"IVF build: empty corpus at $indexDir — " +
      "a CDC delete stream that emptied the index must rebuild from source data")
    // FEWER live rows than k (the post-CDC-delete drift re-fit's classic
    // degenerate case) must clamp: Spark 4's block KMeans aggregator
    // over-indexes (AIOOBE in euclideanUpdateInPlace) when init yields
    // fewer centers than k. The persisted stats keep the REQUESTED k, so
    // a later re-fit over a regrown corpus heals back to full resolution
    // (IvfDeleteSpec pins both properties).
    val kEff = math.min(numCentroids.toLong, total).toInt
    val fitInput =
      if (fitSampleRows > 0 && total > fitSampleRows)
        c.sample(withReplacement = false, fitSampleRows.toDouble / total, seed)
      else c
    val model = new KMeans().setK(kEff).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(fitInput.withColumn("fv", array_to_vector(col("cv").cast("array<double>"))))
    val centroidArr = model.clusterCenters.map(_.toArray)
    val codebooks = fitPqCodebooks(c, m, ksub,
      fitSampleRows = math.min(fitSampleRows, Int.MaxValue.toLong).toInt, seed = seed,
      vecCol = "cv")
    val m0 = ivfStore.read(conf(spark), indexDir)
    val nextGen = m0.map(_.gen + 1).getOrElse(0)
    val genDir = s"$indexDir/g$nextGen"
    centroidArr.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$genDir/centroids")
    // one corpus pass computes BOTH quantizations (narrow, codegen'd)
    c.withColumn("cell", VectorExpressions.nearest_centroid(col("cv"), centroidArr))
      .withColumn("code", VectorExpressions.pq_encode(col("cv"), codebooks))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$genDir/assigned")
    writeIvfCodebooks(spark, s"$genDir/codebooks.json", codebooks)
    val n = model.summary.clusterSizes.map(_.toLong).sum
    writeIvfStats(spark, s"$genDir/stats.json", numCentroids, n, model.summary.trainingCost)
    commitIvfGeneration(spark, indexDir, m0, nextGen)
  }

  /** Query a persisted IVF-PQ index: probe `nProbe` cells per query
    * (dynamic partition pruning, like [[ivfTopKIndexed]]), score each
    * candidate by PQ asymmetric distance — the scan reads m-byte codes,
    * never the float vectors — then re-rank the top `rerank` ADC
    * candidates per query with exact cosine. The re-rank join carries the
    * candidates' cells, so its full-vector reads partition-prune too.
    */
  def ivfPqTopK(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfPqTopKImpl(spark, indexDir, queries, None, k, nProbe, rerank, idCol, vecCol)

  /** Filtered ANN over a persisted IVF-PQ index — the billion-scale
    * composition of [[ivfTopKIndexedFiltered]]: the allowed-id set
    * SEMI-JOINS the codes-only ADC scan before any distance lookup runs
    * (and the exact re-rank reads only allowed candidates), while probe
    * cells still partition-prune both scans. Same `broadcastAllowed`
    * contract as the plain-IVF form.
    */
  def ivfPqTopKFiltered(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      allowed: DataFrame,
      k: Int,
      nProbe: Int = 4,
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      allowedIdCol: String = "vec_id",
      broadcastAllowed: Boolean = true): DataFrame = {
    val allow0 = allowed.select(col(allowedIdCol).as("neighbor_id")).distinct()
    val allow = if (broadcastAllowed) broadcast(allow0) else allow0
    ivfPqTopKImpl(spark, indexDir, queries, Some(allow), k, nProbe, rerank, idCol, vecCol)
  }

  private def ivfPqTopKImpl(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      allowOpt: Option[DataFrame],
      k: Int,
      nProbe: Int,
      rerank: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    import graft.functions.expressions.VectorExpressions
    val codebooks = readIvfCodebooks(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"ivfPqTopK: $indexDir has no PQ codebooks — build with buildIvfPqIndex"))
    val centroids = ivfCentroids(spark, indexDir)
    val assigned = allowOpt.foldLeft(ivfAssigned(spark, indexDir))(
      (a, allow) => a.join(allow, Seq("neighbor_id"), "left_semi"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qCells = q.join(broadcast(centroids), lit(true))
      .withColumn("dist", Vectors.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist").desc, col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"),
        VectorExpressions.pq_query_lut(col("qv"), codebooks).as("lut"), col("cell"))
    // ADC scan: only (neighbor_id, code) + the cell partition column leave
    // the parquet reader — the full vectors stay on disk
    val adc = assigned.select(col("neighbor_id"), col("code"), col("cell"))
      .join(qCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorExpressions.pq_adc_dot(col("code"), col("lut")))
    val cand = topKPerQuery(adc, math.max(k, rerank))
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank: the full-vector scan is restricted to the PROBED
    // cells (partition pruning on the bounded probe-cell set — every ADC
    // candidate came from one of them) and then to the bounded candidate
    // set by broadcast join; full-vector math happens on |Q| x rerank
    // rows, not the corpus
    val probeCells = qCells.select(col("cell")).distinct()
    val exact = assigned.select(col("neighbor_id"), col("cv"), col("cell"))
      .join(broadcast(probeCells), Seq("cell"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    topKPerQuery(exact, k)
  }

  /** A fitted PCA basis: the full-data mean, `k` orthonormal principal
    * axes as rows (sign-normalized: each axis's largest-|coordinate|
    * entry is positive, killing the eigenvector sign ambiguity so two
    * fits of the same data are identical), and the per-axis explained
    * variance proportions.
    */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      explained: Array[Double],
      scales: Array[Double])

  /** Fit a PCA basis for embedding compression/whitening — the
    * dimensionality-reduction step a pipeline runs before ANN indexing
    * or SemDeDup (fewer dims = smaller index, faster distance math,
    * decorrelated axes). Two bounded passes: the full-data mean (one
    * narrow explode to d cells — Spark's own PCA transform never
    * centers, a long-standing quirk, so the mean is computed here and
    * the centered projection done natively in [[pcaProject]]), then the
    * covariance eigenbasis via ml's treeAggregate-backed PCA on a
    * bounded sample (the [[buildIvfIndex]] fit-sample discipline:
    * identical to a full fit below `fitSampleRows` rows, and a d x d
    * covariance never materializes per-row anywhere).
    *
    * Cost at 100 TB (the BPE cost-note convention): TWO full-data
    * linear passes — the posexplode mean pass and the whitening-scale
    * pass — each a map-side partial aggregate whose exchange carries
    * only d (resp. k) cells, plus the `vecs.count` scan and the ONE
    * sampled eigenfit (bounded at `fitSampleRows` rows regardless of
    * corpus size). Nothing here is quadratic in rows or materializes
    * more than d·k doubles on the driver. Fitting k above the data's
    * effective rank fails loudly at fit time (a degenerate axis's
    * whitening scale would otherwise explode the projection by ~1e300
    * while claiming unit variance).
    */
  def pcaFit(
      df: DataFrame,
      vecCol: String,
      k: Int,
      fitSampleRows: Long = 262144L): PcaModel = {
    require(k > 0, "pcaFit: k must be positive")
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = df.select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val meanRows = vecs
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(avg(col("x")).as("m"))
      .collect()
    require(meanRows.nonEmpty, "pcaFit: no vectors to fit")
    val d = meanRows.map(_.getInt(0)).max + 1
    require(k <= d, s"pcaFit: k=$k exceeds dimensionality $d")
    val mean = new Array[Double](d)
    meanRows.foreach(r => mean(r.getInt(0)) = r.getDouble(1))
    val total = vecs.count()
    val fitInput =
      if (fitSampleRows > 0 && total > fitSampleRows)
        vecs.sample(withReplacement = false, fitSampleRows.toDouble / total, 42L)
      else vecs
    val model = new PCA().setK(k).setInputCol("fv").setOutputCol("pc")
      .fit(fitInput.withColumn("fv", array_to_vector(col("v"))))
    val pc = model.pc // d x k, column-major
    val comps = Array.tabulate(k) { c =>
      val row = Array.tabulate(d)(j => pc(j, c))
      val mx = row.indices.maxBy(j => math.abs(row(j)))
      if (row(mx) < 0) row.map(v => -v) else row
    }
    // whitening scales are FIT-TIME parameters (the ML semantics: learned
    // once, applied to any later data): per-axis stddev of the centered
    // projection over the full df — one more bounded k-cell aggregate,
    // and it makes [[pcaProject]] a pure narrow map with zero passes
    val projCol = graft.functions.expressions.VectorExpressions
      .pca_project(col("v"), comps, mean)
    val scaleRows = vecs.select(posexplode(projCol).as(Seq("i", "y")))
      .groupBy("i").agg(sqrt(avg(col("y") * col("y"))).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val scales = Array.tabulate(k)(i => scaleRows.getOrElse(i, 1.0))
    // a near-zero axis means k exceeded the data's effective rank —
    // whitening would multiply that axis by an astronomical factor and
    // silently violate the unit-variance contract; fail loudly instead
    // (relative to the dominant axis, so a uniformly tiny but
    // full-rank embedding still fits)
    val sMax = scales.max
    scales.zipWithIndex.foreach { case (s, i) =>
      require(sMax > 0.0 && s > 1e-12 * sMax,
        s"pcaFit: axis $i has near-zero variance (stddev $s vs max " +
          s"$sMax) — k=$k exceeds the data's effective rank; reduce k")
    }
    PcaModel(mean, comps, model.explainedVariance.toArray, scales)
  }

  /** Project vectors onto a fitted PCA basis: `out` becomes the CENTERED
    * k-dim projection (one codegen'd k x d mat-vec per row — narrow map,
    * no shuffle, basis broadcast as a plan reference object). With
    * `whiten = true` each axis is additionally divided by the model's
    * FIT-TIME stddev (stored in the model, so whitening is a learned
    * parameter applied identically to any later data, and projection
    * stays a single narrow map with no extra pass) — the normalization
    * embedding-cosine pipelines want before mixing axes of very
    * different spread.
    */
  def pcaProject(
      df: DataFrame,
      vecCol: String,
      model: PcaModel,
      out: String = "pca",
      whiten: Boolean = false): DataFrame = {
    val proj = df.withColumn(out,
      graft.functions.expressions.VectorExpressions.pca_project(
        col(vecCol), model.components, model.mean))
    if (!whiten) proj
    else proj.withColumn(out,
      zip_with(col(out), lit(model.scales), (y, s) => y / s))
  }

  /** Persist a fitted [[PcaModel]] at `dir` — the persisted-index
    * discipline (the IVF/BM25 convention): a model fits once and serves
    * any number of later jobs and SQL sessions (`graft_pca` TVF).
    * One small parquet of (kind, idx, vec) rows; written with
    * mode=overwrite so a re-fit atomically replaces the previous model
    * for new readers.
    */
  def savePcaModel(model: PcaModel, dir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val rows =
      Seq(("mean", 0, model.mean.toSeq),
        ("explained", 0, model.explained.toSeq),
        ("scales", 0, model.scales.toSeq)) ++
      model.components.zipWithIndex.map { case (c, i) =>
        ("component", i, c.toSeq)
      }
    rows.toDF("kind", "idx", "vec")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/model")
  }

  /** Deterministic ±1/sqrt(k) Johnson–Lindenstrauss sign basis: entry
    * (c, j) is `+scale` when the first hex character of
    * `md5("<seed>:<c>:<j>")` is below '8' (the hash's top bit), else
    * `-scale`, with `scale = 1/sqrt(k)`. Achlioptas's database-friendly
    * construction (random signs preserve pairwise distances in
    * expectation exactly like Gaussian entries) made REPLAYABLE: the
    * basis is a pure function of (seed, k, d) — no fit, no state, no
    * persisted model, and any engine with md5 regenerates it
    * bit-for-bit, which is what lets the emb_rp oracle replay the whole
    * projection in SQL.
    */
  def randomProjectionBasis(k: Int, d: Int,
      seed: Long): Array[Array[Double]] = {
    require(k > 0, "randomProjectionBasis: k must be positive")
    require(d > 0, "randomProjectionBasis: d must be positive")
    val scale = 1.0 / math.sqrt(k.toDouble)
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, d) { (c, j) =>
      md.reset()
      val hex = md.digest(s"$seed:$c:$j".getBytes("UTF-8"))
      // first hex char < '8' <=> top bit of the first byte is 0
      if ((hex(0) & 0x80) == 0) scale else -scale
    }
  }

  /** Random projection of an embedding column to `k` dims — the
    * DATA-INDEPENDENT compression path ([[pcaFit]]'s scale alternative):
    * no passes over the corpus at all, the "model" is just (seed, k, d),
    * and the JL lemma bounds pairwise-distance distortion without
    * looking at the data — which is exactly what a 100 TB pipeline
    * wants when even PCA's two linear fit passes are too expensive, or
    * when the corpus grows continuously and a fitted basis would go
    * stale. One codegen'd k x d mat-vec per row ([[PcaProject]] with a
    * zero mean — projection IS the centered projection of an origin
    * basis), narrow map, no shuffle, no driver state beyond k·d signs.
    */
  def randomProject(
      df: DataFrame,
      vecCol: String,
      k: Int,
      d: Int,
      seed: Long = 42L,
      out: String = "rp"): DataFrame = {
    val basis = randomProjectionBasis(k, d, seed)
    df.withColumn(out,
      graft.functions.expressions.VectorExpressions.pca_project(
        col(vecCol), basis, new Array[Double](d)))
  }

  /** A fitted per-dimension scalar-quantization range: `mins(j)` /
    * `maxs(j)` over the corpus. 8-bit codes cut an ANN index's vector
    * bytes 4x vs float32 with far simpler decode than PQ — the
    * memory-bound regime's first lever.
    */
  final case class SqModel(mins: Array[Double], maxs: Array[Double]) {
    require(mins.length == maxs.length, "SqModel: mins/maxs length mismatch")
    def d: Int = mins.length
  }

  /** Fit per-dimension min/max for 8-bit scalar quantization: ONE
    * linear pass (posexplode + map-side partial min/max, the exchange
    * carries d cells), and min/max are exact and association-order-free
    * — unlike a mean/stddev fit, the model is bit-identical however the
    * corpus is partitioned, which is what lets emb_sq8's integer codes
    * hash-match a SQL oracle exactly. A NULL element raises loudly at
    * fit (the Inf/NaN discipline below): silently skipping it would fit
    * a range the encode then can't honor — sqEncode's zip_with emits a
    * silent NULL code for that element, and a dimension that is NULL in
    * every row would default to range [0, 0] (every code 0) with no
    * error anywhere. A NULL whole vector raises too (it would vanish
    * from a posexplode with no trace, then resurface as an all-NULL
    * code row at encode).
    */
  def sqFit(df: DataFrame, vecCol: String): SqModel = {
    val vec = col(vecCol).cast("array<double>")
    val rows = df
      .select(when(vec.isNull, raise_error(lit(
          s"sqFit: NULL vector in '$vecCol' — quantization needs every " +
            "row's vector present; filter or impute upstream"))
          .cast("array<double>"))
        .otherwise(vec).as("v"))
      .select(posexplode(col("v")).as(Seq("j", "x")))
      .select(col("j"),
        when(col("x").isNull, raise_error(concat(
            lit("sqFit: NULL element at dimension "),
            col("j").cast("string"),
            lit(" — quantization needs every element present; fix or " +
              "impute upstream"))).cast("double"))
          .otherwise(col("x")).as("x"))
      .groupBy("j").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    require(rows.nonEmpty, "sqFit: no vectors to fit")
    val d = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Double](d)
    val maxs = new Array[Double](d)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
    }
    // an Inf/NaN element would make a range infinite and poison every
    // code on that dimension via inf * 0 = NaN (silently null codes);
    // quantization is only meaningful over finite ranges — fail loudly
    (0 until d).foreach { j =>
      require(java.lang.Double.isFinite(mins(j)) &&
          java.lang.Double.isFinite(maxs(j)),
        s"sqFit: dimension $j has a non-finite range [${mins(j)}, " +
          s"${maxs(j)}] — quantization needs finite inputs")
    }
    SqModel(mins, maxs)
  }

  /** 8-bit scalar-quantize an embedding column against a fitted
    * [[SqModel]]: `code_j = clamp(floor((x_j - min_j) * (255 / (max_j -
    * min_j))), 0, 255)` (a constant dimension encodes 0). Codegen'd
    * builtin HOFs only (two zip_with + floor/clamp — whole-stage
    * codegen keeps it a narrow map); the exact parenthesization is the
    * cross-engine contract: every step is one correctly-rounded IEEE op
    * on values both engines derive identically, so the integer codes
    * hash-match the oracle bit-for-bit.
    */
  def sqEncode(
      df: DataFrame,
      vecCol: String,
      model: SqModel,
      out: String = "sq"): DataFrame = {
    val scales = Array.tabulate(model.d)(j =>
      if (model.maxs(j) > model.mins(j)) 255.0 / (model.maxs(j) - model.mins(j))
      else 0.0)
    df.withColumn(out,
      zip_with(
        zip_with(col(vecCol).cast("array<double>"), lit(model.mins),
          (x, m) => x - m),
        lit(scales),
        (y, s) => least(greatest(floor(y * s), lit(0.0)), lit(255.0))
          .cast("int")))
  }

  /** Decode [[sqEncode]] codes back to cell midpoints:
    * `min_j + (code + 0.5) * ((max_j - min_j) / 255)` — the midpoint
    * rule bounds |x - decode| by half a cell, the property
    * emb_sq8_gate certifies. Narrow map like the encode.
    */
  def sqDecode(codes: org.apache.spark.sql.Column,
      model: SqModel): org.apache.spark.sql.Column = {
    val cells = Array.tabulate(model.d)(j => (model.maxs(j) - model.mins(j)) / 255.0)
    zip_with(
      zip_with(codes, lit(cells), (c, w) => (c.cast("double") + lit(0.5)) * w),
      lit(model.mins),
      (y, m) => y + m)
  }

  /** Persist a fitted [[SqModel]] at `dir` — the [[savePcaModel]]
    * convention: a model fits once and serves any number of later jobs
    * and SQL sessions (`graft_sq8` TVF). One small parquet of
    * (kind, vec) rows, mode=overwrite for atomic re-fit replacement.
    */
  def saveSqModel(model: SqModel, dir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    Seq(("mins", model.mins.toSeq), ("maxs", model.maxs.toSeq))
      .toDF("kind", "vec")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/model")
  }

  /** Load a [[saveSqModel]]-persisted model (byte-identical roundtrip). */
  def loadSqModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): SqModel = {
    val rows = spark.read.parquet(s"$dir/model")
      .select(col("kind"), col("vec"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    def one(kind: String): Array[Double] = rows.getOrElse(kind,
      throw new IllegalStateException(
        s"loadSqModel: corrupt model at $dir — missing '$kind' row"))
    SqModel(one("mins"), one("maxs"))
  }

  /** SQ8 ANN: the scan reads 8-bit codes (4x fewer bytes per vector than
    * float32 — the memory-bound regime's cheap lever, simpler than PQ's
    * codebooks and far more accurate per byte than its 4-bit cells),
    * scores each row against the query by decoded-midpoint cosine (a
    * narrow map — the decode is two codegen'd zip_with, no codebook
    * lookups), and re-ranks the top `rerank` candidates by exact cosine
    * on the full vectors (the [[pqTopK]] pipeline: cheap scan first,
    * exact math on a bounded candidate set). Returns (query_id,
    * neighbor_id, rank) like the other ANN paths.
    *
    * `fitted` supplies a pre-fitted [[SqModel]] so repeated queries pay
    * the one-pass min/max fit once; the fit is deterministic, so
    * results are identical either way.
    */
  def sq8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fitted: Option[SqModel] = None): DataFrame = {
    val model = fitted.getOrElse(sqFit(corpus, vecCol))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val codes = sqEncode(c, "cv", model, out = "code")
      .select(col("neighbor_id"), col("code"))
    val scored = codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), sqDecode(col("code"), model)))
    if (rerank <= 0) topKPerQuery(scored, k)
    else {
      val cand = topKPerQuery(scored, math.max(k, rerank))
        .select(col("query_id"), col("neighbor_id"))
      val exact = c.join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
      topKPerQuery(exact, k)
    }
  }

  /** Load a [[savePcaModel]]-persisted model (byte-identical roundtrip —
    * doubles ride parquet untouched).
    */
  def loadPcaModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): PcaModel = {
    val rows = spark.read.parquet(s"$dir/model")
      .select(col("kind"), col("idx"), col("vec"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def one(kind: String): Array[Double] =
      rows.find(_._1 == kind).map(_._3).getOrElse(
        throw new IllegalStateException(
          s"loadPcaModel: corrupt model at $dir — missing '$kind' row"))
    val comps = rows.filter(_._1 == "component").sortBy(_._2).map(_._3)
    require(comps.nonEmpty, s"loadPcaModel: no components at $dir")
    PcaModel(one("mean"), comps, one("explained"), one("scales"))
  }
}
