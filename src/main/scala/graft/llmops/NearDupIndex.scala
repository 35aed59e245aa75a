package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}
import graft.functions.Text
import graft.functions.expressions.HashExpressions
import graft.store.{ManifestStore, PartFile, TagFence}
import graft.store.ManifestStore.conf
import graft.store.ManifestFileIndex.{Root, readRoots, stage}

/** Persisted, appendable MinHash-LSH near-duplicate index — the streaming
  * complement to [[Dedup.minhashLshPairs]]: pay the corpus shingle/band
  * scan once, then ask "which already-collected documents is this new
  * batch a near-duplicate of" without recomputing anything over the
  * corpus. This is dedup-at-ingest against the full collection history —
  * the check a training-data pipeline wants BEFORE a document enters the
  * corpus, where the batch operator can only compare what it sees in one
  * pass. (The reference's analog is the LSM point-lookup a Set performs
  * through memtable and levels before placing a key.)
  *
  * Layout under `indexDir` (the text/IVF index contract: stage dirs,
  * then ONE atomic manifest swap; readers never see a torn batch):
  *
  *   _manifest/       records of {numBands, rowsPerBand, shingleK,
  *                     numBuckets, bands[], shingles[], appliedTags[],
  *                     tagHighWater} ([[graft.store.ManifestStore]])
  *   bands-<uuid>/pb=N/     (bh, id) — one row per (doc, band key),
  *                     partitioned by pb = pmod(bh, numBuckets): a probe
  *                     batch's band keys hash to a bounded pb set, so
  *                     the candidate scan PRUNES to those partitions
  *   shingles-<uuid>/ps=N/  (id, sh) — each doc's sorted-distinct
  *                     shingle set, stored ONCE (not per band row),
  *                     partitioned by ps = pmod(xxhash64(id), numBuckets)
  *                     so the verification scan prunes to the candidate
  *                     ids' partitions
  *
  * Read contract: each side reads as ONE parquet scan over the part files
  * the manifest records ([[graft.store.ManifestFileIndex]]), its `pb`/`ps`
  * partition filter pruning to the probed buckets; it lists nothing.
  *
  * Probes verify candidates with EXACT merge-scan Jaccard over the
  * stored shingle sets — the same verification as the batch operator, so
  * the probe's (pair, jaccard) output is exact, not a signature estimate
  * (only candidate RECALL is approximate, gated like every LSH family
  * member). Corpus contract: append-only NEW doc ids, replays fenced by
  * the numeric batch-tag high-water (the text index's contract).
  */
object NearDupIndex {

  /** `nDocs` counts every doc ever indexed, `nDeleted` the tombstoned
    * subset (live = nDocs - nDeleted — the text-index stats contract);
    * `tombs` are ps-partitioned id tables so probes prune the
    * subtraction scan exactly like the shingle verification scan.
    * Pre-delete manifests load with the defaults (0/0/empty) and keep
    * working; their counts start tracking from the first new mutation.
    */
  private[llmops] final case class NearDupManifest(
      numBands: Int,
      rowsPerBand: Int,
      shingleK: Int,
      numBuckets: Int,
      bands: Vector[String],
      shingles: Vector[String],
      appliedTags: Vector[String] = Vector.empty,
      tagHighWater: Long = -1L,
      tombs: Vector[String] = Vector.empty,
      nDocs: Long = 0L,
      nDeleted: Long = 0L,
      // per root, its part files (absent on older indexes: their roots list)
      files: Map[String, Vector[PartFile]] = Map.empty)

  private val lock = new Object

  private[llmops] val store =
    new ManifestStore[NearDupManifest]("near-dup-index", "vacuumNearDupIndex")
  private val tags = TagFence.numeric[NearDupManifest](
    m => (m.appliedTags, m.tagHighWater),
    (m, t, hw) => m.copy(appliedTags = t, tagHighWater = hw))

  private val bandSchema = StructType(Seq(
    StructField("bh", LongType), StructField("id", LongType), StructField("pb", IntegerType)))
  private val shingleSchema = StructType(Seq(StructField("id", LongType),
    StructField("sh", ArrayType(StringType, containsNull = false)), StructField("ps", IntegerType)))
  private val tombSchema =
    StructType(Seq(StructField("id", LongType), StructField("ps", IntegerType)))

  private def tombIds(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      m: NearDupManifest): DataFrame =
    readRoots(spark, indexDir, m.tombs, m.files, tombSchema, Some("ps")).select(col("id"))

  /** `next` with the staged roots' files recorded and the files of roots
    * it no longer names dropped.
    */
  private def withFiles(next: NearDupManifest, staged: Root*): NearDupManifest = {
    val live = (next.bands ++ next.shingles ++ next.tombs).toSet
    next.copy(files = (next.files ++ staged).filter { case (r, _) => live(r) })
  }

  /** Stage one batch's band root + shingle root; returns the staged roots
    * and the batch's indexed doc count. Docs with zero shingles (empty
    * text) are indexable by neither side and are skipped — they can
    * never near-duplicate anything.
    */
  private def stageBatch(docs: DataFrame, indexDir: String, m: NearDupManifest,
      idCol: String, textCol: String): Option[(Root, Root, Long)] = {
    val sh = docs.select(col(idCol).cast("long").as("id"),
        Text.shingles(col(textCol), m.shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    val n = sh.count()
    if (n == 0) return None
    val bands = stage(sh.select(col("id"),
        explode(HashExpressions.minhash_bands(col("sh"), m.numBands, m.rowsPerBand)).as("bh"))
      .withColumn("pb", pmod(col("bh"), lit(m.numBuckets.toLong)).cast("int")),
      indexDir, "bands-", Some("pb"))
    val shingles = stage(
      sh.withColumn("ps", pmod(xxhash64(col("id")), lit(m.numBuckets.toLong)).cast("int")),
      indexDir, "shingles-", Some("ps"))
    Some((bands, shingles, n))
  }

  /** Build a fresh index over `docs` (replacing any prior manifest at
    * `indexDir`; superseded dirs wait for [[vacuumNearDupIndex]]).
    * Band/row/shingle parameters fix the recall-vs-cost trade exactly as
    * in [[Dedup.minhashLshPairs]]; `numBuckets` is the probe's partition-
    * pruning granularity (the text index's sizing contract).
    */
  def buildNearDupIndex(
      docs: DataFrame,
      indexDir: String,
      numBands: Int = 8,
      rowsPerBand: Int = 4,
      shingleK: Int = 3,
      numBuckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = lock.synchronized {
    require(numBands > 0 && rowsPerBand > 0 && shingleK > 0 && numBuckets > 0,
      "buildNearDupIndex: all parameters must be positive")
    val spark = docs.sparkSession
    val m0 = store.read(conf(spark), indexDir)
    val empty = NearDupManifest(numBands, rowsPerBand, shingleK, numBuckets,
      Vector.empty, Vector.empty)
    val next = stageBatch(docs, indexDir, empty, idCol, textCol) match {
      case Some((b, sh, n)) =>
        withFiles(empty.copy(bands = Vector(b._1), shingles = Vector(sh._1), nDocs = n), b, sh)
      case None => empty // empty corpus: a legitimate streaming start state
    }
    store.commitIfUnchanged(conf(spark), indexDir, m0, next)
  }

  /** Append a batch of NEW documents. Returns false (writing nothing)
    * for an empty/zero-shingle batch or a replayed `batchTag` (numeric
    * tags fence by high-water — the streaming micro-batch contract).
    */
  def appendToNearDupIndex(
      indexDir: String,
      docs: DataFrame,
      batchTag: Option[String] = None,
      idCol: String = "doc_id",
      textCol: String = "text"): Boolean = lock.synchronized {
    val spark = docs.sparkSession
    val m = store.required(conf(spark), indexDir, "appendToNearDupIndex")
    if (batchTag.exists(tags.applied(m, _))) return false
    stageBatch(docs, indexDir, m, idCol, textCol) match {
      case None => false
      case Some((b, sh, n)) =>
        store.commitOrDrop(conf(spark), indexDir, m, withFiles(tags.record(
          m.copy(bands = m.bands :+ b._1, shingles = m.shingles :+ sh._1,
            nDocs = m.nDocs + n), batchTag), b, sh), Seq(b._1, sh._1))
        true
    }
  }

  /** Tombstone `ids`: the docs stop appearing as `dup_id` in every later
    * probe, immediately and exactly; the physical band/shingle rows stay
    * until [[compactNearDupIndex]] purges them (the text/IVF delete
    * contract — reads subtract, ONLY the fold rewrites). Ids not in the
    * index (or already dead) are ignored. Returns the number of docs
    * newly deleted; writes nothing when that is zero.
    *
    * Cost shape: the delete batch's id-hash buckets prune the shingle
    * scan (membership check), the tomb table is ps-partitioned so probes
    * prune their subtraction scan the same way — delete cost follows the
    * batch, never the corpus.
    */
  def deleteFromNearDupIndex(
      indexDir: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Long = lock.synchronized {
    val spark = ids.sparkSession
    val m = store.required(conf(spark), indexDir, "deleteFromNearDupIndex")
    val delIds = ids.select(col(idCol).cast("long").as("id")).distinct()
    val delPs = delIds
      .select(pmod(xxhash64(col("id")), lit(m.numBuckets.toLong)).cast("int").as("ps"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (m.shingles.isEmpty) return 0L // empty index: nothing to delete
    val victims0 = readRoots(spark, indexDir, m.shingles, m.files, shingleSchema, Some("ps"))
      .filter(col("ps").isin(delPs: _*))
      .join(delIds, Seq("id"), "left_semi")
      .select(col("id"), col("ps"))
    val victims = if (m.tombs.isEmpty) victims0
      else victims0.join(tombIds(spark, indexDir, m), Seq("id"), "left_anti")
    val t @ (tDir, _) = stage(victims, indexDir, "tombs-", Some("ps"))
    val n = readRoots(spark, indexDir, Seq(tDir), Map(t), tombSchema, Some("ps"))
      .count()
    if (n == 0) { // nothing newly deleted: drop the stage, swap nothing
      new org.apache.hadoop.fs.Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$indexDir/$tDir"), true)
      return 0L
    }
    store.commitOrDrop(conf(spark), indexDir, m,
      withFiles(m.copy(tombs = m.tombs :+ tDir, nDeleted = m.nDeleted + n), t), Seq(tDir))
    n
  }

  /** Which indexed documents is each probe doc a near-duplicate of?
    * Returns `(probe_id, dup_id, jaccard)`, jaccard EXACT (merge-scan
    * over stored shingle sets, 6dp) and >= `threshold`; self-pairs
    * (probe id == indexed id) are dropped so an already-ingested batch
    * can be probed.
    *
    * Plan shape (the 100 TB path): the probe batch's band keys and
    * shingles are small and BROADCAST; the index band scan PRUNES to the
    * probe keys' pb partitions (driver-collected, like the text index's
    * term buckets); the verification scan prunes to the candidate ids'
    * ps partitions. Nothing corpus-sized shuffles. `maxBucketSize` drops
    * degenerate index buckets (members still reachable via their other
    * bands — [[Dedup.minhashLshPairs]]'s skew guard).
    */
  def probeNearDupIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      probe: DataFrame,
      threshold: Double,
      maxBucketSize: Int = 5000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val m = store.required(conf(spark), indexDir, "probeNearDupIndex")
    val psh = probe.select(col(idCol).cast("long").as("probe_id"),
        Text.shingles(col(textCol), m.shingleK).as("psh"))
      .filter(size(col("psh")) > 0)
    val pbands = psh.select(col("probe_id"),
      explode(HashExpressions.minhash_bands(col("psh"), m.numBands, m.rowsPerBand)).as("bh"))
    if (m.bands.isEmpty)
      return pbands.limit(0).select(col("probe_id"),
        col("probe_id").as("dup_id"), lit(0.0).as("jaccard"))
    // bounded driver-side metadata, like the text index's term buckets
    val pbs = pbands.select(pmod(col("bh"), lit(m.numBuckets.toLong)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // the skew cap only needs sizes of buckets the probe actually TOUCHES:
    // semi-join the pruned scan down to the probe's band keys first, so
    // the count aggregation runs over the matched slice instead of every
    // bucket in the pruned partitions. At bench scale this is noise (the
    // probe is job-overhead-bound); at corpus scale the difference is a
    // probe-bounded aggregation vs a corpus-bounded one.
    val matched = readRoots(spark, indexDir, m.bands, m.files, bandSchema, Some("pb"))
      .filter(col("pb").isin(pbs: _*))
      .join(broadcast(pbands.select(col("bh")).distinct()), Seq("bh"), "left_semi")
    val small = matched.groupBy(col("bh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select(col("bh"))
    val candidates0 = matched.join(small, Seq("bh"))
      .join(broadcast(pbands), Seq("bh"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id"), col("id").as("dup_id")).distinct()
    // candidate ps partitions drive BOTH pruned scans below (the
    // tombstone subtraction and the shingle verification — dupPs from
    // the pre-subtraction set is a superset for the latter, still pruned)
    val dupPs = candidates0
      .select(pmod(xxhash64(col("dup_id")), lit(m.numBuckets.toLong)).cast("int").as("ps"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // tombstoned docs stop matching IMMEDIATELY (physical purge waits
    // for the fold); the dead-id scan prunes to the candidates' buckets
    val candidates = if (m.tombs.isEmpty) candidates0
      else candidates0.join(
        readRoots(spark, indexDir, m.tombs, m.files, tombSchema, Some("ps"))
          .filter(col("ps").isin(dupPs: _*)).select(col("id").as("dup_id")),
        Seq("dup_id"), "left_anti")
    val idxSh = readRoots(spark, indexDir, m.shingles, m.files, shingleSchema, Some("ps"))
      .filter(col("ps").isin(dupPs: _*))
      .select(col("id").as("dup_id"), col("sh"))
    candidates
      .join(idxSh, Seq("dup_id"))
      .join(broadcast(psh), Seq("probe_id"))
      .withColumn("jaccard",
        round(HashExpressions.jaccard_sorted(col("psh"), col("sh")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("probe_id"), col("dup_id"), col("jaccard"))
  }

  /** Fold append roots to one root per side — the small-files compaction
    * (roots accumulate one per streaming micro-batch; queries union all
    * of them) — and PURGE tombstoned docs physically (the rewrite is the
    * only place dead rows leave disk; until it runs, probes subtract).
    * Append-only rows with fenced replays mean a plain rewrite is exact.
    * Returns true when a fold happened.
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Boolean = lock.synchronized {
    store.read(conf(spark), indexDir) match {
      case Some(m) if m.bands.size > 1 || m.shingles.size > 1 ||
          m.tombs.nonEmpty || tags.pending(m) =>
        val dead = tombIds(spark, indexDir, m)
        val b = stage(readRoots(spark, indexDir, m.bands, m.files, bandSchema, Some("pb"))
          .join(dead, Seq("id"), "left_anti"), indexDir, "bands-", Some("pb"))
        val sh = stage(readRoots(spark, indexDir, m.shingles, m.files, shingleSchema, Some("ps"))
          .join(dead, Seq("id"), "left_anti"), indexDir, "shingles-", Some("ps"))
        store.commitOrDrop(conf(spark), indexDir, m, withFiles(tags.absorb(m.copy(
          bands = Vector(b._1), shingles = Vector(sh._1),
          tombs = Vector.empty,
          nDocs = m.nDocs - m.nDeleted, nDeleted = 0L)), b, sh), Seq(b._1, sh._1))
        true
      case _ => false
    }
  }

  /** The auto-compaction policy (the text/IVF `maintain` contract): fold
    * when append roots pile past `foldRootsAbove`, or when the dead
    * fraction crosses `deadRatio` (tombstones make every probe pay a
    * subtraction scan — past the threshold the one-off rewrite is
    * cheaper than carrying them). Returns true when a fold ran.
    */
  def maintainNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, foldRootsAbove: Int = 4,
      deadRatio: Double = 0.25): Boolean = lock.synchronized {
    store.read(conf(spark), indexDir) match {
      case Some(m) if m.bands.size > foldRootsAbove ||
          (m.nDeleted > 0 && m.nDeleted >= deadRatio * math.max(1L, m.nDocs)) =>
        compactNearDupIndex(spark, indexDir)
      case _ => false
    }
  }

  /** Delete dirs the manifest no longer references (crashed stages,
    * superseded roots). Same age-grace contract as the other indexes:
    * dirs younger than `minAgeMs` are spared for in-flight cross-process
    * stages. Returns the number of directories removed.
    */
  def vacuumNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, minAgeMs: Long = 600000L): Int = lock.synchronized {
    store.vacuum(conf(spark), indexDir, minAgeMs)(m => Seq("" -> ManifestStore.unreferenced(
      (m.bands ++ m.shingles ++ m.tombs).toSet, "bands-", "shingles-", "tombs-")))
  }
}
