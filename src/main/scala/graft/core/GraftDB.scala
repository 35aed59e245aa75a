package graft.core

import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.datasources.parquet.{ParquetCompressionCodec, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructType}
import graft.store.{ManifestFileIndex, PartFile}

/** Engine options — Spark-scale defaults replacing the reference's
  * single-node geometry (`kv/option.go:21-33`).
  *
  * @param valueThreshold  values >= this many bytes go to the blob table
  *                        (WiscKey separation; reference default 1024,
  *                        `kv/utils/const.go:9`)
  * @param compactTriggerFiles  number of live L0 generations that triggers
  *                        compaction (analog of `NumLevelZeroTables`)
  * @param rangePartitions target partition count for compaction output;
  *                        on a real cluster, size so each partition's rows
  *                        fit executor memory (~128-512 MB of key+value)
  * @param l1TargetRows    level-1 row target: the base of the geometric
  *                        per-level size ladder (`levelTarget(L) =
  *                        l1TargetRows * levelSizeMultiplier^(L-1)`, the
  *                        reference's level scoring and dynamic targets,
  *                        `kv/lsm/compact.go:626-751`). Any level over its
  *                        target promotes its largest file (merged with
  *                        the next level's overlapping files) one level
  *                        down, so L1 stays small and L0→L1 merges stay
  *                        cheap under sustained ingest; dead entries are
  *                        dropped only when compacting into the bottom
  *                        level (tombstones must not vanish while older
  *                        versions live below)
  * @param levelSizeMultiplier geometric fan-out between consecutive level
  *                        targets (reference default 10; each level holds
  *                        ~10x its parent, bounding write amplification to
  *                        O(multiplier * depth) per row)
  * @param bucketTargetRows grid occupancy target. Refinement trigger: a
  *                        compacted file more than TWICE this size marks
  *                        its bucket hot, and a new split key (the file's
  *                        sampled median) is inserted into the fixed grid —
  *                        future writes and compactions split the bucket,
  *                        bounding per-file size under skewed ingest
  *                        without a full-table rewrite. Merge trigger (the
  *                        inverse): two adjacent buckets whose combined
  *                        level-1+ rows fall under HALF this size lose the
  *                        split key between them, so delete-heavy
  *                        workloads shrink the grid instead of stranding
  *                        empty buckets. The 2x/0.5x band is B-tree-style
  *                        hysteresis — the triggers cannot oscillate.
  */
final case class GraftOptions(
    valueThreshold: Int = 1024,
    compactTriggerFiles: Int = 8,
    rangePartitions: Int = 32,
    gcDiscardRatio: Double = 0.5,
    l1TargetRows: Long = 4000000L,
    levelSizeMultiplier: Int = 10,
    bucketTargetRows: Long = 4000000L,
    manifestLogCompactEvery: Int = 1024) {
  require(levelSizeMultiplier >= 2,
    s"levelSizeMultiplier must be >= 2 (a geometric ladder), got $levelSizeMultiplier")
  require(l1TargetRows > 0, s"l1TargetRows must be positive, got $l1TargetRows")
  require(bucketTargetRows > 0, s"bucketTargetRows must be positive, got $bucketTargetRows")
  require(manifestLogCompactEvery > 0,
    s"manifestLogCompactEvery must be positive, got $manifestLogCompactEvery")
}

/** GraftDB — the reference's embedded LSM KV engine re-expressed Spark-first.
  *
  * Storage layout under `rootDir`:
  *   - `data/<uuid>/`  sorted parquet segments ("generations"): level 0 =
  *     freshly appended batches (the memtable-flush analog, reference
  *     `kv/lsm/level.go:82-106`; a [[batchSet]] writes its one part file on
  *     the driver); level 1 = compacted, range-partitioned,
  *     key-sorted output (reference compaction, `kv/lsm/compact.go:239-447`).
  *   - `blobs/<uuid>/` parquet blob segments (the value-log analog,
  *     reference `kv/vlog.go:366-484`).
  *   - `_manifest/`    the [[Manifest]]: numbered change records of the
  *     live segments and counters, and periodic whole-state checkpoints
  *     (reference manifest, `kv/file/manifest.go`). An older store's
  *     `MANIFEST.json` + `MANIFEST.log` are read, never modified.
  *
  * Read semantics are merge-on-read: the live segments merged by key,
  * last-writer-wins by [[GraftDB.lwwOrder]] (`version`, then a
  * deterministic tie-break; reference merge-iterator dedup,
  * `kv/lsm/iterator.go:357-366`), then tombstone and TTL visibility filters
  * (reference `kv/db.go:114-130`) — TTL strictly AFTER LWW so a newer
  * expired version shadows an older live one.
  *
  * Scale design: the driver holds only metadata and a point get's few
  * matching rows. Every data file is key-sorted and compacted files sit
  * on a fixed bucket grid, so [[view]], [[scan]] and compaction resolve
  * LWW without a shuffle: one task per grid bucket k-way merges the files
  * overlapping it ([[MergeScan]]), and Spark is told the output is
  * range-partitioned and sorted by key. Compaction output is
  * key-sorted per bucket so
  * parquet footer min/max stats prune files/row-groups on point and range
  * reads, and a parquet bloom filter on `key`, sized to each file's keys,
  * serves the negative-lookup role of the reference's per-SST bloom
  * (`kv/utils/bloom_filter.go`). Neither a point [[get]] nor a small
  * commit ([[batchSet]]) runs a Spark job: like the reference's `Get` and
  * group commit, they read the few matching rows, or write the batch's
  * one segment file, on the driver.
  */
final class GraftDB(
    val spark: SparkSession,
    val rootDir: String,
    val options: GraftOptions = GraftOptions()) {

  private val manifest = new Manifest(spark.sparkContext.hadoopConfiguration, rootDir,
    options.manifestLogCompactEvery)
  private def newSegmentDir(kind: String): String =
    s"$rootDir/$kind/${UUID.randomUUID().toString}"

  // ---------------------------------------------------------------- write path

  /** Upsert one entry (reference `Set`, `kv/db.go:71-87`). */
  def set(key: Array[Byte], value: Array[Byte], ttlSeconds: Long = 0L): Unit = {
    val exp = if (ttlSeconds == 0) 0L else System.currentTimeMillis() / 1000 + ttlSeconds
    batchSet(Seq(KVEntry(key, value, 0L, exp, tombstone = false, null)))
  }

  /** Delete = tombstone append (reference `Del`, `kv/db.go:132-138`). */
  def del(key: Array[Byte]): Unit = batchSet(Seq(KVEntry.tombstone(key)))

  /** Group-commit a batch (reference `batchSet` write pipeline,
    * `kv/db.go:191-285`). Entries later in the batch win over earlier
    * duplicates (distinct versions are assigned in batch order).
    *
    * Like the reference's local group commit, a batch is written on the
    * driver and runs no Spark job: its key-sorted rows become one level-0
    * part file and its blob values one blob part file, and the manifest
    * entries come straight from the batch (key range, row count, assigned
    * blob ids). Only the inline compaction the commit may trigger runs
    * Spark jobs.
    */
  def batchSet(entries: Seq[KVEntry]): Unit = {
    if (entries.isEmpty) return
    val nullKey = entries.indexWhere(_.key == null)
    if (nullKey >= 0) throw new IllegalArgumentException(
      s"batchSet: entry $nullKey of ${entries.size} has a null key")
    // Allocate a contiguous version range + blob ids in one manifest txn.
    val nBlobs = entries.count(e =>
      !e.tombstone && e.value != null && e.value.length >= options.valueThreshold)
    var baseVersion = 0L
    var baseBlob = 0L
    manifest.commit { st =>
      baseVersion = st.nextVersion; baseBlob = st.nextBlobId
      ManifestDelta(nextVersion = Some(st.nextVersion + entries.size),
        nextBlobId = Some(st.nextBlobId + nBlobs))
    }
    var blobSeq = baseBlob
    val blobs = Vector.newBuilder[(Long, Array[Byte])]
    val rows = entries.zipWithIndex.map { case (e, i) =>
      val version = baseVersion + i
      if (!e.tombstone && e.value != null && e.value.length >= options.valueThreshold) {
        val id = blobSeq; blobSeq += 1
        blobs += id -> e.value
        KVEntry(e.key, null, version, e.expiresAt, tombstone = false, id)
      } else {
        KVEntry(e.key, if (e.tombstone) null else e.value, version, e.expiresAt,
          e.tombstone, null)
      }
    }
    val blobRows = blobs.result()
    val blobMetas = if (blobRows.isEmpty) Vector.empty else {
      val blobPart = writePart("blobs", KVEntry.blobSchema, blobRows) {
        case (g, (id, value)) =>
          g.add("blobId", id)
          g.add("value", Binary.fromConstantByteArray(value))
      }
      Vector(BlobFileMeta(blobPart.path, blobRows.size, baseBlob, blobSeq - 1, blobPart.length))
    }
    val sorted = rows.sortBy(_.key)(UnsignedBytesOrdering)
    val part = writePart("data", KVEntry.schema, sorted)(GraftDB.fillRow)
    maybeCompact(manifest.commit(_ => ManifestDelta(
      addFiles = Vector(FileMeta(part.path, level = 0, Hex.encode(sorted.head.key),
        Hex.encode(sorted.last.key), sorted.size, baseVersion, part.length)),
      addBlobs = blobMetas)))
  }

  /** Write `rows` on the driver as `<kind>/<uuid>/part-00000.parquet` and
    * return it as a part file (path and byte length): the file a
    * one-partition `DataFrame.write` of
    * `schema` would produce (Spark's own schema conversion, so non-nullable
    * fields are `required`; the session's compression codec; row-group
    * statistics and column-index pages). A `key` column gets a bloom
    * filter sized to the rows, which bound the file's distinct keys: a
    * 16-row segment carries a 32-byte filter. The writer uses the
    * session's Hadoop conf, like [[openParquet]]. On `file:` the file is
    * written with `java.nio`: without Hadoop's native library every local
    * `create` forks a `chmod`, about 4 ms, where the whole java.nio write
    * of a 16-row file takes about 1 ms.
    */
  private def writePart[T](kind: String, schema: StructType, rows: Seq[T])(
      fill: (Group, T) => Unit): PartFile = {
    val path = s"${newSegmentDir(kind)}/part-00000.parquet"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val local = Some(fs.makeQualified(p).toUri).filter(_.getScheme == "file").map(Paths.get)
    val msg = new SparkToParquetSchemaConverter().convert(schema)
    val codec = ParquetCompressionCodec.fromString(
      spark.sessionState.conf.parquetCompressionCodec).getCompressionCodec
    val out = local.fold(HadoopOutputFile.fromPath(p, conf): org.apache.parquet.io.OutputFile) { f =>
      Files.createDirectories(f.getParent)
      new LocalOutputFile(f)
    }
    val builder = ExampleParquetWriter.builder(out)
      .withConf(conf).withType(msg).withCompressionCodec(codec)
    val writer = (if (!schema.fieldNames.contains("key")) builder
      else builder.withBloomFilterEnabled("key", true).withBloomFilterNDV("key", rows.size.toLong))
      .build()
    val groups = new SimpleGroupFactory(msg)
    try rows.foreach { r => val g = groups.newGroup(); fill(g, r); writer.write(g) }
    finally writer.close()
    PartFile(path, local.fold(fs.getFileStatus(p).getLen)(Files.size), None)
  }

  /** Bulk ingest: a whole DataFrame `(key binary, value binary[, expiresAt
    * long])` appended as one generation — the scale path (a streaming
    * micro-batch or a load job). The whole batch shares one commit version
    * (like the reference stamping one ts per Set, `kv/db.go:78`);
    * intra-batch duplicate keys resolve by the deterministic tie-break in
    * [[GraftDB.lwwOrder]]. Blob ids come from `monotonically_increasing_id`
    * (unique, shuffle-free) over a reserved id block.
    */
  def write(df0: DataFrame): Unit = {
    // the blob-id layout (partitionId << 33 | offset) supports 4096 input
    // partitions per batch — enforce the precondition structurally with a
    // narrow (shuffle-free) coalesce instead of trusting callers
    val df = if (df0.rdd.getNumPartitions > 4096) df0.coalesce(4096) else df0
    var baseVersion = 0L
    var baseBlob = 0L
    val reserved = manifest.commit { st =>
      baseVersion = st.nextVersion; baseBlob = st.nextBlobId
      // Blob-id block sized for monotonically_increasing_id's
      // (partitionId << 33 | offset) layout: supports 4096 input partitions
      // per batch. Ids are opaque; gaps are fine. The id space affords
      // 2^18 (~262k) bulk batches per engine lifetime — fail LOUDLY on
      // exhaustion rather than wrapping into colliding ids (the escape
      // hatch is a coherent renumbering rewrite of blob table + refs,
      // which gcBlobs/majorCompact machinery could host if ever needed).
      require(st.nextBlobId <= Long.MaxValue - (1L << 45),
        s"blob id space exhausted after ${st.nextBlobId >> 45} bulk batches — renumber blobs")
      ManifestDelta(nextVersion = Some(st.nextVersion + 1),
        nextBlobId = Some(st.nextBlobId + (1L << 45)))
    }
    val withExp =
      if (df.columns.contains("expiresAt")) df.withColumn("expiresAt", coalesce(col("expiresAt"), lit(0L)))
      else df.withColumn("expiresAt", lit(0L))
    val withCols = withExp
      .withColumn("version", lit(baseVersion))
      .withColumn("tombstone", col("value").isNull)
      .withColumn("blobId",
        when(length(col("value")) >= options.valueThreshold,
          lit(baseBlob) + monotonically_increasing_id()).otherwise(lit(null).cast("long")))
    val blobDir = newSegmentDir("blobs")
    val blobDf = withCols.filter(col("blobId").isNotNull).select(col("blobId"), col("value"))
    blobDf.write.mode(SaveMode.Overwrite).parquet(blobDir)
    // per-file row counts + id ranges from parquet footers in ONE
    // driver-side metadata pass — no Spark job, no second footer walk
    val blobMetas = blobFileMetas(blobDir, baseBlob, baseBlob + (1L << 45) - 1)
    val blobCount = blobMetas.map(_.rows).sum
    val maxUsedBlobId = blobMetas.map(_.maxBlobId).maxOption
    // belt to the coalesce's braces: ids past the reserved block would
    // collide with a concurrent writer's reservation — fail loudly
    maxUsedBlobId.foreach(mx => require(mx < baseBlob + (1L << 45),
      s"blob ids spilled past the reserved block (max $mx, base $baseBlob)"))
    val dataDir = newSegmentDir("data")
    writeSegment(withCols.select(
        col("key"),
        when(col("blobId").isNotNull, lit(null).cast("binary")).otherwise(col("value")).as("value"),
        col("version"), col("expiresAt"), col("tombstone"), col("blobId")),
      dataDir, reserved.rangeBoundsHex)
    val metas = segmentFileMetas(dataDir, level = 0, baseVersion)
    // reclaim the unused tail of the 2^45 blob-id reservation when OUR
    // reservation is still the frontier (no concurrent writer reserved
    // past it): id usage then tracks the actual blob count instead of
    // burning 2^45 per batch, and the exhaustion guard above becomes
    // unreachable in single-writer deployments
    val committed = manifest.commit { st =>
      val reclaimed =
        if (st.nextBlobId != baseBlob + (1L << 45)) st.nextBlobId // raced: keep
        else if (blobCount == 0L) baseBlob
        else maxUsedBlobId.map(_ + 1).getOrElse(st.nextBlobId)
      ManifestDelta(
        addFiles = metas,
        addBlobs = blobMetas,
        nextBlobId = Some(reclaimed))
    }
    maybeCaptureGrid(metas)
    maybeCompact(committed)
  }

  // ------------------------------------------------------------- segment write

  /** Bucket id of `key` against the fixed grid: the number of split keys
    * strictly below the key — split key i is the INCLUSIVE upper bound of
    * bucket i. A native binary-search expression ([[GridBucket]]) rather
    * than a fold of `when` terms: the Column form is an N-node tree that
    * breaks past codegen limits at the O(10^5) buckets a 100 TB table
    * needs; the expression is one O(log N) static call at any grid size.
    */
  private def bucketExpr(key: Column, bounds: Vector[String]): Column =
    graft.functions.expressions.VectorExpressions.grid_bucket(key, bounds)

  /** Write one sorted segment directory from unsorted rows. With a
    * captured grid `bounds` ([[ManifestState.rangeBoundsHex]]): rows are
    * bucketed against the FIXED split keys and written one-bucket-per-file
    * via `partitionBy`,
    * so every generation's files align on the same sub-ranges and
    * L0→L1 compaction touches only the dirty buckets instead of an
    * unbounded overlap set (the analog of the reference's stable per-level
    * key-range targets, `kv/lsm/compact.go:626-751`). Before the grid
    * exists (first write): sample-based `repartitionByRange`, whose output
    * boundaries then BECOME the grid (see [[maybeCaptureGrid]]).
    */
  private def writeSegment(df: DataFrame, dir: String, bounds: Vector[String]): Unit =
    writeSorted(
      if (bounds.nonEmpty) {
        df.withColumn("__bucket", bucketExpr(col("key"), bounds))
          .repartition(bounds.size + 1, col("__bucket"))
          .sortWithinPartitions(col("__bucket"), col("key"))
          .write.partitionBy("__bucket")
      } else {
        df.repartitionByRange(options.rangePartitions, col("key"))
          .sortWithinPartitions("key")
          .write
      }, dir)

  /** Write key-sorted rows as parquet under `dir`, with a key bloom filter.
    * The adaptive filter keeps candidates from 1 MB down to 2 KB and
    * writes the smallest that holds the file's distinct keys at the
    * target false-positive rate, so a bucket file's filter tracks its size.
    */
  private def writeSorted(writer: DataFrameWriter[Row], dir: String): Unit =
    writer.mode(SaveMode.Overwrite)
      .option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option("parquet.bloom.filter.candidates.number#key", "10")
      .parquet(dir)

  /** Establish the fixed bucket grid from the FIRST multi-file segment
    * write: the sampled range boundaries of that write (each file's max
    * key, ascending, all but the last) become the permanent split keys.
    * No-op once captured; [[majorCompact]] clears the grid so a full
    * rewrite re-samples it (the one sanctioned grid-refresh point).
    */
  private def maybeCaptureGrid(metas: Vector[FileMeta]): Unit = {
    val bounds = gridOf(metas)
    if (bounds.isEmpty) return
    manifest.commit { st =>
      if (st.rangeBoundsHex.nonEmpty) ManifestDelta.empty
      else ManifestDelta(addBounds = bounds)
    }
  }

  /** The grid a multi-file segment write defines: each file's max key,
    * ascending, all but the last. Empty for fewer than two files.
    */
  private def gridOf(metas: Vector[FileMeta]): Vector[String] =
    if (metas.size < 2) Vector.empty else metas.sortBy(_.minKeyHex).init.map(_.maxKeyHex)

  /** The part files behind one manifest entry: itself, with its recorded
    * length; an entry without one (a segment DIR, or a file recorded before
    * lengths were) is listed, `__bucket=N` dirs included.
    */
  private def partsOf(path: String, length: Long): Seq[PartFile] =
    if (length >= 0) Seq(PartFile(path, length, None))
    else ManifestFileIndex.list(spark, path, None).map(f =>
      f.copy(path = if (f.path.isEmpty) path else s"$path/${f.path}"))

  /** Open one part file on the driver with the SESSION's Hadoop conf —
    * `ParquetFileReader.open(InputFile)` and `ParquetReader.builder` each
    * build a fresh `Configuration`, ~10 ms a file against ~1 ms here —
    * at its known length (see [[MergeScan.open]]).
    */
  private def openParquet(f: PartFile,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetFileReader =
    MergeScan.open(spark.sparkContext.hadoopConfiguration, f, filter)

  /** Open one file's parquet footer, run `g`, close. */
  private def withFooter[T](f: PartFile)(g: ParquetMetadata => T): T = {
    val rd = openParquet(f)
    try g(rd.getFooter) finally rd.close()
  }

  /** The rows of one part file that satisfy `pred`, read on the driver. */
  private def filteredRows(f: PartFile, pred: FilterPredicate): Vector[Group] = {
    val filter = FilterCompat.get(pred)
    val rd = openParquet(f, filter)
    try MergeScan.groups(rd, filter).toVector finally rd.close()
  }

  /** Per-part-file blob metas of a freshly written blob dir: row count and
    * blobId range from each FOOTER. A file whose blocks lack blobId
    * statistics records the writer's whole reserved range `[lo, hi]`;
    * empty files are skipped.
    */
  private def blobFileMetas(dir: String, lo: Long, hi: Long): Vector[BlobFileMeta] =
    partsOf(dir, -1L).toVector.flatMap { f =>
      withFooter(f) { footer =>
        val blocks = footer.getBlocks.asScala.toVector
        val ranges = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == "blobId")
          .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
          .map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue)))
        val rows = blocks.map(_.getRowCount).sum
        if (rows == 0L) None
        else if (ranges.exists(_.isEmpty)) Some(BlobFileMeta(f.path, rows, lo, hi, f.length))
        else Some(BlobFileMeta(f.path, rows,
          ranges.map(_.get._1).min, ranges.map(_.get._2).max, f.length))
      }
    }

  /** Per-parquet-file manifest entries for a freshly written segment dir:
    * each file's [minKey, maxKey] + row count come from its parquet FOOTER
    * (row-group statistics on `key`, which Spark writes untruncated) — a
    * driver-side metadata read, NOT a data scan. The old form re-scanned
    * the entire generation through a groupBy(input_file_name) job, an
    * O(generation) pass repeated on every write and compaction; footers
    * make it O(files). Any file whose stats are missing falls back to the
    * scan path for the whole dir — correctness never rests on optional
    * metadata. Range-partitioned output thus gets per-FILE pruning from
    * the manifest (the reference's per-SST `[minKey,maxKey]` search,
    * `kv/lsm/level_handler.go:45-64`) before the files are even opened.
    */
  private def segmentFileMetas(dir: String, level: Int, baseVersion: Long): Vector[FileMeta] = {
    val files = partsOf(dir, -1L).toVector
    if (files.isEmpty) return Vector.empty
    val fromFooters: Option[Vector[FileMeta]] = {
      val metas = files.map { f =>
        withFooter(f) { footer =>
          val blocks = footer.getBlocks.asScala.toVector
          val rows = blocks.map(_.getRowCount).sum
          val keyStats = blocks.map(b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "key").map(_.getStatistics))
          if (rows == 0L ||
              keyStats.exists(s => s.isEmpty || s.get == null || !s.get.hasNonNullValue)) None
          else {
            val mins = keyStats.map(_.get.genericGetMin
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            val maxs = keyStats.map(_.get.genericGetMax
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            Some(FileMeta(f.path, level,
              Hex.encode(mins.min(UnsignedBytesOrdering)),
              Hex.encode(maxs.max(UnsignedBytesOrdering)),
              rows, baseVersion, f.length))
          }
        }
      }
      if (metas.forall(_.isDefined)) Some(metas.map(_.get)) else None
    }
    fromFooters.getOrElse {
      val byPath = files.map(f => qualified(new Path(f.path)) -> f).toMap
      ManifestFileIndex.read(spark, files, KVEntry.schema, None)
        .groupBy(input_file_name().as("path"))
        .agg(min(col("key")).as("mn"), max(col("key")).as("mx"), count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val f = byPath(qualified(new Path(new java.net.URI(r.getString(0)))))
          FileMeta(f.path, level,
            Hex.encode(r.getAs[Array[Byte]](1)), Hex.encode(r.getAs[Array[Byte]](2)),
            r.getLong(3), baseVersion, f.length)
        }
        .toVector
    }
  }

  /** `p` absolute with its scheme, the form in which manifest paths,
    * listed paths and `input_file_name()` URIs compare.
    */
  private def qualified(p: Path): String =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString

  // ----------------------------------------------------------------- read path

  // each relation is one ManifestFileIndex scan over the manifest's files
  private def readSegments(files: Seq[FileMeta]): DataFrame =
    ManifestFileIndex.read(spark, files.flatMap(f => partsOf(f.path, f.length)),
      KVEntry.schema, None)

  private def readBlobs(files: Seq[BlobFileMeta]): DataFrame =
    ManifestFileIndex.read(spark, files.flatMap(b => partsOf(b.path, b.length)),
      KVEntry.blobSchema, None)

  /** Raw union of live segments (all versions, tombstones included). */
  def rawLog(): DataFrame = readSegments(manifest.load().files)

  /** The LWW merge of `files` over the key range `[lo, hi)`, one task per
    * bucket of the grid `bounds` (see [[MergeScan]]): each key's winner by
    * [[GraftDB.lwwOrder]], in key order, emitted as `out` says.
    */
  private def merged(bounds: Vector[String], files: Seq[FileMeta], lo: Option[Array[Byte]],
      hi: Option[Array[Byte]], ascending: Boolean, out: MergeOutput): DataFrame =
    MergeScan.frame(spark,
      MergeScan.tasks(bounds, files.map(f => f -> partsOf(f.path, f.length)), lo, hi), ascending, out)

  /** The split keys `st`'s merges run on: the fixed grid, or before one is
    * captured the edges of the compacted files. Any ascending split keys
    * partition the key space, so these only set the merge's parallelism:
    * a store that has only seen `batchSet`s still merges its
    * range-partitioned compaction output one task per file.
    */
  private def mergeGrid(st: ManifestState): Vector[String] =
    if (st.rangeBoundsHex.nonEmpty) st.rangeBoundsHex
    else gridOf(st.files.filter(_.level >= 1)).distinct.sorted

  /** The merge-on-read user view: `(key, value, version, expiresAt)` with
    * blob values resolved. This is what every read operator composes over.
    */
  def view(asOfUnixSec: Long = System.currentTimeMillis() / 1000): DataFrame =
    viewOf(manifest.load(), asOfUnixSec)

  private[core] def viewOf(st: ManifestState, asOfUnixSec: Long): DataFrame =
    viewOver(st, None, None, ascending = true, asOfUnixSec)

  /** The view of the keys in `[lo, hi)`: the merge's winners, visible at
    * `asOfUnixSec` (tombstone and TTL applied AFTER LWW, so a newer
    * expired version shadows an older live one), blob pointers read
    * from only the blob files whose recorded id range covers them.
    */
  private def viewOver(st: ManifestState, lo: Option[Array[Byte]], hi: Option[Array[Byte]],
      ascending: Boolean, asOfUnixSec: Long): DataFrame =
    merged(mergeGrid(st), st.files, lo, hi, ascending, ViewRows(asOfUnixSec, blobParts(st)))

  private def blobParts(st: ManifestState): Vector[BlobPart] =
    st.blobFiles.flatMap(b => partsOf(b.path, b.length).map(BlobPart(b.minBlobId, b.maxBlobId, _)))

  // ---------------------------------------------------------------- snapshots

  private val pinnedSnapshots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Snapshot]()

  // pin-registration and vacuum are mutually exclusive: without this, a
  // vacuum running between a snapshot's manifest.load() and its pin
  // registration could delete the files the snapshot just captured
  private val snapshotLock = new Object

  /** A read-only snapshot pinned to the CURRENT manifest state — the
    * concrete form of the reference's iterator refcounts
    * (`kv/vlog_gc.go:364-390`): compaction, GC, and new writes swap the
    * manifest freely underneath it, but [[vacuum]] skips every file a
    * live snapshot still references, so the snapshot keeps reading its
    * frozen state until [[Snapshot.close]]. Refcounting is in-process,
    * exactly like the reference's (a crashed process's pins die with it;
    * the next vacuum reclaims).
    */
  def snapshot(): Snapshot = snapshotLock.synchronized {
    val s = new Snapshot(this, manifest.load())
    pinnedSnapshots.add(s)
    s
  }

  private[core] def unpin(s: Snapshot): Unit = pinnedSnapshots.remove(s)

  /** CHANGE FEED between two pinned snapshots: everything a replica
    * holding `from`'s state needs to catch up to `to`, as
    * `(key, op ∈ {set, del}, value)` — the incremental form of
    * [[backupTo]], and the Spark-native realization of the replication
    * the reference stubs (`proto/proto/octopuspb.proto:6-21` ships
    * single-key Get only; `storage/storage.go:3-4` is empty).
    *
    * LSM-native O(delta): candidate keys come ONLY from the segments the
    * two manifests do not share — between adjacent snapshots that is the
    * freshly flushed/compacted runs, never the whole keyspace. A
    * compaction-rewritten segment makes its keys candidates but they
    * diff away (same logical content on both sides). Both sides evaluate
    * TTL visibility at one `asOfUnixSec`, so the feed reports data
    * changes, not clock drift; a key that appeared AND died inside the
    * window nets to nothing, exactly like the LWW resolve.
    */
  def changesBetween(from: Snapshot, to: Snapshot,
      asOfUnixSec: Long = System.currentTimeMillis() / 1000): DataFrame = {
    val pa = from.state.files.map(_.path).toSet
    val pb = to.state.files.map(_.path).toSet
    val delta = from.state.files.filterNot(f => pb(f.path)) ++
      to.state.files.filterNot(f => pa(f.path))
    val empty = viewOf(to.state, asOfUnixSec)
      .select(col("key"), lit("set").as("op"), col("value"))
      .filter(lit(false))
    if (delta.isEmpty) return empty
    val cand = readSegments(delta).select(col("key")).distinct()
    val a = viewOf(from.state, asOfUnixSec).join(cand, Seq("key"), "left_semi")
      .select(col("key"), col("value").as("__va"), col("version").as("__sa"))
    val b = viewOf(to.state, asOfUnixSec).join(cand, Seq("key"), "left_semi")
      .select(col("key"), col("value").as("__vb"), col("version").as("__sb"))
    a.join(b, Seq("key"), "full_outer")
      // changed = live-ness flipped, or the live entry differs; both-null
      // candidates (born-and-died in the window, TTL-expired, or merely
      // rewritten by compaction) null-safe-compare equal and drop out
      .filter(!(col("__sa") <=> col("__sb")) || !(col("__va") <=> col("__vb")))
      .select(col("key"),
        when(col("__sb").isNull, lit("del")).otherwise(lit("set")).as("op"),
        col("__vb").as("value"))
  }

  private[core] def pinnedPaths(): Seq[String] = {
    pinnedSnapshots.asScala.toSeq.flatMap { s =>
      s.state.files.map(_.path) ++ s.state.blobFiles.map(_.path)
    }
  }

  /** Point lookup (reference `Get`, `kv/db.go:89-118`), resolved on the
    * driver with no Spark job. Manifest min/max pruning narrows to the
    * few files whose range covers the key; inside each, a `key ==` read
    * skips every row group that stats or the key bloom filter rule out and
    * every page the column index does. The surviving versions resolve by
    * [[lwwOrder]], the order the view's merge keeps, then the same tombstone/TTL
    * visibility as [[view]]; a blob pointer dereferences through the blob
    * files whose id range covers it, and a missing blob fails loudly.
    */
  def get(key: Array[Byte]): Option[Array[Byte]] = {
    val hex = Hex.encode(key)
    val st = manifest.load()
    val keyEq = FilterApi.eq(FilterApi.binaryColumn("key"), Binary.fromConstantByteArray(key))
    val versions = st.files
      .filter(f => f.minKeyHex <= hex && hex <= f.maxKeyHex)
      .flatMap(f => partsOf(f.path, f.length))
      .flatMap(p => filteredRows(p, keyEq).map(GraftDB.entryOf))
    versions.maxOption(GraftDB.lwwOrder)
      .filter(MergeScan.visible(_, System.currentTimeMillis() / 1000))
      .map(e => if (e.blobId == null) e.value else MergeScan.blobValues(
        spark.sparkContext.hadoopConfiguration, Seq(e.blobId.longValue), blobParts(st))(e.blobId))
  }

  /** Ordered scan (reference `NewIterator`, `kv/iterator.go:19-79`), with
    * range and prefix options. Prefix is implemented binary-safe via the
    * [prefix, prefixSuccessor) range trick so it pushes down to parquet as
    * two comparisons (the reference declared prefix but never enforced it,
    * `kv/utils/iterator.go:16-19` — we implement it for real).
    *
    * The options narrow to one `[lo, hi)` key range: the merge runs one
    * task per grid bucket the range overlaps, over only the manifest files
    * whose `[minKey, maxKey]` overlaps that bucket's part of the range (see
    * [[viewOver]]). Its output is already in key order, so the `orderBy`
    * plans no Exchange and no Sort.
    */
  def scan(
      from: Option[Array[Byte]] = None,
      until: Option[Array[Byte]] = None,
      prefix: Option[Array[Byte]] = None,
      ascending: Boolean = true,
      asOfUnixSec: Long = System.currentTimeMillis() / 1000): DataFrame = {
    val lo = (from ++ prefix).maxOption(UnsignedBytesOrdering)
    val hi = (until ++ prefix.flatMap(GraftDB.prefixSuccessor)).minOption(UnsignedBytesOrdering)
    viewOver(manifest.load(), lo, hi, ascending, asOfUnixSec)
      .orderBy(if (ascending) col("key").asc else col("key").desc)
  }

  // ------------------------------------------------------------ lifecycle jobs

  /** Compact when `st`, the state a commit just returned, holds
    * `compactTriggerFiles` level-0 files.
    */
  private def maybeCompact(st: ManifestState): Unit =
    if (st.files.count(_.level == 0) >= options.compactTriggerFiles) compact()

  /** Leveled compaction: THE natural Spark job (reference
    * `compactBuildTables`, `kv/lsm/compact.go:239-447`). Inputs are the
    * level-0 generations plus every level-1 file whose key range overlaps
    * them (the reference's L0->Lbase merge): one merge task per dirty
    * grid bucket LWW-resolves its inputs -> drops dead entries (only while
    * L1 is the bottom level — once L2 exists a dropped tombstone could
    * resurrect an older L2 version) -> writes its bucket's level-1 file,
    * already key-sorted, so the job is map-only; per-file manifest stats;
    * atomically swap the manifest. Non-overlapping level-1 files are
    * untouched — with the fixed grid, "overlapping" means exactly the
    * dirty buckets, so write amplification is bounded by the touched
    * range, not the table size. The reference's parallel subcompactions
    * become the per-bucket merge tasks.
    *
    * After the merge, every level is scored against its geometric target
    * (the reference's level scoring, `kv/lsm/compact.go:626-751`): while
    * some level is over target, its largest file is promoted into the next
    * level, merged with that level's overlapping files — see
    * [[promoteLevelsIfNeeded]]. Dead entries drop only at the bottom of
    * the tree.
    */
  def compact(): Unit = {
    val hasL2 = manifest.load().files.exists(_.level >= 2)
    compactInputs(st => {
      val l0 = st.files.filter(_.level == 0)
      if (l0.isEmpty) Vector.empty
      else l0 ++ st.files.filter(f => f.level == 1 && l0.exists(z => overlaps(z, f)))
    }, outputLevel = 1, dropDead = !hasL2)
    promoteLevelsIfNeeded()
    maybeRefineGrid()
    maybeMergeGrid()
  }

  /** Hot-bucket grid refinement: every compacted (L1+) file holding more
    * than 2x `bucketTargetRows` contributes sampled QUANTILE split keys —
    * enough that its future buckets land at ~`bucketTargetRows` each — in
    * ONE call, so a heavily skewed ingest converges within a single
    * compact() instead of one-split-per-call lagging the workload.
    * Existing files are untouched (overlap checks use real file ranges,
    * not the grid) — only FUTURE writes and compactions split the bucket,
    * so refinement is metadata-only here and the oversized file splits the
    * next time its bucket is dirty. Bounded valves (splits per file, per
    * call) keep the driver-side work and the manifest delta capped like
    * [[promoteLevelsIfNeeded]]'s maxRounds; per-file sampling stays ~20k
    * keys at any file size.
    */
  private def maybeRefineGrid(
      maxSplitsPerFile: Int = 64, maxSplitsPerCall: Int = 256): Unit = {
    val st = manifest.load()
    if (st.rangeBoundsHex.isEmpty) return // grid not established yet
    val hot = st.files.filter(f => f.level >= 1 && f.rows > 2 * options.bucketTargetRows)
    if (hot.isEmpty) return
    var budget = maxSplitsPerCall
    val splits = Vector.newBuilder[String]
    for (victim <- hot.sortBy(f => (-f.rows, f.path)) if budget > 0) {
      // one split per bucketTargetRows the file exceeds its target by,
      // clamped by the valves — brings the file's range to ~target-sized
      // buckets in one refinement round
      val want = math.max(1, math.min(math.min(maxSplitsPerFile, budget),
        (victim.rows / math.max(1L, options.bucketTargetRows)).toInt - 1))
      val fraction = math.min(1.0, 20000.0 / victim.rows.toDouble)
      val sampleKeys = readSegments(Seq(victim))
        .select(col("key")).sample(withReplacement = false, fraction, seed = 42L)
        .collect().map(_.getAs[Array[Byte]](0))
      if (sampleKeys.length >= 2) {
        val sorted = sampleKeys.sorted(UnsignedBytesOrdering)
        val qs = (1 to want)
          .map(j => Hex.encode(sorted(math.min(sorted.length - 1,
            j * sorted.length / (want + 1)))))
          // a split at (or outside) the file's edge keys would be a no-op
          .filter(h => h > victim.minKeyHex && h < victim.maxKeyHex)
          .distinct
        splits ++= qs
        budget -= qs.size
      }
    }
    val add0 = splits.result().distinct
    if (add0.isEmpty) return
    manifest.commit { s =>
      val add = add0.filterNot(s.rangeBoundsHex.contains)
      if (add.isEmpty) ManifestDelta.empty
      else ManifestDelta(addBounds = add)
    }
  }

  /** Grid merge policy — the inverse of [[maybeRefineGrid]]: when deletes
    * or TTL expiry shrink two ADJACENT buckets so far that the split key
    * between them no longer earns its keep (combined level-1+ rows under
    * `bucketTargetRows / 2`), remove that split. Metadata-only: existing
    * files are untouched — only future writes and compactions see the
    * merged bucket. The refine/merge pair forms a B-tree-style hysteresis
    * band (split a file above 2x target, merge a pair below x/2 target), so
    * the two triggers cannot oscillate on the same bucket. One removal per
    * call; a two-bucket floor prevents a shrunken table from flip-flopping
    * between grid collapse and re-capture — a table that small is
    * [[majorCompact]]'s job (the sanctioned grid refresh).
    */
  private def maybeMergeGrid(): Unit = {
    val st = manifest.load()
    val bounds0 = st.rangeBoundsHex
    if (bounds0.size < 2) return
    val l1 = st.files.filter(_.level >= 1)
    // greedy fixpoint IN MEMORY: remove the weakest split, re-derive bucket
    // loads against the shrunken grid, repeat — a delete-heavy workload
    // collapses all its emptied buckets in one compact() call instead of
    // one-split-per-call. Pure driver arithmetic over the manifest metas
    // (no data read), bounded by the grid size; committed as ONE delta.
    var bounds = bounds0
    var changed = true
    while (changed && bounds.size >= 2) {
      changed = false
      // count of split keys strictly below hexKey == bucket id (hex compare
      // is unsigned byte compare; same contract as GridBucket)
      val bs = bounds
      def bucketOf(hexKey: String): Int = bs.count(_ < hexKey)
      val rows = Array.fill(bs.size + 1)(0L)
      l1.foreach { f =>
        // a pre-grid file spanning several buckets charges them ALL its full
        // row count: over-counting can only make merge more conservative
        (bucketOf(f.minKeyHex) to bucketOf(f.maxKeyHex)).foreach(b => rows(b) += f.rows)
      }
      val (minSum, i) = (0 until bs.size)
        .map(b => (rows(b) + rows(b + 1), b)).min
      if (minSum < math.max(1L, options.bucketTargetRows / 2)) {
        bounds = bounds.patch(i, Nil, 1)
        changed = true
      }
    }
    if (bounds == bounds0) return
    val merged = bounds
    manifest.commit { s =>
      if (s.rangeBoundsHex == bounds0)
        ManifestDelta(removeBounds = bounds0.filterNot(merged.contains))
      else ManifestDelta.empty // grid changed underneath us; skip this round
    }
  }

  /** Row target for one level: `l1TargetRows * multiplier^(level-1)` — the
    * reference's geometric level ladder (`levelTarget`,
    * `kv/lsm/compact.go:709-751`), saturating instead of overflowing.
    */
  private def levelTargetRows(level: Int): Long = {
    var t = options.l1TargetRows
    var l = 1
    while (l < level) {
      if (t > Long.MaxValue / options.levelSizeMultiplier) return Long.MaxValue
      t *= options.levelSizeMultiplier
      l += 1
    }
    t
  }

  /** Leveled promotion driven by the geometric targets: while some level
    * exceeds its target, move that level's largest file one level down,
    * merged with the NEXT level's overlapping files (Lx→Lx+1, the
    * reference's compaction shape — with the fixed grid the overlap is the
    * same bucket, so promotion is local). The shallowest over-target level
    * goes first: it is the one throttling L0 ingest. Dead entries are
    * dropped only when the output level is the bottom of the tree — a
    * dropped tombstone above a deeper level would resurrect the older
    * versions below it. Drains until every level meets its target (the
    * reference's continuously-running compactors collapsed into the
    * compact() call); `maxRounds` is a safety valve, not the steady state
    * — under sustained ingest the over-target mass per call is bounded by
    * the ingest since the last call, so the drain is a few rounds.
    */
  private def promoteLevelsIfNeeded(maxRounds: Int = 32): Unit = {
    var round = 0
    while (round < maxRounds) {
      val st = manifest.load()
      val byLevel = st.files.filter(_.level >= 1).groupBy(_.level)
      val overTarget = byLevel.keys.toSeq.sorted.find(l =>
        byLevel(l).map(_.rows).sum > levelTargetRows(l))
      overTarget match {
        case None => return
        case Some(l) =>
          val victim = byLevel(l).maxBy(f => (f.rows, f.path))
          val bottomBelow = st.files.exists(_.level > l + 1)
          compactInputs(st2 => {
            val v = st2.files.filter(f => f.level == l && f.path == victim.path)
            if (v.isEmpty) Vector.empty // raced away; nothing to promote
            else v ++ st2.files.filter(f => f.level == l + 1 && overlaps(victim, f))
          }, outputLevel = l + 1, dropDead = !bottomBelow)
      }
      round += 1
    }
  }

  /** Full rewrite of every live segment into the bottom level (the
    * reference's Lmax->Lmax self-compaction role): reclaims all shadowed
    * versions and dead rows, and re-samples the bucket grid (the one
    * sanctioned grid-refresh point — key distributions drift).
    */
  def majorCompact(): Unit =
    compactInputs(_.files, outputLevel = 1, dropDead = true, regrid = true)

  private def overlaps(a: FileMeta, b: FileMeta): Boolean =
    !(a.maxKeyHex < b.minKeyHex || b.maxKeyHex < a.minKeyHex)

  /** Shared merge job: LWW-merge the picked inputs per grid bucket,
    * optionally drop dead rows (ONLY when every older version of the
    * inputs' keys is itself in the inputs — i.e. compacting into the
    * bottom level), write one new segment at `outputLevel`, swap the
    * manifest. On a grid each merge task writes its bucket's file: no
    * shuffle. Without one, or with `regrid` (the grid is re-sampled from
    * the output, which replaces it in the same commit), the merged rows
    * are range-partitioned by a sampled `repartitionByRange`.
    */
  private def compactInputs(
      pick: ManifestState => Vector[FileMeta],
      outputLevel: Int,
      dropDead: Boolean,
      regrid: Boolean = false): Unit = {
    val st0 = manifest.load()
    val inputs = pick(st0)
    if (inputs.isEmpty) return
    val now = System.currentTimeMillis() / 1000
    val compacted = merged(mergeGrid(st0), inputs, None, None, ascending = true,
      LogRows(if (dropDead) Some(now) else None))
    val outDir = newSegmentDir("data")
    if (regrid || st0.rangeBoundsHex.isEmpty)
      writeSegment(compacted.drop("__bucket"), outDir, Vector.empty)
    else writeSorted(compacted.write.partitionBy("__bucket"), outDir)
    val maxVersion = inputs.map(_.createdVersion).max
    val newMetas = segmentFileMetas(outDir, level = outputLevel, maxVersion)
    manifest.commit(_ => ManifestDelta(
      addFiles = newMetas,
      removePaths = inputs.map(_.path),
      clearBounds = regrid,
      addBounds = if (regrid) gridOf(newMetas) else Vector.empty))
    // Old segment dirs stay on disk until vacuum() — snapshot readers may
    // still hold them (replaces the reference's iterator refcounts,
    // kv/vlog_gc.go:364-390).
  }

  /** Per-segment discard stats: (segment meta, live rows) for every blob
    * segment, from ONE job — a semi-join against the live reference set,
    * grouped by source file. The exact-count substitution for the
    * reference's incrementally-maintained discard-stats map
    * (`kv/vlog_gc.go:198-253`): at Spark scale one linear pass beats
    * carrying mutable per-file counters through every write.
    */
  def blobSegmentStats(): Vector[(BlobFileMeta, Long)] =
    blobSegmentStatsOf(manifest.load())

  /** The live-reference set of one frozen manifest state: blob ids the
    * LWW-resolved view still points at. Stats and GC rewrites must derive
    * from the SAME state a single load produced — two loads straddling a
    * concurrent delete would record rewrite row counts that disagree with
    * the rewrite itself, skewing every later discard ratio.
    */
  private def liveBlobRefsOf(st: ManifestState): DataFrame =
    merged(mergeGrid(st), st.files, None, None, ascending = true, LogRows(None))
      .filter(!col("tombstone") && col("blobId").isNotNull)
      .select(col("blobId"))

  private def blobSegmentStatsOf(st: ManifestState): Vector[(BlobFileMeta, Long)] = {
    if (st.blobFiles.isEmpty) return Vector.empty
    val perFile = readBlobs(st.blobFiles).withColumn("__file", input_file_name())
      .join(liveBlobRefsOf(st), Seq("blobId"), "left_semi")
      .groupBy(col("__file")).agg(count(lit(1)).as("n"))
      .collect() // one row per blob part-FILE — tiny
      .map(r => (qualified(new Path(new java.net.URI(r.getString(0)))), r.getLong(1)))
    st.blobFiles.map { bf =>
      val p = qualified(new Path(bf.path))
      val live = perFile.collect {
        case (f, n) if f == p || f.startsWith(p + "/") => n
      }.sum
      (bf, live)
    }
  }

  /** Blob GC, reference-shaped (`kv/vlog_gc.go:75-253`): pick the
    * segment(s) with the WORST dead ratio past `gcDiscardRatio`, rewrite
    * only their live rows, leave every other segment untouched — at 100 TB
    * of blobs a GC run is proportional to the reclaimed garbage, never a
    * full-table rewrite. Default one victim per call (the reference
    * rewrites one vlog file per GC run); pass a larger `maxSegments` for a
    * deeper sweep. Returns overall (liveBlobs, deadBlobs) counts from the
    * same stats pass.
    */
  def gcBlobs(maxSegments: Int = 1,
      discardRatio: Double = options.gcDiscardRatio): (Long, Long) = {
    // ONE manifest load feeds stats, victim pick, AND the rewrite's live
    // set — so each rewrite holds exactly the liveCount rows the stats
    // pass measured (see [[liveBlobRefsOf]])
    val st0 = manifest.load()
    val stats = blobSegmentStatsOf(st0)
    if (stats.isEmpty) return (0L, 0L)
    val totalLive = stats.map(_._2).sum
    val totalDead = stats.map { case (bf, live) => bf.rows - live }.sum
    val victims = stats
      .map { case (bf, live) =>
        (bf, live, if (bf.rows == 0) 1.0 else (bf.rows - live).toDouble / bf.rows) }
      .filter(_._3 >= discardRatio)
      .sortBy { case (bf, _, ratio) => (-ratio, bf.path) }
      .take(maxSegments)
    if (victims.isEmpty) return (totalLive, totalDead)
    val liveRefs = liveBlobRefsOf(st0)
    val replacements = victims.map { case (bf, liveCount, _) =>
      if (liveCount == 0L) bf -> Vector.empty // fully dead: just drop from manifest
      else {
        val outDir = newSegmentDir("blobs")
        readBlobs(Seq(bf))
          .join(liveRefs, Seq("blobId"), "left_semi")
          .write.mode(SaveMode.Overwrite).parquet(outDir)
        bf -> blobFileMetas(outDir, bf.minBlobId, bf.maxBlobId)
      }
    }.toMap
    manifest.commit { cur =>
      // raced-victim tolerance: a concurrent GC (second handle or
      // process) may have replaced a victim between our load and this
      // locked commit — its live rows already sit in that writer's
      // replacement segment, and landing ours too would give every live
      // blobId in the victim TWO blob rows (the view's blob join would
      // then duplicate the affected keys). Keep a replacement only while
      // its victim is still live in the freshest state; an orphaned
      // rewrite dir is reclaimed by [[vacuum]].
      val present = cur.blobFiles.map(_.path).toSet
      val kept = replacements.filter { case (bf, _) => present.contains(bf.path) }
      if (kept.isEmpty) ManifestDelta.empty
      else ManifestDelta(
        removeBlobPaths = kept.keys.map(_.path).toVector.sorted,
        addBlobs = kept.values.flatten.toVector.sortBy(_.path))
    }
    (totalLive, totalDead)
  }

  /** Typed Dataset view of the resolved live entries — the compile-time-
    * checked API surface (SURVEY §1.4: `Dataset[T]` where type safety
    * helps, `DataFrame` where schema is dynamic).
    */
  def entries(): org.apache.spark.sql.Dataset[ResolvedEntry] = {
    val spark0 = spark
    import spark0.implicits._
    view().as[ResolvedEntry]
  }

  /** Pull-based ordered iteration over the live view (reference
    * `NewIterator` consumption shape): rows stream to the caller one
    * partition at a time — no full collect. `seek` starts at the first
    * key >= it ascending (<= it descending) — the reference DECLARES
    * `DBIterator.Seek` but ships it as an empty stub
    * (`kv/iterator.go:78-79`); this implements the intended Badger
    * semantics, pushed down to the scan as a range predicate rather than
    * client-side skipping. `prefix` bounds iteration to one key prefix
    * the same way.
    */
  def iterator(
      ascending: Boolean = true,
      seek: Option[Array[Byte]] = None,
      prefix: Option[Array[Byte]] = None): Iterator[Row] = {
    // descending: keys <= seek, i.e. key < seek ++ 0x00 (the least key
    // strictly above seek in unsigned byte order — exact, no 0xff games)
    val (from, until) =
      if (ascending) (seek, None)
      else (None, seek.map(s => s :+ 0.toByte))
    scan(from = from, until = until, prefix = prefix, ascending = ascending)
      .toLocalIterator().asScala
  }

  /** Sampling estimate of the dead-blob ratio — parity with the reference's
    * GC sampler (`kv/vlog_gc.go:255-346`, ~1% of entries): exact counting
    * via semi-join is affordable at Spark scale (see [[gcBlobs]]), but on a
    * 100 TB blob table a 1% sample answers "is GC worth running?" with a
    * fraction of the I/O.
    */
  def estimateDeadBlobRatio(fraction: Double = 0.01, seed: Long = 42L): Double = {
    val st = manifest.load()
    if (st.blobFiles.isEmpty) return 0.0
    val sampled = readBlobs(st.blobFiles).sample(withReplacement = false, fraction, seed)
    val counts = sampled.join(liveBlobRefsOf(st), Seq("blobId"), "left_anti").count().toDouble
    val total = sampled.count().toDouble
    if (total == 0) 0.0 else counts / total
  }

  /** Delete segment dirs no longer referenced by the manifest (orphan
    * cleanup, reference `kv/file/manifest.go:227-243`), and the manifest
    * records before its newest checkpoint. Files referenced by a live
    * [[snapshot]] are skipped — take a snapshot first if a reader must
    * survive the vacuum.
    */
  def vacuum(): Unit = snapshotLock.synchronized {
    val st = manifest.load()
    // manifest paths may be segment DIRS or part FILES, with or without a
    // scheme; qualified, they compare with the listed segment dirs. Files
    // referenced by a live snapshot are as live as the manifest's own —
    // the snapshot refcount rule (see [[snapshot]])
    val live = (st.files.map(_.path) ++ st.blobFiles.map(_.path) ++ pinnedPaths())
      .map(p => qualified(new Path(p)))
    for (kind <- Seq("data", "blobs")) {
      val dir = new Path(s"$rootDir/$kind")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val segs = try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      segs.foreach { f =>
        val seg = qualified(f.getPath)
        val inUse = live.exists(p => p == seg || p.startsWith(seg + "/"))
        if (!inUse) fs.delete(f.getPath, true)
      }
    }
    manifest.vacuum()
  }

  def stats(): Map[String, Long] = {
    val st = manifest.load()
    Map(
      "dataSegments" -> st.files.size.toLong,
      "level0Segments" -> st.files.count(_.level == 0).toLong,
      "blobSegments" -> st.blobFiles.size.toLong,
      "rows" -> st.files.map(_.rows).sum,
      "nextVersion" -> st.nextVersion,
      "nextBlobId" -> st.nextBlobId,
      "manifestSeq" -> st.commitSeq)
  }

  /** Total manifest-recorded rows at one level (L1 bound checks, tests). */
  def levelRows(level: Int): Long =
    manifest.load().files.filter(_.level == level).map(_.rows).sum

  /** The captured fixed bucket grid (empty before the first multi-file
    * write; see [[ManifestState.rangeBoundsHex]]).
    */
  def gridBounds(): Vector[String] = manifest.load().rangeBoundsHex

  /** Consistent portable backup (the LSM `Backup` story — badger-style
    * engines export a point-in-time snapshot; this engine's immutable
    * parquet segments make it a METADATA-plus-copy operation, no
    * key-stream serialization needed). Pins a [[snapshot]] so vacuum
    * cannot reclaim files mid-copy, copies every live data/blob file
    * into `destDir` preserving the `data/...`/`blobs/...` layout, then
    * commits a fresh manifest at `destDir` with rebased paths — LAST, so
    * a crashed backup leaves NO manifest and [[GraftDB.openBackup]]
    * fails loudly instead of opening an empty engine. The backup is
    * fully independent: later writes/compactions/GC on this engine never
    * touch it.
    *
    * Scale shape: the copy is per-file through the Hadoop FS layer —
    * driver-coordinated like every lifecycle job here, sized by the LIVE
    * set (post-compaction, post-GC), not write history. At real cluster
    * scale the same manifest-rebase logic rides a distcp-style parallel
    * copy; the commit protocol (copy first, manifest swap last) is the
    * part that matters and is what this implements.
    */
  def backupTo(destDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    require(!Manifest.exists(hconf, destDir),
      s"backupTo: $destDir already holds an engine manifest — refusing to overwrite")
    val s = snapshot()
    try {
      val st = s.state
      val root = qualified(new Path(rootDir)).stripSuffix("/")
      def rebase(p: String): String = {
        val q = qualified(new Path(p))
        require(q.startsWith(root + "/"),
          s"backupTo: segment $p lives outside rootDir $rootDir")
        s"$destDir/${q.stripPrefix(root + "/")}"
      }
      val pairs = (st.files.map(_.path) ++ st.blobFiles.map(_.path))
        .map(p => (p, rebase(p)))
      pairs.foreach { case (src, dst) =>
        val sp = new Path(src)
        val dp = new Path(dst)
        val sfs = sp.getFileSystem(hconf)
        val dfs = dp.getFileSystem(hconf)
        dfs.mkdirs(dp.getParent)
        if (!org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
            false /* deleteSource */, true /* overwrite */, hconf))
          throw new java.io.IOException(s"backupTo: copy failed for $src")
      }
      // manifest LAST: the atomic commit is what makes the backup real
      val dm = new Manifest(hconf, destDir, options.manifestLogCompactEvery)
      dm.commit(_ => ManifestDelta(
        nextVersion = Some(st.nextVersion),
        nextBlobId = Some(st.nextBlobId),
        addFiles = st.files.map(f => f.copy(path = rebase(f.path))),
        addBlobs = st.blobFiles.map(b => b.copy(path = rebase(b.path))),
        addBounds = st.rangeBoundsHex))
    } finally s.close()
  }

  /** API parity with the reference's `Close` (`kv/db.go:144-157`): the
    * reference drains its write channel, flushes the memtable, and stops
    * background goroutines. Here every one of those has no analog — writes
    * commit synchronously through the manifest, there is no mutable
    * memtable, and lifecycle jobs run only when called — so close is a
    * documented no-op. The SparkSession is caller-owned and NOT stopped.
    */
  def close(): Unit = ()
}

/** Read-only view of the database frozen at the manifest state current
  * when [[GraftDB.snapshot]] was called. Reads ignore every later write,
  * compaction, and GC; [[close]] releases the pin so a later
  * [[GraftDB.vacuum]] may reclaim the superseded files. Reading after
  * close (or from another process) is undefined once a vacuum has run —
  * the same contract as the reference's refcounted iterators.
  */
final class Snapshot private[core] (db: GraftDB, private[core] val state: ManifestState)
    extends AutoCloseable {

  /** The frozen merge-on-read view (same shape as [[GraftDB.view]]). */
  def view(asOfUnixSec: Long = System.currentTimeMillis() / 1000): org.apache.spark.sql.DataFrame =
    db.viewOf(state, asOfUnixSec)

  override def close(): Unit = db.unpin(this)
}

object GraftDB {
  /** Open a directory produced by [[GraftDB.backupTo]] (the restore).
    * Unlike the plain constructor — which treats a missing manifest as a
    * NEW empty engine — this fails loudly when no manifest exists, so a
    * crashed/partial backup can never silently restore as an empty
    * database.
    */
  def openBackup(spark: SparkSession, dir: String,
      options: GraftOptions = GraftOptions()): GraftDB = {
    require(Manifest.exists(spark.sparkContext.hadoopConfiguration, dir),
      s"openBackup: no engine manifest at $dir — incomplete or missing backup")
    new GraftDB(spark, dir, options)
  }

  /** The one last-writer-wins order, used by the point [[GraftDB.get]]
    * and by every merge task ([[MergeScan]]), the winner greatest:
    * version, then a deterministic tie-break for same-version duplicates
    * of one bulk write — `xxhash64(value)` (Spark's seed 42, null hashing
    * to the seed), blobId with nulls lowest, expiresAt, tombstone.
    */
  private[core] val lwwOrder: Ordering[KVEntry] = Ordering.by((e: KVEntry) => (
    e.version,
    XxHash64Function.hash(e.value, BinaryType, 42L),
    Option(e.blobId).map(_.longValue),
    e.expiresAt,
    e.tombstone))

  /** One data-file row written through parquet's example `Group` model:
    * the inverse of [[entryOf]], null value and blobId left unset.
    */
  private def fillRow(g: Group, e: KVEntry): Unit = {
    g.add("key", Binary.fromConstantByteArray(e.key))
    if (e.value != null) g.add("value", Binary.fromConstantByteArray(e.value))
    g.add("version", e.version)
    g.add("expiresAt", e.expiresAt)
    g.add("tombstone", e.tombstone)
    if (e.blobId != null) g.add("blobId", e.blobId.longValue)
  }

  /** One data-file row read through parquet's example `Group` model. */
  private[core] def entryOf(g: Group): KVEntry = {
    def has(f: String) = g.getFieldRepetitionCount(f) > 0
    KVEntry(g.getBinary("key", 0).getBytes,
      if (has("value")) g.getBinary("value", 0).getBytes else null,
      g.getLong("version", 0), g.getLong("expiresAt", 0), g.getBoolean("tombstone", 0),
      if (has("blobId")) java.lang.Long.valueOf(g.getLong("blobId", 0)) else null)
  }

  /** Smallest byte string strictly greater than every string with `p` as a
    * prefix; None when p is all-0xff (scan to end of keyspace).
    */
  def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    val out = p.clone()
    var i = out.length - 1
    while (i >= 0) {
      if ((out(i) & 0xff) != 0xff) {
        out(i) = (out(i) + 1).toByte
        return Some(java.util.Arrays.copyOf(out, i + 1))
      }
      i -= 1
    }
    None
  }
}

/** Unsigned lexicographic byte ordering == Go `bytes.Compare` == Spark
  * BinaryType ordering — keeps driver-side batch sorting consistent with
  * executor-side comparisons.
  */
object UnsignedBytesOrdering extends Ordering[Array[Byte]] {
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val cmp = (a(i) & 0xff) - (b(i) & 0xff)
      if (cmp != 0) return cmp
      i += 1
    }
    a.length - b.length
  }
}
