package graft.core

import java.util.{Arrays, PriorityQueue}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.store.{ManifestFileIndex, PartFile}

/** One merge task: the half-open key range `[lo, hi)` of one grid bucket,
  * cut to the read's range, and the part files whose recorded key range
  * overlaps it.
  */
private[core] final case class MergeTask(bucket: Int, lo: Option[Array[Byte]],
    hi: Option[Array[Byte]], files: Vector[PartFile])

/** A blob part file with the blob id range its manifest entry records. */
private[core] final case class BlobPart(minBlobId: Long, maxBlobId: Long, file: PartFile)

/** What a merge task emits for each key's LWW winner. */
private[core] sealed trait MergeOutput

/** The user view at `asOfUnixSec`: visible winners as `(key, value,
  * version, expiresAt)`, blob values read from `blobs`.
  */
private[core] final case class ViewRows(asOfUnixSec: Long, blobs: Vector[BlobPart])
    extends MergeOutput

/** Winners as stored rows plus their `__bucket`; with `dropDeadAsOf`, only
  * those visible then (compaction into the bottom level).
  */
private[core] final case class LogRows(dropDeadAsOf: Option[Long]) extends MergeOutput

/** Merge-on-read as a per-bucket k-way merge, the reference's merge
  * iterator (`kv/lsm/iterator.go:303-366`). Every data file is key-sorted,
  * and compacted files sit on the fixed bucket grid, so resolving a key's
  * versions needs no shuffle: one task per grid bucket opens the files
  * overlapping it, streams each through the bucket's key-range filter
  * (row-group statistics and column indexes prune), and merges them by key
  * keeping the winner by [[GraftDB.lwwOrder]]. The result is a DataFrame
  * that Spark knows is range-partitioned and sorted by key.
  */
private[core] object MergeScan {

  private val viewSchema = StructType(KVEntry.schema.take(4))
  private val logSchema = KVEntry.schema.add(StructField("__bucket", IntegerType, nullable = false))
  private val keyColumn = FilterApi.binaryColumn("key")

  /** Winners per blob-dereference round: the rows whose blob values are
    * held in memory at once.
    */
  private val blobChunk = 4096

  /** The tasks that merge `files` over `[lo, hi)` on the grid `bounds`
    * (split key i is bucket i's inclusive upper bound): one per bucket the
    * range overlaps that some file overlaps, in bucket order.
    */
  def tasks(bounds: Vector[String], files: Seq[(FileMeta, Seq[PartFile])],
      lo: Option[Array[Byte]], hi: Option[Array[Byte]]): Vector[MergeTask] = {
    // key > b is key >= b ++ 0x00, the least key above b
    val edges = bounds.map(h => Hex.decode(h) :+ 0.toByte)
    bounds.indices.inclusive.toVector.flatMap { b =>
      val from = (lo ++ (if (b == 0) None else Some(edges(b - 1)))).maxOption(UnsignedBytesOrdering)
      val until = (hi ++ edges.lift(b)).minOption(UnsignedBytesOrdering)
      val (fromHex, untilHex) = (from.map(Hex.encode), until.map(Hex.encode))
      val parts = files.collect { case (f, ps)
        if fromHex.forall(f.maxKeyHex >= _) && untilHex.forall(f.minKeyHex < _) => ps }.flatten
      val empty = from.zip(until).exists { case (a, z) => UnsignedBytesOrdering.gteq(a, z) }
      if (empty || parts.isEmpty) None else Some(MergeTask(b, from, until, parts.toVector))
    }
  }

  /** The merge of `tasks` as a DataFrame: one partition per task, rows in
    * key order (descending unless `ascending`). The plan's size estimate,
    * which join planning reads, is the recorded bytes of the files it may
    * open.
    */
  def frame(spark: SparkSession, tasks: Vector[MergeTask], ascending: Boolean,
      out: MergeOutput): DataFrame = {
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    val ordered = if (ascending) tasks else tasks.reverse
    val rdd = sc.parallelize(ordered, math.max(1, ordered.size))
      .mapPartitions(_.flatMap(t => run(conf.value.value, t, ascending, out)))
    val (schema, orderBy, blobBytes) = out match {
      case ViewRows(_, blobs) => (viewSchema, Seq("key" -> ascending), blobs.map(_.file.length).sum)
      case _: LogRows => (logSchema, Seq("__bucket" -> true, "key" -> true), 0L)
    }
    RddBridge.sortedFrame(spark, rdd, schema, orderBy,
      tasks.flatMap(_.files).distinct.map(_.length).sum + blobBytes)
  }

  /** Tombstone and TTL visibility, applied to a key's LWW winner. */
  def visible(e: KVEntry, asOfUnixSec: Long): Boolean =
    !e.tombstone && (e.expiresAt == 0L || e.expiresAt > asOfUnixSec)

  private def run(conf: Configuration, t: MergeTask, ascending: Boolean,
      out: MergeOutput): Iterator[InternalRow] = {
    val winners = merge(conf, t, ascending)
    out match {
      case LogRows(dropDeadAsOf) =>
        winners.filter(e => dropDeadAsOf.forall(visible(e, _))).map(e =>
          new GenericInternalRow(Array[Any](e.key, e.value, e.version, e.expiresAt,
            e.tombstone, e.blobId, t.bucket)))
      case ViewRows(asOf, blobs) =>
        winners.filter(visible(_, asOf)).grouped(blobChunk).flatMap { chunk =>
          val values = blobValues(conf, chunk.flatMap(e => Option(e.blobId)).map(_.longValue), blobs)
          chunk.iterator.map(e => new GenericInternalRow(Array[Any](e.key,
            if (e.blobId == null) e.value else values(e.blobId), e.version, e.expiresAt)))
        }
    }
  }

  /** The LWW winner of every key in `t`'s range, in key order. */
  private def merge(conf: Configuration, t: MergeTask, ascending: Boolean): Iterator[KVEntry] = {
    val keys = if (ascending) UnsignedBytesOrdering else UnsignedBytesOrdering.reverse
    val range = (t.lo.map(k => FilterApi.gtEq(keyColumn, Binary.fromConstantByteArray(k))) ++
      t.hi.map(k => FilterApi.lt(keyColumn, Binary.fromConstantByteArray(k))))
      .reduceOption[FilterPredicate](FilterApi.and)
    val filter = range.fold(FilterCompat.NOOP)(FilterCompat.get)
    val heap = new PriorityQueue[Cursor](math.max(1, t.files.size),
      (a: Cursor, b: Cursor) => keys.compare(a.head.key, b.head.key))
    t.files.foreach { f =>
      val c = new Cursor(conf, f, filter, ascending)
      if (c.hasNext) heap.add(c)
    }
    new Iterator[KVEntry] {
      def hasNext: Boolean = !heap.isEmpty
      def next(): KVEntry = {
        val key = heap.peek.head.key
        var best: KVEntry = null
        while (!heap.isEmpty && Arrays.equals(heap.peek.head.key, key)) {
          val c = heap.poll()
          while (c.hasNext && Arrays.equals(c.head.key, key)) {
            val e = c.next()
            if (best == null || GraftDB.lwwOrder.gt(e, best)) best = e
          }
          if (c.hasNext) heap.add(c)
        }
        best
      }
    }
  }

  /** One part file's rows in the merge's key order, read through `filter`.
    * Ascending streams row group by row group; descending holds one row
    * group at a time, reversed. A key that goes against the order fails
    * the task, naming the file: the merge is only exact over sorted files.
    */
  private final class Cursor(conf: Configuration, f: PartFile, filter: FilterCompat.Filter,
      ascending: Boolean) {
    private val rd = open(conf, f, filter)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => rd.close()))
    private val rows = (if (ascending) groups(rd, filter)
      else (rd.getRowGroups.size - 1 to 0 by -1).iterator.flatMap(i =>
        records(rd, rd.readFilteredRowGroup(i), filter).toVector.reverseIterator))
      .map(GraftDB.entryOf).buffered
    private var last: Array[Byte] = _

    def hasNext: Boolean = rows.hasNext
    def head: KVEntry = rows.head
    def next(): KVEntry = {
      val e = rows.next()
      if (last != null) {
        val cmp = UnsignedBytesOrdering.compare(last, e.key)
        if (if (ascending) cmp > 0 else cmp < 0) throw new IllegalStateException(
          s"data file ${f.path} is not sorted by key: ${Hex.encode(e.key)} follows " +
            s"${Hex.encode(last)}")
      }
      last = e.key
      e
    }
  }

  /** The values of blobs `ids`, read with a `blobId IN` filter from the
    * blob files whose recorded id range covers one still missing; a blob
    * found in none fails loudly.
    */
  def blobValues(conf: Configuration, ids: Seq[Long],
      blobs: Vector[BlobPart]): Map[Long, Array[Byte]] = {
    var missing = ids.toSet
    val found = Map.newBuilder[Long, Array[Byte]]
    for (b <- blobs if missing.nonEmpty) {
      val wanted = missing.filter(id => b.minBlobId <= id && id <= b.maxBlobId)
      if (wanted.nonEmpty) {
        val filter = FilterCompat.get(FilterApi.in[java.lang.Long, Operators.LongColumn](
          FilterApi.longColumn("blobId"), wanted.map(java.lang.Long.valueOf).asJava))
        val rd = open(conf, b.file, filter)
        try groups(rd, filter).foreach { g =>
          val id = g.getLong("blobId", 0)
          found += id -> g.getBinary("value", 0).getBytes
          missing -= id
        } finally rd.close()
      }
    }
    missing.headOption.foreach(id => throw new NoSuchElementException(
      s"blob $id is referenced by a live key but missing from the blob table"))
    found.result()
  }

  /** Open one part file at its recorded length with `conf`. The reader
    * keeps only the row groups `filter` cannot rule out by their
    * statistics, dictionary or key bloom filter, and only the pages of
    * those the column index cannot.
    */
  def open(conf: Configuration, f: PartFile,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(ManifestFileIndex.status(conf, f), conf),
      HadoopReadOptions.builder(conf).withRecordFilter(filter).build())

  /** The rows of `rd` that `filter` (its record filter) keeps, in file order. */
  def groups(rd: ParquetFileReader, filter: FilterCompat.Filter): Iterator[Group] =
    Iterator.continually(rd.readNextFilteredRowGroup()).takeWhile(_ != null)
      .flatMap(records(rd, _, filter))

  private def records(rd: ParquetFileReader, pages: PageReadStore,
      filter: FilterCompat.Filter): Iterator[Group] = {
    val schema = rd.getFileMetaData.getSchema
    val reader = new ColumnIOFactory().getColumnIO(schema)
      .getRecordReader(pages, new GroupRecordConverter(schema), filter)
    // the record filter materializes non-matching rows as null
    (0L until pages.getRowCount).iterator.map(_ => reader.read()).filter(_ != null)
  }
}
