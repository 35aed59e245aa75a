package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, StructField, StructType}

/** One part file as a store's manifest records it: path, exact byte
  * length (the reader finds the footer from it) and, in a partitioned
  * root, its value of the Int partition column (`pk`, `bucket`, `ps`, `pb`).
  */
final case class PartFile(path: String, length: Long, part: Option[Int])

/** A Spark `FileIndex` over files a manifest already recorded: it answers
  * `listFiles`, `sizeInBytes` and `inputFiles` from the record and makes
  * no file-system call. `listFiles` evaluates the scan's partition
  * filters against the recorded partition values, so a filter on the
  * partition column prunes as Spark's partition pruning does over a
  * listed directory tree. This is Delta Lake's design of taking a table's
  * file list from its log rather than from the file system. `rootPaths`
  * (the plan's `Location`) are the store roots the files sit in.
  */
final class ManifestFileIndex(conf: Configuration, files: Seq[PartFile],
    partitionColumn: Option[String]) extends FileIndex {

  override val partitionSchema: StructType =
    StructType(partitionColumn.toSeq.map(StructField(_, IntegerType, nullable = false)))

  private val partitions: Seq[(InternalRow, Array[FileStatus])] =
    files.groupBy(_.part).toSeq.sortBy(_._1).map { case (part, fs) =>
      require(part.isDefined == partitionColumn.isDefined,
        s"partition value $part does not fit partition column $partitionColumn")
      (InternalRow.fromSeq(part.toSeq), fs.map(ManifestFileIndex.status(conf, _)).toArray)
    }

  override def rootPaths: Seq[Path] = partitions.flatMap(_._2).map { st =>
    if (partitionColumn.isEmpty) st.getPath.getParent else st.getPath.getParent.getParent
  }.distinct

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep: InternalRow => Boolean =
      if (partitionFilters.isEmpty) _ => true
      else Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, IntegerType, nullable = false)
      }).eval
    partitions.collect { case (row, fs) if keep(row) => PartitionDirectory(row, fs) }
  }

  override def inputFiles: Array[String] = partitions.flatMap(_._2).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.length).sum
}

object ManifestFileIndex {

  /** A store root: its name under the store dir and its part files. */
  type Root = (String, Vector[PartFile])

  /** One parquet scan over recorded part files: `dataSchema`'s columns
    * (minus `partitionColumn`), then the partition column.
    */
  def read(spark: SparkSession, files: Seq[PartFile], dataSchema: StructType,
      partitionColumn: Option[String]): DataFrame = {
    val index = new ManifestFileIndex(spark.sparkContext.hadoopConfiguration, files,
      partitionColumn)
    val data = StructType(dataSchema.filterNot(f => partitionColumn.contains(f.name)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, data,
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The parquet part files under `path`, listed: the one listing a store
    * makes, at stage time, and at read only for an entry written before
    * files were recorded. Paths are relative to `path` (a file lists as
    * itself, path ""); a file's `partitionColumn` value is its `<col>=N` dir.
    */
  def list(spark: SparkSession, path: String, partitionColumn: Option[String]): Vector[PartFile] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(root).toUri
    def walk(p: Path): Vector[FileStatus] =
      (try fs.listStatus(p) catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .toVector.flatMap(st => if (st.isDirectory) walk(st.getPath) else Vector(st))
    val isPart = (n: String) => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    walk(root).collect { case st if isPart(st.getPath.getName) =>
      val rel = base.relativize(fs.makeQualified(st.getPath).toUri).getPath
      val part = partitionColumn.map { c =>
        rel.split('/').collectFirst { case d if d.startsWith(s"$c=") => d.substring(c.length + 1).toInt }
          .getOrElse(throw new IllegalStateException(s"$path/$rel has no $c= directory"))
      }
      PartFile(rel, st.getLen, part)
    }.sortBy(_.path)
  }

  /** Write `df` as a new root `<prefix><uuid>` under `dir`, partitioned
    * by `partitionColumn` with one writer task per value, and list it.
    */
  def stage(df: DataFrame, dir: String, prefix: String, partitionColumn: Option[String]): Root = {
    val root = s"$prefix${java.util.UUID.randomUUID}"
    partitionColumn.fold(df.write)(c => df.repartition(df.col(c)).write.partitionBy(c))
      .mode("overwrite").parquet(s"$dir/$root")
    (root, list(df.sparkSession, s"$dir/$root", partitionColumn))
  }

  /** The part files of `roots` under `dir`: as `recorded`, or listed. */
  def rootFiles(spark: SparkSession, dir: String, roots: Seq[String],
      recorded: Map[String, Vector[PartFile]], partitionColumn: Option[String]): Seq[PartFile] =
    roots.flatMap { r =>
      recorded.getOrElse(r, list(spark, s"$dir/$r", partitionColumn))
        .map(f => f.copy(path = s"$dir/$r/${f.path}"))
    }

  /** [[rootFiles]] read as one scan. */
  def readRoots(spark: SparkSession, dir: String, roots: Seq[String],
      recorded: Map[String, Vector[PartFile]], dataSchema: StructType,
      partitionColumn: Option[String]): DataFrame =
    read(spark, rootFiles(spark, dir, roots, recorded, partitionColumn), dataSchema, partitionColumn)

  /** The status of a recorded file, built without a file-system call. */
  def status(conf: Configuration, f: PartFile): FileStatus = {
    val p = new Path(f.path)
    new FileStatus(f.length, false, 0, 0L, 0L, p.getFileSystem(conf).makeQualified(p))
  }

  /** The Spark schema of one part file's footer. */
  def footerSchema(spark: SparkSession, f: PartFile): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(status(conf, f), conf),
      HadoopReadOptions.builder(conf).build())
    try new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(rd.getFileMetaData.getSchema)
    finally rd.close()
  }

  /** A schema recorded as `StructType.json`; for a manifest written before
    * schemas were recorded (`json` empty), the first of `files`' footer.
    */
  def recordedSchema(spark: SparkSession, json: String, files: => Seq[PartFile]): StructType =
    if (json.nonEmpty) DataType.fromJson(json).asInstanceOf[StructType]
    else footerSchema(spark, files.headOption.getOrElse(throw new IllegalStateException(
      "the manifest records no schema and names no part file to read one from")))

  /** Throws IllegalStateException unless each file of the staged root has
    * every column of `schema` with its type, or a decimal of its scale and
    * no larger precision (which the reader widens losslessly). Unchecked,
    * a missing column would read as nulls, a mixed decimal fail the read.
    */
  def requireReadable(spark: SparkSession, dir: String, staged: Root, schema: StructType): Unit =
    rootFiles(spark, dir, Seq(staged._1), Map(staged), None).foreach { f =>
      val stored = footerSchema(spark, f)
      val bad = schema.filterNot(c => stored.find(_.name == c.name).exists(s => reads(s.dataType, c.dataType)))
      if (bad.nonEmpty)
        throw new IllegalStateException(s"${f.path} does not read under the recorded schema: " +
          s"${bad.map(c => s"${c.name} ${c.dataType.catalogString}").mkString(", ")} " +
          s"missing or stored as another type (footer: ${stored.catalogString})")
    }

  private def reads(stored: DataType, wanted: DataType): Boolean = (stored, wanted) match {
    case (s: DecimalType, w: DecimalType) => s.scale == w.scale && s.precision <= w.precision
    case _ => stored.catalogString == wanted.catalogString
  }

  /** `schema` as a root records it: without `partitionColumn`, nullable. */
  def dataSchema(schema: StructType, partitionColumn: String): StructType =
    StructType(schema.filterNot(_.name == partitionColumn).map(_.copy(nullable = true)))
}
