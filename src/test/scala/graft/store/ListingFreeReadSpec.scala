package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftDB, GraftOptions, KVEntry, TestSpark}
import graft.llmops.{NearDupIndex, Search}
import graft.operators.{AggView, JoinView}

/** The local `file` filesystem, counting its listing calls. Hadoop's
  * local filesystem publishes no per-operation storage statistics
  * (`op_list_status`, `op_glob_status` exist for HDFS only), so the
  * spec installs this one for the `file` scheme while it counts.
  */
class ListCountingFileSystem extends LocalFileSystem {
  import ListCountingFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f, filter)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet(); super.listStatusIterator(f)
  }
  override def globStatus(p: Path): Array[FileStatus] = {
    globs.incrementAndGet(); super.globStatus(p)
  }
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] = {
    globs.incrementAndGet(); super.globStatus(p, filter)
  }
}

object ListCountingFileSystem {
  val lists, globs = new AtomicLong
}

/** Store reads take their files from the manifest: planning and running
  * a read makes no list and no glob call on any store, and a manifest
  * written before files were recorded still reads the same rows.
  */
class ListingFreeReadSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def tmp(p: String): String = Files.createTempDirectory(p).toString
  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** (list calls, glob calls) made while `body` runs. The counting
    * filesystem serves `file` paths only while it runs: with the cache
    * off, every `getFileSystem` builds a fresh instance of it.
    */
  private def listingsDuring(body: => Unit): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ListCountingFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    val (l0, g0) = (ListCountingFileSystem.lists.get, ListCountingFileSystem.globs.get)
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    (ListCountingFileSystem.lists.get - l0, ListCountingFileSystem.globs.get - g0)
  }

  private def assertListingFree(what: String)(read: => DataFrame): Unit = {
    var rows = 0
    val (lists, globs) = listingsDuring { rows = read.collect().length }
    assert(rows > 0, s"$what read no rows: the check would be vacuous")
    assert((lists, globs) == (0L, 0L), s"$what made $lists list and $globs glob calls")
  }

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("the counting filesystem sees a plain directory read list") {
    val dir = tmp("graft-listing-control")
    spark.range(10).write.mode("overwrite").parquet(s"$dir/t")
    val (lists, _) = listingsDuring(spark.read.parquet(s"$dir/t").collect())
    assert(lists > 0, "a spark.read of a directory must list it")
  }

  test("GraftDB view, scan, rawLog and changesBetween plan and run without listing") {
    val db = new GraftDB(spark, tmp("graft-listing-db"),
      GraftOptions(valueThreshold = 8, compactTriggerFiles = 1000))
    val schema = org.apache.spark.sql.types.StructType(KVEntry.schema.take(2))
    db.write(spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 40).map(i => Row(b(f"k$i%03d"), b(s"value-$i"))), 3), schema))
    val from = db.snapshot()
    db.batchSet(Seq(KVEntry(b("k001"), b("a long blob value")), KVEntry(b("k500"), b("v"))))
    db.del(b("k002"))
    val to = db.snapshot()
    try {
      assertListingFree("view")(db.view())
      assertListingFree("scan")(db.scan(prefix = Some(b("k0"))))
      assertListingFree("rawLog")(db.rawLog())
      assertListingFree("changesBetween")(db.changesBetween(from, to))
    } finally { from.close(); to.close() }
  }

  test("AggView and JoinView read and lookup plan and run without listing") {
    val s = spark; import s.implicits._
    val av = tmp("graft-listing-agg")
    val facts = (0 until 60).map(i => (s"g${i % 4}", i.toDouble)).toDF("g", "x")
    AggView.buildAggView(facts.filter(col("x") < 30), av, Seq("g"), Seq("x"), numBuckets = 8)
    AggView.appendToAggView(av, facts.filter(col("x") >= 30))
    assertListingFree("AggView read")(AggView.readAggView(spark, av))
    assertListingFree("AggView lookup")(AggView.lookupAggView(spark, av, Seq("g1")))

    val jv = tmp("graft-listing-join")
    val fact = (0L until 40L).map(i => (i % 10, i)).toDF("k", "f")
    val dim = (0L until 10L).map(i => (i, s"d$i")).toDF("k", "name")
    JoinView.buildJoinView(fact.filter(col("f") < 20), dim, jv, Seq("k"), numBuckets = 4)
    JoinView.appendFactsToJoinView(jv, fact.filter(col("f") >= 20))
    JoinView.upsertDimToJoinView(jv, Seq((3L, "new3")).toDF("k", "name"))
    assertListingFree("JoinView read")(JoinView.readJoinView(spark, jv))
    assertListingFree("JoinView lookup")(JoinView.lookupJoinView(spark, jv, Seq(3L)))
  }

  test("text-index and near-dup probes plan and run without listing") {
    val s = spark; import s.implicits._
    val corpus = docs(1L -> "alpha beta gamma delta", 2L -> "beta gamma delta epsilon",
      3L -> "zeta eta theta iota")
    val ti = tmp("graft-listing-text")
    Search.buildTextIndex(corpus, ti, numBuckets = 8)
    Search.appendToTextIndex(ti, docs(4L -> "beta kappa"))
    Search.deleteFromTextIndex(ti, Seq(3L).toDF("doc_id"))
    assertListingFree("text-index probe")(Search.bm25TopKIndexed(spark, ti,
      Seq((0L, "beta delta")).toDF("query_id", "qtext"), k = 3))

    val nd = tmp("graft-listing-neardup")
    NearDupIndex.buildNearDupIndex(corpus, nd, numBuckets = 8)
    NearDupIndex.appendToNearDupIndex(nd, docs(4L -> "beta kappa lambda mu"))
    NearDupIndex.deleteFromNearDupIndex(nd, Seq(4L).toDF("doc_id"))
    assertListingFree("near-dup probe")(NearDupIndex.probeNearDupIndex(spark, nd,
      docs(9L -> "alpha beta gamma delta"), threshold = 0.3))
  }

  test("family manifests without recorded files or schemas read the same rows") {
    val s = spark; import s.implicits._
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    /** Publish `dir`'s manifest again without the fields recording files
      * and schemas, as a manifest written before they existed.
      */
    def stripRecorded(dir: String): Unit = {
      val log = new ManifestLog(spark.sparkContext.hadoopConfiguration, dir, wholeRecords = true)
      val seq = Files.list(java.nio.file.Paths.get(dir, "_manifest")).toArray.map(_.toString)
        .collect { case p if p.matches(".*/\\d{20}\\.json") => p.takeRight(25).take(20).toLong }.max
      val json = org.json4s.jackson.JsonMethods.parse(log.read(log.record(seq)).get)
      val stripped = json.removeField { case (k, _) => Set("files", "schema", "dimSchema")(k) }
      assert(stripped != json, s"$dir records no files")
      assert(log.publish(log.record(seq + 1), org.json4s.jackson.JsonMethods.compact(stripped)))
    }
    def sameAfterStrip(dir: String)(read: => DataFrame): Unit = {
      val before = rows(read)
      assert(before.nonEmpty)
      stripRecorded(dir)
      assert(rows(read) == before, s"$dir reads differently without recorded files")
    }

    val av = tmp("graft-legacy-agg")
    val facts = (0 until 60).map(i => (s"g${i % 4}", i.toDouble)).toDF("g", "x")
    AggView.buildAggView(facts.filter(col("x") < 30), av, Seq("g"), Seq("x"), numBuckets = 8)
    AggView.appendToAggView(av, facts.filter(col("x") >= 30))
    AggView.compactAggView(spark, av)
    AggView.appendToAggView(av, facts.filter(col("x") < 10))
    sameAfterStrip(av)(AggView.readAggView(spark, av))

    val jv = tmp("graft-legacy-join")
    val fact = (0L until 40L).map(i => (i % 10, i)).toDF("k", "f")
    JoinView.buildJoinView(fact, (0L until 10L).map(i => (i, s"d$i")).toDF("k", "name"),
      jv, Seq("k"), numBuckets = 4)
    JoinView.upsertDimToJoinView(jv, Seq((3L, "new3")).toDF("k", "name"))
    sameAfterStrip(jv)(JoinView.readJoinView(spark, jv, inner = false))

    val corpus = docs(1L -> "alpha beta gamma", 2L -> "beta gamma delta", 3L -> "delta alpha")
    val ti = tmp("graft-legacy-text")
    Search.buildTextIndex(corpus, ti, numBuckets = 8)
    Search.appendToTextIndex(ti, docs(4L -> "beta kappa"))
    Search.deleteFromTextIndex(ti, Seq(2L).toDF("doc_id"))
    sameAfterStrip(ti)(Search.bm25TopKIndexed(spark, ti,
      Seq((0L, "beta alpha")).toDF("query_id", "qtext"), k = 3))

    val nd = tmp("graft-legacy-neardup")
    NearDupIndex.buildNearDupIndex(corpus, nd, numBuckets = 8)
    NearDupIndex.appendToNearDupIndex(nd, docs(5L -> "alpha beta gamma delta"))
    sameAfterStrip(nd)(NearDupIndex.probeNearDupIndex(spark, nd,
      docs(9L -> "alpha beta gamma"), threshold = 0.2))
  }
}
