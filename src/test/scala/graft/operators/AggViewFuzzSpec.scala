package graft.operators

import java.nio.file.Files
import graft.core.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ManifestStore.conf

/** Lifecycle fuzz for the incremental aggregate view: random
  * interleavings of append / replayed-tag append / fold / vacuum must
  * always read back exactly the one-shot aggregate over the batches a
  * model says were APPLIED — the same model-vs-engine discipline the
  * text/IVF/near-dup index fuzzes use.
  */
class AggViewFuzzSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def mkBatch(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      (s"g${rnd.nextInt(4)}", s"p${rnd.nextInt(3)}", rnd.nextInt(5000) / 100.0 + 0.25)
    }.toDF("k1", "k2", "v")
  }

  private def oneShot(applied: Seq[DataFrame]): Array[Seq[Any]] = {
    val all = applied.reduce(_.union(_))
    val d = col("v").cast("decimal(18,2)")
    val sumD = sum(d).cast("double")
    val sqD = sum((d * d).cast("decimal(38,4)")).cast("double")
    val n = count(lit(1)).cast("double")
    all.groupBy("k1", "k2")
      .agg(count(lit(1)).as("cnt"),
        round(sumD, 2).as("v_sum"),
        round(min(d).cast("double"), 2).as("v_min"),
        round(max(d).cast("double"), 2).as("v_max"),
        round(sumD / count(lit(1)), 6).as("v_avg"),
        round(sqrt(greatest(lit(0.0), sqD / n - (sumD / n) * (sumD / n))), 6)
          .as("v_std"))
      .orderBy("k1", "k2").collect().map(_.toSeq)
  }

  test("random append/replay/fold/vacuum interleavings always read back exact") {
    val rnd = new scala.util.Random(4207)
    val dir = Files.createTempDirectory("aggview-fuzz").toString
    val base = mkBatch(0, 300)
    AggView.buildAggView(base, dir, Seq("k1", "k2"), Seq("v"))
    var applied = Vector(base)
    var nextTag = 1
    val usedTags = scala.collection.mutable.ArrayBuffer[Int]()
    for (step <- 1 to 25) {
      rnd.nextInt(5) match {
        case 0 | 1 => // fresh append, tagged
          val b = mkBatch(step, 50 + rnd.nextInt(150))
          assert(AggView.appendToAggView(dir, b, Some(nextTag.toString)))
          applied :+= b
          usedTags += nextTag
          nextTag += 1
        case 2 => // replay a previously applied tag: must be a no-op
          if (usedTags.nonEmpty) {
            val t = usedTags(rnd.nextInt(usedTags.length))
            assert(!AggView.appendToAggView(dir, mkBatch(9000 + step, 40), Some(t.toString)),
              s"replayed tag $t was applied twice")
          }
        case 3 =>
          AggView.compactAggView(spark, dir)
        case 4 =>
          AggView.vacuumAggView(spark, dir, minAgeMs = 0L)
      }
      // the view must match the model after EVERY step
      val got = AggView.readAggView(spark, dir).orderBy("k1", "k2")
        .collect().map(_.toSeq)
      val want = oneShot(applied)
      assert(got.toSeq == want.toSeq, s"divergence after step $step")
    }
    // final fold + vacuum leaves one root and the exact same answer
    AggView.compactAggView(spark, dir)
    AggView.vacuumAggView(spark, dir, minAgeMs = 0L)
    assert(AggView.store.read(conf(spark), dir).get.roots.size == 1)
    assert(AggView.readAggView(spark, dir).orderBy("k1", "k2")
      .collect().map(_.toSeq).toSeq == oneShot(applied).toSeq)
  }

  test("histogram percentiles survive random append/replay/fold interleavings") {
    // values span [0.25, 50.24]; histogram [0, 55) in 11 bins of width 5
    def histModel(applied: Seq[DataFrame]): Array[Seq[Any]] = {
      val all = applied.reduce(_.union(_))
      val shifted = (least(greatest(floor((col("v") - lit(0.0)) / lit(5.0)),
        lit(-1L)), lit(11L)) + lit(1L)).as("b")
      val wk = org.apache.spark.sql.expressions.Window.partitionBy("k1", "k2")
      all.select(col("k1"), col("k2"), shifted)
        .groupBy("k1", "k2", "b").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wk.orderBy("b")))
        .withColumn("n", sum(col("c")).over(wk))
        .groupBy("k1", "k2")
        .agg(
          round(min(when(col("cum").cast("double") >= lit(0.5) * col("n").cast("double"),
            col("b") * 5.0)), 6).as("v_p50"),
          round(min(when(col("cum").cast("double") >= lit(0.9) * col("n").cast("double"),
            col("b") * 5.0)), 6).as("v_p90"),
          round(min(when(col("cum").cast("double") >= lit(0.99) * col("n").cast("double"),
            col("b") * 5.0)), 6).as("v_p99"))
        .orderBy("k1", "k2").collect().map(_.toSeq)
    }
    val rnd = new scala.util.Random(817)
    val dir = Files.createTempDirectory("aggview-fuzz-hist").toString
    val base = mkBatch(100, 200)
    AggView.buildAggView(base, dir, Seq("k1", "k2"), Seq("v"),
      histCols = Seq("v"), histLo = 0.0, histHi = 55.0, histBins = 11)
    var applied = Vector(base)
    var tag = 1
    for (step <- 1 to 10) {
      rnd.nextInt(4) match {
        case 0 | 1 =>
          val b = mkBatch(100 + step, 40 + rnd.nextInt(120))
          assert(AggView.appendToAggView(dir, b, Some(tag.toString)))
          applied :+= b; tag += 1
        case 2 => // replay an applied tag: must be a no-op
          if (tag > 1)
            assert(!AggView.appendToAggView(dir, mkBatch(9100 + step, 30), Some("1")))
        case 3 =>
          AggView.compactAggView(spark, dir)
      }
      val got = AggView.readAggView(spark, dir)
        .select("k1", "k2", "v_p50", "v_p90", "v_p99")
        .orderBy("k1", "k2").collect().map(_.toSeq)
      assert(got.toSeq == histModel(applied).toSeq,
        s"histogram divergence after step $step")
    }
  }
}
