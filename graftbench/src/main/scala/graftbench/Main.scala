package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.graftbench.BusDrain

/** One call of the workload: its op type, its op class (read, write,
  * scan or query) and the call itself, which returns false when the answer
  * is wrong. A call that throws counts as failed too.
  */
final case class Op(tpe: String, cls: String, run: () => Boolean)

trait Workload {
  /** Builds the workload's inputs under `dir`. Called several times on
    * fresh directories; the workload runs on the last one.
    */
  def setup(dir: String): Unit
  /** The warm-up calls, then the timed calls, on the workload's own mix.
    * Both are fixed-length sequences drawn from the seed.
    */
  def warmOps(): Iterator[Op]
  def timedOps(): Iterator[Op]
  /** Checks made once per run, outside any timer. */
  def finalChecks(): Seq[(String, Boolean)]
  /** Layer figures the workload reads from its own stores, and the
    * space figures (on-disk and live user bytes).
    */
  def report(): Map[String, Any]
}

/** Runs one workload in one JVM and writes the raw record as JSON: every
  * timed call with its latency and, when traced, its Spark, FS and JVM
  * counters. `run.py` turns the record into the reported metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <data dir> <out.json>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, data: String, out: String)

  val setupRuns = 3

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), argv(5), argv(6))
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new SparkProbe
    if (a.trace) spark.sparkContext.addSparkListener(probe)
    try {
      val rec = new Runner(spark, a, probe).run()
      val pw = new PrintWriter(new File(a.out))
      try pw.write(Json.write(rec)) finally pw.close()
    } finally spark.stop()
  }

  def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "kv_mixed" => new KvMixed(spark, a.seed, a.seconds, a.trace)
    case "analytics_mix" => new AnalyticsMix(spark, a.seed, a.seconds, a.data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final class Runner(spark: SparkSession, a: Main.Args, probe: SparkProbe) {
  private val sc = spark.sparkContext
  private val calls = ArrayBuffer.empty[Map[String, Any]]
  private var traceNs = 0L
  private var warmFailed = 0

  private def drain(): Unit = if (a.trace) BusDrain(sc)

  /** Fixed CPU loop plus a fixed tiny Spark job, in ms: the drift record. */
  private def calibrate(): Map[String, Double] = {
    val cpu = (1 to 3).map(_ => Jvm.cpuLoopMs()).sorted.apply(1)
    val job = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(1 to 4000, 4).map(i => i.toLong * i).reduce(_ + _)
      (System.nanoTime() - t0) / 1e6
    }.sorted.apply(1)
    Map("cpu_ms" -> cpu, "job_ms" -> job)
  }

  private def once(op: Op): (Boolean, Long, String) = {
    val t0 = System.nanoTime()
    val (ok, err) =
      try (op.run(), "")
      catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    (ok, System.nanoTime() - t0, err)
  }

  private def timedCall(op: Op): Unit = {
    val t0 = System.nanoTime()
    drain()
    val p0 = if (a.trace) probe.snapshot() else null
    val f0 = if (a.trace) CountingLocalFileSystem.snapshot() else null
    val i0 = if (a.trace) probe.intervalCount else 0
    val al0 = Jvm.allocBytes
    val jit0 = Jvm.jitMs
    val s0 = System.currentTimeMillis()
    traceNs += System.nanoTime() - t0
    val (ok, ns, err) = once(op)
    val s1 = System.currentTimeMillis()
    val al1 = Jvm.allocBytes
    val t1 = System.nanoTime()
    val r = Map[String, Any]("t" -> op.tpe, "c" -> op.cls, "ok" -> ok, "ms" -> ns / 1e6,
      "alloc" -> (al1 - al0), "jit" -> (Jvm.jitMs - jit0))
    val rec = if (!a.trace) r else {
      drain()
      val p1 = probe.snapshot(); val f1 = CountingLocalFileSystem.snapshot()
      r ++ Map(
        "s" -> s0, "e" -> s1,
        "jobs_iv" -> probe.intervalsFrom(i0).map { case (x, y) => Seq(x, y) },
        "jobs" -> (p1(0) - p0(0)), "tasks" -> (p1(1) - p0(1)),
        "task_ms" -> (p1(2) - p0(2)), "task_cpu_ms" -> (p1(3) - p0(3)) / 1e6,
        "shuffle_bytes" -> (p1(4) - p0(4)), "spill_bytes" -> (p1(5) - p0(5)),
        "listener_ns" -> (p1(6) - p0(6)),
        "fs_read_ops" -> (f1(0) - f0(0)), "fs_list_ops" -> (f1(1) - f0(1)),
        "fs_write_ops" -> (f1(2) - f0(2)), "fs_bytes_read" -> (f1(3) - f0(3)),
        "fs_bytes_written" -> (f1(4) - f0(4)))
    }
    if (!ok) System.err.println(s"[graftbench] ${op.tpe} failed $err")
    calls += (if (err.isEmpty) rec else rec + ("err" -> err))
    if (a.trace) traceNs += System.nanoTime() - t1
  }

  def run(): Map[String, Any] = {
    val w = Main.workload(spark, a)
    val setupS = (1 to Main.setupRuns).map { k =>
      val t0 = System.nanoTime()
      w.setup(s"${a.work}/setup$k")
      (System.nanoTime() - t0) / 1e9
    }
    val tw0 = System.nanoTime()
    val warmJit0 = Jvm.jitMs
    var nWarm = 0
    w.warmOps().foreach { op =>
      val (ok, _, err) = once(op)
      nWarm += 1
      if (!ok) { warmFailed += 1; System.err.println(s"[graftbench] warm ${op.tpe} failed $err") }
    }
    val warmS = (System.nanoTime() - tw0) / 1e9

    val calBefore = calibrate()
    val ops = w.timedOps().toVector
    val (steal0, tot0) = Jvm.cpuJiffies()
    val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs; val al0 = Jvm.allocBytes
    val t0 = System.nanoTime()
    var tHalf = t0
    var jitHalf = jit0
    ops.zipWithIndex.foreach { case (op, i) =>
      if (i == ops.size / 2) { tHalf = System.nanoTime(); jitHalf = Jvm.jitMs }
      timedCall(op)
    }
    val t1 = System.nanoTime()
    val gc1 = Jvm.gcMs; val jit1 = Jvm.jitMs; val al1 = Jvm.allocBytes
    val (steal1, tot1) = Jvm.cpuJiffies()
    val calAfter = calibrate()
    val checks = w.finalChecks()
    val heap = Jvm.liveHeapMb()
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "setup_s" -> setupS, "warm_calls" -> nWarm, "warm_s" -> warmS,
      "warm_failed" -> warmFailed, "warm_jit_ms" -> (jit0 - warmJit0),
      "timed_s" -> (t1 - t0) / 1e9,
      "half_s" -> Seq((tHalf - t0) / 1e9, (t1 - tHalf) / 1e9),
      "half_calls" -> Seq(ops.size / 2, ops.size - ops.size / 2),
      "gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0),
      "half_jit_ms" -> Seq(jitHalf - jit0, jit1 - jitHalf), "alloc_bytes" -> (al1 - al0),
      "steal_frac" -> (if (tot1 > tot0) (steal1 - steal0).toDouble / (tot1 - tot0) else 0.0),
      "calib_before" -> calBefore, "calib_after" -> calAfter,
      "trace_ns" -> traceNs,
      "checks" -> checks.map { case (n, ok) => Map("name" -> n, "ok" -> ok) },
      "live_heap_mb" -> heap,
      "report" -> w.report(),
      "calls" -> calls.toVector)
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null | None => sb ++= "null"
      case Some(x) => go(x)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case s: String => str(s)
      case m: Map[_, _] =>
        sb += '{'
        m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','; str(k.toString); sb += ':'; go(x)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}

object Files {
  /** Bytes of every regular file under `path`. */
  def du(path: String): Long = {
    def go(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(go).sum
      else f.length
    go(new java.io.File(path))
  }

  def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }
}
