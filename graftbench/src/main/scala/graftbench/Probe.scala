package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** The local `file` filesystem with call counters. Installed through
  * `spark.hadoop.fs.file.impl` in traced runs only; every Hadoop FS call
  * graft and Spark make on local paths passes through it. Manifest files
  * written with `java.nio` bypass Hadoop and are not counted.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  val opens, statuses, lists, writes = new AtomicLong

  /** (read_ops, list_ops, write_ops, bytes_read, bytes_written) so far. */
  def snapshot(): Array[Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Array(opens.get + statuses.get, lists.get, writes.get,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Spark scheduler and executor counters, fed by the listener bus. Read
  * them only after [[org.apache.spark.graftbench.BusDrain]]; the bus
  * delivers asynchronously. Times in the job intervals are the driver's
  * wall clock in milliseconds, as Spark stamps its events.
  */
final class SparkProbe extends SparkListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  // jobs, tasks, task ms, task cpu ns, shuffle bytes, spill bytes, self ns
  private val c = new Array[Long](7)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    c(0) += 1; jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobStarts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    c(1) += 1
    val m = e.taskMetrics
    if (m != null) {
      c(2) += m.executorRunTime
      c(3) += m.executorCpuTime
      c(4) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c(5) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime(); body; c(6) += System.nanoTime() - t0
  }

  /** (jobs, tasks, task_ms, task_cpu_ns, shuffle_bytes, spill_bytes, self_ns). */
  def snapshot(): Array[Long] = synchronized(c.clone())
  def intervalCount: Int = synchronized(intervals.size)
  def intervalsFrom(i: Int): Seq[(Long, Long)] = synchronized(intervals.drop(i).toVector)
}

/** JVM and host readings for the steady-state guard and the drift record. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def allocBytes: Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Used heap after three full collections, in MB. The pauses let Spark's
    * ContextCleaner drop the blocks and shuffles of collected RDDs, which it
    * does asynchronously after a collection finds them unreachable.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat;
    * zeros where the file is absent.
    */
  def cpuJiffies(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) return (0L, 0L)
    val src = scala.io.Source.fromFile(f)
    try {
      val cols = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (cols.length > 7) cols(7) else 0L, cols.sum)
    } finally src.close()
  }

  /** A fixed CPU loop; its time tracks the host's speed, not graft's. */
  def cpuLoopMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("unreachable")
    (System.nanoTime() - t0) / 1e6
  }
}
