package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** What one workload run hands back to the harness. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  var attempted = 0L
  var failed = 0L
  /** Every span of a traced run, with self time and Spark work. */
  var spans: org.json4s.JValue = org.json4s.JNothing

  /** Runs one operation, counting it as attempted, and failed if it
    * throws. A failure is rethrown: the run stops at the first one.
    */
  def op[T](body: => T): T = {
    attempted += 1
    try body catch { case t: Throwable => failed += 1; throw t }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads, since it started. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Wall and process CPU seconds of `body`. */
  def took[T](body: => T): (T, Took) = {
    val c0 = cpuSeconds
    val (r, wall) = timed(body)
    (r, Took(wall, cpuSeconds - c0))
  }
}

/** A fixed CPU kernel that measures how fast this host runs JVM code right
  * now: `threads` threads each sort seeded arrays of longs, and the result
  * is the CPU seconds those threads used. On a shared host the CPU time of
  * fixed work moves with co-tenant load; dividing a workload's CPU seconds
  * by this kernel's, measured in the same run, cancels that movement.
  */
object Calibration {
  private val taken = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Measures the kernel now and keeps the result: workloads sample it
    * between their timed steps, so the run's calibration sees the host as
    * it was while they ran.
    */
  def sample(threads: Int): Unit = {
    val s = cpuSeconds(threads)
    taken.synchronized(taken += s)
  }

  def samples: Seq[Double] = taken.synchronized(taken.toSeq)

  def cpuSeconds(threads: Int): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val used = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        val c0 = mx.getCurrentThreadCpuTime
        val r = new java.util.SplittableRandom(i)
        (1 to 4).foreach(_ => java.util.Arrays.sort(Array.fill(500000)(r.nextLong())))
        used.addAndGet(mx.getCurrentThreadCpuTime - c0)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    used.get / 1e9
  }
}

/** Wall seconds and the CPU seconds every thread of the JVM used meanwhile.
  * On a shared host the wall time swings with CPU taken by other tenants
  * (steal); the CPU time does not, so the gated metrics are CPU seconds.
  */
final case class Took(wall: Double, cpu: Double) {
  def +(o: Took): Took = Took(wall + o.wall, cpu + o.cpu)
}

object Took {
  val zero: Took = Took(0, 0)
  def sum(xs: Seq[Took]): Took = xs.foldLeft(zero)(_ + _)
}

object Files2 {
  /** Bytes and data files (not Spark's hidden markers) under a directory. */
  def usage(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p)).toSeq
      val data = files.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
      (files.map(Files.size).sum, data.size.toLong)
    }
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def write(path: String, text: String): Unit = {
    val p: Path = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }
}

object Plans {
  /** (files, bytes) the file scans of an executed query read. */
  def scanned(df: DataFrame): (Long, Long) = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    def metric(f: FileSourceScanExec, k: String): Long =
      f.metrics.get(k).map(_.value).getOrElse(0L)
    (ss.map(metric(_, "numFiles")).sum, ss.map(metric(_, "filesSize")).sum)
  }
}

object Heap {
  /** A full collection before a timed operation, so that it pays for its
    * own garbage only and its young collections fall alike on every run.
    */
  def collect(): Unit = System.gc()

  /** Driver heap in use after full collections, in MB. Block-manager
    * storage of a local-mode session lives on this heap.
    */
  def retainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Counts the calls, bytes and latency of every fetch made through it. */
final class FetchCounter {
  private val lock = new Object
  private var bytes = 0L
  private val fetchMs = mutable.ArrayBuffer.empty[Double]

  def timed[T](f: => T)(payload: T => String): T = {
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    lock.synchronized {
      bytes += payload(r).getBytes("UTF-8").length
      fetchMs += ms
    }
    r
  }

  /** (bytes so far, fetches so far). */
  def snapshot: (Long, Int) = lock.synchronized((bytes, fetchMs.size))
  def msSince(i: Int): Seq[Double] = lock.synchronized(fetchMs.drop(i).toSeq)
}
