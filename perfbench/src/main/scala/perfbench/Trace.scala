package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: counts, task time and the wall-clock
  * intervals during which its tasks ran.
  */
final class SparkStats {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs = 0L
  var inputBytes, outputBytes, shuffleRead, shuffleWrite, spillBytes = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spillBytes += o.spillBytes
    taskIntervals ++= o.taskIntervals
  }
}

/** One traced call into a layer. Times are epoch milliseconds as doubles
  * (nanosecond resolution), so they compare with Spark's task times.
  */
final case class Span(id: Int, name: String, parent: Int, step: Int,
                      start: Double, var end: Double = Double.NaN) {
  def seconds: Double = (end - start) / 1000.0
}

/** Attributes every Spark job to the span that submitted it, through the
  * `perfbench.span` local property the tracer sets around each call.
  */
final class JobListener extends SparkListener {
  val stats = new ConcurrentHashMap[String, SparkStats]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def of(key: String): SparkStats =
    stats.computeIfAbsent(key, _ => new SparkStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val p = Option(e.properties)
    // a stream's jobs carry the span that started the query, and their batch
    val key = p.flatMap(x => Option(x.getProperty(JobListener.SpanKey)))
      .getOrElse("untracked") +
      p.flatMap(x => Option(x.getProperty(StepJobs.BatchKey))).fold("")("/b" + _)
    val s = of(key)
    s.synchronized(s.jobs += 1)
    e.stageIds.foreach(stageKey.put(_, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = of(stageKey.getOrDefault(e.stageInfo.stageId, "untracked"))
    s.synchronized(s.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = of(stageKey.getOrDefault(e.stageId, "untracked"))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Listener events arrive asynchronously; task ends are queued before
    * their job's end, so once every started job has ended, every task
    * event of those jobs has been seen.
    */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

object JobListener { val SpanKey = "perfbench.span" }

/** Counts the Spark jobs each step submits, in traced and untraced runs
  * alike. A job belongs to the step named by the `perfbench.step` local
  * property the workload sets around a step, or, on a stream's thread, to
  * the micro-batch Spark names in `streaming.sql.batchId`.
  */
final class StepJobs(spark: SparkSession) extends SparkListener with AutoCloseable {
  private val sc = spark.sparkContext
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val started = new AtomicLong
  private val ended = new AtomicLong
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    Option(e.properties).foreach { p =>
      Option(p.getProperty(StepJobs.StepKey))
        .orElse(Option(p.getProperty(StepJobs.BatchKey)).map("batch" + _))
        .foreach(k => counts.computeIfAbsent(k, _ => new AtomicLong).incrementAndGet())
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  /** Runs `body` as step `i`. */
  def step[T](i: Int)(body: => T): T = {
    sc.setLocalProperty(StepJobs.StepKey, s"step$i")
    try body finally sc.setLocalProperty(StepJobs.StepKey, null)
  }

  /** Jobs of step `i`, or of micro-batch `i` with `batch = true`; call
    * [[settle]] first.
    */
  def jobs(i: Long, batch: Boolean = false): Long =
    Option(counts.get((if (batch) "batch" else "step") + i)).map(_.get).getOrElse(0L)

  /** Waits until the listener has seen the end of every job it saw start,
    * and no new job for 200 ms: an action's events are queued before it
    * returns, but delivered later.
    */
  def settle(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var seen = -1L
    while ((ended.get() < started.get() || seen != started.get()) &&
        System.currentTimeMillis() < deadline) {
      seen = started.get()
      Thread.sleep(200)
    }
  }

  override def close(): Unit = sc.removeSparkListener(this)
}

object StepJobs {
  val StepKey = "perfbench.step"
  val BatchKey = "streaming.sql.batchId"
}

/** Span recorder. When disabled, or paused, `span` only runs its body and
  * no listener is registered; when enabled, spans are kept in memory, Spark
  * work is attributed to them, and the persisted-RDD gauge is sampled after
  * each.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  val jobs = new JobListener
  /** (persisted RDDs, storage bytes) sampled after each span, by span id. */
  val gauge = scala.collection.mutable.Map.empty[Int, (Int, Long)]
  private var stack: List[Int] = Nil
  private var stepNo = -1

  private var active = false
  resume()

  /** Starts recording (again). */
  def resume(): Unit = if (enabled && !active) {
    sc.addSparkListener(jobs)
    active = true
  }

  /** Stops recording until [[resume]]; `close` is a final pause. */
  def pause(): Unit = if (active) {
    jobs.drain()
    sc.removeSparkListener(jobs)
    active = false
  }

  def close(): Unit = pause()

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with the monotonic clock's resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def setStep(i: Int): Unit = stepNo = i

  def span[T](name: String)(body: => T): T = if (!active) body else {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), stepNo, nowMs)
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(JobListener.SpanKey, s.id.toString)
    try body
    finally {
      s.end = nowMs
      stack = stack.tail
      sc.setLocalProperty(JobListener.SpanKey,
        stack.headOption.map(_.toString).orNull)
      val infos = sc.getRDDStorageInfo
      gauge(s.id) = (sc.getPersistentRDDs.size,
        infos.map(i => i.memSize + i.diskSize).sum)
    }
  }

  /** Adds a span that [[span]] did not record, such as a stream's
    * micro-batch, with the Spark work the listener keyed `key`.
    */
  def record(name: String, parent: Span, step: Int, start: Double, end: Double,
             key: String): Span = {
    val s = Span(spans.size, name, parent.id, step, start, end)
    spans += s
    Option(jobs.stats.remove(key)).foreach(jobs.stats.put(s.id.toString, _))
    s
  }

  /** Span time not covered by its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    (s.end - s.start - Tracer.union(kids, s.start, s.end)) / 1000.0
  }

  /** Spark work of a span and all its descendants. */
  def statsOf(s: Span): SparkStats = {
    val out = new SparkStats
    def go(id: Int): Unit = {
      Option(jobs.stats.get(id.toString)).foreach(out.add)
      spans.filter(_.parent == id).foreach(k => go(k.id))
    }
    go(s.id)
    out
  }

  /** Seconds of a span during which no task of its own work was running. */
  def floorSeconds(s: Span, st: SparkStats): Double =
    (s.end - s.start - Tracer.union(
      st.taskIntervals.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq,
      s.start, s.end)) / 1000.0
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
