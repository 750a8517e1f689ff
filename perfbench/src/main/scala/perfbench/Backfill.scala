package perfbench

import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, desc, to_date}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.sources.{HttpPagedSource, PagedStream}
import graft.streaming.MedallionStream

/** One micro-batch as its progress event reported it, with the JVM's CPU
  * seconds when the event arrived.
  */
final case class Batch(id: Long, rows: Long, startMs: Double,
                       durations: Map[String, Long], cpuAtEnd: Double) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def seconds(phase: String): Double = durations.getOrElse(phase, 0L) / 1000.0
}

/** Keeps the progress events of a session's streaming queries. */
final class Progress extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[(UUID, Batch)]
  private val ended = scala.collection.mutable.Set.empty[UUID]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val cpu = Stats.cpuSeconds
    val p = e.progress
    val b = Batch(p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, cpu)
    synchronized(batches += ((p.runId, b)))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    synchronized(ended += e.runId)

  /** The batches of run `runId`, once its termination event has arrived:
    * events are delivered in order, so every progress event came before.
    */
  def of(runId: UUID, timeoutMs: Long = 30000L): Seq[Batch] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!synchronized(ended(runId)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    synchronized(batches.filter(_._1 == runId).map(_._2).sortBy(_.id).toSeq)
  }
}

/** `medallion_backfill`: the streaming path draining a long history. The
  * stand-in serves one feed per media; `MedallionStream.factEventsFromApi
  * SinglePassQuery` pulls it over HTTP through `PagedStream` with
  * `Trigger.AvailableNow` and writes fact and quarantine. A step is one
  * micro-batch. The streaming fact has no `dt` column, so no gold rollup
  * reads it; the run ends at fact and quarantine.
  */
final class Backfill(spark: SparkSession, served: Served, standIn: StandIn) {
  private val media = served.mediaIds
  val counter = new FetchCounter
  // one shared client and the retry schedule, as the HTTP connector runs
  private val http = HttpPagedSource.mediaApi(media,
    (m, p) => s"${standIn.base}/feeds/$m/all?page=$p")

  /** The feeds, cut after `pages` pages: a later page is served as the
    * empty page past a feed's end.
    */
  private def api(pages: Long): PagedStream.MediaPagedApi = new PagedStream.MediaPagedApi {
    def mediaIds: Seq[String] = media
    def fetch(m: String, page: Long) =
      counter.timed(http.fetch(m, if (page <= pages) page else Int.MaxValue))(_.payload)
  }

  /** Drains the first `pages` pages of every feed into `root` (from its
    * checkpoint, if one is there). Returns each micro-batch with its wall
    * and CPU time, and the drain's time from query start to termination.
    */
  def drain(t: Tracer, root: String, maxPages: Int, pages: Long, progress: Progress)
      : (Seq[(Batch, Took)], Took) = {
    val key = s"perfbench:$root"
    PagedStream.register(key, api(pages))
    try {
      val c0 = Stats.cpuSeconds
      val recorded = t.spans.size
      val (q, took) = Stats.took(t.span("streaming.drain") {
        val q = MedallionStream.factEventsFromApiSinglePassQuery(spark, key,
          s"$root/fact", s"$root/quarantine", s"$root/checkpoint",
          maxPagesPerTrigger = maxPages)
        q.awaitTermination()
        q
      })
      val batches = progress.of(q.runId)
      val cpus = c0 +: batches.map(_.cpuAtEnd)
      val timed = batches.zip(cpus.zip(cpus.tail)).map { case (b, (a, z)) =>
        (b, Took(b.seconds("triggerExecution"), z - a))
      }
      // per-batch spans under the drain's, with the jobs of each batch
      t.spans.drop(recorded).headOption.foreach { d =>
        batches.foreach(b => t.record("streaming.batch", d, b.id.toInt, b.startMs,
          b.endMs, s"${d.id}/b${b.id}"))
      }
      (timed, took)
    } finally PagedStream.unregister(key)
  }

  /** One dashboard load over the streaming fact: each read's time and the
    * files and bytes its scans read (counted only when tracing).
    */
  def reads(t: Tracer, root: String, k: Int, res: Result): Seq[(Took, Long, Long)] = {
    def fact = spark.read.parquet(s"$root/fact")
    Seq[(String, () => DataFrame)](
      "reads.media_day_counts" -> (() => fact
        .groupBy(col("media_id"), to_date(col("received_at")).as("dt")).count()),
      "reads.top_visitors" -> (() => fact.groupBy(col("visitor_key")).count()
        .orderBy(desc("count"), col("visitor_key")).limit(10)),
      "reads.visitor_slice" -> (() => fact.filter(
        col("media_id") === media(k % media.size) && col("visitor_key") === f"v$k%05d"))
    ).map { case (name, q) =>
      val df = q()
      val took = res.op(Stats.took(t.span(name)(df.collect()))._2)
      val (files, bytes) = if (t.enabled) Plans.scanned(df) else (0L, 0L)
      (took, files, bytes)
    }
  }
}

object Backfill {
  def run(spark: SparkSession, work: String, input: String, p: Params,
          seconds: Double, trace: Boolean, res: Result): Unit = {
    val (served, loadS) = Stats.timed(Served.load(input))
    val standIn = new StandIn(served, p.int("nproc"))
    val progress = new Progress
    spark.streams.addListener(progress)
    try {
      val b = new Backfill(spark, served, standIn)
      val maxPages = p.int("max_pages_per_trigger")
      val warmS = Stats.timed {
        // two pages per batch from three pages per feed: two batches, so the
        // sink's anti-join runs too
        val off = new Tracer(spark, enabled = false)
        b.drain(off, s"$work/warmup", 2, 3, progress)
        b.reads(off, s"$work/warmup", 0, new Result)
      }._2
      res.info("setup_load_s") = loadS
      res.info("setup_warmup_s") = warmS
      res.metrics("setup_in_jvm_s") = Stats.cpuSeconds
      val root = s"$work/root"
      Calibration.sample(p.int("nproc"))
      val deadline = Deadline.of(seconds)
      val jobs = new StepJobs(spark)
      val t = new Tracer(spark, enabled = trace)
      val g0 = standIn.gets.get()
      val c0 = b.counter.snapshot
      Heap.collect()
      val (batches, drain) = res.op(b.drain(t, root, maxPages, Long.MaxValue, progress))
      val gets = standIn.gets.get() - g0
      Calibration.sample(p.int("nproc"))
      jobs.settle()
      val steps = batches.filter(_._1.rows > 0)
      val stepJobs = steps.map(s => jobs.jobs(s._1.id, batch = true))
      jobs.close()
      val reads = (0 until Common.Loads).map { k =>
        Heap.collect()
        b.reads(t, root, k, res)
      }
      def count(dir: String) = spark.read.parquet(s"$root/$dir").count()
      val (factRows, qRows) = (count("fact"), count("quarantine"))
      // maintenance: replay the last micro-batch, as after a crash between
      // the sink's writes and the batch's commit: the query re-fetches its
      // page range, and the sink's anti-joins must absorb every row
      val last = batches.map(_._1.id).max
      val commits = java.nio.file.Paths.get(s"$root/checkpoint/commits")
      val maint = Common.maintenance(t, res) {
        deadline.check("maintenance")
        Seq(s"$last", s".$last.crc").foreach(f => java.nio.file.Files.deleteIfExists(commits.resolve(f)))
        val (again, _) = b.drain(t, root, maxPages, Long.MaxValue, progress)
        require(again.map(_._1.id) == Seq(last), s"expected a replay of batch $last")
      }
      Calibration.sample(p.int("nproc"))
      res.checks("replay_appends_nothing") =
        count("fact") == factRows && count("quarantine") == qRows
      Common.roundTrips(res, stepJobs, Seq(gets))
      Common.latencies(res, "step", steps.map(_._2))
      Common.latencies(res, "read", reads.map(r => Took.sum(r.map(_._1))))
      Common.latencies(res, "maint", maint)
      res.metrics("cpu_ms_per_row") = 1000.0 * drain.cpu / factRows
      res.info("rows_per_s") = factRows / drain.wall
      res.metrics("stored_bytes_per_row") = Files2.usage(root)._1.toDouble / factRows
      res.metrics("heap_retained_mb") = Heap.retainedMb()
      res.info("fact_rows") = factRows
      res.info("batches") = steps.size
      res.info("timed_wall_s") = drain.wall
      res.info("root") = root
      if (trace) perLayer(t, served, steps, stepJobs, reads, gets, c0, b, factRows, qRows, res)
    } finally {
      spark.streams.removeListener(progress)
      standIn.close()
    }
  }

  private def perLayer(t: Tracer, served: Served, steps: Seq[(Batch, Took)],
                       stepJobs: Seq[Long], reads: Seq[Seq[(Took, Long, Long)]],
                       gets: Long, c0: (Long, Int), b: Backfill, factRows: Long,
                       qRows: Long, res: Result): Unit = {
    val m = res.metrics
    val n = steps.size.toDouble
    val spans = t.spans.filter(s => s.name == "streaming.batch" &&
      steps.exists(_._1.id == s.step)).toSeq
    val (bytes0, fetches0) = c0
    m("streaming.batches") = n
    m("streaming.latest_offset_s") = Stats.median(steps.map(_._1.seconds("latestOffset")))
    m("streaming.add_batch_s") = Stats.median(steps.map(_._1.seconds("addBatch")))
    m("streaming.jobs_per_batch") = Stats.median(stepJobs.map(_.toDouble))
    // what the batch's tasks read: the fact's horizon slice for the
    // anti-join, the quarantine's batch slice and the persisted batch frames
    // (cached blocks count as input); the source itself reads no files
    val slice = spans.map(s => t.statsOf(s).inputBytes.toDouble)
    m("streaming.fact_slice_bytes") = Stats.median(slice)
    res.info("fact_slice_bytes_by_batch") = slice.map(_.toLong).mkString(",")
    m("streaming.rows_deduped") =
      (served.feeds.values.map(_.events.sum.toLong).sum - factRows).toDouble
    m("streaming.pages_quarantined") = qRows.toDouble
    m("sources.pull_s") = m("streaming.latest_offset_s")
    m("sources.http_gets") = gets / n
    m("sources.bytes_fetched") = (b.counter.snapshot._1 - bytes0) / n
    m("sources.fetch_ms_p50") = Stats.median(b.counter.msSince(fetches0).take(gets.toInt))
    val loads = t.spans.filter(_.name.startsWith("reads.")).toSeq.grouped(3).toSeq
    m("reads.s") = Stats.median(loads.map(_.map(_.seconds).sum))
    m("reads.jobs") = Stats.median(loads.map(_.map(t.statsOf(_).jobs).sum.toDouble))
    m("reads.files_scanned") = Stats.median(reads.map(_.map(_._2).sum.toDouble))
    m("reads.bytes_scanned") = Stats.median(reads.map(_.map(_._3).sum.toDouble))
    Common.perStep(t, spans, res)
  }
}
