package perfbench

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.ops.Windows
import graft.pipeline.Medallion
import graft.sources.{HttpPagedSource, PagedSource}

/** `medallion_daily`: the batch medallion path replayed one day per step.
  * A step pulls every media's day feed over HTTP, writes bronze, fetches
  * the media metadata, refreshes dim and fact (silver) and the day's gold
  * rollup. The dashboard reads run after each step against the freshly
  * committed tables.
  */
final class Daily(spark: SparkSession, val served: Served, standIn: StandIn,
                  pageSize: Int, nproc: Int) {
  private val media = served.mediaIds
  val days: Seq[String] = served.days
  val counter = new FetchCounter
  @volatile private var feed = ""
  // One client for every pull: pulls are sequential and the feed is picked
  // per call, so the benchmark holds one connection to the stand-in.
  private val api: PagedSource.PagedApi = {
    val http = HttpPagedSource.retryingApi(p => s"${standIn.base}/feeds/$feed?page=$p")
    (p: Long) => counter.timed(http.fetch(p))(_.payload)
  }
  private val metaClient = HttpPagedSource.sharedClient()

  /** One day, from the first page served to gold committed. */
  def step(t: Tracer, layout: Medallion.Layout, day: String): Took =
    Stats.took(t.span("step") {
      val pulls = t.span("sources.pull") {
        media.map { m =>
          feed = s"$m/$day"
          m -> PagedSource.pull(api, PagedSource.Checkpoint(), Long.MaxValue,
            Long.MaxValue, pageSize)
        }
      }
      t.span("bronze") {
        pulls.foreach { case (m, r) => Medallion.writeBronzePages(spark, layout, m, day, r) }
      }
      val metaDir = s"${layout.bronzeMeta}/dt=$day"
      t.span("sources.meta") {
        media.foreach { m =>
          val body = counter.timed(HttpPagedSource.fetchObject(
            s"${standIn.base}/media/$m", client = Some(metaClient)))(identity)
          Files2.write(s"$metaDir/$m.json", body)
        }
      }
      t.span("silver.dim") { Medallion.refreshDimMedia(spark, layout, metaDir) }
      t.span("silver.fact") { Medallion.refreshFactEvents(spark, layout) }
      t.span("gold") {
        Medallion.refreshDailyAgg(spark, layout, Some(Seq(Date.valueOf(day))))
      }
    })._2

  /** The dashboard read mix after step `k`, one dashboard load: each
    * read's time and the files and bytes its scans read (counted only when
    * tracing).
    */
  def reads(t: Tracer, layout: Medallion.Layout, k: Int, res: Result)
      : Seq[(Took, Long, Long)] = {
    val m = media(k % media.size)
    def gold = spark.read.parquet(layout.dailyAgg)
    Seq[(String, () => DataFrame)](
      "reads.rolling" -> (() =>
        Windows.rollingSum(gold, Seq("media_id"), "dt", "load_count", 7)),
      "reads.day_over_day" -> (() =>
        Windows.dayOverDay(gold, Seq("media_id"), "dt", "sum_viewed")),
      "reads.fact_slice" -> (() => spark.read.parquet(layout.factEvents)
        .filter(col("media_id") === m && col("dt") === lit(Date.valueOf(days(k)))))
    ).map { case (name, q) =>
      val df = q()
      val took = res.op(Stats.took(t.span(name)(df.collect()))._2)
      val (files, bytes) = if (t.enabled) Plans.scanned(df) else (0L, 0L)
      (took, files, bytes)
    }
  }

  /** Steps through the days after the first (the warm-up day), loading the
    * dashboard after each. The number of days is fixed by the
    * inputs; `deadline` only stops a run that falls far behind. Returns
    * per-step times, every dashboard load's reads, each step's HTTP GETs
    * as the stand-in served them, and the time of all steps and reads.
    */
  def loop(t: Tracer, jobs: StepJobs, root: String, deadline: Deadline, res: Result): (Seq[Took], Seq[Seq[(Took, Long, Long)]], Seq[Long], Took) = {
    val layout = Medallion.Layout(root)
    val steps = Seq.newBuilder[Took]
    val reads = Seq.newBuilder[Seq[(Took, Long, Long)]]
    val gets = Seq.newBuilder[Long]
    for (i <- 1 until days.size) {
      deadline.check(s"day $i")
      t.setStep(i)
      val g0 = standIn.gets.get()
      Heap.collect()
      steps += res.op(jobs.step(i)(step(t, layout, days(i))))
      gets += standIn.gets.get() - g0
      Calibration.sample(nproc)
      (1 to Common.Loads).foreach { _ =>
        Heap.collect()
        reads += this.reads(t, layout, i, res)
      }
    }
    // the loop's time is its steps and reads, without the kernel samples
    val loop = Took.sum(steps.result() ++ reads.result().flatMap(_.map(_._1)))
    (steps.result(), reads.result(), gets.result(), loop)
  }
}

object Daily {
  def run(spark: SparkSession, work: String, input: String, p: Params,
          seconds: Double, trace: Boolean, res: Result): Unit = {
    val pageSize = p.int("page_size")
    val (served, loadS) = Stats.timed(Served.load(input))
    val standIn = new StandIn(served, p.int("nproc"))
    try {
      val d = new Daily(spark, served, standIn, pageSize, p.int("nproc"))
      val root = s"$work/root"
      val layout = Medallion.Layout(root)
      val warmS = Stats.timed {
        val off = new Tracer(spark, enabled = false)
        d.step(off, layout, d.days.head)
        d.reads(off, layout, 0, new Result)
      }._2
      res.info("setup_load_s") = loadS
      res.info("setup_warmup_s") = warmS
      res.metrics("setup_in_jvm_s") = Stats.cpuSeconds
      val warmRows = spark.read.parquet(layout.factEvents).count()
      Calibration.sample(p.int("nproc"))
      val jobs = new StepJobs(spark)
      val t = new Tracer(spark, enabled = trace)
      val c0 = d.counter.snapshot
      val (steps, reads, gets, loop) =
        d.loop(t, jobs, root, Deadline.of(seconds), res)
      val factRows = spark.read.parquet(layout.factEvents).count()
      val qRows = spark.read.parquet(layout.quarantine).count()
      // maintenance: re-run silver and gold for the last day; the watermark
      // and the anti-join must make it a no-op
      val last = d.days.last
      val maint = Common.maintenance(t, res) {
        Medallion.refreshFactEvents(spark, layout)
        Medallion.refreshDailyAgg(spark, layout, Some(Seq(Date.valueOf(last))))
      }
      res.checks("rerun_appends_nothing") =
        spark.read.parquet(layout.factEvents).count() == factRows &&
          spark.read.parquet(layout.quarantine).count() == qRows
      jobs.settle()
      Common.roundTrips(res, steps.indices.map(i => jobs.jobs(i + 1)), gets)
      jobs.close()
      Common.latencies(res, "step", steps)
      Common.latencies(res, "read", reads.map(r => Took.sum(r.map(_._1))))
      Common.latencies(res, "maint", maint)
      res.metrics("cpu_ms_per_row") = 1000.0 * loop.cpu / (factRows - warmRows)
      res.info("rows_per_s") = (factRows - warmRows) / loop.wall
      res.metrics("stored_bytes_per_row") = Files2.usage(root)._1.toDouble / factRows
      res.metrics("heap_retained_mb") = Heap.retainedMb()
      res.info("fact_rows") = factRows
      res.info("timed_wall_s") = loop.wall
      res.info("root") = root
      res.info("days") = d.days.mkString(",")
      if (trace) perLayer(spark, d, t, root, steps, reads, gets, c0, res)
    } finally standIn.close()
  }

  private def perLayer(spark: SparkSession, d: Daily, t: Tracer, root: String,
                       steps: Seq[Took], reads: Seq[Seq[(Took, Long, Long)]],
                       gets: Seq[Long], c0: (Long, Int), res: Result): Unit = {
    val m = res.metrics
    val layout = Medallion.Layout(root)
    val stepSpans = t.spans.filter(_.name == "step").toSeq
    def kids(s: Span, names: Seq[String]) =
      t.spans.filter(k => k.parent == s.id && names.contains(k.name)).toSeq
    def secs(names: String*) = Stats.median(stepSpans.map(kids(_, names).map(_.seconds).sum))
    def stat(names: String*)(f: SparkStats => Double) = Stats.median(stepSpans.map { s =>
      val st = new SparkStats
      kids(s, names).foreach(k => st.add(t.statsOf(k)))
      f(st)
    })
    val days = d.days.tail
    // GETs as the stand-in served them; bytes and latency as the client saw them
    val (bytes0, fetches0) = c0
    m("sources.pull_s") = secs("sources.pull", "sources.meta")
    m("sources.http_gets") = Stats.median(gets.map(_.toDouble))
    m("sources.bytes_fetched") = (d.counter.snapshot._1 - bytes0).toDouble / steps.size
    m("sources.fetch_ms_p50") = Stats.median(d.counter.msSince(fetches0))
    m("bronze.s") = secs("bronze")
    m("bronze.jobs") = stat("bronze")(_.jobs)
    m("bronze.files") = Stats.median(days.map(day => d.served.mediaIds.map(mid =>
      Files2.usage(s"${layout.bronzeEvents}/media_id=$mid/dt=$day")._2).sum.toDouble))
    m("bronze.bytes_written") = stat("bronze")(_.outputBytes)
    m("silver.s") = secs("silver.fact")
    m("silver.dim_s") = secs("silver.dim")
    m("silver.jobs") = stat("silver.fact", "silver.dim")(_.jobs)
    m("silver.floor_s") = Stats.median(stepSpans.map(s =>
      kids(s, Seq("silver.fact")).map(k => t.floorSeconds(k, t.statsOf(k))).sum))
    m("silver.bytes_scanned") = stat("silver.fact")(_.inputBytes)
    // lineage: a day's events land in that day's fact partition
    val appended = spark.read.parquet(layout.factEvents).groupBy(col("dt")).count()
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val feeds = days.map(day => d.served.feeds.values.filter(_.day == day))
    m("silver.rows_appended") = Stats.median(days.map(appended.getOrElse(_, 0L).toDouble))
    m("silver.rows_deduped") = Stats.median(days.zip(feeds).map { case (day, fs) =>
      (fs.map(_.events.sum).sum - appended.getOrElse(day, 0L)).toDouble })
    m("silver.pages_quarantined") = feeds.map(_.count(_.corrupt)).sum.toDouble
    m("gold.s") = secs("gold")
    m("gold.jobs") = stat("gold")(_.jobs)
    m("gold.bytes_scanned") = stat("gold")(_.inputBytes)
    m("gold.files") = Files2.usage(layout.dailyAgg)._2.toDouble
    // one dashboard load is three consecutive read spans
    val loads = t.spans.filter(_.name.startsWith("reads.")).toSeq.grouped(3).toSeq
    m("reads.s") = Stats.median(loads.map(_.map(_.seconds).sum))
    m("reads.jobs") = Stats.median(loads.map(_.map(t.statsOf(_).jobs).sum.toDouble))
    m("reads.files_scanned") = Stats.median(reads.map(_.map(_._2).sum.toDouble))
    m("reads.bytes_scanned") = Stats.median(reads.map(_.map(_._3).sum.toDouble))
    Common.perStep(t, stepSpans, res)
  }
}
