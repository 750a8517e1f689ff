package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, desc, lit, pmod, sum}

import graft.text.{Corpus, TextDedup}

/** `corpus_build`: the LLM-data path. The step is one corpus build (the
  * q220 chain) followed by the near-duplicate pairs and the clusters of the
  * 80% history; the maintenance operation is cluster maintenance as in q188
  * and q201: resume with the 20% delta, then forget of a takedown set. Every
  * call's output is committed as parquet; the first maintenance run's
  * labels are the ones checked.
  */
final class CorpusBuild(spark: SparkSession, docs: DataFrame) {
  private val isOld = (c: Column) => pmod(c, lit(10)) < 8
  /** The near-duplicate pairs, materialized by [[step]]. */
  var pairs: DataFrame = _

  private def timed(t: Tracer, res: Result, name: String)(body: => Unit): Took =
    res.op(Stats.took(t.span(name)(body))._2)

  /** One corpus build, committed to `out`. */
  def build(t: Tracer, out: String, res: Result): Took =
    timed(t, res, "text.corpus_build") {
      // q220's arguments, so its oracle applies
      Corpus.corpusBuild(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        weights = Map("src0" -> 0.4, "src1" -> 0.2, "src2" -> 0.1,
          "src3" -> 0.05, "src4" -> 0.025),
        tokenBudget = 5000).write.parquet(out)
    }

  /** Times of build, pairs and clusters. */
  def step(t: Tracer, root: String, res: Result): Seq[Took] = {
    val build = this.build(t, s"$root/corpus", res)
    val pairsS = timed(t, res, "text.pairs") {
      pairs = TextDedup.nearDupPairs(docs, threshold = 0.5).localCheckpoint()
    }
    val clusters = timed(t, res, "text.clusters") {
      TextDedup.dedupClusters(pairs.filter(isOld(col("doc_a")) && isOld(col("doc_b"))))
        .write.parquet(s"$root/labels_history")
    }
    Seq(build, pairsS, clusters)
  }

  /** Resume with the delta's pairs, then forget the takedown set; `sfx`
    * names the outputs.
    */
  def maintain(t: Tracer, root: String, sfx: String, res: Result): Unit = {
    val all = pairs
    // the survivors' pairs are the full pair set restricted to them
    val restrictTo = (d: DataFrame) => {
      val ids = d.select(col("doc_id"))
      all
        .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    }
    timed(t, res, "text.resume") {
      TextDedup.dedupClustersResume(spark.read.parquet(s"$root/labels_history"),
        all.filter(!(isOld(col("doc_a")) && isOld(col("doc_b")))))
        .write.parquet(s"$root/labels$sfx")
    }
    timed(t, res, "text.forget") {
      TextDedup.dedupClustersForget(spark.read.parquet(s"$root/labels$sfx"), docs,
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
        restrictTo).write.parquet(s"$root/labels_forgotten$sfx")
    }
  }

  /** One dashboard load over the step's committed outputs: three reads. */
  def reads(t: Tracer, root: String, k: Int, res: Result): Seq[Took] =
    Seq[(String, () => DataFrame)](
      "reads.pack" -> (() => spark.read.parquet(s"$root/corpus")
        .filter(col("pack_id") === k)),
      "reads.shard_tokens" -> (() => spark.read.parquet(s"$root/corpus")
        .groupBy(col("shard")).agg(sum(col("n_tokens")))),
      "reads.largest_clusters" -> (() => spark.read.parquet(s"$root/labels_history")
        .groupBy(col("cluster_id")).count().orderBy(desc("count"), col("cluster_id"))
        .limit(10))
    ).map { case (name, q) =>
      val df = q()
      res.op(Stats.took(t.span(name)(df.collect()))._2)
    }
}

object CorpusBuild {
  /** Documents of the warm-up step and dashboard load: enough for every
    * stage to run. The warm-up leaves the maintenance calls out to keep the
    * run short; they share most plans with the clusters call, and their
    * first-call cost is about a seventh of maint_cpu_s.
    */
  val WarmupDocs = 500

  /** Corpus builds per run. The CPU of one build spreads about a tenth
    * within a run, so cpu_ms_per_row is the mean of two, which spreads less
    * across runs than one; a third would add about 7 s to a run.
    */
  val Builds = 2

  def run(spark: SparkSession, work: String, input: String, p: Params,
          seconds: Double, trace: Boolean, res: Result): Unit = {
    val docs = spark.read.parquet(s"$input/documents.parquet")
    val (nDocs, loadS) = Stats.timed(docs.count())
    val warmS = Stats.timed {
      val w = new CorpusBuild(spark, docs.filter(col("doc_id") < CorpusBuild.WarmupDocs))
      val off = new Tracer(spark, false)
      w.step(off, s"$work/warmup", new Result)
      w.reads(off, s"$work/warmup", 0, new Result)
    }._2
    res.info("setup_load_s") = loadS
    res.info("setup_warmup_s") = warmS
    res.metrics("setup_in_jvm_s") = Stats.cpuSeconds
    val c = new CorpusBuild(spark, docs)
    val root = s"$work/root"
    Calibration.sample(p.int("nproc"))
    val deadline = Deadline.of(seconds)
    val jobs = new StepJobs(spark)
    val t = new Tracer(spark, enabled = trace)
    t.setStep(0)
    Heap.collect()
    val cycle = t.span("cycle")(jobs.step(0)(c.step(t, root, res)))
    Calibration.sample(p.int("nproc"))
    // jobs_per_step counts the jobs of every timed call: the step's alone
    // swing with each seed's near-duplicate graph, which sets how many
    // rounds the clusters fixpoint runs
    val reads = (0 until Common.Loads).map { k =>
      Heap.collect()
      Took.sum(jobs.step(0)(c.reads(t, root, k, res)))
    }
    var j = 0
    val maint = Common.maintenance(t, res) {
      j += 1
      deadline.check(s"maintenance $j")
      // the first repetition writes the labels that are checked
      jobs.step(0)(c.maintain(t, root, if (j == 1) "" else s"_$j", res))
    }
    Calibration.sample(p.int("nproc"))
    // cpu_ms_per_row is the mean of the step's build and the later ones,
    // which run last so that the step, the reads and the maintenance are
    // timed as in a run with one build; their outputs are not kept
    val builds = cycle.head +: (1 until CorpusBuild.Builds).map { j =>
      deadline.check(s"build ${j + 1}")
      Heap.collect()
      val x = jobs.step(0)(c.build(t, s"$work/rebuild$j", res))
      Files2.delete(s"$work/rebuild$j")
      x
    }
    jobs.settle()
    Common.roundTrips(res, Seq(jobs.jobs(0)), Seq(0L))
    jobs.close()
    val m = res.metrics
    Common.latencies(res, "step", Seq(Took.sum(cycle)))
    Common.latencies(res, "read", reads)
    Common.latencies(res, "maint", maint)
    m("cpu_ms_per_row") = 1000.0 * builds.map(_.cpu).sum / builds.size / nDocs
    res.info("rows_per_s") = nDocs * builds.size / builds.map(_.wall).sum
    res.info("build_cpu_s") = builds.map(_.cpu).mkString(",")
    m("stored_bytes_per_row") = Files2.usage(root)._1.toDouble / nDocs
    m("heap_retained_mb") = Heap.retainedMb()
    res.info("docs") = nDocs
    res.info("root") = root
    if (trace) {
      val calls = Seq("corpus_build", "pairs", "clusters", "resume", "forget")
      calls.foreach { call =>
        // the traced repetition of resume and forget; the others are not
        val s = t.spans.find(_.name == s"text.$call").get
        val st = t.statsOf(s)
        m(s"text.${call}_s") = s.seconds
        m(s"text.${call}_jobs") = st.jobs.toDouble
        m(s"text.${call}_shuffle_bytes") = (st.shuffleRead + st.shuffleWrite).toDouble
      }
      m("text.pairs") = c.pairs.count().toDouble
      m("text.clusters") = spark.read.parquet(s"$root/labels")
        .select(col("cluster_id")).distinct().count().toDouble
      val rs = t.spans.filter(_.name.startsWith("reads.")).toSeq.grouped(3).toSeq
      m("reads.s") = Stats.median(rs.map(_.map(_.seconds).sum))
      m("reads.jobs") = Stats.median(rs.map(_.map(t.statsOf(_).jobs).sum.toDouble))
      Common.perStep(t, t.spans.filter(_.name == "cycle").toSeq, res)
    }
  }
}
