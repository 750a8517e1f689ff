package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Workload parameters, as the harness passes them in `params.json`. */
final class Params(fields: Map[String, JValue]) {
  private def get(k: String): JValue =
    fields.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def int(k: String): Int = get(k) match {
    case JInt(v) => v.toInt
    case v => throw new IllegalArgumentException(s"$k is not an integer: $v")
  }
}

object Params {
  def read(path: String): Params = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    JsonMethods.parse(text) match {
      case JObject(fs) => new Params(fs.toMap)
      case other => throw new IllegalArgumentException(s"params must be an object: $other")
    }
  }
}

/** Stops a run whose timed work runs past `seconds`: the work of a run is
  * fixed by its inputs, so a run that falls this far behind is reported as
  * failed rather than cut short.
  */
final class Deadline(seconds: Double) {
  private val end = System.nanoTime() + (seconds * 1e9).toLong
  def check(what: String): Unit =
    if (System.nanoTime() > end)
      throw new IllegalStateException(s"deadline of $seconds s passed before $what")
}

object Deadline {
  /** The deadline of a timed loop sized to take about `seconds` on an
    * unloaded host; a shared host has run it at half that speed.
    */
  def of(seconds: Double): Deadline = new Deadline(6 * seconds)
}

/** Metric assembly shared by the workloads. */
object Common {
  /** Dashboard loads after each timed step (medallion_daily) or after the
    * timed work (the others). A load takes a fraction of a CPU second, so
    * read_cpu_s is the median of several.
    */
  val Loads = 5

  /** `<prefix>_cpu_s`, the median CPU seconds of the samples, and for the
    * log their count, median wall time and maximum wall time. No run takes
    * the twenty samples a percentile above the median needs to have ten
    * samples beyond it, so no tail is reported as a metric.
    */
  def latencies(res: Result, prefix: String, xs: Seq[Took]): Unit = {
    res.metrics(s"${prefix}_cpu_s") = Stats.median(xs.map(_.cpu))
    res.info(s"${prefix}_n") = xs.size
    res.info(s"${prefix}_wall_p50_s") = Stats.median(xs.map(_.wall))
    res.info(s"${prefix}_wall_max_s") = xs.map(_.wall).max
  }

  /** `spark.*` per step (median over the step spans, each with its whole
    * subtree), the leak gauge after the last span, and step self time.
    */
  def perStep(t: Tracer, steps: Seq[Span], res: Result): Unit = {
    val m = res.metrics
    val st = steps.map(s => (s, t.statsOf(s)))
    def med(f: ((Span, SparkStats)) => Double) = Stats.median(st.map(f))
    m("spark.jobs") = med(_._2.jobs.toDouble)
    m("spark.stages") = med(_._2.stages.toDouble)
    m("spark.tasks") = med(_._2.tasks.toDouble)
    m("spark.task_s") = med(_._2.taskMs / 1000.0)
    m("spark.floor_s") = med { case (s, x) => t.floorSeconds(s, x) }
    m("spark.ms_per_job") = med { case (s, x) => 1000.0 * s.seconds / math.max(1L, x.jobs) }
    m("spark.input_bytes") = med(_._2.inputBytes.toDouble)
    m("spark.output_bytes") = med(_._2.outputBytes.toDouble)
    m("spark.shuffle_read_bytes") = med(_._2.shuffleRead.toDouble)
    m("spark.shuffle_write_bytes") = med(_._2.shuffleWrite.toDouble)
    m("spark.spill_bytes") = med(_._2.spillBytes.toDouble)
    m("spark.gc_s") = med(_._2.gcMs / 1000.0)
    val last = t.gauge.maxByOption(_._1).map(_._2).getOrElse((0, 0L))
    m("graftplan.persisted_rdds") = last._1.toDouble
    m("graftplan.storage_mb") = last._2 / 1048576.0
    m("trace.step_self_s") = Stats.median(steps.map(t.selfSeconds))
    res.spans = spansJson(t)
  }

  /** Runs the workload's maintenance operation and returns its time. A
    * traced run runs it three times and traces only the second: the first
    * absorbs what is still cold, and the CPU ratio of the second to the
    * third, minus one, is the tracing overhead. The tracer is closed
    * afterwards.
    */
  def maintenance(t: Tracer, res: Result)(body: => Unit): Seq[Took] = {
    val xs = (1 to (if (t.enabled) 3 else 1)).map { j =>
      if (j == 2) t.resume() else t.pause()
      Heap.collect()
      res.op(Stats.took(t.span("maint")(body))._2)
    }
    t.close()
    if (t.enabled) res.metrics("trace.overhead_frac") = xs(1).cpu / xs(2).cpu - 1.0
    xs
  }

  /** The per-call floor as counts: `jobs_per_step`, the Spark jobs a step
    * submits, and `round_trips_per_step`, those jobs plus the HTTP requests
    * the stand-in answered during the step (retries included), both means
    * over the timed steps.
    */
  def roundTrips(res: Result, jobs: Seq[Long], gets: Seq[Long]): Unit = {
    res.metrics("jobs_per_step") = jobs.sum.toDouble / jobs.size
    res.metrics("round_trips_per_step") = (jobs.sum + gets.sum).toDouble / jobs.size
    res.info("http_gets_per_step") = gets.sum.toDouble / jobs.size
  }

  /** Every span with its self time and attributed Spark work. */
  def spansJson(t: Tracer): JValue = JArray(t.spans.toList.map { s =>
    val st = t.statsOf(s)
    val (rdds, storage) = t.gauge.getOrElse(s.id, (0, 0L))
    JObject(
      "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
      "step" -> JInt(s.step), "start_ms" -> JDouble(s.start), "end_ms" -> JDouble(s.end),
      "seconds" -> JDouble(s.seconds), "self_s" -> JDouble(t.selfSeconds(s)),
      "jobs" -> JLong(st.jobs), "stages" -> JLong(st.stages), "tasks" -> JLong(st.tasks),
      "task_s" -> JDouble(st.taskMs / 1000.0), "floor_s" -> JDouble(t.floorSeconds(s, st)),
      "input_bytes" -> JLong(st.inputBytes), "output_bytes" -> JLong(st.outputBytes),
      "shuffle_read_bytes" -> JLong(st.shuffleRead),
      "shuffle_write_bytes" -> JLong(st.shuffleWrite),
      "spill_bytes" -> JLong(st.spillBytes), "gc_s" -> JDouble(st.gcMs / 1000.0),
      "persisted_rdds" -> JInt(rdds), "storage_bytes" -> JLong(storage))
  })
}
