package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftSession, SparkEntry}

/** Benchmark entry point: one workload, one session, one result file.
  *
  *   Main --workload <name> --input <dir> --work <dir> --seconds <s>
  *        --trace <0|1> --out <result.json>
  *
  * `--input` holds the generated inputs and `params.json`; `--work` is an
  * empty directory for table roots. The result carries the metrics, the
  * output checks made in process, and what the harness needs to check the
  * outputs against DuckDB.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = a("input")
    val work = a("work")
    val p = Params.read(s"$input/params.json")
    val nproc = p.int("nproc")
    val spark = GraftSession.build(s"local[$nproc]", nproc, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    val trace = a("trace") == "1"
    var error: Option[Throwable] = None
    // the kernel's own first run compiles it; its samples come later
    Calibration.cpuSeconds(nproc)
    try {
      val run = a("workload") match {
        case "medallion_daily" => Daily.run _
        case "medallion_backfill" => Backfill.run _
        case "corpus_build" => CorpusBuild.run _
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run(spark, work, input, p, a("seconds").toDouble, trace, res)
      // CPU metrics in kernel-second units: divided by the median CPU
      // seconds the fixed calibration kernel took, sampled between the
      // workload's timed steps and once at the end of the run
      Calibration.sample(nproc)
      val calib = Stats.median(Calibration.samples)
      val factor = 1.0 / calib
      Seq("setup_in_jvm_s", "step_cpu_s", "read_cpu_s", "maint_cpu_s", "cpu_ms_per_row")
        .foreach { k =>
          res.info(s"raw_$k") = res.metrics(k)
          res.metrics(k) = res.metrics(k) * factor
        }
      res.info("calibration_cpu_s") = calib
      res.info("calibration_samples") = Calibration.samples.mkString(",")
      res.info("calibration_factor") = factor
    } catch {
      case t: Throwable =>
        error = Some(t)
        t.printStackTrace()
    }
    val oracles = Seq("q220_corpus_build", "q188_cluster_resume", "q201_cluster_forget")
    def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    val out = JObject(
      "workload" -> JString(a("workload")),
      "error" -> error.map(e => JString(e.toString): JValue).getOrElse(JNull),
      "attempted" -> JLong(res.attempted),
      "failed" -> JLong(res.failed),
      "metrics" -> JObject(res.metrics.toList.map { case (k, v) => k -> num(v) }),
      "checks" -> JObject(res.checks.toList.map { case (k, v) => k -> JBool(v) }),
      "info" -> JObject(res.info.toList.map { case (k, v) => k -> (v match {
        case d: Double => num(d)
        case n: Int => JInt(n)
        case n: Long => JLong(n)
        case o => JString(o.toString)
      }) }),
      "spans" -> res.spans,
      "oracle_sql" -> JObject(oracles.map(q => q -> JString(SparkEntry.oracleSql(q))).toList))
    Files2.write(a("out"), JsonMethods.compact(JsonMethods.render(out)))
    spark.stop()
    sys.exit(if (error.isEmpty) 0 else 1)
  }
}
