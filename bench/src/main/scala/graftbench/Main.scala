package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: runs one workload in this JVM and writes
  * one JSON result file (see bench/README.md for every metric).
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --work <dir> --result <file>
  *   --golden <file> [--cores <n>] [--record-golden]
  */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Int,
                          traced: Boolean, data: String, work: String,
                          result: String, golden: String, cores: Int,
                          recordGolden: Boolean)

  val startNs: Long = System.nanoTime()

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 5

  /** What one run reports: metric name -> (value, unit). */
  final class Outcome {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val meta = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var mismatches = 0L

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }

    def check(what: String, expected: Fingerprint, actual: Fingerprint): Unit =
      if (expected != actual) {
        mismatches += 1
        errors += s"$what: expected ${expected.render}, got ${actual.render}"
      }

    def correct: Boolean = failed == 0 && mismatches == 0

    /** Seconds since JVM start at which each named step ended. */
    def mark(step: String): Unit =
      meta(s"t_$step") = (System.nanoTime() - startNs) / 1e9
  }

  def session(cfg: Config, master: String): SparkSession = {
    val spark = GraftSession.builder(master, cfg.cores)
      .config("spark.local.dir", s"${cfg.work}/local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cfg = Config(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("data"), kv("work"), kv("result"), kv("golden"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      args.contains("--record-golden"))
    val out = new Outcome
    out.meta ++= Seq("workload" -> cfg.workload, "seed" -> cfg.seed,
      "seconds" -> cfg.seconds, "trace" -> cfg.traced, "cores" -> cfg.cores,
      "data_dir" -> cfg.data, "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "loadavg_start" -> Env.loadavg1())
    val steal0 = Env.stealTicks()
    val trace = new Trace(cfg.traced,
      s"${cfg.workload}-${cfg.seed}-${System.currentTimeMillis()}")
    GraftSession.quietBoundedWindowWarning()
    cfg.workload match {
      case "cdc_stream" => StreamWorkload.run(cfg, out, trace)
      case w if BatchWorkload.queries.contains(w) => BatchWorkload.run(cfg, out, trace)
      case w => sys.error(s"unknown workload $w")
    }
    if (cfg.traced) out.metric("jvm.peak_rss_mb", Env.peakRssMb(), "MB")
    else out.meta("peak_rss_mb") = Env.peakRssMb()
    out.meta("loadavg_end") = Env.loadavg1()
    val steal1 = Env.stealTicks()
    out.meta("cpu_steal_pct") = 100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)
    out.meta("run_s") = (System.nanoTime() - startNs) / 1e9
    if (cfg.traced) {
      val tracePath = s"${cfg.work}/trace.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(tracePath), Json(Map(
        "run_id" -> trace.runId, "spans" -> trace.all,
        "self_times" -> trace.selfTimes)).getBytes("UTF-8"))
      out.meta("trace_file") = tracePath
    }
    val result = Json(Map(
      "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> out.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "meta" -> out.meta, "errors" -> out.errors.take(20)))
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg.result), result.getBytes("UTF-8"))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
