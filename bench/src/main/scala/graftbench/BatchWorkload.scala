package graftbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Batch workloads: a fixed set of registry queries of one family,
  * each built, planned and fully consumed, in a fixed order. The
  * tables are fixed too, so the seed changes nothing here: a shuffled
  * order moved the cold-start cost between queries and made per-query
  * latency depend on the seed more than on the program.
  *
  * The measured pass is the first one in a fresh JVM and session:
  * cold codegen and empty memo caches, as a user's job starts. More
  * set-ups follow (a new session plus the first scan of each input),
  * so set-up time is a median of `Main.SetUps`. A traced run adds one
  * untraced and one traced warm pass for the tracing overhead.
  */
object BatchWorkload {
  /** Per workload, the queries of one pass. A fixed subset of each
    * family keeps a cold pass near 20 s on 4 cores: see README.md.
    */
  val queries: Map[String, Seq[String]] = Map(
    "cdc_batch" -> Seq("cdc_changelog", "cdc_fts_messages", "cdc_geo_route",
      "cdc_latest_state", "cdc_scd2", "cdc_fts_fuzzy", "cdc_redelivery",
      "cdc_seq_gaps", "cdc_partition_skew", "cdc_enrich", "cdc_watermark_plan",
      "cdc_hot_docs"),
    "pipeline_batch" -> Seq("dedup_prefix", "dedup_minhash", "dedup_keepers_near",
      "dedup_keepers_best", "graph_pagerank", "graph_components",
      "graph_triangles", "graph_neighbor_sim"))

  private val inputs: Map[String, Seq[String]] = Map(
    "cdc_batch" -> Seq("events", "customer"),
    "pipeline_batch" -> Seq("documents", "embeddings"))

  /** The library module a query's builder lives in. */
  def module(query: String): String =
    if (query.startsWith("cdc_")) "cdc"
    else if (query.startsWith("dedup_")) "dedup"
    else "ops"

  val Modules: Seq[String] = Seq("cdc", "dedup", "ops")

  private final case class QueryTime(name: String, build: Double, plan: Double,
                                     exec: Double) {
    def total: Double = build + plan + exec
  }

  private final case class Pass(wall: Double, cpu: Double, traced: Boolean, queries: Seq[QueryTime],
                                sched: Map[String, Double], storageMb: Double)

  /** A fresh session with every input scanned once; returns its seconds. */
  private def setUp(cfg: Main.Config): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Main.session(cfg, s"local[${cfg.cores}]")
    inputs(cfg.workload).foreach(t => Fingerprint.consume(Tables.read(spark, cfg.data, t)))
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def run(cfg: Main.Config, out: Main.Outcome, trace: Trace): Unit = {
    val names = queries(cfg.workload)
    val golden = Golden.load(cfg.golden)
    val recorded = mutable.TreeMap.empty[String, Fingerprint] ++ golden
    val setups = mutable.ArrayBuffer.empty[Double]

    def pass(i: Int, traced: Boolean): Pass = {
      val (spark, setup) = setUp(cfg)
      setups += setup
      val sched = if (traced) Some(new SchedListener) else None
      sched.foreach(spark.sparkContext.addSparkListener)
      val p0 = System.nanoTime()
      val c0 = Env.cpuS()
      val times = trace.span(if (traced) "pass" else "pass_untraced", Map("pass" -> i.toString)) {
        names.flatMap { q =>
          out.attempted += 1
          try {
            val (t, fp) = timeQuery(spark, cfg, q, if (traced) trace else Trace.off)
            if (cfg.recordGolden) recorded(q) = fp
            else out.check(q, golden.getOrElse(q, Fingerprint.empty), fp)
            Some(t)
          } catch { case e: Throwable => out.fail(q, e); None }
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = Env.cpuS() - c0
      val storage = if (traced) Env.storageMb(spark) else 0.0
      if (i == 0 && !cfg.traced) out.metric("live_heap_mb", Env.liveHeapMb(), "MB")
      sched.foreach(_ => BenchAccess.drainListeners(spark.sparkContext))
      spark.stop()
      Pass(wall, cpu, traced, times, sched.map(_.snapshot).getOrElse(Map.empty), storage)
    }

    val measured = pass(0, cfg.traced)
    val warm = if (cfg.traced) Seq(pass(1, traced = false), pass(2, traced = true)) else Nil
    while (setups.size < Main.SetUps) {
      val (spark, s) = setUp(cfg)
      setups += s
      spark.stop()
    }
    if (cfg.recordGolden) Golden.save(cfg.golden, recorded)
    report(cfg, out, measured, warm, setups.toSeq)
  }

  private def timeQuery(spark: SparkSession, cfg: Main.Config, q: String,
                        trace: Trace): (QueryTime, Fingerprint) =
    trace.span("query", Map("query" -> q, "module" -> module(q))) {
      val t0 = System.nanoTime()
      Env.setPhase(spark, "build")
      val df = trace.span("build")(SparkEntry.queries(q)(spark, cfg.data))
      val t1 = System.nanoTime()
      trace.span("plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      Env.setPhase(spark, "exec")
      val fp = trace.span("exec")(Fingerprint.consume(df))
      val t3 = System.nanoTime()
      Env.setPhase(spark, "other")
      (QueryTime(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9), fp)
    }

  /** Median time of a bare `Tables.read` (its schema-inference job),
    * three calls per table.
    */
  def tableReadMs(spark: SparkSession, cfg: Main.Config, tables: Seq[String]): Double =
    Stats.median((1 to 3).flatMap(_ => tables.map { t =>
      val t0 = System.nanoTime()
      Tables.read(spark, cfg.data, t)
      (System.nanoTime() - t0) / 1e6
    }))

  private def report(cfg: Main.Config, out: Main.Outcome, measured: Pass,
                     warm: Seq[Pass], setups: Seq[Double]): Unit = {
    val lat = measured.queries.map(_.total * 1e3)
    out.meta("setup_s_all") = setups
    out.meta("query_s") = mutable.TreeMap.empty[String, Double] ++
      measured.queries.map(q => q.name -> q.total)
    if (!cfg.traced) {
      out.metric("setup_s", Stats.median(setups), "s")
      out.metric("pass_s", measured.wall, "s")
      out.metric("cpu_s", measured.cpu, "s")
      out.metric("latency_p50_ms", Stats.median(lat), "ms")
      out.meta("latency_p90_ms") = Stats.pct(lat, 90)
      out.meta("latency_samples") = lat.size
    } else {
      val p = measured
      val spark = Main.session(cfg, s"local[${cfg.cores}]")
      val readMs = tableReadMs(spark, cfg, inputs(cfg.workload))
      spark.stop()
      out.metric("tables.read_ms", readMs, "ms")
      out.metric("plans.plan_s", p.queries.map(_.plan).sum, "s")
      Modules.foreach { m =>
        val qs = p.queries.filter(q => module(q.name) == m)
        out.metric(s"$m.build_s", qs.map(_.build).sum, "s")
        out.metric(s"$m.exec_s", qs.map(_.exec).sum, "s")
      }
      SchedListener.report(out, p.sched, p.wall, cfg.cores)
      out.metric("spark.storage_mb_end", p.storageMb, "MB")
      out.metric("trace.pass_s", p.wall, "s")
      val (plain, traced) = warm.partition(!_.traced)
      out.metric("trace.overhead_pct", (traced.head.wall / plain.head.wall - 1) * 100, "%")
      StreamWorkload.zeroStreamLayers(out)
    }
  }
}

object Golden {
  def save(path: String, fps: scala.collection.Map[String, Fingerprint]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      fps.toSeq.sortBy(_._1).map { case (q, fp) => s"  ${Json(q)}: ${Json(fp.render)}" }
        .mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8")): Unit

  /** name -> fingerprint, from the flat JSON object golden.json holds. */
  def load(path: String): Map[String, Fingerprint] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"(\\d+):([0-9a-f]+):([0-9a-f]+)\"".r
      .findAllMatchIn(scala.io.Source.fromFile(f).mkString)
      .map(m => m.group(1) -> Fingerprint(m.group(2).toLong,
        java.lang.Long.parseUnsignedLong(m.group(3), 16),
        java.lang.Long.parseUnsignedLong(m.group(4), 16)))
      .toMap
  }
}
