package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.Tables
import graft.cdc.Changelog
import graft.sources.ChangelogSource
import graft.streaming.{CdcStreams, ChangeRecord}

/** The CDC consumer as a stream: change records replayed as
  * wire-format JSON-line files, tailed by three concurrent queries
  * (FTS route, geo route, per-document state), each triggered every
  * `TriggerMs`.
  *
  * 1. Set-up: a session, and the first `Records` changes of `events`
  *    rendered through `ChangelogSource.toJsonLines` into `FileCount`
  *    files in a staging directory.
  * 2. Warm-up: the queries drain one full copy of the input.
  * 3. Open loop: one generator thread publishes the staged files into
  *    an empty input directory by atomic rename, one every
  *    `IntervalMs`, whatever the queries are doing. A file's lag runs
  *    from its due time to the commit of the micro-batch that holds
  *    it, per query, so a stall is charged to every later file.
  * 4. Catch-up: fresh queries drain the full backlog, `CatchUpRounds`
  *    times.
  *
  * Every phase's sinks are compared with the batch operators over the
  * same records. The seed decides the record order (bounded disorder)
  * and the split into files; nothing else reaches the program.
  */
object StreamWorkload {
  val Records = 15000
  val FileCount = 90
  val IntervalMs = 100L
  val TriggerMs = 1000L
  /** Records move at most this many places from their seq order. */
  val Disorder = 400
  val CatchUpRounds = 2
  val Queries: Seq[String] = Seq("fts", "geo", "state")

  private final class Input(val lines: Array[String], val layout: Seq[Seq[Int]]) {
    def records: Long = lines.length.toLong
    def fileName(i: Int): String = f"part-$i%05d.json"

    def render(dir: Path): Unit = {
      Files.createDirectories(dir)
      layout.zipWithIndex.foreach { case (idx, i) =>
        Files.write(dir.resolve(fileName(i)),
          idx.map(lines(_)).mkString("", "\n", "\n").getBytes("UTF-8"))
      }
    }
  }

  /** Record order and file split for `n` records, from the seed. */
  private def layout(n: Int, seed: Long): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    val order = (0 until n).map(i => (i + rnd.nextInt(Disorder), i)).sorted.map(_._2)
    val per = n.toDouble / FileCount
    val cuts = 0 +: (1 until FileCount).map(i =>
      math.round(i * per + (rnd.nextDouble() - 0.5) * per * 0.8).toInt) :+ n
    cuts.sliding(2).map { case Seq(a, b) => order.slice(a, b) }.toSeq
  }

  /** Session plus rendered input: the stream's set-up. */
  private def setUp(cfg: Main.Config, master: String, stage: Path,
                    fixedLayout: Option[Seq[Seq[Int]]]): (SparkSession, Input, Double) = {
    val t0 = System.nanoTime()
    val spark = Main.session(cfg, master)
    val lines = ChangelogSource.toJsonLines(
      Changelog.fromEvents(Tables.events(spark, cfg.data)).orderBy("seq").limit(Records))
      .collect().map(_.getString(0))
    val input = new Input(lines, fixedLayout.getOrElse(layout(lines.length, cfg.seed)))
    input.render(stage)
    (spark, input, (System.nanoTime() - t0) / 1e9)
  }

  private def startQueries(spark: SparkSession, in: Path, root: Path): Seq[StreamingQuery] = {
    import spark.implicits._
    val cl = ChangelogSource.streamJsonLines(spark, in.toString).as[ChangeRecord]
    def parquet(name: String, df: DataFrame) = df.writeStream.format("parquet")
      .queryName(name).option("path", root.resolve(name).toString)
      .option("checkpointLocation", root.resolve(s"ck_$name").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs)).outputMode(OutputMode.Append).start()
    Seq(parquet("fts", CdcStreams.ftsRoute(cl.toDF())),
      parquet("geo", CdcStreams.geoRoute(cl.toDF())),
      CdcStreams.latestState(cl)(spark).writeStream.format("memory")
        .queryName("state").option("checkpointLocation", root.resolve("ck_state").toString)
        .trigger(Trigger.ProcessingTime(TriggerMs)).outputMode(OutputMode.Update).start())
  }

  private def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE): Unit

  /** Moves every staged file into a new input directory under `root`. */
  private def publishAll(input: Input, stage: Path, root: Path): Path = {
    val in = Files.createDirectories(root.resolve("in"))
    input.layout.indices.foreach(i => move(stage.resolve(input.fileName(i)), in.resolve(input.fileName(i))))
    in
  }

  /** The batch operators over the records in `in`: the stream's oracle. */
  private final case class Expected(fts: Fingerprint, geo: Fingerprint, state: Fingerprint)

  private val StateCols = Seq("doc_id", "last_seq", "last_op", "last_field", "last_payload", "n_changes")

  private def expected(spark: SparkSession, in: Path): Expected = {
    val cl = ChangelogSource.fromJsonLines(spark, in.toString)
    Expected(Fingerprint.consume(Changelog.ftsRoute(cl)), Fingerprint.consume(Changelog.geoRoute(cl)),
      Fingerprint.consume(Changelog.latestState(cl).select(StateCols.map(col): _*)))
  }

  /** Runs the three queries until they have drained their input,
    * stops them, and compares their sinks with `exp`. Returns the
    * seconds from `t0` until the last query's final commit.
    */
  private def drain(spark: SparkSession, out: Main.Outcome, phase: String,
                    qs: Seq[StreamingQuery], root: Path, exp: Expected, t0: Long,
                    beforeStop: () => Unit = () => ()): Double = {
    qs.foreach { q =>
      out.attempted += 1
      try q.processAllAvailable()
      catch { case e: Throwable => out.fail(s"$phase/${q.name}", e) }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    beforeStop()
    qs.foreach(_.stop())
    val fp = (df: DataFrame) => Fingerprint.consume(df)
    out.check(s"$phase/fts", exp.fts, fp(spark.read.parquet(root.resolve("fts").toString)))
    out.check(s"$phase/geo", exp.geo, fp(spark.read.parquet(root.resolve("geo").toString)))
    // the update-mode sink holds every emitted state; a document's
    // final state is its row with the most changes folded in
    val last = spark.table("state")
      .withColumn("_rn", row_number().over(Window.partitionBy("doc_id").orderBy(col("n_changes").desc)))
      .filter(col("_rn") === 1 && col("last_op") =!= Changelog.Delete)
    out.check(s"$phase/state", exp.state, fp(last.select(StateCols.map(col): _*)))
    wall
  }

  /** Fresh queries drain the published backlog in `root`; returns the
    * wall time from start to the last query's final commit.
    */
  private def catchUp(spark: SparkSession, out: Main.Outcome, phase: String,
                      in: Path, root: Path, exp: Expected): Double = {
    val t0 = System.nanoTime()
    drain(spark, out, phase, startQueries(spark, in, root), root, exp, t0)
  }

  private final case class OpenLoop(lagsMs: Seq[Double], lateMs: Seq[Double])

  /** The open-loop phase: publish on schedule, measure lag from due time. */
  private def openLoop(spark: SparkSession, out: Main.Outcome, input: Input,
                       stage: Path, root: Path, exp: Expected): OpenLoop = {
    val in = Files.createDirectories(root.resolve("in"))
    val qs = startQueries(spark, in, root)
    // due times keep one phase against the trigger grid in every run
    val t0 = (System.currentTimeMillis() / TriggerMs + 2) * TriggerMs + IntervalMs / 2
    val due = input.layout.indices.map(i => t0 + i * IntervalMs)
    val late = new Array[Double](due.size)
    val gen = new Thread(() => due.indices.foreach { i =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      move(stage.resolve(input.fileName(i)), in.resolve(input.fileName(i)))
      late(i) = (System.currentTimeMillis() - due(i)).toDouble
    }, "graftbench-generator")
    gen.start()
    gen.join()
    drain(spark, out, "open_loop", qs, root, exp, System.nanoTime(),
      () => out.metric("live_heap_mb", Env.liveHeapMb(), "MB"))
    val index = input.layout.indices.map(i => input.fileName(i) -> i).toMap
    val lags = Queries.flatMap { q =>
      val ck = root.resolve(s"ck_$q")
      fileBatches(ck.resolve("sources").resolve("0")).toSeq.flatMap { case (file, batch) =>
        val commit = ck.resolve("commits").resolve(batch.toString)
        index.get(file).filter(_ => Files.exists(commit)).map { i =>
          val committed = Files.getLastModifiedTime(commit).toInstant
          committed.toEpochMilli + committed.getNano % 1000000 / 1e6 - due(i)
        }
      }
    }
    if (lags.size != Queries.size * due.size)
      out.check("open_loop/lag_samples", Fingerprint(Queries.size * due.size, 0, 0),
        Fingerprint(lags.size, 0, 0))
    OpenLoop(lags, late.toSeq)
  }

  /** file name -> micro-batch id, from a file source's metadata log. */
  private def fileBatches(log: Path): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Files.list(log).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def run(cfg: Main.Config, out: Main.Outcome, trace: Trace): Unit = {
    val base = Paths.get(cfg.work, "stream")
    def dir(phase: String) = base.resolve(phase)
    val local = s"local[${cfg.cores}]"
    val setups = mutable.ArrayBuffer.empty[Double]

    val (spark, input, setup0) = setUp(cfg, local, dir("warmup").resolve("stage"), None)
    setups += setup0
    out.mark("setup0")
    val warmIn = publishAll(input, dir("warmup").resolve("stage"), dir("warmup"))
    val exp = expected(spark, warmIn)
    out.mark("expected")
    catchUp(spark, out, "warmup", warmIn, dir("warmup"), exp)
    out.mark("warmup")

    input.render(dir("open_loop").resolve("stage"))
    val progress = new ProgressListener
    val sched = new SchedListener
    if (cfg.traced) {
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(sched)
    }
    Env.setPhase(spark, "exec")
    val ol = trace.span("open_loop")(
      openLoop(spark, out, input, dir("open_loop").resolve("stage"), dir("open_loop"), exp))
    Env.setPhase(spark, "other")
    if (cfg.traced) {
      BenchAccess.drainListeners(spark.sparkContext)
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(sched)
    }
    out.mark("open_loop")
    val events = progress.drain()
    val storageOpen = Env.storageMb(spark)

    // catch-up rounds; a traced run traces the second and compares it
    // with the first for the tracing overhead
    val catchUps = (1 to CatchUpRounds).map { round =>
      val traced = cfg.traced && round == 2
      val root = dir(s"catchup$round")
      input.render(root.resolve("stage"))
      val in = publishAll(input, root.resolve("stage"), root)
      val pl = new ProgressListener
      if (traced) spark.streams.addListener(pl)
      val c0 = Env.cpuS()
      val wall = trace.span(if (traced) "catchup" else "catchup_untraced")(
        catchUp(spark, out, s"catchup$round", in, root, exp))
      val cpu = Env.cpuS() - c0
      if (traced) {
        spark.streams.removeListener(pl)
        recordTriggers(trace, pl.drain())
      }
      (wall, traced, cpu)
    }
    out.mark("catchups")
    val parse = if (cfg.traced) parseRps(spark, warmIn, input.records) else 0.0
    val readMs = if (cfg.traced) BatchWorkload.tableReadMs(spark, cfg, Seq("events")) else 0.0
    spark.stop()

    while (setups.size < Main.SetUps) {
      val (s, _, secs) = setUp(cfg, local, dir(s"setup${setups.size}"), Some(input.layout))
      setups += secs
      s.stop()
    }
    out.mark("setups")
    val plainCU = catchUps.filterNot(_._2).map(_._1)
    val plainCpu = catchUps.filterNot(_._2).map(_._3)
    if (!cfg.traced) {
      out.metric("setup_s", Stats.median(setups.toSeq), "s")
      out.metric("pass_s", Stats.median(plainCU), "s")
      out.metric("cpu_s", Stats.median(plainCpu), "s")
      out.metric("latency_p50_ms", Stats.median(ol.lagsMs), "ms")
      out.meta("latency_p90_ms") = Stats.pct(ol.lagsMs, 90)
      out.meta("latency_samples") = ol.lagsMs.size
    } else {
      recordTriggers(trace, events)
      out.metric("tables.read_ms", readMs, "ms")
      out.metric("plans.plan_s", 0.0, "s")
      BatchWorkload.Modules.foreach { m =>
        out.metric(s"$m.build_s", 0.0, "s")
        out.metric(s"$m.exec_s", 0.0, "s")
      }
      val wall = (events.map(e => e.startMs + e.durations.getOrElse("triggerExecution", 0L)).maxOption
        .getOrElse(0L) - events.map(_.startMs).minOption.getOrElse(0L)) / 1e3
      SchedListener.report(out, sched.snapshot, wall, cfg.cores)
      out.metric("spark.storage_mb_end", storageOpen, "MB")
      val tracedCU = catchUps.filter(_._2).map(_._1)
      out.metric("trace.pass_s", Stats.median(tracedCU), "s")
      out.metric("trace.overhead_pct", (Stats.median(tracedCU) / Stats.median(plainCU) - 1) * 100, "%")
      streamLayers(out, events, input.records, plainCU, parse, ol.lateMs,
        scalingRps(cfg, out, input, exp))
    }
    out.meta("stream_records") = input.records
    out.meta("setup_s_all") = setups.toSeq
    out.meta("catchup_s_all") = catchUps.map(_._1)
    out.meta("lag_p50_ms_by_query") = ol.lagsMs.grouped(FileCount).map(Stats.median).toSeq
  }

  private def recordTriggers(trace: Trace, events: Seq[Progress]): Unit =
    events.foreach { e =>
      val start = e.startMs * 1000000L
      val total = e.durations.getOrElse("triggerExecution", 0L) * 1000000L
      val id = trace.record(0, s"trigger:${e.query}", start, start + total,
        Map("batch_id" -> e.batchId.toString, "rows" -> e.inputRows.toString))
      // the trigger's phases, laid end to end in execution order
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = e.durations.getOrElse(k, 0L) * 1000000L
          trace.record(id, k, t, t + d)
          t += d
        }
    }

  /** Per-trigger costs and state-store figures from the open loop's
    * progress events, per sink query.
    */
  private def streamLayers(out: Main.Outcome, events: Seq[Progress], records: Long,
                           catchUps: Seq[Double], parseRps: Double, lateMs: Seq[Double],
                           oneCoreRps: Double): Unit = {
    val busy = events.filter(_.inputRows > 0)
    Queries.foreach { q =>
      val es = busy.filter(_.query == q)
      def p50(f: Progress => Double) = Stats.median(es.map(f))
      def d(e: Progress, k: String) = e.durations.getOrElse(k, 0L).toDouble
      out.metric(s"streaming.$q.offset_ms", p50(e => d(e, "latestOffset") + d(e, "getBatch")), "ms")
      out.metric(s"streaming.$q.plan_ms", p50(d(_, "queryPlanning")), "ms")
      out.metric(s"streaming.$q.exec_ms", p50(d(_, "addBatch")), "ms")
      out.metric(s"streaming.$q.commit_ms", p50(e => d(e, "walCommit") + d(e, "commitOffsets")), "ms")
      out.metric(s"streaming.$q.trigger_ms", p50(d(_, "triggerExecution")), "ms")
      out.metric(s"streaming.$q.rows_per_batch", p50(_.inputRows.toDouble), "count")
    }
    val st = busy.filter(_.query == "state")
    out.metric("state.rows", st.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
    out.metric("state.mem_mb", st.lastOption.map(_.stateMemBytes / 1e6).getOrElse(0.0), "MB")
    out.metric("state.commit_ms", Stats.median(st.map(_.stateCommitMs.toDouble)), "ms")
    out.metric("streaming.catchup_rps", records / Stats.median(catchUps), "1/s")
    out.metric("sources.parse_rps", parseRps, "1/s")
    out.metric("scaling.catchup_1core_rps", oneCoreRps, "1/s")
    out.metric("gen_late_ms", lateMs.maxOption.getOrElse(0.0), "ms")
  }

  /** Stream layer metrics of a batch workload, which bypasses them. */
  def zeroStreamLayers(out: Main.Outcome): Unit = {
    Queries.foreach { q =>
      Seq("offset_ms", "plan_ms", "exec_ms", "commit_ms", "trigger_ms").foreach(k =>
        out.metric(s"streaming.$q.$k", 0.0, "ms"))
      out.metric(s"streaming.$q.rows_per_batch", 0.0, "count")
    }
    out.metric("state.rows", 0.0, "count")
    out.metric("state.mem_mb", 0.0, "MB")
    out.metric("state.commit_ms", 0.0, "ms")
    Seq("streaming.catchup_rps", "sources.parse_rps", "scaling.catchup_1core_rps")
      .foreach(k => out.metric(k, 0.0, "1/s"))
    out.metric("gen_late_ms", 0.0, "ms")
  }

  /** Records per second of a fully consumed batch parse of the input. */
  private def parseRps(spark: SparkSession, in: Path, records: Long): Double =
    records / Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val fp = Fingerprint.consume(ChangelogSource.fromJsonLines(spark, in.toString))
      require(fp.rows == records, s"parsed ${fp.rows} of $records records")
      (System.nanoTime() - t0) / 1e9
    })

  /** The catch-up phase on a single core: the scaling baseline. */
  private def scalingRps(cfg: Main.Config, out: Main.Outcome, input: Input, exp: Expected): Double = {
    val root = Paths.get(cfg.work, "stream", "catchup_1core")
    val (spark, _, _) = setUp(cfg, "local[1]", root.resolve("stage"), Some(input.layout))
    val in = publishAll(input, root.resolve("stage"), root)
    val wall = catchUp(spark, out, "catchup_1core", in, root, exp)
    spark.stop()
    input.records / wall
  }
}
