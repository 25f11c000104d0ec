package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line. A warmup pass (flagship query + a scan
  * of each input table) absorbs JIT/codegen/first-scan setup so the
  * per-query numbers measure the plans, not JVM warmup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarning()

    // warmup: one flagship run + touch every table's scan path
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.read(spark, sfDir, t).count())
    SparkEntry.entry(spark).count()

    // ambient-load context: the r7 verdict found same-day bench runs
    // spanning 64-75s with per-query swings the single-recording
    // protocol could not attribute (code vs box noise) — so every
    // bench JSON now carries the 1-minute loadavg at start and end,
    // making "was the box quiet" a recorded fact instead of a guess
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").head
      catch { case _: Throwable => "-1" }
    val loadBefore = loadavg()

    // steady-state timing: two executions per query, best-of kept —
    // the first run pays one-shot Catalyst planning + codegen compile,
    // which at bench scale can dominate the actual plan execution.
    // Entries still above ~1s after two attempts get a THIRD run:
    // slow entries are exactly where ambient drift distorts
    // round-over-round comparison most (r7 verdict #3), and one more
    // sample of the few slow queries costs far less than the noise
    // it removes from the headline.
    // SPARK_GRAFT_ONLY=a,b,c times just the named queries (substring
    // match) — single-query profiling without a 197-query sweep
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    // SPARK_GRAFT_BENCH_RUNS=N (default 1) executes the WHOLE suite N
    // times in this JVM and keeps each query's best across runs — the
    // r14 verdict's bench-protocol hardening: the host swings ±26% on
    // an identical tree, so the close-of-round artifact records the
    // run count and every run's total IN the JSON (runs / run_totals /
    // best_run_total) instead of leaving variance to §7 prose
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .map(_.toInt).getOrElse(1).max(1)
    def suite(): Seq[(String, Double, Option[String], Boolean)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
        .map { case (name, fn) =>
        def attempt(): (Double, Option[String]) = {
          val t0 = System.nanoTime()
          val err = try { fn(spark, sfDir).count(); None }
            catch { case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
          ((System.nanoTime() - t0) / 1e9, err)
        }
        val base = (1 to 2).map(_ => attempt())
        val needThird = base.collect { case (t, None) => t } match {
          case ok if ok.nonEmpty => ok.min > 1.0
          case _ => false
        }
        val attempts = if (needThird) base :+ attempt() else base
        // a query is failed only if ALL attempts fail — a transient flake
        // on one of the two runs still yields a valid best-of time, and
        // its error is surfaced in the errors array without negating it
        val ok = attempts.collect { case (t, None) => t }
        val err = attempts.flatMap(_._2).headOption
        (name, if (ok.nonEmpty) ok.min else -attempts.map(_._1).min,
          err, ok.isEmpty)
      }
    val runs = (1 to nRuns).map(_ => suite())
    val runTotals = runs.map(_.collect { case (_, v, _, false) => v }.sum)
    // per-query best across runs; failed only if failed in EVERY run
    val results = runs.transpose.map { rs =>
      val ok = rs.collect { case (_, v, _, false) => v }
      (rs.head._1,
        if (ok.nonEmpty) ok.min else rs.map(_._2).max,
        rs.flatMap(_._3).headOption, ok.isEmpty)
    }.toSeq
    // fully-failed queries get a negative time so they can't read as
    // fast; the headline total sums SUCCESSFUL queries only (consistent
    // with sum(max(t, 0)) over the entries — a broken run never
    // inflates or masquerades as a healthy total)
    def dp3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).underlying.toPlainString
    def dp2(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).underlying.toPlainString
    val qs = results.map { case (k, v, _, _) =>
      "\"" + k + "\":" + dp3(v)
    }.mkString("{", ",", "}")
    val errors = results.flatMap(_._3).map(m =>
      "\"" + m.replaceAll("[\\x00-\\x1F\"\\\\]", " ").take(120) + "\"")
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, false) => v }.sum
    // the full per-query map (~2.5 KB at 107 queries) does NOT fit the
    // driver's 2000-char stdout tail capture — r1-r4 all came back
    // "parsed": null because the head of the single JSON line was cut
    // off. Full detail goes to a file; stdout carries only a compact
    // summary line (total + the 10 slowest queries) whose length is
    // asserted so this contract can never regress silently.
    val loadAfter = loadavg()
    val runsJson = runTotals.map(dp3).mkString("[", ",", "]")
    val bestRun = dp3(runTotals.min)
    val fullLine = s"""{"metric":"total","value":${dp3(total)},"unit":"sec","queries":$qs,"errors":$errors,"sf":"$sfDir","runs":$nRuns,"run_totals":$runsJson,"best_run_total":$bestRun,"load_before":$loadBefore,"load_after":$loadAfter}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    val nFailed = results.count(_._4)
    // "queries" here is intentionally a SUBSET (the slowest k) of the
    // full map in bench_full.json — same key name as the driver
    // contract requires, partial by design. If even the compact line
    // would overflow the driver's 2000-char stdout tail, degrade by
    // shrinking k rather than aborting: a shorter summary always beats
    // no summary (parsed: null).
    def summaryLine(k: Int): String = {
      val slowest = results.filterNot(_._4).sortBy(-_._2).take(k)
        .map { case (n, v, _, _) => "\"" + n + "\":" + dp2(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${dp2(total)},"unit":"sec","queries":$slowest,"n":${results.size},"failed":$nFailed,"runs":$nRuns,"sf":"$sfDir","load_before":$loadBefore,"load_after":$loadAfter}"""
    }
    val summary = (10 to 0 by -1).view.map(summaryLine)
      .find(_.length < 1800).getOrElse(summaryLine(0))
    // stop Spark BEFORE printing: any WARN emitted on stdout during
    // shutdown would otherwise land after the summary and displace it
    // from the driver's last-line capture slot
    spark.stop()
    println(summary)
  }
}
