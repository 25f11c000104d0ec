package graft

import java.nio.file.{Files, Paths}

/** Dump a normalized physical plan per query into `plans/` — a
  * reviewable, diffable record of HOW each operator executes (join
  * strategies, exchanges, pushed filters, codegen spans). Expression
  * ids, plan ids, and file paths are scrubbed so diffs across rounds
  * show plan-shape changes, not run noise. AQE is disabled in this
  * session so the snapshots record the static planning decisions.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "plans"
    // optional comma-separated name filter for fast single-query
    // iteration (a full 197-query dump re-executes every eager
    // checkpoint); substring match against the query key
    val only = if (args.length > 2) args(2).split(",").toSeq else Seq.empty
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"$name.txt"),
        normalize(plan).getBytes("UTF-8"))
      println(s"dumped $name")
    }
    spark.stop()
  }

  /** Scrub run-dependent tokens so snapshots diff cleanly.
    *
    * Known residual sensitivity: multi-distinct aggregates (Expand +
    * gid) pair columns to group ids in exprId-allocation order, so
    * registering a new query BEFORE one of these in SparkEntry can
    * flip the pairing (see q7_distinct). The flip is semantically
    * neutral — same groups, same exchanges — and spans several line
    * kinds (Expand arguments, aggregate keys, partitioning), so it
    * is re-pinned when it happens rather than normalized away, which
    * would risk masking real plan changes.
    */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#x")
    // lambda-variable counters (x_12, y_7, ...) are per-session; the
    // trailing \b keeps real columns like n_30d out of the scrub
    .replaceAll("\\b([a-z])_\\d+\\b", "$1_N")
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda@x") // JVM identity
    .replaceAll("plan_id=\\d+", "plan_id=x")
    // RDD ids count up monotonically per session, so any new query
    // running earlier in the dump shifts every later checkpoint scan
    .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
    // checkpoint-scan labels carry the call site's source LINE, so
    // any edit above a localCheckpoint call rewrites every dependent
    // snapshot — keep the file, scrub the line
    .replaceAll("\\.scala:\\d+", ".scala:x")
    .replaceAll("file:[^\\s\\],)]*", "PATH")
    .replaceAll("\\[id=#x\\]", "")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
}
