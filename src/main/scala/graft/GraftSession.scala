package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local mode is a stand-in for a real cluster: every setting here is
  * one that transfers (AQE, skew join, broadcast threshold); nothing
  * is keyed to `local[*]` except the master URL itself.
  */
object GraftSession {

  /** Demote WindowExec's "No Partition Defined" runtime warning to
    * ERROR. The repo's coverage of this failure mode is now STRICTER
    * than the log line: PlanLint errors on any unpartitioned window
    * in a committed plan, and [[graft.ops.Rounds.materialize]] fails
    * fast on any eagerly-executed one — the single allowlisted site
    * (RankSelect's groups×bins cumsum under a constant group key,
    * q40_concentration) is spec-pinned bounded (RoundsSpec), so the
    * only thing the log line still produced was noise in every bench
    * and verify run. A NEW offending window throws, never warns.
    *
    * Residual gap, stated rather than hidden: an eager execution that
    * neither commits a plan nor goes through `Rounds.materialize`
    * (model-fit collects such as pcaFit's dimAvgs or labelDrift's
    * centroid rows) is silenced too — those sites are all bounded
    * model-sized aggregates today, but the lint does not SEE them.
    * The demotion is deliberately scoped to the Bench/Verify entry
    * points (library users keep the warning), and `WarnAudit`
    * intentionally does NOT call this, so the serial audit runner
    * still surfaces every WindowExec warning with attribution.
    */
  def quietBoundedWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing floor: back at the Spark DEFAULT (1m). The r16
      // round lowered it to 64k so compute-dense model-sized shuffles
      // (candidate self-joins, verify stages) kept their parallelism —
      // but the 32-core full-suite A/B showed the floor TAXES the
      // other ~270 queries more than it pays the 2-3 it helps
      // (16 × more tasks per small stage: +16.3s suite-wide locally,
      // and the r16 driver run inverted 49% on a loaded box). The
      // compute-dense stages that need parallelism now get it
      // explicitly (repartition(n, key) at the operator — AQE leaves
      // user-specified counts alone); everything else coalesces.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // scan split sizing: back at the Spark DEFAULT (4m) for the
      // same reason — the 128k floor split every small scan 32 ways
      // and the per-stage overhead outweighed the parallelism on the
      // few scan-resident kernels (which now parallelize via explicit
      // repartition on the 1×-corpus side instead).
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "4194304"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // runtime bloom-filter pruning: selective join sides seed a
      // bloom filter pushed into the probe-side scan (big at 100 TB)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // file-listing job width: capped at the session's parallelism.
      // Above the 32-path threshold Spark lists a read's paths as a
      // job with one task per path (default cap 10,000), and every
      // task deserializes the session's whole Hadoop Configuration.
      // A streaming micro-batch of 90 JSON-line files
      // (FileStreamSource.getBatch) ran 90 such tasks: on a 4-core VM
      // getBatch took 0.55-1.25 s of each catch-up query's first
      // trigger, and 0.12-0.40 s with the cap (4 tasks). The threshold
      // stays at the default: raising it lists faster on a local
      // disk, but it makes large listings serial, and at 100 TB on a
      // remote store that stats thousands of files one at a time.
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        shufflePartitions.toString)
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = builder().getOrCreate()
}
