package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // empty → all (the driver's contract)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarning()
    new java.io.File(outDir).mkdirs()
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // queries run on a small worker pool: Spark schedules concurrent
    // jobs from multiple threads fine (the model caches are
    // ConcurrentHashMap.computeIfAbsent — fit-once under races), and
    // the serial sweep's wall time (~11 min at sf0.01 over 200+
    // queries, mostly eager-checkpoint job latency, not CPU) is what
    // put the driver's r12 correctness stage at timeout risk
    val par = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val todo = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val latch = new java.util.concurrent.CountDownLatch(todo.size)
    todo.foreach { case (name, fn) =>
      pool.execute { () =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures.put(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        } finally latch.countDown()
      }
    }
    latch.await()
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failures as a first-class artifact: a query that errors out is
    // otherwise just ABSENT from the correctness report (the round-8
    // ts regression silently shrank 138 keys to 112 — nothing in the
    // artifacts said why), so record name → error where the compare
    // tooling and the next session will see it
    import scala.jdk.CollectionConverters._
    val errJson = failures.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (!failures.isEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED " +
        s"(see $outDir/verify_errors.json)")
    spark.stop()
  }
}
