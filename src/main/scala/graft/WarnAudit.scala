package graft

/** Serial per-query runner for WARNING ATTRIBUTION — executes each
  * `SparkEntry.queries` entry one at a time with `### begin/end`
  * markers on stderr, so runtime warnings that PlanLint's final-plan
  * walk cannot see (they fire inside eagerly-materialized
  * `localCheckpoint` intermediates — Rounds/RankSelect/model-frame
  * construction) attach to the query that triggered them. Usage:
  * `runMain graft.WarnAudit <sfDir> [query...]` then grep the log
  * between markers.
  */
object WarnAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WarnAudit <sfDir> [query...]")
    val sfDir = args(0)
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        System.err.println(s"### begin $name")
        try fn(spark, sfDir).write.mode("overwrite")
          .format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"### error $name: ${e.getMessage}")
        }
        System.err.println(s"### end $name")
      }
    spark.stop()
  }
}
