package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.cdc.Changelog
import graft.sources.ChangelogSource
import graft.streaming.CdcStreams

class SourcesSpec extends SparkSpec {

  test("JSON-lines changelog round-trips through the wire format") {
    val cl = Changelog.fromEvents(Tables.events(spark, sf))
    val dir = Files.createTempDirectory("graft-jsonl").toString
    ChangelogSource.toJsonLines(cl).write.mode("overwrite").text(dir)
    val back = ChangelogSource.fromJsonLines(spark, dir)
    val a = cl.collect().map(_.toSeq).toSet
    val b = back.select(cl.columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("malformed and incomplete lines are quarantined, not silently dropped") {
    val dir = Files.createTempDirectory("graft-badjson")
    val good = """{"doc_id":"user1","seq":1,"ts_us":1000,"op":"RECORD_INSERT","field_path":"","payload":"{}","amount":1.5}"""
    val bad = """{"doc_id":"user2","seq":NOT_JSON"""
    // parses fine but lacks required key fields (doc_id/seq/ts_us)
    val incomplete = """{"op":"RECORD_INSERT","payload":"{}"}"""
    Files.write(Paths.get(dir.toString, "part-0.json"),
      s"$good\n$bad\n$incomplete\n".getBytes("UTF-8"))
    val ok = ChangelogSource.fromJsonLines(spark, dir.toString).collect()
    assert(ok.length == 1 && ok(0).getAs[String]("doc_id") == "user1")
    val quarantined = ChangelogSource.quarantine(spark, dir.toString)
      .collect().map(_.getAs[String]("raw_line"))
    assert(quarantined.length == 2)
    assert(quarantined.exists(_.contains("NOT_JSON")))
    assert(quarantined.exists(l => l.contains("RECORD_INSERT") && !l.contains("doc_id")))
  }

  test("Kafka-shaped stream parses the wire format and feeds routing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlc = spark.sqlContext
    val cl = Changelog.fromEvents(Tables.events(spark, sf)).limit(200)
    val lines = ChangelogSource.toJsonLines(cl).as[String].collect()
    val input = MemoryStream[String]
    // dress the raw lines up exactly as spark's kafka source would —
    // casting onto the published wire schema pins its column set
    val wire = ChangelogSource.kafkaWireSchema.fields.foldLeft(
      input.toDF()
        .select(lit(null).cast("binary").as("key"),
          encode(col("value"), "UTF-8").as("value"),
          lit("changelog").as("topic"), lit(0).as("partition"),
          lit(0L).as("offset"), current_timestamp().as("timestamp"),
          lit(0).as("timestampType"))) { (df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.dataType))
    }
    val routed = Changelog.ftsRoute(ChangelogSource.fromKafka(wire))
    val q = routed.writeStream.format("memory").queryName("kafkafts").start()
    try { input.addData(lines.toIndexedSeq); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("kafkafts").count()
    val batch = Changelog.ftsRoute(cl).count()
    assert(streamed == batch && streamed > 0)
  }

  test("Kafka quarantine keeps topic coordinates; tombstones are accounted for") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val good = """{"doc_id":"user1","seq":1,"ts_us":1000,"op":"RECORD_INSERT","field_path":"","payload":"{}","amount":1.5}"""
    val bad = """{"doc_id":"user2","seq":NOT_JSON"""
    val incomplete = """{"op":"RECORD_INSERT","payload":"{}"}"""
    val wire = Seq(
      (Option(good), 0L), (Option(bad), 1L),
      (Option(incomplete), 2L), (None: Option[String], 3L))
      .toDF("line", "off")
      .select(lit(null).cast("binary").as("key"),
        encode(col("line"), "UTF-8").as("value"),
        lit("changelog").as("topic"), lit(0).as("partition"),
        col("off").as("offset"), current_timestamp().as("timestamp"),
        lit(0).as("timestampType"))
    val ok = ChangelogSource.fromKafka(wire).collect()
    assert(ok.length == 1 && ok(0).getAs[String]("doc_id") == "user1")
    val dead = ChangelogSource.kafkaQuarantine(wire)
      .select("offset", "raw_line").as[(Long, String)].collect().toMap
    // every non-accepted offset is present, including the null-value tombstone
    assert(dead.keySet == Set(1L, 2L, 3L))
    assert(dead(1L).contains("NOT_JSON") && dead(3L) == "")
  }

  test("streaming read of the same layout feeds the routing operators") {
    implicit val s = spark
    val cl = Changelog.fromEvents(Tables.events(spark, sf)).limit(200)
    val dir = Files.createTempDirectory("graft-jsonl-stream").toString
    ChangelogSource.toJsonLines(cl).write.mode("overwrite").text(dir)
    val stream = ChangelogSource.streamJsonLines(spark, dir)
    val routed = Changelog.ftsRoute(stream)
    val q = routed.writeStream.format("memory").queryName("srcfts").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("srcfts").count()
    val batch = Changelog.ftsRoute(cl).count()
    assert(streamed == batch && streamed > 0)
  }

  test("a micro-batch of more than 32 files lists them in a job no wider than the session") {
    val cl = Changelog.fromEvents(Tables.events(spark, sf))
    val dir = Files.createTempDirectory("graft-jsonl-wide").toString
    ChangelogSource.toJsonLines(cl).repartition(40)
      .write.mode("overwrite").text(dir)
    assert(new java.io.File(dir).list().count(_.startsWith("part-")) > 32)
    val widest = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        widest.accumulateAndGet(e.stageInfos.map(_.numTasks).sum, math.max(_, _))
    }
    spark.sparkContext.addSparkListener(listener)
    val q = CdcStreams.ftsRoute(ChangelogSource.streamJsonLines(spark, dir))
      .writeStream.format("memory").queryName("widefts").start()
    try q.processAllAvailable()
    finally {
      q.stop()
      ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    // every file landed in one micro-batch, so getBatch listed them all
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    val cores = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(widest.get > 0 && widest.get <= cores,
      s"widest job ran ${widest.get} tasks on a $cores-partition session")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val batch = rows(Changelog.ftsRoute(ChangelogSource.fromJsonLines(spark, dir)))
    assert(rows(spark.table("widefts")) == batch && batch.nonEmpty)
  }
}
