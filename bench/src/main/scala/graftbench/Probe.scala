package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

/** Row count plus two order-independent 64-bit row-hash sums. Sums
  * wrap instead of overflowing, and unlike XOR they do not cancel
  * duplicate rows.
  */
final case class Fingerprint(rows: Long, h1: Long, h2: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, h1 + o.h1, h2 + o.h2)
  def render: String = s"$rows:${java.lang.Long.toHexString(h1)}:${java.lang.Long.toHexString(h2)}"
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0L, 0L, 0L)

  private def partition(schema: StructType, rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[Fingerprint] = {
    // unsafe form: equal values give equal bytes (padding zeroed,
    // NaN and -0.0 normalized by the writer)
    val proj = UnsafeProjection.create(schema)
    var n = 0L; var a = 0L; var b = 0L
    rows.foreach { r =>
      val u = proj(r)
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      n += 1
      a += h
      b += java.lang.Long.rotateLeft(h * 0x9E3779B97F4A7C15L, 31) ^ (h >>> 17)
    }
    Iterator.single(Fingerprint(n, a, b))
  }

  /** Executes `df`'s own physical plan once, consuming every output
    * row and column: no projection is pruned and no sort is dropped,
    * unlike `count()`.
    */
  def consume(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("graftbench"))(
      qe.toRdd.mapPartitions(partition(schema, _)).collect()
    ).foldLeft(empty)(_ + _)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile; NaN on an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toSeq.toMap)
    case other => apply(other.toString)
  }
}

/** One timed interval. Spans of a run share its run id; `parent` is
  * the id of the span that caused this one (0 for the run root).
  */
final case class Span(id: Int, parent: Int, name: String, start_ns: Long,
                      end_ns: Long, attrs: Map[String, String])

object Trace {
  val off: Trace = new Trace(false, "")
}

/** In-memory span recorder; written out once, when the run ends.
  * When disabled, `span` only runs its body.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = current
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current = parent
        synchronized { spans += Span(id, parent, name, t0, t1, attrs) }
      }
    }

  /** Records a finished interval under `parent` (for intervals timed
    * by someone else, such as a streaming trigger). Returns its id.
    */
  def record(parent: Int, name: String, startNs: Long, endNs: Long,
             attrs: Map[String, String] = Map.empty): Int =
    if (!enabled) 0
    else synchronized {
      nextId += 1
      spans += Span(nextId - 1, parent, name, startNs, endNs, attrs)
      nextId - 1
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Per span name: total duration and self time (duration minus the
    * part of it covered by child spans), in seconds.
    */
  def selfTimes: Map[String, Map[String, Double]] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start_ns, s.start_ns), math.min(c.end_ns, s.end_ns)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
      total
    }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> Map(
        "count" -> xs.size.toDouble,
        "total_s" -> xs.map(s => s.end_ns - s.start_ns).sum / 1e9,
        "self_s" -> xs.map(s => s.end_ns - s.start_ns - covered(s)).sum / 1e9)
    }
  }
}

/** Scheduler counters from Spark's public listener events. Jobs are
  * attributed to the phase named in the `graftbench.phase` local
  * property of the thread that submitted them.
  */
final class SchedListener extends SparkListener {
  import SchedListener.PhaseKey
  private val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskFailures = 0L
  var schedWaitMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse("other")
    jobs(phase) += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) taskFailures += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { t =>
      schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
    }
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }


  def snapshot: Map[String, Double] = synchronized {
    Map("jobs_build" -> jobs("build").toDouble, "jobs_exec" -> jobs("exec").toDouble,
      "tasks" -> tasks.toDouble, "task_s" -> taskMs / 1e3, "gc_s" -> gcMs / 1e3,
      "shuffle_mb" -> shuffleBytes / 1e6, "spill_mb" -> spillBytes / 1e6,
      "task_failures" -> taskFailures.toDouble, "sched_wait_s" -> schedWaitMs / 1e3)
  }
}

/** One streaming progress event, as reported to the listener. */
final case class Progress(query: String, batchId: Long, startMs: Long,
                          durations: Map[String, Long], inputRows: Long,
                          stateRows: Long, stateMemBytes: Long,
                          stateCommitMs: Long)

final class ProgressListener extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[Progress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators.headOption
    val ev = Progress(Option(p.name).getOrElse(p.id.toString), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L))
    synchronized { events += ev }
  }

  def drain(): Seq[Progress] = synchronized {
    val out = events.toList
    events.clear()
    out
  }
}

object SchedListener {
  val PhaseKey = "graftbench.phase"

  /** The `spark.*` layer metrics of one measured interval. */
  def report(out: Main.Outcome, snap: Map[String, Double], wallS: Double, cores: Int): Unit = {
    val jobs = snap("jobs_build") + snap("jobs_exec")
    out.metric("spark.jobs_build", snap("jobs_build"), "count")
    out.metric("spark.jobs_exec", snap("jobs_exec"), "count")
    out.metric("spark.tasks_per_job", snap("tasks") / math.max(1.0, jobs), "count")
    out.metric("spark.task_s", snap("task_s"), "s")
    out.metric("spark.core_util", snap("task_s") / math.max(1e-9, wallS * cores), "ratio")
    Seq("sched_wait_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
      "task_failures" -> "count").foreach { case (k, u) => out.metric(s"spark.$k", snap(k), u) }
  }
}

object Env {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Heap still in use after a full collection, in MB: what the
    * workload retains (cached blocks, memo caches, state), free of the
    * collector's sizing choices.
    */
  def liveHeapMb(): Double = {
    // twice, so objects released by the first collection's cleaners go too
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Share of CPU time the hypervisor gave to others, since boot. */
  def stealTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** CPU seconds this JVM has used, all threads; time the hypervisor
    * gave to other guests (steal) is not counted.
    */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").head.toDouble
    catch { case _: Throwable => Double.NaN }

  def setPhase(spark: SparkSession, phase: String): Unit =
    spark.sparkContext.setLocalProperty(SchedListener.PhaseKey, phase)

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
