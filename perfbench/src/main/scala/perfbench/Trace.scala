package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work per job group, aggregated from listener events. Modelled on
  * the byte listener of the engine's scaling benchmark, widened to the
  * counters an optimisation is likely to move. The benchmark thread tags
  * every traced call with its own job group, so each group is exactly one
  * call into the engine. */
final class Attribution extends SparkListener {
  import Attribution.JobSpan

  final class Agg {
    var jobs, tasks, emptyTasks, failedTasks = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var cpuNs, gcMs = 0L
    /** Executor run time of stages that read an RDD-API shuffle: the
      * chunk-partitioned scoring stage of a WAND query. */
    var rddShuffleRunMs = 0L
  }

  private val groups = mutable.LinkedHashMap[String, Agg]()
  private val stageGroup = mutable.Map[Int, String]()
  private val rddShuffleStages = mutable.Set[Int]()
  private val jobSpans = mutable.LinkedHashMap[Int, JobSpan]()

  private def groupOf(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(Attribution.GroupKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e).foreach { g =>
      groups.getOrElseUpdate(g, new Agg).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
      e.stageInfos.foreach { si =>
        if (si.rddInfos.exists(_.name == "ShuffledRDD"))
          rddShuffleStages += si.stageId
      }
      jobSpans(e.jobId) = JobSpan(e.jobId, g, e.time, -1L)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = groups.getOrElseUpdate(g, new Agg)
      a.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val out = m.outputMetrics.recordsWritten +
          m.shuffleWriteMetrics.recordsWritten
        if (in == 0 && out == 0) a.emptyTasks += 1
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        if (rddShuffleStages.contains(e.stageId))
          a.rddShuffleRunMs += m.executorRunTime
      }
    }
  }

  def aggregate(group: String): Option[Agg] = synchronized(groups.get(group))

  def jobs: Seq[JobSpan] = synchronized(jobSpans.values.toList)

  /** Blocks until every event posted before this call has been delivered:
    * the listener bus is one FIFO queue, so once a marker job's end event
    * arrives, all earlier task and job events have been handled. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val marker = s"${Attribution.Prefix}drain.${System.nanoTime()}"
    sc.setJobGroup(marker, "perfbench listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def delivered = synchronized(jobSpans.values.exists(j =>
      j.group == marker && j.endMs >= 0))
    while (!delivered && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Attribution {
  final case class JobSpan(jobId: Int, group: String, startMs: Long,
                           var endMs: Long)

  /** Local property Spark sets from SparkContext.setJobGroup. */
  val GroupKey = "spark.jobGroup.id"
  val Prefix = "perfbench:"
}

/** In-memory spans, written out once at the end of a traced run. A span is
  * (id, parent, name, start, end, attributes); operation spans tag their
  * Spark jobs with the job group `perfbench:<op>:<spanId>`, and the
  * listener's job spans become their children in the trace file. */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def groupOf(op: String, spanId: Int): String =
    s"${Attribution.Prefix}$op:$spanId"

  /** Runs `body` inside a span; with `tagJobs`, every Spark job it starts
    * carries the span's job group. Returns the body's value and the span. */
  def span[T](name: String, tagJobs: Boolean = false)(body: => T): (T, Span) = {
    val s = Span(spans.size + 1, stack.headOption.getOrElse(0), name, nowMs,
      Double.NaN, mutable.LinkedHashMap())
    spans += s
    stack = s.id :: stack
    val sc = spark.sparkContext
    if (tagJobs) sc.setJobGroup(groupOf(name, s.id), s"perfbench $name #${s.id}")
    try (body, s)
    finally {
      s.endMs = nowMs
      stack = stack.tail
      if (tagJobs) sc.clearJobGroup()
    }
  }

  def all: Seq[Span] = spans.toList

  /** One JSON object per line: spans first, then the listener's job spans
    * as children of the operation span that started them. */
  def write(file: Path, jobs: Seq[Attribution.JobSpan]): Unit = {
    val byGroup = spans.map(s => groupOf(s.name, s.id) -> s.id).toMap
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""${Json.esc(k)}": ${Json.num(v)}""" }
      s"""{"kind": "span", "id": ${s.id}, "parent": ${s.parent}, "name": "${Json.esc(s.name)}", """ +
        s""""start_ms": ${Json.num(s.startMs)}, "end_ms": ${Json.num(s.endMs)}, """ +
        s""""attrs": {${attrs.mkString(", ")}}}"""
    } ++ jobs.map { j =>
      s"""{"kind": "job", "job_id": ${j.jobId}, "parent": ${byGroup.getOrElse(j.group, 0)}, """ +
        s""""group": "${Json.esc(j.group)}", "start_ms": ${j.startMs}, "end_ms": ${j.endMs}}"""
    }
    Files.createDirectories(file.toAbsolutePath.getParent)
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                        var endMs: Double, attrs: mutable.LinkedHashMap[String, Double])
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Full-precision number; non-finite values are not JSON, so they map to
    * null and run.py rejects the result. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
