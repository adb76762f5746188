package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.index.IndexConfig

/** Input sizes. `default` is what the benchmark runs; `tiny` is the
  * self-test's. The reasons for each size are in README.md. */
final case class Sizes(queryDocs: Long, dedupDocs: Long, setups: Int,
                       poolPerClass: Int)

object Sizes {
  val default = Sizes(queryDocs = 4000, dedupDocs = 120, setups = 3,
    poolPerClass = 6)
  val tiny = Sizes(queryDocs = 300, dedupDocs = 120, setups = 2,
    poolPerClass = 4)

  /** Index layout sized to the data and the core count, the same shape
    * the engine's scaling benchmark uses (hot terms at df >= n/2). */
  def indexConfig(nDocs: Long, cores: Int): IndexConfig = IndexConfig(
    numDocParts = 16, numBuckets = 16, shufflePartitions = 2 * cores,
    hotDfThreshold = math.max(1L, nDocs / 2))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
}

/** One timed call: operation name, wall milliseconds, and whether it ran in
  * the traced half of the run. */
final case class Draw(op: String, ms: Double, traced: Boolean)

/** What a workload hands back: the median latency of its timed operation,
  * the units of work completed in `busyS` seconds of timed calls, the
  * median set-up time and its per-layer metrics (empty unless traced). */
final case class WorkloadResult(p50Ms: Double, work: Double, busyS: Double,
                                setupS: Double,
                                perLayer: Map[String, Double])

/** Final result of one run, as run.py prints it. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[(String, Double)]) {
  def toJson: String = {
    val ms = metrics.map { case (k, v) =>
      s""""${Json.esc(k)}": {"value": ${Json.num(v)}, "unit": "${Catalogue.units(k)}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** State of one run: the session, the seed, the clock, the failure ledger
  * and, in a traced run, the tracer and the job listener.
  *
  * A traced run attaches the job listener from the start. It spends the
  * first half of its timed loop untraced (no job groups, spans or leak
  * probes; the listener ignores untagged jobs) and the second half traced,
  * so it can report tracing overhead as traced minus untraced median
  * latency. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val tmp: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark)
  val attribution = new Attribution
  val draws = mutable.ArrayBuffer[Draw]()
  val problems = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  /** A check found a wrong result (as opposed to a call that threw). */
  var wrong = false
  private var traced = false
  private var dirSeq = 0

  private val benchDirs = tmp.resolve("bench")
  /** java.io.tmpdir points here, so directories the engine or Spark leave
    * in it are leaks the benchmark can count. */
  private val javaTmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  /** A fresh directory owned by the benchmark (removed at exit). */
  def newDir(name: String): String = {
    dirSeq += 1
    val d = benchDirs.resolve(s"$name-$dirSeq")
    Files.createDirectories(d.getParent)
    d.toString
  }

  private val born = System.nanoTime()

  /** Progress line on stderr, with seconds since the run started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")

  def problem(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] PROBLEM: $msg")
  }

  /** A wrong result: marks the run incorrect and `ops` operations failed. */
  def wrongResult(msg: String, ops: Long = 1L): Unit = {
    wrong = true
    failed += ops
    problem(msg)
  }

  if (trace) spark.sparkContext.addSparkListener(attribution)

  /** A set-up call, attributed in a traced run like a timed one. */
  def setupOp[T](op: String)(body: => T): T =
    if (trace) tracer.span(op, tagJobs = true)(body)._1 else body

  /** One call into the engine. Timed, attributed when traced, and counted:
    * a call that throws is a failed operation, not a fast one. */
  def timed[T](op: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r =
        if (traced) {
          val (v, s) = tracer.span(op, tagJobs = true)(body)
          recordLeaks(s)
          v
        } else body
      val ms = (System.nanoTime() - t0) / 1e6
      draws += Draw(op, ms, traced)
      Some((r, ms))
    } catch {
      case NonFatal(e) =>
        failed += 1
        problem(s"$op failed: ${e.toString.replace('\n', ' ').take(300)}")
        None
    }
  }

  /** The discarded warm-up draw: counted as attempted, never timed. */
  def warmup[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        problem(s"warm-up $op failed: ${e.toString.replace('\n', ' ').take(300)}")
        None
    }
  }

  /** Repeats `step` until `seconds` have elapsed and at least `minSteps`
    * steps ran, so a slow host still yields enough draws for a median. A
    * traced run switches tracing on at half time and keeps going until at
    * least one draw on each side exists. */
  def loop(minSteps: Int)(step: Int => Unit): Unit = {
    note("timed loop")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    def tracedDone = draws.exists(_.traced)
    while (i < minSteps || elapsed < seconds || (trace && !tracedDone)) {
      if (trace && i > 0 && elapsed >= seconds / 2) traced = true
      step(i)
      i += 1
    }
    note(s"timed loop done: $i steps")
  }

  /** Runs a layer replay inside a span (traced runs only). */
  def replay[T](name: String)(body: => T): T =
    if (trace) tracer.span(s"replay.$name")(body)._1 else body

  private def cachedNow: (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (spark.sparkContext.getPersistentRDDs.size.toDouble,
      infos.map(i => i.memSize + i.diskSize).sum.toDouble)
  }

  private def leakedTempDirs: Double =
    Option(javaTmp.toFile.listFiles()).toSeq.flatten.count(_.isDirectory).toDouble

  /** Leak accounting after an operation, before any cleanup: the Datasets
    * still cached and the directories left in java.io.tmpdir. */
  private def recordLeaks(s: Tracer.Span): Unit = {
    val (n, bytes) = cachedNow
    s.attrs("cached_datasets") = n
    s.attrs("cached_bytes") = bytes
    s.attrs("leaked_temp_dirs") = leakedTempDirs
  }

  /** Driver heap after a full GC, in MB (run end, before cleanup). */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Per-call Spark work of every traced call of `op`, averaged. */
  def sparkMetrics(op: String): Map[String, Double] = {
    val aggs = tracer.all.filter(s => s.name == op)
      .flatMap(s => attribution.aggregate(tracer.groupOf(op, s.id)))
    val n = math.max(1, tracer.all.count(_.name == op)).toDouble
    def per(f: attribution.Agg => Double): Double = aggs.map(f).sum / n
    val tasks = aggs.map(_.tasks).sum
    Map(
      "jobs" -> per(_.jobs.toDouble),
      "tasks" -> per(_.tasks.toDouble),
      "empty_task_frac" ->
        (if (tasks == 0) 0.0 else aggs.map(_.emptyTasks).sum.toDouble / tasks),
      "shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "spill_bytes" -> per(_.spill.toDouble),
      "task_cpu_s" -> per(_.cpuNs / 1e9),
      "gc_s" -> per(_.gcMs / 1e3),
      "failed_tasks" -> per(_.failedTasks.toDouble)
    ).map { case (k, v) => s"spark.$op.$k" -> v }
  }

  /** Mean wall time per traced call of `ops` not covered by any of its
    * Spark jobs: driver-side work (planning, collection, scoring set-up). */
  def driverMs(ops: Set[String]): Double = {
    val jobsByGroup = attribution.jobs.groupBy(_.group)
    val per = tracer.all.filter(s => ops.contains(s.name)).map { s =>
      val iv = jobsByGroup.getOrElse(tracer.groupOf(s.name, s.id), Nil)
        .map(j => (math.max(j.startMs.toDouble, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs.toDouble, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      math.max(0.0, (s.endMs - s.startMs) - covered)
    }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }

  /** Everything a run ends with: drain the listener, assemble the metrics
    * of the mode, write the trace. */
  def finish(result: WorkloadResult, traceFile: Option[Path]): Outcome = {
    note("finish")
    val heapMb = retainedHeapMb()
    val (cachedN, cachedBytes) = cachedNow
    val leaked = leakedTempDirs
    val metrics: Seq[(String, Double)] =
      if (!trace) {
        Seq(
          "setup_s" -> result.setupS,
          "op_p50_ms" -> result.p50Ms,
          "work_per_s" -> result.work / result.busyS,
          "retained_heap_mb" -> heapMb)
      } else {
        attribution.drain(spark)
        val un = draws.filterNot(_.traced).map(_.ms).toSeq
        val tr = draws.filter(_.traced).map(_.ms).toSeq
        val overhead =
          if (un.isEmpty || tr.isEmpty) 0.0 else Stats.median(tr) - Stats.median(un)
        val sparkAll = Catalogue.sparkOps.flatMap(sparkMetrics).toMap
        val common = Map(
          "spark.cached_datasets" -> cachedN,
          "spark.cached_bytes" -> cachedBytes,
          "bench.leaked_temp_dirs" -> leaked,
          "bench.error_rate" -> failed.toDouble / math.max(1L, attempted),
          "trace.overhead_ms" -> overhead)
        val all = Catalogue.perLayer.map(_._1).map(_ -> 0.0).toMap ++
          sparkAll ++ result.perLayer ++ common
        val unknown = all.keySet -- Catalogue.perLayer.map(_._1)
        require(unknown.isEmpty, s"metrics missing from the catalogue: $unknown")
        traceFile.foreach(f => tracer.write(f, attribution.jobs))
        Catalogue.perLayer.map { case (k, _) => k -> all(k) }
      }
    Outcome(!wrong, attempted, failed, metrics)
  }
}

object Ctx {
  /** Sum of regular-file sizes under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Option(p.toFile.listFiles()).toSeq.flatten
        .foreach(f => deleteRecursively(f.toPath))
    Files.deleteIfExists(p)
  }
}
