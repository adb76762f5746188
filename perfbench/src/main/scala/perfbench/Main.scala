package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, in this JVM.
  *
  * {{{
  * perfbench.Main --workload query|dedup --seed N --seconds S
  *                --trace 0|1 --tmp DIR [--trace-file FILE]
  * }}}
  * Prints `PERFBENCH <json>` on stdout; run.py checks it against
  * BENCHMARK.json and prints the JSON as its last line. */
object Main {

  val workloads: Map[String, (Ctx, Sizes) => WorkloadResult] = Map(
    "query" -> QueryWorkload.run,
    "dedup" -> DedupWorkload.run)

  def session(tmp: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def runWorkload(spark: SparkSession, workload: String, sizes: Sizes,
                  seed: Long, seconds: Double, trace: Boolean, tmp: Path,
                  traceFile: Option[Path]): (Outcome, Ctx) = {
    val ctx = new Ctx(spark, seed, seconds, trace, tmp)
    val body = workloads(workload)
    val result =
      if (trace) ctx.tracer.span(s"workload.$workload")(body(ctx, sizes))._1
      else body(ctx, sizes)
    (ctx.finish(result, traceFile), ctx)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = need("--workload")
    require(workloads.contains(workload),
      s"unknown workload '$workload' (${workloads.keys.toSeq.sorted.mkString(" | ")})")
    val tmp = Paths.get(need("--tmp")).toAbsolutePath
    val spark = session(tmp)
    val (outcome, ctx) = try runWorkload(spark, workload, Sizes.default,
        need("--seed").toLong, need("--seconds").toDouble,
        need("--trace") == "1", tmp, opts.get("--trace-file").map(Paths.get(_)))
      finally spark.stop()
    ctx.problems.foreach(p => System.err.println(s"[perfbench] $p"))
    println("PERFBENCH " + outcome.toJson)
  }
}
