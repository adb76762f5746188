package graft.tools

import org.apache.spark.sql.SparkSession

import graft.index._
import graft.search._

/** CLI demo/smoke entry: build an index over the deterministic synthetic
  * corpus (or a parquet path with the input_hint columns) and run a query.
  *
  * usage: runMain graft.tools.Demo <query> [nDocs] [indexDir] [k]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val query = if (args.nonEmpty) args(0) else "import spark"
    val nDocs = if (args.length > 1) args(1).toLong else 2000L
    val dir = if (args.length > 2) args(2)
    else graft.index.TempDirs.dir("demo") // removed at exit
    val k = if (args.length > 3) args(3).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cfg = IndexConfig(numDocParts = 16, numBuckets = 16,
      hotDfThreshold = nDocs / 2, saltShift = 8,
      shufflePartitions = cpus.toInt)
    val t0 = System.nanoTime()
    IndexBuilder.build(spark, CorpusGen.generate(spark, nDocs).toDF(), dir, cfg)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val reader = IndexReader(spark, dir, cfg)
    println(f"[demo] indexed ${reader.collStats.maxDoc} docs in $buildSec%.2fs " +
      f"(${reader.collStats.maxDoc / buildSec}%.0f docs/s) -> $dir")

    val q = QueryParser.parse(query)
    println(s"[demo] parsed: $q")
    val joiner = new JoinScorer(reader)
    val hits = joiner.topK(q, k).as[(Long, Float)].collect()
    println(s"[demo] join-path top-$k:")
    hits.foreach { case (d, s) => println(f"  doc=$d%-16d score=$s%.6f") }
    // WAND path for pure term disjunctions
    val termsOnly = q.clauses.collect { case (Occur.Should, TermQ(t)) => t }
    if (termsOnly.length == q.clauses.length && termsOnly.nonEmpty) {
      val whits = new WandScorer(reader).topK(termsOnly, k)
        .as[(Long, Float)].collect()
      println(s"[demo] wand top-$k (must equal join path):")
      whits.foreach { case (d, s) => println(f"  doc=$d%-16d score=$s%.6f") }
      assert(whits.toSeq == hits.toSeq, "WAND != join path!")
    }
    spark.stop()
  }
}
