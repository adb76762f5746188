package perfbench

import java.nio.file.Files

import graft.index.{CheckIndex, CorpusGen, IndexBuilder, IndexConfig, IndexReader}

/** The bulk index build: the `query` workload's set-up, run several times
  * per run, so build throughput shows in its `setup_s`. Also the build's
  * correctness gates and the index-layer metrics. */
object Indexing {

  /** Stage markers whose counters must not differ between builds of the
    * same input. */
  private val markerStages = Seq("segments", "postings_wave_0", "collstats")

  def markers(dir: String): Seq[String] =
    markerStages.map(s => Files.readString(IndexBuilder.markerPath(dir, s)))

  /** One bulk build of the workload's generated corpus into `dir`, traced
    * as operation `build` in a traced run. Returns the build's per-stage
    * wall times. */
  def build(ctx: Ctx, n: Long, cfg: IndexConfig, dir: String): Map[String, Double] = {
    IndexBuilder.resetStageTimes()
    ctx.setupOp("build")(IndexBuilder.build(ctx.spark,
      CorpusGen.generate(ctx.spark, n, ctx.seed, 2 * ctx.cores).toDF(), dir, cfg))
    IndexBuilder.lastStageTimes
  }

  /** CheckIndex against the generated source is clean, and every build of
    * the same input wrote the same lineage counters. */
  def gates(ctx: Ctx, reader: IndexReader, n: Long,
            lineage: Seq[Seq[String]]): Seq[String] = {
    val source = CorpusGen.generate(ctx.spark, n, ctx.seed, 2 * ctx.cores).toDF()
    Gates.checkIndex(CheckIndex.run(reader, Some(source)).collect().toSeq) ++
      lineage.distinct.drop(1).map(m => s"lineage counters differ between " +
        s"builds of the same input: $m vs ${lineage.head}")
  }

  /** Per-stage wall times (medians over builds), with the lazy hot-term
    * sampling taken out of the postings stage that triggers it. */
  def stageMetrics(times: Seq[Map[String, Double]]): Map[String, Double] =
    if (times.isEmpty) Map.empty
    else {
      def med(f: Map[String, Double] => Double) = Stats.median(times.map(f))
      def get(m: Map[String, Double], k: String) = m.getOrElse(k, 0.0)
      Map(
        "index.stage.segments_s" -> med(get(_, "segments")),
        "index.stage.collstats_s" -> med(get(_, "collstats")),
        "index.stage.hotterms_s" -> med(get(_, "hotterms")),
        "index.stage.postings_s" -> med(m => m.collect {
          case (k, v) if k.startsWith("postings_wave_") => v }.sum - get(m, "hotterms")),
        "index.stage.termstats_s" -> med(get(_, "termstats")))
    }

  /** Index size per component, and per byte of input (all five input
    * columns, UTF-8). */
  def indexBytes(dir: String, seed: Long, n: Long): Map[String, Double] = {
    val input = (0L until n).iterator.map { i =>
      val d = CorpusGen.row(seed, i)
      Seq(d.repo, d.path, d.commit, d.lang, d.content)
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    }.sum
    Map(
      "index.bytes.segments" -> Ctx.dirBytes(s"$dir/segments").toDouble,
      "index.bytes.postings" -> Ctx.dirBytes(s"$dir/postings").toDouble,
      "index.bytes.termstats" -> Ctx.dirBytes(s"$dir/termstats").toDouble,
      "index.bytes_per_input_byte" -> Ctx.dirBytes(dir).toDouble / input)
  }

  /** Analysis and codec-encode replays on the workload's docs (the block
    * count comes from the built index, not from here). */
  def encodeLayers(ctx: Ctx, cfg: IndexConfig, n: Long): Map[String, Double] = {
    val docs = Replays.docs(ctx.seed, n)
    val (tokens, tokPerS) = ctx.replay("analysis")(Replays.analysis(docs, cfg))
    val codec = ctx.replay("codec.encode")(Replays.encode(docs, cfg))
    Map(
      "analysis.tokens" -> tokens.toDouble,
      "analysis.tokens_per_s" -> tokPerS,
      "codec.encode_postings_per_s" -> codec.encodePerS,
      "codec.bytes_per_posting" -> codec.bytes.toDouble / codec.postings)
  }
}
