package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.index.{IndexBuilder, IndexReader}
import graft.search.{BoolQ, JoinScorer, Occur, QueryParser, TermQ, WandScorer}

/** `query`: one client in a closed loop over a prebuilt index. Set-up is
  * the bulk build (`Indexing.build`), so build throughput shows in
  * `setup_s`. A seeded stream draws from a pool of distinct top-10 queries
  * in two classes:
  *  - `wand`: WandScorer disjunctions of 1-4 terms mixing the hot terms
  *    with mid-df and rare terms, where block-max pruning can skip;
  *  - `bool`: JoinScorer queries with AND, NOT, minShouldMatch and
  *    phrases, which decode positions and bypass WAND.
  * A call is timed from the call until its top-k is collected; the timed
  * operation is a round of one query of each class, so its median does
  * not depend on the class mix of a short stream. */
object QueryWorkload {

  val K = 10

  final case class Q(name: String, cls: String, kind: String,
                     terms: Seq[String], text: String, msm: Int = 0) {
    def boolQ: BoolQ = kind match {
      case "or" => BoolQ(terms.map(t => (Occur.Should: Occur, TermQ(t): graft.search.Query)))
      case "msm" => QueryParser.parse(text).copy(minShouldMatch = msm)
      case _ => QueryParser.parse(text)
    }
  }

  private val hot = Seq("import", "return")
  private val code = Seq("def", "val", "class", "object", "public", "static",
    "void", "println", "spark", "dataset", "filter", "map", "reduce", "index",
    "query", "score", "merge", "block")

  /** Shapes of the WAND disjunctions, as df classes: H hot (~100% of
    * docs), C code word (~80%), M `idNNN` (~3%), R plain number (~0.1%). */
  private val wandShapes = Seq("H", "HM", "HCR", "HMRC", "CM", "HHM")
  private val boolKinds = Seq("and", "not", "msm", "phrase")

  /** The query pool: fixed shapes, with the concrete terms of each df
    * class drawn from the seed, so seeds differ in terms, not in the
    * amount of work. */
  def pool(seed: Long, perClass: Int): Seq[Q] = {
    val rng = new Random(seed * 0x9E3779B97F4A7C15L + 17)
    def term(cls: Char): String = cls match {
      case 'H' => hot(rng.nextInt(hot.size))
      case 'C' => code(rng.nextInt(code.size))
      case 'M' => f"id${rng.nextInt(1000)}%03d"
      case _ => rng.nextInt(10000).toString
    }
    def terms(shape: String): Seq[String] = {
      val s = mutable.LinkedHashSet[String]()
      shape.foreach { c =>
        var t = term(c)
        while (s.contains(t)) t = term(c)
        s += t
      }
      s.toSeq
    }
    val wand = (0 until perClass).map { i =>
      val ts = terms(wandShapes(i % wandShapes.size))
      Q(s"wand$i", "wand", "or", ts, ts.mkString(" "))
    }
    val bool = (0 until perClass).map { i =>
      boolKinds(i % boolKinds.size) match {
        case "and" =>
          val ts = terms("CM")
          Q(s"bool$i", "bool", "and", ts, ts.map("+" + _).mkString(" "))
        case "not" =>
          val ts = terms("MMC")
          Q(s"bool$i", "bool", "not", ts,
            (ts.init :+ ("-" + ts.last)).mkString(" "))
        case "msm" =>
          val ts = terms("CMM")
          Q(s"bool$i", "bool", "msm", ts, ts.mkString(" "), msm = 2)
        case _ =>
          val ts = terms("HCM")
          Q(s"bool$i", "bool", "phrase", ts, s"\"${ts(0)} ${ts(1)}\" ${ts(2)}")
      }
    }
    wand ++ bool
  }

  private def hits(df: DataFrame): Gates.Hits =
    df.collect().map(r => (r.getLong(0), r.getFloat(1))).toIndexedSeq

  def execute(reader: IndexReader, q: Q): Gates.Hits =
    if (q.cls == "wand") hits(new WandScorer(reader).topK(q.terms, K))
    else hits(new JoinScorer(reader).topK(q.boolQ, K))

  /** The same query through the other engine, where both apply. */
  def crossCheck(reader: IndexReader, q: Q): Option[Gates.Hits] = q.kind match {
    case "or" => Some(hits(new JoinScorer(reader).topK(q.boolQ, K)))
    case "and" => Some(hits(new WandScorer(reader).topK(q.terms, K, conjunctive = true)))
    case "msm" => Some(hits(new WandScorer(reader).topK(q.terms, K, minShouldMatch = q.msm)))
    case _ => None
  }

  /** Digests of NOT and phrase results at the default seed and size,
    * recorded from JoinScorer (whose OR/AND/msm results are checked
    * against WandScorer on every run). Lines: seed, docs, query, digest. */
  lazy val pins: Map[(Long, Long, String), String] = {
    val in = getClass.getResourceAsStream("/perfbench/pinned_digests.tsv")
    if (in == null) Map.empty
    else try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
        .map(a => (a(0).toLong, a(1).toLong, a(2)) -> a(3)).toMap
    } finally in.close()
  }

  def run(ctx: Ctx, sizes: Sizes): WorkloadResult = {
    val n = sizes.queryDocs
    val cfg = Sizes.indexConfig(n, ctx.cores)

    // set-up: bulk build + reader open, several times; the last one serves
    var dir: String = null
    var reader: IndexReader = null
    val stageTimes = mutable.ArrayBuffer[Map[String, Double]]()
    val lineage = mutable.ArrayBuffer[Seq[String]]()
    val setups = (0 until sizes.setups).map { _ =>
      if (dir != null) Ctx.deleteRecursively(Paths.get(dir))
      dir = ctx.newDir("query-index")
      val s = Stats.seconds {
        stageTimes += Indexing.build(ctx, n, cfg, dir)
        reader = IndexReader(ctx.spark, dir, cfg)
        reader.collStats
      }._2
      lineage += Indexing.markers(dir)
      s
    }
    ctx.note(s"set-up done: ${setups.map(t => f"$t%.2f").mkString(" ")} s")

    val qs = pool(ctx.seed, sizes.poolPerClass)
    val first = mutable.LinkedHashMap[String, Gates.Hits]()
    val runs = mutable.Map[String, Int]().withDefaultValue(0)
    def record(q: Q, h: Gates.Hits): Unit = {
      runs(q.name) += 1
      first.get(q.name) match {
        case None => first(q.name) = h
        case Some(f) => Gates.agreement(s"${q.name} repeated", f, h)
          .foreach(p => ctx.wrongResult(s"query: $p"))
      }
    }
    // warm-up: two passes over the pool (JIT, plan caches, term-stats memos)
    for (_ <- 0 until 2; q <- qs)
      ctx.warmup(q.cls)(execute(reader, q)).foreach(record(q, _))

    // a round is one query of each class; the seeded stream walks each
    // class's pool in a fresh shuffled order per cycle, so every run
    // covers the pool evenly
    val stream = new Random(ctx.seed * 31 + 7)
    val byClass = qs.groupBy(_.cls)
    val order = mutable.Map[String, List[Q]]().withDefaultValue(Nil)
    def next(cls: String): Q = {
      if (order(cls).isEmpty) order(cls) = stream.shuffle(byClass(cls)).toList
      val q = order(cls).head
      order(cls) = order(cls).tail
      q
    }
    val roundMs = mutable.ArrayBuffer[Double]()
    val wandDraws = mutable.ArrayBuffer[String]()
    ctx.loop(minSteps = 20) { _ =>
      val ms = Seq("wand", "bool").flatMap { cls =>
        val q = next(cls)
        ctx.timed(cls)(execute(reader, q)).map { case (h, ms) =>
          if (cls == "wand") wandDraws += q.name
          record(q, h)
          ms
        }
      }
      if (ms.size == 2) roundMs += ms.sum
    }

    // correctness, outside the timed region
    ctx.note("gates")
    Indexing.gates(ctx, reader, n, lineage.toSeq)
      .foreach(p => ctx.wrongResult(s"build: $p"))
    val pinned = pins.keys.exists(k => k._1 == ctx.seed && k._2 == n)
    qs.filter(q => first.contains(q.name)).foreach { q =>
      val h = first(q.name)
      val problems = Gates.rankProblems(q.name, h, K) ++
        crossCheck(reader, q).toSeq.flatMap(o =>
          Gates.agreement(s"${q.name} [${q.text}] ${q.cls} vs other engine", h, o)) ++
        (if (q.kind != "not" && q.kind != "phrase") Nil
        else pins.get((ctx.seed, n, q.text)) match {
          case None if pinned => Seq(s"${q.name} [${q.text}]: no pinned digest " +
            s"for seed ${ctx.seed}, although that seed has pins")
          case expected => Gates.pinned(s"${q.name} [${q.text}]", h, expected)
        })
      System.err.println(
        s"[perfbench] digest\t${ctx.seed}\t$n\t${q.text}\t${Gates.digest(h)}")
      problems.foreach(p => ctx.wrongResult(s"query: $p", runs(q.name).toLong))
    }

    val perLayer =
      if (!ctx.trace) Map.empty[String, Double]
      else layers(ctx, reader, dir, n, qs, wandDraws.toSeq, stageTimes.toSeq)
    WorkloadResult(
      if (roundMs.isEmpty) Double.NaN else Stats.median(roundMs.toSeq),
      2.0 * roundMs.size, roundMs.sum / 1e3, Stats.median(setups), perLayer)
  }

  private val BlocksCounter = """"blocks":\s*(\d+)""".r.unanchored

  private def layers(ctx: Ctx, reader: IndexReader, dir: String, n: Long,
                     qs: Seq[Q], wandDraws: Seq[String],
                     stageTimes: Seq[Map[String, Double]]): Map[String, Double] = {
    val spark = ctx.spark
    val cfg = Sizes.indexConfig(n, ctx.cores)
    def classMs(cls: String) = ctx.draws.filter(_.op == cls).map(_.ms).toSeq
    def p(cls: String, q: Double) =
      if (classMs(cls).isEmpty) 0.0 else Stats.pct(classMs(cls), q)

    val bools = qs.filter(_.cls == "bool")
    val parseUs = ctx.replay("search.parse") {
      val reps = 200
      val s = Stats.median((0 until 3).map(_ => Stats.seconds {
        var i = 0
        while (i < reps) { bools.foreach(_.boolQ); i += 1 }
      }._2))
      s / (reps * bools.size) * 1e6
    }

    val blocksOf = qs.filter(_.cls == "wand")
      .map(q => q.name -> reader.blocks(q.terms).count().toDouble).toMap
    val blocksPerQuery =
      if (wandDraws.isEmpty) 0.0 else wandDraws.map(blocksOf).sum / wandDraws.size

    val touched = reader.blocks(qs.flatMap(_.terms).distinct).collect()
      .map(Replays.block).toSeq
    val decode = ctx.replay("codec.decode")(Replays.decode(touched))
    val bm25 = ctx.replay("search.bm25")(Replays.bm25(touched))

    // a freshly opened reader: open-time metadata, the first term-stats
    // lookup and the first query (driver memos empty; Spark may share the
    // cached columnar data of the serving reader over the same files)
    val probe = qs.find(_.cls == "wand").get
    val fresh = (0 until 3).map { _ =>
      ctx.replay("index.reopen") {
        val (r, open) = Stats.seconds {
          val r = IndexReader(spark, dir, cfg); r.collStats; r.normCache; r
        }
        val ts = Stats.seconds(r.termStats(probe.terms))._2
        val fq = Stats.seconds(new WandScorer(r).topK(probe.terms, K).collect())._2
        (open * 1e3, ts * 1e3, fq * 1e3)
      }
    }

    val wandSpans = ctx.tracer.all.filter(_.name == "wand")
    val wandRunMs = wandSpans
      .flatMap(s => ctx.attribution.aggregate(ctx.tracer.groupOf("wand", s.id)))
      .map(_.rddShuffleRunMs).sum.toDouble
    val blocks = Files.readString(IndexBuilder.markerPath(dir, "postings_wave_0")) match {
      case BlocksCounter(b) => b.toDouble
      case _ => 0.0
    }
    Indexing.encodeLayers(ctx, cfg, n) ++ Indexing.stageMetrics(stageTimes) ++
      Indexing.indexBytes(dir, ctx.seed, n) ++ Map(
      "codec.blocks" -> blocks,
      "codec.decode_postings_per_s" -> decode,
      "search.bm25_scores_per_s" -> bm25,
      "search.parse_us" -> parseUs,
      "search.blocks_per_query" -> blocksPerQuery,
      "search.score_stage_run_ms" ->
        (if (wandSpans.isEmpty) 0.0 else wandRunMs / wandSpans.size),
      "search.driver_ms" -> ctx.driverMs(Set("wand", "bool")),
      "search.wand_p50_ms" -> p("wand", 0.5),
      "search.wand_p90_ms" -> p("wand", 0.9),
      "search.bool_p50_ms" -> p("bool", 0.5),
      "search.bool_p90_ms" -> p("bool", 0.9),
      "index.reader_open_ms" -> Stats.median(fresh.map(_._1)),
      "index.termstats_ms" -> Stats.median(fresh.map(_._2)),
      "index.first_query_ms" -> Stats.median(fresh.map(_._3)))
  }
}
