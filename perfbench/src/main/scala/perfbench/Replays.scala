package perfbench

import scala.collection.mutable

import graft.codec.{PostingBlock, PostingsCodec, PrePosting}
import graft.index.{BlockRow, CorpusGen, DocInput, IndexBuilder, IndexConfig}
import graft.search.BM25

/** Layer replays without Spark: each layer's public entry point run on one
  * thread over the workload's own generated docs, so a layer's throughput
  * is measured apart from Spark scheduling. Every rate is the median of
  * three passes. */
object Replays {

  /** Docs replayed per workload: enough for ~0.1 s passes, small enough
    * that the replays stay a minor part of a traced run. */
  val MaxDocs = 4000L

  def docs(seed: Long, n: Long): IndexedSeq[DocInput] =
    (0L until math.min(n, MaxDocs)).map(CorpusGen.row(seed, _))

  private def medianSeconds(passes: Int)(body: => Unit): Double =
    Stats.median((0 until passes).map(_ => Stats.seconds(body)._2))

  /** Sink for replay results, so the JIT cannot drop the work. */
  @volatile private var sink = 0L

  /** Tokens the analysis chain emits for `docs`, and tokens per second. */
  def analysis(docs: Seq[DocInput], cfg: IndexConfig): (Long, Double) = {
    def pass(): Long = docs.iterator.map(d => IndexBuilder.chainFlat(
      cfg.analyzer, d.lang, d.content, cfg.maxTokenLength)._1.length.toLong).sum
    val tokens = pass()
    val s = medianSeconds(3)(sink += pass())
    (tokens, tokens / s)
  }

  final case class CodecReplay(postings: Long, blocks: Seq[PostingBlock],
                               encodePerS: Double) {
    def bytes: Long =
      blocks.map(b => b.docBytes.length + b.nrmBytes.length + b.posBytes.length).sum.toLong
  }

  /** Inverts `docs` as the segments stage does, then encodes every term's
    * postings into blocks as the postings stage does (the pre-encoded path
    * the build runs, `PostingsCodec.encodePre`). */
  def encode(docs: Seq[DocInput], cfg: IndexConfig): CodecReplay = {
    val segs = docs.zipWithIndex.map { case (d, i) =>
      IndexBuilder.invertDoc(i.toLong, 0, d.repo, d.path, d.commit, d.lang,
        d.content, cfg.maxTokenLength, cfg.analyzer)
    }
    val byTerm = mutable.HashMap[String, mutable.ArrayBuffer[PrePosting]]()
    segs.foreach { s =>
      s.postings.foreach { p =>
        val norm = if (p.term.startsWith("path:")) s.pnorm else s.norm
        byTerm.getOrElseUpdate(p.term, mutable.ArrayBuffer()) +=
          PrePosting(s.docId, norm, p.pb)
      }
    }
    val cache = BM25.cache(BM25.avgFieldLength(segs.map(_.dl.toLong).sum,
      math.max(1, segs.size).toLong))
    val lists = byTerm.toArray.sortBy(_._1)
    def pass(): Seq[PostingBlock] = lists.toSeq.flatMap { case (t, ps) =>
      PostingsCodec.encodePre(t, ps.iterator, cache)
    }
    val blocks = pass()
    val postings = lists.map(_._2.size.toLong).sum
    val s = medianSeconds(3)(sink += pass().size)
    CodecReplay(postings, blocks, postings / s)
  }

  def block(b: BlockRow): PostingBlock = PostingBlock(b.term, b.firstDoc,
    b.lastDoc, b.count, b.maxTf, b.sumTf, b.maxPartial, b.docBytes,
    b.nrmBytes, b.posBytes)

  /** Postings per second through `PostingsCodec.decodeDocs`. */
  def decode(blocks: Seq[PostingBlock]): Double = {
    val postings = blocks.map(_.count.toLong).sum
    val s = medianSeconds(3) {
      blocks.foreach(b => sink += PostingsCodec.decodeDocs(b)._1.length)
    }
    postings / s
  }

  /** Scores per second through `BM25.score` over the decoded postings. */
  def bm25(blocks: Seq[PostingBlock]): Double = {
    val decoded = blocks.map(PostingsCodec.decodeDocs)
    val cache = BM25.cache(100f)
    val wv = BM25.weightValue(BM25.idf(10, 1000))
    val n = decoded.map(_._1.length.toLong).sum
    val s = medianSeconds(3) {
      var acc = 0f
      decoded.foreach { case (_, tfs, nrms) =>
        var i = 0
        while (i < tfs.length) {
          acc += BM25.score(wv, tfs(i).toFloat, cache, nrms(i)); i += 1
        }
      }
      sink += java.lang.Float.floatToIntBits(acc)
    }
    n / s
  }
}
