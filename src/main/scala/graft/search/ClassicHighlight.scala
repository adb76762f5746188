package graft.search

import scala.collection.mutable.ArrayBuffer

/** Classic (re-analysis) Highlighter — the default Solr 5.2 highlight path
  * (`hl=true` without `hl.useFastVectorHighlighter`): re-tokenize the stored
  * text, score each token against the query's weighted terms, cut the token
  * stream into fragments, and return the best-scoring fragments marked up.
  *
  * Faithful port of the reference pipeline:
  *  - lucene/highlighter/src/java/org/apache/lucene/search/highlight/
  *    Highlighter.java:179-437 (getBestTextFragments: TokenGroup flush loop,
  *    maxDocCharsToAnalyze cutoff, trailing-text append, FragmentQueue with
  *    (score desc, fragNum asc) order, mergeContiguousFragments)
  *  - TokenGroup.java:30-137 (overlapping-token grouping: a token joins the
  *    current group unless its startOffset >= the group's max endOffset;
  *    the marked-up range covers only the scored (score>0) tokens)
  *  - QueryTermScorer.java:36-150 (position-INsensitive scoring: token score
  *    = term weight; fragment score sums each distinct term once)
  *  - QueryScorer.java:107-155 + WeightedSpanTerm.java:28-60 (position-
  *    SENSITIVE scoring: a term contributes only at positions inside one of
  *    its PositionSpans; position = running sum of posIncs starting at -1)
  *  - WeightedSpanTermExtractor.java:54-292 (query -> weighted span terms:
  *    BooleanQuery recurses over non-prohibited clauses; PhraseQuery becomes
  *    SpanNearQuery with slop += largestPositionIncrement when > 1 and
  *    inorder = (slop == 0); span positions collected as
  *    [startPosition, endPosition-1]; repeated span terms accumulate spans;
  *    plain term extraction overwrites with a non-sensitive entry)
  *  - SimpleFragmenter.java:50-66 (fragment break when the current token's
  *    endOffset crosses fragmentSize * fragCount)
  *  - SimpleSpanFragmenter.java:61-110 (same, but never splits inside a
  *    position span — waitForPos holds the break until the span's end + 1 —
  *    and a break also requires >= fragmentSize/2 chars of remaining text;
  *    its internal position counter advances only on the tokens the
  *    Highlighter consults it for, a reference quirk kept as-is)
  *  - SimpleHTMLFormatter (wrap <B>..</B> iff the group's totalScore > 0)
  *
  * The reference evaluates phrase/span spans by running the span query
  * against a single-doc MemoryIndex built from the same token stream
  * (WeightedSpanTermExtractor.getLeafContext); here the spans are walked
  * directly over the document's own token positions with the same
  * NearSpansOrdered greedy chain / NearSpansUnordered minimal-window
  * walks the engine's span scorers use
  * (JoinScorer.orderedSpanMatches/unorderedSpanMatches, oracle-verified).
  *
  * Fields are not modeled: engine queries are single-field, so the
  * extractor's fieldNameComparator filter is the identity here.
  */
object ClassicHighlight {

  /** One analyzed token: term text, char offsets into the original text,
    * position increment (0 = stacked on the previous token's position). */
  final case class Tok(term: String, start: Int, end: Int, posInc: Int = 1)

  /** Inclusive position range of one span match
    * (reference PositionSpan.java; end = spans.endPosition() - 1). */
  final case class PosSpan(start: Int, end: Int)

  /** reference WeightedSpanTerm.java:28 */
  final case class WSpanTerm(weight: Float, positionSensitive: Boolean,
                             spans: Vector[PosSpan]) {
    def checkPosition(p: Int): Boolean =
      spans.exists(s => p >= s.start && p <= s.end)
  }

  // ---------------------------------------------------------------- queries

  /** Query subset the extractor understands (extract() dispatch,
    * WeightedSpanTermExtractor.java:54-153). */
  sealed trait HQuery
  final case class HTerm(term: String, boost: Float = 1f) extends HQuery
  /** Non-prohibited clauses of a BooleanQuery (MUST_NOT never extracted). */
  final case class HBool(clauses: Seq[HQuery]) extends HQuery
  /** PhraseQuery: (term, position) pairs + slop. */
  final case class HPhrase(terms: Seq[(String, Int)], slop: Int = 0,
                           boost: Float = 1f) extends HQuery
  /** SpanNearQuery whose slots may each be a term disjunction (SpanOr /
    * MultiPhraseQuery lowering, WeightedSpanTermExtractor.java:175-225). */
  final case class HSpanNear(slots: Seq[Seq[String]], slop: Int,
                             inOrder: Boolean, boost: Float = 1f) extends HQuery
  /** SpanNotQuery(include, exclude-term): include spans that do not overlap
    * any position of the exclude term; extractTerms = include side only
    * (core/.../spans/SpanNotQuery.java:81). */
  final case class HSpanNot(include: HSpanNear, exclude: String) extends HQuery
  /** Pre-weighted term (the QueryScorer(WeightedSpanTerm[]) constructor,
    * QueryScorer.java:86-99: keep the max weight per term). */
  final case class HWeighted(term: String, weight: Float,
                             spans: Vector[PosSpan] = Vector.empty,
                             positionSensitive: Boolean = false) extends HQuery

  /** Running token positions (QueryScorer.java:133 `position += posInc`,
    * starting at -1). */
  def positions(tokens: IndexedSeq[Tok]): Array[Int] = {
    val out = new Array[Int](tokens.length)
    var p = -1
    var i = 0
    while (i < tokens.length) { p += tokens(i).posInc; out(i) = p; i += 1 }
    out
  }

  // ------------------------------------------------------- span enumeration

  /** Sorted distinct positions per slot (a slot matches at a position when
    * ANY of its alternative terms sits there). */
  private def slotPositions(slots: Seq[Seq[String]],
                            tokens: IndexedSeq[Tok],
                            pos: Array[Int]): Array[Array[Int]] =
    slots.map { alts =>
      val set = alts.toSet
      val b = ArrayBuffer.empty[Int]
      var i = 0
      while (i < tokens.length) {
        if (set.contains(tokens(i).term) && (b.isEmpty || b.last != pos(i)))
          b += pos(i)
        i += 1
      }
      b.toArray
    }.toArray

  /** The span matches of one near query over the doc's tokens, from the
    * engine's shared ordered / unordered span walks. */
  private def nearSpans(q: HSpanNear, tokens: IndexedSeq[Tok],
                        pos: Array[Int]): Vector[PosSpan] = {
    val bySlot = slotPositions(q.slots, tokens, pos)
    if (q.slots.length == 1)
      bySlot(0).toVector.map(p => PosSpan(p, p))
    else if (q.inOrder)
      JoinScorer.orderedSpanMatches(bySlot, q.slop)
        .map(legs => PosSpan(legs.head, legs.last)).toVector
    else
      JoinScorer.unorderedSpanMatches(bySlot, q.slop)
        .map { case (s, e) => PosSpan(s, e) }.toVector
  }

  // ------------------------------------------------------------- extraction

  /** QueryScorer's weighted-span-term extraction
    * (WeightedSpanTermExtractor.java:54-292) evaluated against this
    * document's own tokens (the reference's single-doc MemoryIndex). */
  def extract(q: HQuery, tokens: IndexedSeq[Tok]): Map[String, WSpanTerm] = {
    val pos = positions(tokens)
    val terms = scala.collection.mutable.LinkedHashMap.empty[String, WSpanTerm]

    def addSpanTerms(slotTerms: Seq[String], spans: Vector[PosSpan],
                     boost: Float): Unit = {
      if (spans.isEmpty) return // reference: "no spans found" -> nothing added
      slotTerms.distinct.foreach { t =>
        terms.get(t) match {
          case Some(w) => terms(t) = w.copy(spans = w.spans ++ spans)
          case None    => terms(t) = WSpanTerm(boost, positionSensitive = true, spans)
        }
      }
    }

    def go(q: HQuery): Unit = q match {
      case HTerm(t, b) =>
        // extractWeightedTerms: unconditional put (non-sensitive, last wins)
        terms(t) = WSpanTerm(b, positionSensitive = false, Vector.empty)
      case HBool(cs) => cs.foreach(go)
      case HPhrase(ts, slop, b) =>
        // slop += largest position increment when > 1; inorder = slop == 0
        val ps = ts.map(_._2)
        val largestInc =
          if (ps.length < 2) 0
          else ps.sliding(2).map(w => w(1) - w(0)).max
        val adj = if (largestInc > 1) slop + largestInc else slop
        val near = HSpanNear(ts.map(t => Seq(t._1)), adj, inOrder = adj == 0, b)
        addSpanTerms(ts.map(_._1), nearSpans(near, tokens, pos), b)
      case sn @ HSpanNear(slots, _, _, b) =>
        addSpanTerms(slots.flatten, nearSpans(sn, tokens, pos), b)
      case HSpanNot(inc, excl) =>
        val exclPos = slotPositions(Seq(Seq(excl)), tokens, pos)(0)
        val spans = nearSpans(inc, tokens, pos).filterNot(s =>
          exclPos.exists(p => p >= s.start && p <= s.end))
        addSpanTerms(inc.slots.flatten, spans, inc.boost)
      case HWeighted(t, w, spans, sensitive) =>
        // QueryScorer(WeightedSpanTerm[]): keep the higher weight
        terms.get(t) match {
          case Some(ex) if ex.weight >= w => ()
          case _ => terms(t) = WSpanTerm(w, sensitive, spans)
        }
    }
    go(q)
    terms.toMap
  }

  /** QueryTermScorer's extraction (QueryTermExtractor.getTerms): flatten to
    * (term, boost), position-INsensitive, max weight per term
    * (QueryTermScorer.java:86-99). */
  def extractFlat(q: HQuery): Map[String, WSpanTerm] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Float]
    def add(t: String, w: Float): Unit =
      if (out.getOrElse(t, Float.NegativeInfinity) < w) out(t) = w
    def go(q: HQuery): Unit = q match {
      case HTerm(t, b)               => add(t, b)
      case HBool(cs)                 => cs.foreach(go)
      case HPhrase(ts, _, b)         => ts.foreach(t => add(t._1, b))
      case HSpanNear(slots, _, _, b) => slots.flatten.foreach(add(_, b))
      case HSpanNot(inc, _)          => go(inc)
      case HWeighted(t, w, _, _)     => add(t, w)
    }
    go(q)
    out.map { case (t, w) =>
      t -> WSpanTerm(w, positionSensitive = false, Vector.empty)
    }.toMap
  }

  // ------------------------------------------------------------ fragmenters

  sealed trait Fragmenter
  /** Whole text as one fragment (NullFragmenter.java). */
  case object NullFrag extends Fragmenter
  /** SimpleFragmenter.java: break when endOffset crosses size*k. */
  final case class SimpleFrag(size: Int = 100) extends Fragmenter
  /** SimpleSpanFragmenter.java: SimpleFrag that never splits inside a
    * position span and keeps >= size/2 chars of tail. */
  final case class SpanFrag(size: Int = 100) extends Fragmenter

  final case class Frag(text: String, score: Float, fragNum: Int)

  final case class HighlightResult(frags: Vector[Frag], numHighlights: Int)

  // --------------------------------------------------------------- the loop

  /** Highlighter.getBestTextFragments (Highlighter.java:179-355).
    *
    * @param tokens        analyzed tokens of `text` (offsets into `text`)
    * @param weightedTerms extract()/extractFlat() output
    * @return fragments in best-first order (score desc, fragNum asc),
    *         contiguous ones merged, zero-score ones dropped; plus the
    *         count of highlighted token groups (the reference tests'
    *         numHighlights counter, HighlighterTest.java:1985-1991)
    */
  def highlight(tokens: IndexedSeq[Tok], text: String,
          weightedTerms: Map[String, WSpanTerm],
          fragmenter: Fragmenter = SimpleFrag(),
          maxNumFragments: Int = 1,
          maxDocCharsToAnalyze: Int = 50 * 1024,
          pre: String = "<B>", post: String = "</B>",
          encode: String => String = identity): HighlightResult = {
    val maxFrags = math.max(1, maxNumFragments)
    val pos = positions(tokens)

    // token score (QueryScorer.getTokenScore / QueryTermScorer.getTokenScore)
    def tokenScore(i: Int): Float = weightedTerms.get(tokens(i).term) match {
      case None => 0f
      case Some(w) =>
        if (w.positionSensitive && !w.checkPosition(pos(i))) 0f else w.weight
    }

    // fragmenter state; the Highlighter consults the fragmenter with the
    // CURRENT token's attributes, and only on group-flush boundaries
    var currentNumFrags = 1
    var waitForPos = -1
    var sfPos = -1 // SimpleSpanFragmenter's own posInc accumulator (quirk)
    def isNewFragment(i: Int): Boolean = fragmenter match {
      case NullFrag => false
      case SimpleFrag(size) =>
        val nf = tokens(i).end >= size * currentNumFrags
        if (nf) currentNumFrags += 1
        nf
      case SpanFrag(size) =>
        sfPos += tokens(i).posInc
        if (waitForPos == sfPos) waitForPos = -1
        else if (waitForPos != -1) return false
        weightedTerms.get(tokens(i).term).foreach { w =>
          w.spans.find(_.start == sfPos).foreach(s => waitForPos = s.end + 1)
        }
        val nf = tokens(i).end >= size * currentNumFrags &&
          (text.length - tokens(i).end) >= (size >>> 1)
        if (nf) currentNumFrags += 1
        nf
    }

    // fragment accounting over the marked-up buffer (TextFragment.java)
    final class MFrag(val fragNum: Int, val startPos: Int) {
      var endPos: Int = startPos
      var score: Float = 0f
    }
    val sb = new java.lang.StringBuilder
    val docFrags = ArrayBuffer.empty[MFrag]
    var curFrag = new MFrag(0, 0)
    docFrags += curFrag
    var fragUnique = Set.empty[String] // distinct-term fragment score
    var fragTotal = 0f

    def startNewFragment(): Unit = {
      curFrag.score = fragTotal
      curFrag.endPos = sb.length
      curFrag = new MFrag(docFrags.length, sb.length)
      docFrags += curFrag
      fragUnique = Set.empty
      fragTotal = 0f
    }

    // TokenGroup state (TokenGroup.java)
    var gN = 0
    var gEnd = 0
    var gMatchStart = 0; var gMatchEnd = 0
    var gTot = 0f
    var lastEndOffset = 0
    var numHighlights = 0

    def flushGroup(): Unit = {
      val s = gMatchStart; val e = gMatchEnd
      val raw = text.substring(s, e)
      val marked =
        if (gTot > 0) { numHighlights += 1; pre + encode(raw) + post }
        else encode(raw)
      if (s > lastEndOffset) sb.append(encode(text.substring(lastEndOffset, s)))
      sb.append(marked)
      lastEndOffset = math.max(e, lastEndOffset)
      gN = 0; gTot = 0f
    }

    var i = 0
    var stopped = false
    while (i < tokens.length && !stopped) {
      val tk = tokens(i)
      if (tk.start >= maxDocCharsToAnalyze) stopped = true
      else {
        require(tk.end <= text.length && tk.start <= text.length,
          s"token '${tk.term}' exceeds text length ${text.length}")
        if (gN > 0 && tk.start >= gEnd) {
          flushGroup()
          if (isNewFragment(i)) startNewFragment()
        }
        // the scorer sees every token (getTokenScore is evaluated before
        // TokenGroup.addToken's capacity check)
        val sc = tokenScore(i)
        // fragment score: each distinct matched term once per fragment
        if (sc > 0 && !fragUnique.contains(tk.term)) {
          fragTotal += sc
          fragUnique += tk.term
        }
        // TokenGroup.addToken
        if (gN < 50) { // MAX_NUM_TOKENS_PER_GROUP
          if (gN == 0) {
            gMatchStart = tk.start; gMatchEnd = tk.end
            gEnd = tk.end
            gTot += sc
          } else {
            gEnd = math.max(gEnd, tk.end)
            if (sc > 0) {
              if (gTot == 0) { gMatchStart = tk.start; gMatchEnd = tk.end }
              else {
                gMatchStart = math.min(gMatchStart, tk.start)
                gMatchEnd = math.max(gMatchEnd, tk.end)
              }
              gTot += sc
            }
          }
          gN += 1
        }
        i += 1
      }
    }
    curFrag.score = fragTotal
    if (gN > 0) flushGroup()
    // text beyond the last analyzed token (skipped when truncated by
    // maxDocCharsToAnalyze, Highlighter.java:281-290)
    if (lastEndOffset < text.length && text.length <= maxDocCharsToAnalyze)
      sb.append(encode(text.substring(lastEndOffset)))
    curFrag.endPos = sb.length

    // FragmentQueue: top maxFrags by (score desc, fragNum asc)
    val top: Array[MFrag] =
      docFrags.sortBy(f => (-f.score, f.fragNum)).take(maxFrags).toArray

    // mergeContiguousFragments (Highlighter.java:369-437): repeatedly merge
    // text-adjacent fragments; the merged fragment spans both and keeps the
    // max score, surviving in the better-scoring fragment's slot
    var merging = true
    while (merging && top.length > 1) {
      merging = false
      var ii = 0
      while (ii < top.length) {
        if (top(ii) != null) {
          var xx = 0
          while (xx < top.length && top(ii) != null) {
            if (xx != ii && top(xx) != null) {
              // frag2 follows frag1 in the original text
              var frag1: MFrag = null; var frag2: MFrag = null
              var f1n = 0; var f2n = 0
              if (top(ii).startPos == top(xx).endPos) {
                frag1 = top(xx); f1n = xx; frag2 = top(ii); f2n = ii
              } else if (top(xx).startPos == top(ii).endPos) {
                frag1 = top(ii); f1n = ii; frag2 = top(xx); f2n = xx
              }
              if (frag1 != null) {
                val (bestN, worstN) =
                  if (frag1.score > frag2.score) (f1n, f2n) else (f2n, f1n)
                frag1.endPos = frag2.endPos
                frag1.score = math.max(frag1.score, frag2.score)
                top(worstN) = null
                top(bestN) = frag1
                merging = true
              }
            }
            xx += 1
          }
        }
        ii += 1
      }
    }
    val frags = top.iterator.filter(f => f != null && f.score > 0)
      .map(f => Frag(sb.substring(f.startPos, f.endPos), f.score, f.fragNum))
      .toVector
    HighlightResult(frags, numHighlights)
  }

  /** Highlighter.getBestFragments(stream, text, max, separator): join the
    * surviving fragments (score > 0) with the separator. */
  def bestFragments(tokens: IndexedSeq[Tok], text: String,
                    weightedTerms: Map[String, WSpanTerm],
                    fragmenter: Fragmenter = SimpleFrag(),
                    maxNumFragments: Int = 1,
                    separator: String = "...",
                    maxDocCharsToAnalyze: Int = 50 * 1024): String =
    highlight(tokens, text, weightedTerms, fragmenter, maxNumFragments,
      maxDocCharsToAnalyze).frags.map(_.text).mkString(separator)

  /** Best single fragment or None (Highlighter.getBestFragment). */
  def bestFragment(tokens: IndexedSeq[Tok], text: String,
                   weightedTerms: Map[String, WSpanTerm],
                   fragmenter: Fragmenter = SimpleFrag(),
                   maxDocCharsToAnalyze: Int = 50 * 1024): Option[String] =
    highlight(tokens, text, weightedTerms, fragmenter, 1, maxDocCharsToAnalyze)
      .frags.headOption.map(_.text)
}
