package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.PostingsCodec
import graft.index.{BlockRow, IndexBuilder, SearchReader, TermStats}

/** A clause match for one doc: `score` is the clause's float BM25
  * contribution (NaN for non-scoring Filter/MustNot presence rows). */
final case class ClauseHit(docId: Long, clause: Int, kind: Int, score: Float)

object ClauseKind {
  final val Must = 0; final val Should = 1
  final val Filter = 2; final val MustNot = 3
}

/** The Dataset "join path" scorer — the semantic spec the WAND path must
  * equal (SURVEY.md §7.1 step 7). Each clause produces a (docId, score)
  * frame from bucket-pruned block scans; boolean combination is ONE
  * hash-aggregate shuffle (groupByKey(docId)); top-k is Catalyst's
  * TakeOrderedAndProject, whose bounded per-partition heap + driver merge
  * reproduces the reference collector exactly, ties to lower docId
  * (search/TopScoreDocCollector.java:63-79, HitQueue.java:68-81).
  */
final class JoinScorer(reader: SearchReader) {
  private val spark = reader.spark
  import spark.implicits._

  /** Rewrite multi-term queries against the term dictionary
    * (MultiTermQuery -> constant-score set, the 5.2 default rewrite,
    * queryparser/.../QueryParserBase.java:67). */
  def rewrite(q: BoolQ): Seq[(Occur, Query, RewrittenClause)] = {
    // fold BoostQ wrappers into a (query, boost) pair before rewriting
    def unwrap(qq: Query, b: Float = 1f): (Query, Float) = qq match {
      case BoostQ(inner, bb) => unwrap(inner, b * bb)
      case other => (other, b)
    }
    val flat = q.clauses.map { case (o, qq) =>
      val (inner, b) = unwrap(qq); (o, inner, b)
    }
    val termQs = flat.collect { case (_, TermQ(t), _) => Seq(t)
      case (_, PhraseQ(ts, _), _) => ts
      case (_, MultiPhraseQ(ss, _), _) => ss.flatten
      case (_, SloppyPhraseQ(ts, _, _), _) => ts
      case (_, SpanNearQ(ts, _, _), _) => ts
      case (_, SpanOrQ(ts), _) => ts
      case (_, SpanNotQ(inc, exc, _, _), _) => Seq(inc, exc)
      case (_, SpanWithinQ(l, bg, _), _) => l +: bg
      case (_, SpanContainingQ(l, bg, _), _) => l +: bg
      case (_, TermAutomatonQ(_, _, trs, _), _) => trs.map(_._3)
      case (_, SpanFirstQ(t, _), _) => Seq(t)
      case (_, SpanPayloadCheckQ(t, _), _) => Seq(t)
      case (_, SpanNearPayloadCheckQ(ts, _, _), _) => ts
      case (_, SpanPositionRangeQ(t, _, _), _) => Seq(t) }.flatten
    val stats = reader.termStats(termQs.distinct)
    flat.map {
      case (o, tq @ TermQ(t), b) =>
        (o, tq, ScoredTerm(t, stats.get(t), b))
      case (o, sq @ SpanNearQ(ts, slop, inOrder), b) =>
        (o, sq, ScoredSpanNear(ts.map(Seq(_)), slop, inOrder,
          ts.map(t => Seq(stats.get(t))), b))
      case (o, sq @ SpanNearMultiQ(legs, slop, inOrder), b) =>
        // SpanMultiTermQueryWrapper: expand each pattern leg against the
        // dictionary (TooManyClauses-guarded), then span-near over the
        // expanded slots
        val slots = legs.map(expandLegTerms)
        val slotStats = slots.map { ts =>
          val st = reader.termStats(ts)
          ts.map(st.get)
        }
        (o, sq, ScoredSpanNear(slots, slop, inOrder, slotStats, b))
      case (o, sq @ SpanOrQ(ts), b) =>
        (o, sq, ScoredSpanOr(ts, ts.map(stats.get), b))
      case (o, sq @ SpanNotQ(inc, exc, pre, post), b) =>
        (o, sq, ScoredSpanNot(inc, exc, pre, post, stats.get(inc),
          stats.contains(exc), b))
      case (o, sq @ SpanFirstQ(t, end), b) =>
        (o, sq, ScoredSpanRange(t, 0, end, stats.get(t), b))
      case (o, sq @ SpanPositionRangeQ(t, st, end), b) =>
        (o, sq, ScoredSpanRange(t, st, end, stats.get(t), b))
      case (o, sq @ SpanPayloadCheckQ(t, pays), b) =>
        (o, sq, ScoredSpanPayCheck(Seq(t), 0, nearRule = false, pays,
          Seq(stats.get(t)), b))
      case (o, sq @ SpanNearPayloadCheckQ(ts, slop, pays), b) =>
        (o, sq, ScoredSpanPayCheck(ts, slop, nearRule = true, pays,
          ts.map(stats.get), b))
      case (o, sq @ SpanWithinQ(l, bg, slop), b) =>
        (o, sq, ScoredSpanContain(l, bg, slop, within = true,
          stats.get(l), bg.map(stats.get), b))
      case (o, sq @ SpanContainingQ(l, bg, slop), b) =>
        (o, sq, ScoredSpanContain(l, bg, slop, within = false,
          stats.get(l), bg.map(stats.get), b))
      case (o, pq @ PhraseQ(ts, rel), b) =>
        (o, pq, ScoredPhrase(ts, rel, ts.map(stats.get), 0, b))
      case (o, pq @ SloppyPhraseQ(ts, rel, slop), b) =>
        (o, pq, ScoredPhrase(ts, rel, ts.map(stats.get), slop, b))
      case (o, mq @ MultiPhraseQ(ss, rel), b) =>
        (o, mq, ScoredMultiPhrase(ss, rel, ss.map(_.map(stats.get)), b))
      case (o, tq: TermAutomatonQ, b) =>
        val ts = tq.transitions.map(_._3).distinct.sorted
        (o, tq, ScoredAutomaton(tq, ts.map(stats.get), b))
      case (o, rq @ RegexpQ(pat), b) =>
        (o, rq, ConstSet(reader.expandTerms(
          $"term".rlike("^" + pat + "$") && fieldGuard(pat)).map(_.term), b))
      case (o, pq @ PrefixQ(p), b) =>
        (o, pq, ConstSet(reader.expandTerms(
          $"term".startsWith(p) && fieldGuard(p)).map(_.term), b))
      case (o, wq @ WildcardQ(pat), b)
        if pat.length > 1 && pat.startsWith("*") &&
          !pat.substring(1).exists(c => c == '*' || c == '?') &&
          reader.hasReverseField =>
        // leading wildcard via the reversed-token field (Solr
        // ReversedWildcardFilterFactory): *fix -> prefix scan of
        // rev:xif* — O(matching dictionary row groups), never the
        // full-vocabulary regex scan
        val terms = reader.expandTerms(
          $"term".startsWith("rev:" + pat.substring(1).reverse))
          .map(ts => ts.term.stripPrefix("rev:").reverse)
        (o, wq, ConstSet(terms, b))
      case (o, wq @ WildcardQ(pat), b) =>
        (o, wq, ConstSet(reader.expandTerms(
          $"term".rlike("^" + wildcardRx(pat) + "$") && fieldGuard(pat))
          .map(_.term), b))
      case (o, fq @ FuzzyQ(t, e), b) =>
        (o, fq, ConstSet(reader.fuzzyTerms(t, e).map(_.term), b))
      case (o, rq @ RangeQ(lo, hi, incLo, incHi), b) =>
        val loP = if (incLo) $"term" >= lo else $"term" > lo
        val hiP = if (incHi) $"term" <= hi else $"term" < hi
        (o, rq, ConstSet(reader.expandTerms(
          loP && hiP && fieldGuard(lo)).map(_.term), b))
      case (o, MatchAllQ, b) => (o, MatchAllQ, MatchAll(b))
      case (_, other, _) =>
        throw new IllegalArgumentException(s"cannot rewrite $other")
    }
  }

  /** Multi-term rewrites are per-field, as in the reference: a content
    * query must not expand into path-field dictionary entries and vice
    * versa (the pattern names its field via the "path:" key prefix). */
  private def fieldGuard(pattern: String) =
    if (pattern.startsWith("path:")) lit(true)
    else !$"term".startsWith("path:") && !$"term".startsWith("rev:")

  /** Wildcard pattern -> anchored-regex body (the WildcardQuery rewrite). */
  private def wildcardRx(pat: String): String =
    "(?s)" + pat.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()<>+-=!?^$|".contains(c) => "\\" + c
      case c => c.toString
    }

  /** Expand one SpanNearMultiQ leg to its dictionary terms. */
  private def expandLegTerms(q: Query): Seq[String] = q match {
    case TermQ(t) => Seq(t)
    case PrefixQ(p) =>
      reader.expandTerms($"term".startsWith(p) && fieldGuard(p)).map(_.term)
    case WildcardQ(pat) =>
      reader.expandTerms(
        $"term".rlike("^" + wildcardRx(pat) + "$") && fieldGuard(pat)).map(_.term)
    case RegexpQ(p) =>
      reader.expandTerms($"term".rlike("^" + p + "$") && fieldGuard(p)).map(_.term)
    case FuzzyQ(t, e) => reader.fuzzyTerms(t, e).map(_.term)
    case other => throw new IllegalArgumentException(
      s"span-near leg must be a term or multi-term pattern: $other")
  }

  sealed trait RewrittenClause
  final case class ScoredTerm(term: String, stats: Option[TermStats],
                              boost: Float = 1f) extends RewrittenClause
  final case class ScoredPhrase(terms: Seq[String], rel: Seq[Int],
                                stats: Seq[Option[TermStats]],
                                slop: Int = 0,
                                boost: Float = 1f) extends RewrittenClause
  final case class ScoredMultiPhrase(slots: Seq[Seq[String]], rel: Seq[Int],
                                     stats: Seq[Seq[Option[TermStats]]],
                                     boost: Float = 1f) extends RewrittenClause
  final case class ScoredSpanOr(terms: Seq[String],
                                stats: Seq[Option[TermStats]],
                                boost: Float = 1f) extends RewrittenClause
  /** Span-near over slots: one term per slot for SpanNearQ, a leg's
    * dictionary expansion per slot for SpanNearMultiQ. */
  final case class ScoredSpanNear(slots: Seq[Seq[String]], slop: Int,
                                  inOrder: Boolean,
                                  stats: Seq[Seq[Option[TermStats]]],
                                  boost: Float = 1f) extends RewrittenClause
  final case class ScoredSpanNot(include: String, exclude: String,
                                 pre: Int, post: Int,
                                 incStats: Option[TermStats],
                                 excPresent: Boolean,
                                 boost: Float = 1f) extends RewrittenClause
  final case class ScoredSpanRange(term: String, start: Int, end: Int,
                                   stats: Option[TermStats],
                                   boost: Float = 1f) extends RewrittenClause
  final case class ScoredSpanPayCheck(terms: Seq[String], slop: Int,
                                      nearRule: Boolean,
                                      payloads: Seq[Float],
                                      stats: Seq[Option[TermStats]],
                                      boost: Float = 1f) extends RewrittenClause
  final case class ScoredSpanContain(little: String, big: Seq[String],
                                     slop: Int, within: Boolean,
                                     littleStats: Option[TermStats],
                                     bigStats: Seq[Option[TermStats]],
                                     boost: Float = 1f) extends RewrittenClause
  final case class ScoredAutomaton(q: TermAutomatonQ,
                                   stats: Seq[Option[TermStats]],
                                   boost: Float = 1f) extends RewrittenClause
  /** Constant-score set: every matching doc scores `boost` (reference
    * ConstantScoreQuery multiplies 1.0 by the query boost,
    * search/ConstantScoreQuery.java). */
  final case class ConstSet(terms: Seq[String],
                            boost: Float = 1f) extends RewrittenClause
  final case class MatchAll(boost: Float = 1f) extends RewrittenClause

  private def kindOf(o: Occur): Int = o match {
    case Occur.Must => ClauseKind.Must
    case Occur.Should => ClauseKind.Should
    case Occur.Filter => ClauseKind.Filter
    case Occur.MustNot => ClauseKind.MustNot
  }

  /** Per-term scored hits: decode blocks, score with exact float ops. */
  private def termHits(term: String, clause: Int, kind: Int,
                       stats: Option[TermStats],
                       boost: Float = 1f): Dataset[ClauseHit] = {
    if (stats.isEmpty) return spark.emptyDataset[ClauseHit]
    val wv = BM25.weightValue(
      BM25.idf(stats.get.df, reader.collStats.maxDoc), boost)
    // norm cache of the TERM's field (per-field avgdl; fielded search)
    val cacheB = spark.sparkContext.broadcast(
      reader.normCacheFor(IndexBuilder.fieldOfTerm(term)))
    reader.blocks(Seq(term)).flatMap { b =>
      val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b.block)
      val cache = cacheB.value
      (0 until docs.length).iterator.map { i =>
        ClauseHit(docs(i), clause, kind,
          BM25.score(wv, tfs(i).toFloat, cache, nrms(i)))
      }
    }
  }

  /** Per-term score contributions of ONE document (reference
    * search/Explanation.java, Weight.explain): a single job that prunes
    * each term's blocks to the one(s) whose [firstDoc, lastDoc] range
    * covers the target docId and decodes only those — instead of scoring
    * every term's entire postings to keep one row. Returns (term, score)
    * for each term present in the doc. */
  def explainDoc(terms: Seq[String], docId: Long): Seq[(String, Float)] = {
    val stats = reader.termStats(terms)
    val present = terms.distinct.filter(stats.contains)
    if (present.isEmpty) return Nil
    val maxDoc = reader.collStats.maxDoc
    val wv: Map[String, Float] = present.map(t =>
      t -> BM25.weightValue(BM25.idf(stats(t).df, maxDoc), 1f)).toMap
    val caches: Map[String, Array[Float]] = present.map(t =>
      t -> reader.normCacheFor(IndexBuilder.fieldOfTerm(t))).toMap
    val target = docId
    val wvB = spark.sparkContext.broadcast(wv)
    val cachesB = spark.sparkContext.broadcast(caches)
    reader.blocks(present)
      .where($"firstDoc" <= target && $"lastDoc" >= target)
      .flatMap { b =>
        val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b.block)
        val i = java.util.Arrays.binarySearch(docs, target)
        if (i >= 0)
          Iterator.single((b.term,
            BM25.score(wvB.value(b.term), tfs(i).toFloat,
              cachesB.value(b.term), nrms(i))))
        else Iterator.empty
      }.collect().toSeq
  }

  /** Constant-score set (multi-term rewrite): score = boost per match. */
  private def constHits(terms: Seq[String], clause: Int, kind: Int,
                        boost: Float = 1f): Dataset[ClauseHit] = {
    if (terms.isEmpty) return spark.emptyDataset[ClauseHit]
    reader.blocks(terms).flatMap { b =>
      val (docs, _, _) = PostingsCodec.decodeDocs(b.block)
      docs.iterator.map(d => ClauseHit(d, clause, kind, boost))
    }.dropDuplicates("docId").as[ClauseHit]
  }

  /** Weight of a clause that blends its present terms' statistics: the
    * float sum of their idfs, in order, times boost (the summed-idf rule of
    * PhraseWeight, SpanWeight and TermAutomatonWeight). */
  private def summedWeight(stats: Seq[Option[TermStats]], boost: Float): Float = {
    var idfSum = 0f
    stats.flatten.foreach(ts => idfSum += BM25.idf(ts.df, reader.collStats.maxDoc))
    BM25.weightValue(idfSum, boost)
  }

  /** term -> the slots it fills (a term may fill several: "a b a"). */
  private def slotsOf(slots: Seq[Seq[String]]): Map[String, Seq[Int]] =
    slots.zipWithIndex.flatMap { case (ts, i) => ts.map(_ -> i) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }

  /** The positional-clause kernel behind every phrase, span and automaton
    * clause: one bucket-pruned postings pass over `termSlots`' terms, ONE
    * groupByKey(docId), and per doc the slot position lists (a slot's
    * terms merge into one sorted list; null = no term of the slot in the
    * doc). Docs missing one of the first `nRequired` slots never match;
    * otherwise `freq` of the lists (0 = no match) is scored with BM25
    * against `normField`'s norms (the two-phase approximate-then-verify
    * split of TwoPhaseIterator.java:24-35). */
  private def positionalHits(termSlots: Map[String, Seq[Int]], nSlots: Int,
                             nRequired: Int, wv: Float, normField: String,
                             clause: Int, kind: Int)
                            (freq: Array[Array[Int]] => Float): Dataset[ClauseHit] = {
    val cacheB = spark.sparkContext.broadcast(reader.normCacheFor(normField))
    val slotsB = spark.sparkContext.broadcast(termSlots)
    reader.blocks(termSlots.keys.toSeq).flatMap { b =>
      val slots = slotsB.value(b.term)
      val inField = IndexBuilder.fieldOfTerm(b.term) == normField
      PostingsCodec.decode(b.block).iterator.flatMap(p =>
        slots.map(s => (p.docId, s, p.positions, p.norm, inField)))
    }.groupByKey(_._1).flatMapGroups { (docId, it) =>
      val bySlot = new Array[Array[Int]](nSlots)
      var norm: Byte = 0
      it.foreach { case (_, s, pos, n, inField) =>
        bySlot(s) =
          if (bySlot(s) == null) pos else JoinScorer.mergeSorted(bySlot(s), pos)
        if (inField) norm = n
      }
      val f =
        if ((0 until nRequired).exists(bySlot(_) == null)) 0f else freq(bySlot)
      if (f == 0f) Iterator.empty
      else Iterator.single(ClauseHit(docId, clause, kind,
        BM25.score(wv, f, cacheB.value, norm)))
    }
  }

  /** Exact and sloppy phrase hits. Exact: freq = first-term positions where
    * every term aligns at its rel offset (search/ExactPhraseScorer.java:
    * 27-84). Sloppy: the reference pq-walk over adjusted cursors, freq =
    * sum of 1/(1+matchLength) over encountered matches
    * (search/SloppyPhraseScorer.java:96-135 via SloppyMatch).
    * Score = (sum of term idfs) * (k1+1) * freq/(freq+norm). */
  private def phraseHits(terms: Seq[String], rel: Seq[Int],
                         stats: Seq[Option[TermStats]], clause: Int,
                         kind: Int, slop: Int = 0,
                         boost: Float = 1f): Dataset[ClauseHit] = {
    if (stats.exists(_.isEmpty) || terms.isEmpty) return spark.emptyDataset[ClauseHit]
    val relArr = rel.toArray
    val termSlots = slotsOf(terms.map(Seq(_)))
    val rptSlots: Array[Array[Int]] =
      termSlots.valuesIterator.filter(_.length > 1).map(_.toArray).toArray
    positionalHits(termSlots, terms.length, terms.length,
      summedWeight(stats, boost), IndexBuilder.fieldOfTerm(terms.head),
      clause, kind) { bySlot =>
      if (slop > 0) SloppyMatch.freq(bySlot, relArr, slop, rptSlots)
      else JoinScorer.exactPhraseFreq(bySlot, relArr).toFloat
    }
  }

  /** Multi-phrase hits (reference search/MultiPhraseQuery.java +
    * UnionPostingsEnum): each slot's alternatives' position lists are
    * unioned into one sorted list per slot, then the exact-phrase
    * alignment count runs over the merged lists. Weight blends ALL member
    * terms' statistics (idf sum), as the reference's union enum does. */
  private def multiPhraseHits(slots: Seq[Seq[String]], rel: Seq[Int],
                              stats: Seq[Seq[Option[TermStats]]],
                              clause: Int, kind: Int,
                              boost: Float = 1f): Dataset[ClauseHit] = {
    // a slot with no indexed alternative can never align -> no matches
    if (slots.isEmpty || stats.exists(_.forall(_.isEmpty)))
      return spark.emptyDataset[ClauseHit]
    val relArr = rel.toArray
    positionalHits(slotsOf(slots), slots.length, slots.length,
      summedWeight(stats.flatten, boost),
      IndexBuilder.fieldOfTerm(slots.head.head), clause, kind)(
      JoinScorer.exactPhraseFreq(_, relArr).toFloat)
  }

  /** Term-automaton hits (reference sandbox TermAutomatonQuery/Scorer):
    * one bucket-pruned postings pass over the automaton's alphabet, then
    * a per-doc DFA walk (see [[TermAutomatonDfa.countMatches]]).
    * Statistics blend every distinct alphabet term's idf
    * (TermAutomatonWeight computeWeight over allTermStats); tf = counted
    * accepting state entries. */
  private def termAutomatonHits(taq: TermAutomatonQ,
                                stats: Seq[Option[TermStats]],
                                clause: Int, kind: Int,
                                boost: Float): Dataset[ClauseHit] = {
    val dfa = TermAutomatonDfa.compile(taq)
    if (dfa.terms.isEmpty || stats.forall(_.isEmpty))
      return spark.emptyDataset[ClauseHit]
    val dfaB = spark.sparkContext.broadcast(dfa)
    positionalHits(slotsOf(dfa.terms.toSeq.map(Seq(_))), dfa.terms.length, 0,
      summedWeight(stats, boost), IndexBuilder.fieldOfTerm(dfa.terms.head),
      clause, kind) { bySlot =>
      // (position, termId) token stream in position order
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (tid <- bySlot.indices if bySlot(tid) != null; p <- bySlot(tid))
        pairs += ((p, tid))
      TermAutomatonDfa.countMatches(dfaB.value,
        pairs.sortInPlaceBy(x => (x._1, x._2)).toSeq).toFloat
    }
  }

  /** Payload-check spans (SpanPayloadCheckQuery / SpanNearPayloadCheckQuery):
    * the ordered span walk, with each match's leg payloads (the
    * position-derived channel shared with ft_payload: 2.0 inside the
    * 20-token lead window, 1.0 after) compared against `expected` — in
    * order for the single-span check (SpanPayloadCheckQuery.java:52-73),
    * by match-any counting for the near variant
    * (SpanNearPayloadCheckQuery.java:47-76). freq = accepted matches,
    * scored with the summed-idf statistics. */
  private def spanPayloadCheckHits(terms: Seq[String], slop: Int,
                                   expected: Seq[Float], nearRule: Boolean,
                                   stats: Seq[Option[TermStats]],
                                   clause: Int, kind: Int,
                                   boost: Float): Dataset[ClauseHit] = {
    if (stats.exists(_.isEmpty) || terms.isEmpty)
      return spark.emptyDataset[ClauseHit]
    val exp = expected.toArray
    positionalHits(slotsOf(terms.map(Seq(_))), terms.length, terms.length,
      summedWeight(stats, boost), IndexBuilder.fieldOfTerm(terms.head),
      clause, kind) { bySlot =>
      JoinScorer.orderedSpanMatches(bySlot, slop).count { legs =>
        val cand = legs.map(JoinScorer.leadPayload)
        cand.length == exp.length &&
          (if (nearRule) cand.count(c => exp.contains(c)) == exp.length
          else cand.indices.forall(i => cand(i) == exp(i)))
      }.toFloat
    }
  }

  /** Span-near (reference spans/SpanNearQuery.java), over plain term legs
    * or multi-term slots (SpanMultiTermQueryWrapper inside SpanNearQuery):
    * a slot's occurrence set is the sorted UNION of its terms' positions;
    * freq = the number of ordered or unordered span matches. Blended
    * statistics: idf sums over every matched term of every slot
    * (SpanOrQuery's UnionPostings posture). */
  private def spanNearHits(slots: Seq[Seq[String]], slop: Int,
                           inOrder: Boolean,
                           stats: Seq[Seq[Option[TermStats]]],
                           clause: Int, kind: Int,
                           boost: Float): Dataset[ClauseHit] = {
    val presentSlots: Seq[Seq[String]] = slots.zip(stats).map { case (ts, st) =>
      ts.zip(st).collect { case (t, Some(_)) => t }.distinct
    }
    // a slot with no dictionary match can never occur -> no clause hits
    if (slots.isEmpty || presentSlots.exists(_.isEmpty))
      return spark.emptyDataset[ClauseHit]
    positionalHits(slotsOf(presentSlots), slots.length, slots.length,
      summedWeight(stats.flatten, boost),
      IndexBuilder.fieldOfTerm(presentSlots.head.head), clause, kind) { bySlot =>
      (if (inOrder) JoinScorer.orderedSpanMatches(bySlot, slop)
      else JoinScorer.unorderedSpanMatches(bySlot, slop)).size.toFloat
    }
  }

  /** Span disjunction over terms (SpanOrQuery analog): freq = total
    * occurrences of any clause term, scored once with the summed idf. */
  private def spanOrHits(terms: Seq[String], stats: Seq[Option[TermStats]],
                         clause: Int, kind: Int,
                         boost: Float): Dataset[ClauseHit] = {
    val present = terms.zip(stats).collect { case (t, Some(_)) => t }
    if (present.isEmpty) return spark.emptyDataset[ClauseHit]
    var idfSum = 0f
    stats.flatten.foreach(ts => idfSum += BM25.idf(ts.df, reader.collStats.maxDoc))
    val wv = BM25.weightValue(idfSum, boost)
    val cacheB = spark.sparkContext.broadcast(
      reader.normCacheFor(IndexBuilder.fieldOfTerm(present.head)))
    reader.blocks(present.distinct).flatMap { b =>
      val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b.block)
      docs.indices.iterator.map(i => (docs(i), tfs(i), nrms(i)))
    }.groupByKey(_._1).mapGroups { (docId, it) =>
      var freq = 0
      var norm: Byte = 0
      it.foreach { case (_, tf, n) => freq += tf; norm = n }
      ClauseHit(docId, clause, kind,
        BM25.score(wv, freq.toFloat, cacheB.value, norm))
    }
  }

  /** Span difference (SpanNotQuery analog): include occurrences survive
    * unless an exclude occurrence lies within [p-pre, p+post]; freq =
    * surviving count, weight from the include term only. */
  private def spanNotHits(include: String, exclude: String, pre: Int,
                          post: Int, incStats: Option[TermStats],
                          excPresent: Boolean, clause: Int, kind: Int,
                          boost: Float): Dataset[ClauseHit] = {
    if (incStats.isEmpty) return spark.emptyDataset[ClauseHit]
    // slot 0 = include (required), slot 1 = exclude (optional); an
    // exclude equal to the include term fills the include slot only
    val termSlots =
      (if (excPresent) Map(exclude -> Seq(1)) else Map.empty[String, Seq[Int]]) +
        (include -> Seq(0))
    positionalHits(termSlots, 2, 1, summedWeight(Seq(incStats), boost),
      IndexBuilder.fieldOfTerm(include), clause, kind) { bySlot =>
      val excPos = bySlot(1)
      bySlot(0).count { p =>
        // survives unless the first exclude >= p - pre is <= p + post
        excPos == null || {
          val at = java.util.Arrays.binarySearch(excPos, p - pre)
          val ins = if (at >= 0) at else -at - 1
          ins >= excPos.length || excPos(ins) > p + post
        }
      }.toFloat
    }
  }

  /** Span-within / span-containing (reference search/spans/
    * SpanWithinQuery.java, SpanContainingQuery.java — both new in the
    * 5.2 reference): `big` spans come from the ordered span walk (minimal
    * end per start, as NearSpansOrdered does); `within` counts little
    * occurrences inside some big span (scored with little's idf),
    * `containing` counts big spans holding at least one little
    * occurrence (scored with the big terms' summed idf). */
  private def spanContainHits(little: String, big: Seq[String], slop: Int,
                              within: Boolean,
                              littleStats: Option[TermStats],
                              bigStats: Seq[Option[TermStats]],
                              clause: Int, kind: Int,
                              boost: Float): Dataset[ClauseHit] = {
    if (littleStats.isEmpty || bigStats.exists(_.isEmpty) || big.isEmpty)
      return spark.emptyDataset[ClauseHit]
    val nBig = big.length
    // slots 0..nBig-1 = big legs, nBig = little (a term may fill both)
    positionalHits(slotsOf(big.map(Seq(_)) :+ Seq(little)), nBig + 1, nBig + 1,
      summedWeight(if (within) Seq(littleStats) else bigStats, boost),
      IndexBuilder.fieldOfTerm(little), clause, kind) { bySlot =>
      val lp = bySlot(nBig)
      val spans = JoinScorer.orderedSpanMatches(bySlot.take(nBig), slop)
        .map(legs => (legs(0), legs(nBig - 1))).toArray
      (if (within) // little occurrences inside ANY big span (each counted once)
        lp.count(p => spans.exists(se => se._1 <= p && p <= se._2))
      else spans.count { case (s, e) => // big spans holding a little occurrence
        val at = java.util.Arrays.binarySearch(lp, s)
        val ins = if (at >= 0) at else -at - 1
        ins < lp.length && lp(ins) <= e
      }).toFloat
    }
  }

  /** Span position range (SpanPositionRangeQuery; SpanFirstQuery is
    * start=0): occurrences at position in [start, end) survive; freq =
    * surviving count, weight from the term's idf. The positions filter
    * runs inside the postings decode — no extra pass. */
  private def spanRangeHits(term: String, start: Int, end: Int,
                            stats: Option[TermStats], clause: Int,
                            kind: Int, boost: Float): Dataset[ClauseHit] = {
    if (stats.isEmpty) return spark.emptyDataset[ClauseHit]
    val wv = BM25.weightValue(
      BM25.idf(stats.get.df, reader.collStats.maxDoc), boost)
    val cacheB = spark.sparkContext.broadcast(
      reader.normCacheFor(IndexBuilder.fieldOfTerm(term)))
    val startPos = start
    val endPos = end
    reader.blocks(Seq(term)).flatMap { b =>
      PostingsCodec.decode(b.block).iterator.flatMap { p =>
        // positions are ascending: skip past < startPos, count < endPos
        var j = 0
        while (j < p.positions.length && p.positions(j) < startPos) j += 1
        var sf = 0
        while (j + sf < p.positions.length && p.positions(j + sf) < endPos) sf += 1
        if (sf == 0) Iterator.empty
        else Iterator.single(ClauseHit(p.docId, clause, kind,
          BM25.score(wv, sf.toFloat, cacheB.value, p.norm)))
      }
    }
  }

  private def matchAllHits(clause: Int, kind: Int,
                           boost: Float = 1f): Dataset[ClauseHit] =
    reader.docmeta.map(d => ClauseHit(d.docId, clause, kind, boost))

  /** A nested boolean clause, possibly boost-wrapped (BooleanQuery inside
    * BooleanQuery — reference queries nest freely; the boost multiplies
    * the inner query's combined score, Query.setBoost semantics). */
  private def nestedBool(qq: Query, b: Float = 1f): Option[(BoolQ, Float)] =
    qq match {
      case inner: BoolQ => Some((inner, b))
      case BoostQ(inner, bb) => nestedBool(inner, b * bb)
      case _ => None
    }

  /** Score a boolean query -> (docId, score) with exact reference
    * semantics (score = left-to-right float sum of scoring clauses).
    * Clauses may themselves be BoolQ (nested): each nested clause scores
    * recursively into its own (docId, score) frame; leaf clauses keep
    * the single batched term-stats rewrite. */
  def scores(q: BoolQ): Dataset[(Long, Float)] = {
    val withIdx = q.clauses.zipWithIndex
    val leaves = withIdx.filter { case ((_, sub), _) => nestedBool(sub).isEmpty }
    val rewritten = rewrite(BoolQ(leaves.map(_._1), q.minShouldMatch))
    val nestedFrames: Seq[Dataset[ClauseHit]] =
      withIdx.flatMap { case ((o, sub), i) =>
        nestedBool(sub).map { case (b, bst) =>
          val kind = kindOf(o)
          scores(b).map(t => ClauseHit(t._1, i, kind, t._2 * bst))
        }
      }
    val frames = nestedFrames ++ rewritten.zip(leaves.map(_._2)).map { case ((o, _, rc), i) =>
      val kind = kindOf(o)
      rc match {
        case ScoredTerm(t, st, b) => termHits(t, i, kind, st, b)
        case ScoredPhrase(ts, rel, st, slop, b) =>
          phraseHits(ts, rel, st, i, kind, slop, b)
        case ScoredMultiPhrase(ss, rel, st, b) =>
          multiPhraseHits(ss, rel, st, i, kind, b)
        case ScoredAutomaton(tq, st, b) =>
          termAutomatonHits(tq, st, i, kind, b)
        case ScoredSpanNear(ss, slop, ord, st, b) =>
          spanNearHits(ss, slop, ord, st, i, kind, b)
        case ScoredSpanOr(ts, st, b) => spanOrHits(ts, st, i, kind, b)
        case ScoredSpanNot(inc, exc, pre, post, st, ep, b) =>
          spanNotHits(inc, exc, pre, post, st, ep, i, kind, b)
        case ScoredSpanRange(t, st0, end, st, b) =>
          spanRangeHits(t, st0, end, st, i, kind, b)
        case ScoredSpanPayCheck(ts, slop, nearRule, pays, st, b) =>
          spanPayloadCheckHits(ts, slop, pays, nearRule, st, i, kind, b)
        case ScoredSpanContain(l, bg, slop, w, lst, bst, b) =>
          spanContainHits(l, bg, slop, w, lst, bst, i, kind, b)
        case ConstSet(ts, b) => constHits(ts, i, kind, b)
        case MatchAll(b) => matchAllHits(i, kind, b)
      }
    }
    if (frames.isEmpty) return spark.emptyDataset[(Long, Float)]
    val all = frames.reduce(_ union _)
    val nMust = q.clauses.count(c => c._1 == Occur.Must) +
      q.clauses.count(c => c._1 == Occur.Filter)
    val nShould = q.clauses.count(c => c._1 == Occur.Should)
    val effMsm =
      if (q.minShouldMatch > 0) q.minShouldMatch
      else if (nMust == 0 && nShould > 0) 1
      else 0
    val nClauses = q.clauses.length
    val matched = all.groupByKey(_.docId).mapGroups { (docId, it) =>
      val scoresByClause = new Array[Float](nClauses)
      java.util.Arrays.fill(scoresByClause, Float.NaN)
      val kinds = new Array[Int](nClauses)
      var mustSeen = 0; var shouldSeen = 0; var vetoed = false
      it.foreach { h =>
        kinds(h.clause) = h.kind
        h.kind match {
          case ClauseKind.Must | ClauseKind.Filter =>
            mustSeen += 1; scoresByClause(h.clause) = h.score
          case ClauseKind.Should =>
            shouldSeen += 1; scoresByClause(h.clause) = h.score
          case ClauseKind.MustNot => vetoed = true
        }
      }
      if (vetoed || mustSeen < nMust || shouldSeen < effMsm)
        (docId, Float.NaN)
      else {
        // sum scoring clauses (Must + Should) left-to-right in clause order
        var s = 0f
        var i = 0
        while (i < nClauses) {
          val v = scoresByClause(i)
          if (!java.lang.Float.isNaN(v) && kinds(i) != ClauseKind.Filter)
            s += v
          i += 1
        }
        (docId, s)
      }
    }.filter(t => !java.lang.Float.isNaN(t._2))
    // live-docs filter: tombstoned docs leave results immediately (stats
    // unchanged until compaction — reference LiveDocs semantics)
    reader.liveOnly(matched.toDF("docId", "score")).as[(Long, Float)]
  }

  /** Top-k (score desc, docId asc) — TakeOrderedAndProject. */
  def topK(q: BoolQ, k: Int): DataFrame =
    scores(q).toDF("docId", "score")
      .orderBy($"score".desc, $"docId".asc).limit(k)

  /** Deep paging (reference searchAfter, search/IndexSearcher.java:324):
    * keep docs strictly after (afterScore, afterDoc) in rank order. */
  def searchAfter(q: BoolQ, k: Int, afterScore: Float, afterDoc: Long): DataFrame =
    scores(q).toDF("docId", "score")
      .where($"score" < afterScore ||
        ($"score" === afterScore && $"docId" > afterDoc))
      .orderBy($"score".desc, $"docId".asc).limit(k)

  /** Two-stage rescoring (reference search/QueryRescorer.java): take the
    * top `n` of `base`, recombine with `second`'s scores as
    * wFirst*base + wSecond*second (0 when second misses), return top `k`.
    * The second query scores ONLY the n-row candidate set — at cluster
    * scale the expensive second pass never touches the full corpus. */
  def rescore(base: BoolQ, second: BoolQ, n: Int,
              wFirst: Float, wSecond: Float, k: Int): DataFrame = {
    val baseTop = topK(base, n)
    val sec = scores(second).toDF("docId", "s2")
    baseTop.join(sec, Seq("docId"), "left")
      .select($"docId",
        ($"score" * wFirst +
          coalesce($"s2", lit(0f)) * wSecond).as("score"))
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Solr ReRank (solr/core/.../search/ReRankQParserPlugin.java:98,269-320,
    * `rq={!rerank reRankQuery=.. reRankDocs=N reRankWeight=W}`): the main
    * query collects top max(reRankDocs, length); the FIRST reRankDocs are
    * rescored as main + W*second (additive only when the rerank query
    * matches — QueryRescorer.combine at :205-214) and re-sorted, while
    * candidates PAST reRankDocs keep their original main-order positions
    * behind the reranked block (the combined-page arraycopy at :311-318)
    * — the behavior plain `rescore` lacks. Returns (docId, rank). The
    * rerank scores join only the bounded candidate slice, so the second
    * pass never reorders anything outside the top reRankDocs; the windows
    * below run over <= max(reRankDocs, length) rows, never the corpus. */
  def reRank(main: BoolQ, second: BoolQ, reRankDocs: Int,
             reRankWeight: Double, length: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE pass over the candidate frame (no head/tail union — a union of
    // two filters of the same top-k would re-execute the main query's
    // postings scan twice): head ranks come from a window partitioned on
    // the head flag, tail ranks are the main ranks unchanged.
    topK(main, math.max(reRankDocs, length))
      .withColumn("mrank", row_number().over(
        Window.orderBy($"score".desc, $"docId".asc)))
      .join(scores(second).toDF("docId", "s2"), Seq("docId"), "left")
      .withColumn("ishead", $"mrank" <= reRankDocs)
      .withColumn("comb", when($"ishead",
        $"score".cast("double") +
          lit(reRankWeight) * coalesce($"s2".cast("double"), lit(0.0))))
      .withColumn("rank", when($"ishead", row_number().over(
          Window.partitionBy($"ishead")
            .orderBy($"comb".desc_nulls_last, $"docId".asc)))
        .otherwise($"mrank").cast("long"))
      .where($"rank" <= length)
      .select($"docId", $"rank")
  }

  /** eDisMax `qf` (reference solr/core/.../search/ExtendedDismaxQParser
    * .java:162 queryFields): ONE user query string scored across several
    * fields with per-field boosts. Per term, the per-field scores combine
    * as dismax (max + tie x (sum - max), DisjunctionMaxQuery.java); per
    * doc, matching terms' dismax values SUM (the eDisMax disjunction,
    * mm=0). `fields` = (term-key prefix, boost): "" = content,
    * "path:" = the path field — each side scored with ITS field's
    * df/avgdl/norms exactly like a fielded term clause. */
  def topKEdismaxQf(toks: Seq[String], fields: Seq[(String, Float)],
                    tie: Float, k: Int): DataFrame = {
    require(toks.nonEmpty && fields.nonEmpty)
    val nf = fields.length
    val fieldTerms = for {
      (t, ti) <- toks.zipWithIndex
      ((prefix, boost), fi) <- fields.zipWithIndex
    } yield (prefix + t, ti * nf + fi, boost)
    val stats = reader.termStats(fieldTerms.map(_._1).distinct)
    val frames = fieldTerms.map { case (term, slot, boost) =>
      termHits(term, slot, ClauseKind.Should, stats.get(term), boost)
    }
    val nTerms = toks.length
    val tieV = tie
    frames.reduce(_ union _).groupByKey(_.docId).mapGroups { (docId, it) =>
      val bydSlot = new Array[Float](nTerms * nf)
      java.util.Arrays.fill(bydSlot, Float.NaN)
      it.foreach(h => bydSlot(h.clause) = h.score)
      var s = 0f
      var ti = 0
      while (ti < nTerms) {
        var m = Float.NegativeInfinity
        var sum = 0f
        var any = false
        var fi = 0
        while (fi < nf) {
          val v = bydSlot(ti * nf + fi)
          if (!java.lang.Float.isNaN(v)) {
            any = true; sum += v; if (v > m) m = v
          }
          fi += 1
        }
        if (any) s += m + tieV * (sum - m)
        ti += 1
      }
      (docId, s)
    }.toDF("docId", "score")
      .transform(reader.liveOnly)
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Disjunction-max (reference search/DisjunctionMaxQuery.java): max of
    * clause scores + tieBreakerMultiplier x (sum of the others). */
  def topKDisMax(terms: Seq[String], k: Int, tiebreak: Float = 0f): DataFrame = {
    val stats = reader.termStats(terms)
    val frames = terms.zipWithIndex.map { case (t, i) =>
      termHits(t, i, ClauseKind.Should, stats.get(t))
    }
    val tie = tiebreak
    frames.reduce(_ union _)
      .groupByKey(_.docId).mapGroups { (docId, it) =>
        var m = Float.NegativeInfinity
        var sum = 0f
        it.foreach { h => sum += h.score; if (h.score > m) m = h.score }
        (docId, m + tie * (sum - m))
      }
      .toDF("docId", "score")
      .transform(reader.liveOnly) // LiveDocs contract, same as scores()
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }
}

object JoinScorer {

  /** Merge two ascending int arrays (duplicates kept — distinct terms of
    * one slot can share a position under index-time synonyms). */
  def mergeSorted(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(k) = a(i); i += 1 } else { out(k) = b(j); j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    out
  }

  /** The fixed position-derived payload channel shared by ft_payload and
    * the payload-check queries: 2.0 inside the 20-token lead window, 1.0
    * after (TokenOffsetPayloadTokenFilter-style analysis product). */
  def leadPayload(pos: Int): Float = if (pos < 20) 2f else 1f

  /** Exact-phrase freq: slot-0 positions where every slot aligns at its
    * rel offset (ExactPhraseScorer's position alignment). */
  private def exactPhraseFreq(bySlot: Array[Array[Int]], rel: Array[Int]): Int = {
    var pf = 0
    val base = bySlot(0)
    var i = 0
    while (i < base.length) {
      val p0 = base(i) - rel(0)
      var ok = true
      var j = 1
      while (ok && j < bySlot.length) {
        ok = java.util.Arrays.binarySearch(bySlot(j), p0 + rel(j)) >= 0
        j += 1
      }
      if (ok) pf += 1
      i += 1
    }
    pf
  }

  /** The ordered span walk (NearSpansOrdered analog): for each start
    * occurrence of slot 0, greedily chain each next slot to its smallest
    * position after the previous; yields each MATCHING span's per-slot
    * positions, a match when spanWidth - nSlots <= slop (greedy minimizes
    * the end, so membership is exact). Span freq = the number of matches. */
  def orderedSpanMatches(bySlot: Array[Array[Int]],
                         slop: Int): Iterator[Array[Int]] = {
    val n = bySlot.length
    bySlot(0).iterator.flatMap { start =>
      val legs = new Array[Int](n)
      legs(0) = start
      var prev = start
      var ok = true
      var j = 1
      while (ok && j < n) {
        val arr = bySlot(j)
        val at = java.util.Arrays.binarySearch(arr, prev + 1)
        val ins = if (at >= 0) at else -at - 1
        if (ins >= arr.length) ok = false else { prev = arr(ins); legs(j) = prev }
        j += 1
      }
      if (ok && (prev - start + 1) - n <= slop) Iterator.single(legs)
      else Iterator.empty
    }
  }

  /** The unordered span walk (NearSpansUnordered analog): merge every
    * slot's positions into one sorted event list and slide a two-pointer
    * window; each time the window covers all slots, shrink from the left
    * to the MINIMAL covering window and yield its (start, end) when
    * width - nSlots <= slop. Yields distinct minimal windows (each left
    * edge at most once), mirroring the queue-based minimal-interval
    * matching of the reference. Span freq = the number of matches. */
  def unorderedSpanMatches(bySlot: Array[Array[Int]],
                           slop: Int): Iterator[(Int, Int)] = {
    val n = bySlot.length
    var total = 0
    bySlot.foreach(a => total += a.length)
    val pos = new Array[Int](total)
    val cls = new Array[Int](total)
    // k-way merge by simple fill + sort (position lists are tiny per doc)
    var o = 0
    var t = 0
    while (t < n) {
      val a = bySlot(t)
      var i = 0
      while (i < a.length) { pos(o) = a(i); cls(o) = t; o += 1; i += 1 }
      t += 1
    }
    // sort events by position (insertion indices differ => stable enough;
    // positions are unique within a doc, one token per position)
    val idx = (0 until total).sortBy(pos(_))
    val counts = new Array[Int](n)
    var covered = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var l = 0
    var r = 0
    while (r < total) {
      val cr = cls(idx(r))
      if (counts(cr) == 0) covered += 1
      counts(cr) += 1
      while (covered == n) {
        val cl = cls(idx(l))
        if (counts(cl) == 1) {
          // minimal window [l, r]
          if ((pos(idx(r)) - pos(idx(l)) + 1) - n <= slop)
            out += ((pos(idx(l)), pos(idx(r))))
          covered -= 1
        }
        counts(cl) -= 1
        l += 1
      }
      r += 1
    }
    out.iterator
  }
}
