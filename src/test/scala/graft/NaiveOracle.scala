package graft

import graft.analysis.{Analyzer, StopSets}
import graft.codec.SmallFloat
import graft.search._

/** Independent single-node oracle implementing the reference's exact search
  * semantics with plain loops (no Spark, no shared control flow with the
  * engine) — stands in for IndexSearcher.search(topK)
  * (reference search/IndexSearcher.java:380, TopScoreDocCollector.java:63-79)
  * since Lucene jars are unavailable offline (SURVEY.md §5).
  * Shares only the float *formulas* (BM25, SmallFloat) with the engine —
  * those ARE the spec.
  */
object NaiveOracle {

  final case class Doc(docId: Long, lang: String, content: String)

  def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  final class Index(docs: Seq[Doc]) {
    val analyzed: Map[Long, Vector[graft.analysis.TermPos]] =
      docs.map(d => d.docId -> Analyzer.analyze(d.content, StopSets.forLang(d.lang))).toMap
    val dl: Map[Long, Int] = analyzed.map { case (id, ts) => id -> ts.length }
    val norm: Map[Long, Byte] = dl.map { case (id, l) => id -> SmallFloat.normByte(l) }
    val maxDoc: Long = docs.length.toLong
    val sttf: Long = dl.values.map(_.toLong).sum
    val avgdl: Float = BM25.avgFieldLength(sttf, maxDoc)
    val cache: Array[Float] = BM25.cache(avgdl)
    // term -> docId -> positions
    val postings: Map[String, Map[Long, Vector[Int]]] =
      analyzed.toSeq
        .flatMap { case (id, ts) => ts.map(t => (t.term, id, t.position)) }
        .groupBy(_._1)
        .map { case (t, xs) =>
          t -> xs.groupBy(_._2).map { case (id, ps) => id -> ps.map(_._3).sorted.toVector }
        }
    val allTerms: Seq[String] = postings.keys.toSeq.sorted
    def df(term: String): Long = postings.get(term).map(_.size.toLong).getOrElse(0L)

    private def clauseScores(q: Query, boost: Float = 1f): Map[Long, Float] = q match {
      case BoostQ(inner, b) => clauseScores(inner, boost * b)
      case TermQ(t) =>
        val wv = BM25.weightValue(BM25.idf(df(t), maxDoc), boost)
        postings.getOrElse(t, Map.empty).map { case (id, ps) =>
          id -> BM25.score(wv, ps.length.toFloat, cache, norm(id))
        }
      case PhraseQ(terms, rel) =>
        if (terms.exists(df(_) == 0L)) return Map.empty
        var idfSum = 0f
        terms.foreach(t => idfSum += BM25.idf(df(t), maxDoc))
        val wv = BM25.weightValue(idfSum, boost)
        val docsWithAll = terms.map(t => postings(t).keySet).reduce(_ intersect _)
        docsWithAll.iterator.flatMap { id =>
          val posSets = terms.map(t => postings(t)(id).toSet)
          val pf = postings(terms.head)(id)
            .count(p0 => terms.indices.forall(j => posSets(j).contains(p0 - rel.head + rel(j))))
          if (pf == 0) None
          else Some(id -> BM25.score(wv, pf.toFloat, cache, norm(id)))
        }.toMap
      case SloppyPhraseQ(terms, rel, slop) =>
        // independent re-derivation of the reference pq-walk
        // (SloppyPhraseScorer.phraseFreq) with scan-min instead of a heap;
        // freq = sum of 1/(1+matchLength) over encountered matches
        if (terms.exists(df(_) == 0L)) return Map.empty
        var idfSum = 0f
        terms.foreach(t => idfSum += BM25.idf(df(t), maxDoc))
        val wv = BM25.weightValue(idfSum, boost)
        val docsWithAll = terms.map(t => postings(t).keySet).reduce(_ intersect _)
        docsWithAll.iterator.flatMap { id =>
          val f = sloppyWalkFreq(terms, rel,
            t => postings(t)(id), slop)
          if (f == 0f) None
          else Some(id -> BM25.score(wv, f, cache, norm(id)))
        }.toMap
      case MultiPhraseQ(slots, rel) =>
        // per-slot union of alternatives' positions; blended idf over all
        // PRESENT member terms (engine skips absent stats)
        if (slots.exists(_.forall(df(_) == 0L))) return Map.empty
        var idfSum = 0f
        slots.flatten.filter(df(_) > 0L)
          .foreach(t => idfSum += BM25.idf(df(t), maxDoc))
        val wv = BM25.weightValue(idfSum, boost)
        val slotPos: Seq[Map[Long, Set[Int]]] = slots.map { sl =>
          sl.flatMap(t => postings.getOrElse(t, Map.empty).toSeq)
            .groupBy(_._1)
            .map { case (id, xs) => id -> xs.flatMap(_._2).toSet }
        }
        val docsWithAll = slotPos.map(_.keySet).reduce(_ intersect _)
        docsWithAll.iterator.flatMap { id =>
          val pf = slotPos.head(id).toSeq.sorted.count(p0 =>
            slots.indices.forall(j =>
              slotPos(j)(id).contains(p0 - rel.head + rel(j))))
          if (pf == 0) None
          else Some(id -> BM25.score(wv, pf.toFloat, cache, norm(id)))
        }.toMap
      case SpanNearQ(terms, slop, inOrder) =>
        spanNear(terms.map(Seq(_)), slop, inOrder, boost)
      case SpanNearMultiQ(legs, slop, inOrder) =>
        spanNear(legs.map(expandLeg), slop, inOrder, boost)
      case SpanNotQ(include, exclude, pre, post) =>
        // include occurrences with no exclude occurrence in [p-pre, p+post];
        // weight from the include term alone
        if (df(include) == 0L) return Map.empty
        val wv = BM25.weightValue(BM25.idf(df(include), maxDoc), boost)
        postings(include).iterator.flatMap { case (id, ps) =>
          val ex = postings.getOrElse(exclude, Map.empty).getOrElse(id, Vector.empty)
          val sf = ps.count(p => !ex.exists(e => p - pre <= e && e <= p + post))
          if (sf == 0) None
          else Some(id -> BM25.score(wv, sf.toFloat, cache, norm(id)))
        }.toMap
      case SpanWithinQ(little, big, slop) =>
        spanContain(little, big, slop, within = true, boost)
      case SpanContainingQ(little, big, slop) =>
        spanContain(little, big, slop, within = false, boost)
      case RegexpQ(pat) =>
        val rx = ("^" + pat + "$").r
        constSet(allTerms.filter(t => rx.findFirstIn(t).isDefined), boost)
      case RangeQ(lo, hi, incLo, incHi) =>
        constSet(allTerms.filter(t =>
          (if (incLo) t >= lo else t > lo) &&
            (if (incHi) t <= hi else t < hi)), boost)
      case PrefixQ(p) => constSet(allTerms.filter(_.startsWith(p)), boost)
      case WildcardQ(pat) =>
        val rx = ("^" + pat.flatMap {
          case '*' => ".*"; case '?' => "."
          case c if "\\.[]{}()<>+-=!?^$|".contains(c) => "\\" + c
          case c => c.toString
        } + "$").r
        constSet(allTerms.filter(t => rx.findFirstIn(t).isDefined), boost)
      case FuzzyQ(t, e) => constSet(allTerms.filter(c => lev(c, t) <= e), boost)
      case MatchAllQ => dl.keys.map(_ -> boost).toMap
      case b: BoolQ => // nested boolean: recurse, boost scales the sum
        scores(b).map { case (id, s) => id -> s * boost }
    }

    /** Greedy minimal-end ordered spans over per-slot position lists
      * (the NearSpansOrdered enumeration contract, written as filters/min
      * rather than the engine's binary searches). */
    private def orderedSpans(slots: Seq[Seq[Int]], slop: Int): Seq[(Int, Int)] =
      slots.head.flatMap { s =>
        var prev = s
        var ok = true
        slots.drop(1).foreach { ps =>
          if (ok) {
            val nxt = ps.filter(_ > prev)
            if (nxt.isEmpty) ok = false else prev = nxt.min
          }
        }
        if (ok && (prev - s + 1) - slots.length <= slop) Some((s, prev))
        else None
      }

    /** A span-near leg's dictionary terms (SpanMultiTermQueryWrapper). */
    private def expandLeg(q: Query): Seq[String] = q match {
      case TermQ(t) => Seq(t)
      case PrefixQ(p) => allTerms.filter(_.startsWith(p))
      case FuzzyQ(t, e) => allTerms.filter(c => lev(c, t) <= e)
      case other => throw new IllegalArgumentException(s"leg $other")
    }

    /** SpanNear over slots of alternative terms: a slot occurs at the
      * union of its terms' positions; freq = ordered or unordered span
      * count; weight sums the idf of every present slot term. */
    private def spanNear(slots: Seq[Seq[String]], slop: Int, inOrder: Boolean,
                         boost: Float): Map[Long, Float] = {
      val present = slots.map(_.filter(df(_) > 0L))
      if (present.isEmpty || present.exists(_.isEmpty)) return Map.empty
      var idfSum = 0f
      present.flatten.foreach(t => idfSum += BM25.idf(df(t), maxDoc))
      val wv = BM25.weightValue(idfSum, boost)
      val slotPos: Seq[Map[Long, Seq[Int]]] = present.map { sl =>
        sl.flatMap(t => postings(t).toSeq).groupBy(_._1)
          .map { case (id, xs) => id -> xs.flatMap(_._2).sorted }
      }
      slotPos.map(_.keySet).reduce(_ intersect _).iterator.flatMap { id =>
        val lists = slotPos.map(_(id))
        val sf = (if (inOrder) orderedSpans(lists, slop)
          else unorderedSpans(lists, slop)).length
        if (sf == 0) None
        else Some(id -> BM25.score(wv, sf.toFloat, cache, norm(id)))
      }.toMap
    }

    /** SpanWithin / SpanContaining brute force. */
    private def spanContain(little: String, big: Seq[String], slop: Int,
                            within: Boolean,
                            boost: Float): Map[Long, Float] = {
      if (df(little) == 0L || big.exists(df(_) == 0L)) return Map.empty
      var idf = 0f
      if (within) idf = BM25.idf(df(little), maxDoc)
      else big.foreach(t => idf += BM25.idf(df(t), maxDoc))
      val wv = BM25.weightValue(idf, boost)
      val docsWithAll =
        (big :+ little).map(t => postings(t).keySet).reduce(_ intersect _)
      docsWithAll.iterator.flatMap { id =>
        val spans = orderedSpans(big.map(postings(_)(id)), slop)
        val lp = postings(little)(id)
        val sf =
          if (within) lp.count(p => spans.exists(se => se._1 <= p && p <= se._2))
          else spans.count { case (s, e) => lp.exists(p => s <= p && p <= e) }
        if (sf == 0) None
        else Some(id -> BM25.score(wv, sf.toFloat, cache, norm(id)))
      }.toMap
    }

    /** ConstantScoreQuery semantics: each matching doc scores the boost. */
    private def constSet(terms: Seq[String], boost: Float): Map[Long, Float] =
      terms.flatMap(t => postings.getOrElse(t, Map.empty).keys).distinct
        .map(_ -> boost).toMap

    /** All matching (docId, score), unranked. */
    def scores(q: BoolQ): Map[Long, Float] = {
      val per = q.clauses.map { case (o, c) => (o, clauseScores(c)) }
      val musts = per.collect { case (Occur.Must, m) => m }
      val filters = per.collect { case (Occur.Filter, m) => m }
      val shoulds = per.collect { case (Occur.Should, m) => m }
      val nots = per.collect { case (Occur.MustNot, m) => m }
      val effMsm =
        if (q.minShouldMatch > 0) q.minShouldMatch
        else if (musts.isEmpty && filters.isEmpty && shoulds.nonEmpty) 1
        else 0
      val candidates: Set[Long] =
        if (musts.nonEmpty || filters.nonEmpty)
          (musts ++ filters).map(_.keySet).reduce(_ intersect _)
        else shoulds.map(_.keySet).foldLeft(Set.empty[Long])(_ union _)
      candidates.iterator.flatMap { id =>
        val shouldCount = shoulds.count(_.contains(id))
        val vetoed = nots.exists(_.contains(id))
        if (vetoed || shouldCount < effMsm) None
        else {
          // sum scoring clauses (Must + Should) left-to-right
          var s = 0f
          per.foreach {
            case (Occur.Must, m) => m.get(id).foreach(v => s += v)
            case (Occur.Should, m) => m.get(id).foreach(v => s += v)
            case _ =>
          }
          Some(id -> s)
        }
      }.toMap
    }

    /** (score desc, docId asc) top-k — HitQueue.java:68-81 semantics. */
    def topK(q: BoolQ, k: Int): Seq[(Long, Float)] =
      scores(q).toSeq.sortBy { case (id, s) => (-s, id) }.take(k)

    def searchAfter(q: BoolQ, k: Int, s0: Float, d0: Long): Seq[(Long, Float)] =
      scores(q).toSeq
        .filter { case (id, s) => s < s0 || (s == s0 && id > d0) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Minimal covering windows over per-slot position lists (the
    * NearSpansUnordered contract): every [a, b] holding a position of
    * each slot with no covering proper sub-window, that fits the slop;
    * ascending. Assumes one token per position across slots. */
  def unorderedSpans(slots: Seq[Seq[Int]], slop: Int): Seq[(Int, Int)] = {
    def covers(a: Int, b: Int) = slots.forall(_.exists(p => a <= p && p <= b))
    val all = slots.flatten.distinct.sorted
    for (a <- all; b <- all if a <= b && covers(a, b) &&
      !covers(a + 1, b) && !covers(a, b - 1) &&
      (b - a + 1) - slots.length <= slop) yield (a, b)
  }

  /** The reference sloppy-phrase walk (SloppyPhraseScorer.phraseFreq),
    * re-derived with per-step scan-min instead of a heap: each slot holds a
    * cursor over its term's positions adjusted by the slot offset; advance
    * the least slot, and each time it crosses the next-least, score the
    * minimized window (end - min) when <= slop as 1/(1+len). Repeated
    * terms: the j-th same-term slot (by offset order) starts at the term's
    * j-th occurrence, and a collision after an advance (two slots on one
    * doc occurrence) advances the lesser slot until resolved. */
  def sloppyWalkFreq(terms: Seq[String], rel: Seq[Int],
                     pos: String => Vector[Int], slop: Int): Float = {
    val n = terms.length
    val relA = rel.toArray
    val lists = terms.map(pos).toArray
    val idx = Array.fill(n)(0)
    def adj(i: Int) = lists(i)(idx(i)) - relA(i)
    def tp(i: Int) = lists(i)(idx(i))

    val groups: Array[Array[Int]] = terms.zipWithIndex.groupBy(_._1)
      .valuesIterator.filter(_.length > 1)
      .map(_.map(_._2).sortBy(relA).toArray).toArray
    val groupOf = Array.fill(n)(-1)
    for (g <- groups.indices; s <- groups(g)) groupOf(s) = g
    // init: j-th group member starts at the term's j-th occurrence
    for (g <- groups; j <- g.indices) {
      if (j >= lists(g(j)).length) return 0f
      idx(g(j)) = j
    }

    var end = (0 until n).map(adj).max
    def lesser(a: Int, b: Int): Int =
      if (adj(a) < adj(b) || (adj(a) == adj(b) && relA(a) < relA(b))) a else b
    def collide(s: Int): Int =
      groups(groupOf(s)).find(o => o != s && tp(o) == tp(s)).getOrElse(-1)
    // advance a slot; false when its positions are exhausted
    def advance(s: Int): Boolean = {
      idx(s) += 1
      if (idx(s) >= lists(s).length) return false
      if (adj(s) > end) end = adj(s)
      true
    }
    def resolve(s0: Int): Boolean = {
      var s = s0
      if (groupOf(s) < 0) return true
      var k = collide(s)
      while (k >= 0) {
        s = lesser(s, k)
        if (!advance(s)) return false
        k = collide(s)
      }
      true
    }

    val inQueue = scala.collection.mutable.Set.from(0 until n)
    def popMin(): Int = {
      val m = inQueue.minBy(i => (adj(i), relA(i), i))
      inQueue -= m; m
    }
    var pp = popMin()
    var matchLength = end - adj(pp)
    var next = inQueue.iterator.map(adj).min
    var freq = 0f
    var done = false
    while (!done) {
      if (!advance(pp) || (groups.nonEmpty && !resolve(pp))) done = true
      else if (adj(pp) > next) { // done minimizing the current window
        if (matchLength <= slop) freq += 1f / (matchLength + 1)
        inQueue += pp
        pp = popMin()
        next = inQueue.iterator.map(adj).min
        matchLength = end - adj(pp)
      } else {
        val ml2 = end - adj(pp)
        if (ml2 < matchLength) matchLength = ml2
      }
    }
    if (matchLength <= slop) freq += 1f / (matchLength + 1)
    freq
  }
}
