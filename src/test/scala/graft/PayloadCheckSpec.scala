package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.search.JoinScorer

/** Payload-check span semantics (reference spans/SpanPayloadCheckQuery
  * .java acceptPosition — ordered list compare — and
  * SpanNearPayloadCheckQuery.java — match-any counting), plus the
  * ordered and unordered span walks every span clause is built on,
  * checked against brute-force enumerations.
  */
class PayloadCheckSpec extends AnyFunSuite {

  /** Every leg tuple (one position per slot), in lexicographic order. */
  private def tuples(bySlot: Array[Array[Int]]): Seq[List[Int]] =
    bySlot.foldRight(Seq(List.empty[Int])) { (ps, rest) =>
      for (p <- ps.toSeq; r <- rest) yield p :: r }

  /** Ordered spans by brute force: per start position of slot 0, the
    * lexicographically least strictly increasing leg tuple (the one with
    * the minimal end); a match when some increasing tuple from that start
    * fits the slop. */
  private def bruteOrdered(bySlot: Array[Array[Int]], slop: Int): List[List[Int]] = {
    val n = bySlot.length
    val increasing = tuples(bySlot).filter(t => t.zip(t.drop(1)).forall(x => x._1 < x._2))
    bySlot(0).toList.flatMap { s =>
      val fromS = increasing.filter(_.head == s)
      if (fromS.exists(t => t.last - s + 1 - n <= slop)) Some(fromS.head) else None
    }
  }

  /** Random per-slot position lists; `disjoint` draws one token per
    * position across slots, as in a real doc with distinct legs. */
  private def randomSlots(rnd: scala.util.Random, disjoint: Boolean): Array[Array[Int]] = {
    val n = 1 + rnd.nextInt(3)
    if (!disjoint)
      Array.fill(n)(Array.fill(1 + rnd.nextInt(6))(rnd.nextInt(30)).distinct.sorted)
    else {
      val owner = Array.fill(30)(rnd.nextInt(n + 2)) // n, n+1 = other tokens
      Array.tabulate(n)(t => (0 until 30).filter(owner(_) == t).toArray)
    }
  }

  test("orderedSpanMatches agrees with a brute-force enumeration on random inputs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val byTerm = randomSlots(rnd, disjoint = false)
      val slop = rnd.nextInt(4)
      assert(JoinScorer.orderedSpanMatches(byTerm, slop).map(_.toList).toList ===
        bruteOrdered(byTerm, slop))
    }
  }

  test("unorderedSpanMatches agrees with a brute-force enumeration on random inputs") {
    val rnd = new scala.util.Random(43)
    var matched = 0
    for (_ <- 1 to 300) {
      val bySlot = randomSlots(rnd, disjoint = true)
      val slop = rnd.nextInt(4)
      val got = JoinScorer.unorderedSpanMatches(bySlot, slop).toList
      assert(got === NaiveOracle.unorderedSpans(bySlot.map(_.toSeq).toSeq, slop),
        bySlot.map(_.toList).toList)
      matched += got.length
    }
    assert(matched > 0)
  }

  test("orderedSpanMatches yields the greedy chain positions") {
    // table at 0 and 10; scan at 3, 12 — greedy pairs (0,3) and (10,12)
    val byTerm = Array(Array(0, 10), Array(3, 12))
    val ms = JoinScorer.orderedSpanMatches(byTerm, 10).toList
    assert(ms.map(_.toList) === List(List(0, 3), List(10, 12)))
    // slop 1: only (10,12) has width-2 <= 1
    val tight = JoinScorer.orderedSpanMatches(byTerm, 1).toList
    assert(tight.map(_.toList) === List(List(10, 12)))
  }

  test("single-term check: every occurrence is its own span") {
    val byTerm = Array(Array(1, 5, 25))
    val ms = JoinScorer.orderedSpanMatches(byTerm, 0).toList
    assert(ms.map(_.toList) === List(List(1), List(5), List(25)))
  }

  test("leadPayload channel boundary") {
    assert(JoinScorer.leadPayload(0) === 2f)
    assert(JoinScorer.leadPayload(19) === 2f)
    assert(JoinScorer.leadPayload(20) === 1f)
  }

  // the accept rules as implemented in spanPayloadCheckHits
  private def acceptOrdered(cand: Array[Float], exp: Array[Float]): Boolean =
    cand.length == exp.length && cand.indices.forall(i => cand(i) == exp(i))
  private def acceptNear(cand: Array[Float], exp: Array[Float]): Boolean =
    cand.length == exp.length &&
      cand.count(c => exp.contains(c)) == exp.length

  test("ordered compare (SpanPayloadCheckQuery): order matters") {
    assert(acceptOrdered(Array(2f, 1f), Array(2f, 1f)))
    assert(!acceptOrdered(Array(1f, 2f), Array(2f, 1f)))
    assert(!acceptOrdered(Array(2f), Array(2f, 1f)))
  }

  test("match-any counting (SpanNearPayloadCheckQuery): order-free") {
    assert(acceptNear(Array(1f, 2f), Array(2f, 1f)))
    assert(acceptNear(Array(2f, 2f), Array(2f, 2f)))
    // a candidate not matching ANY expected payload fails the count
    assert(!acceptNear(Array(2f, 1f), Array(2f, 2f)))
  }
}
