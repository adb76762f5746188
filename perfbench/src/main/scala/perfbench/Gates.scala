package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.index.CheckIndex.CheckResult

/** Correctness checks on collected results. Pure functions, so the
  * self-test can hand them a corrupted result. Each returns the problems it
  * found (empty = pass). */
object Gates {

  type Hits = IndexedSeq[(Long, Float)]

  /** Same doc ids in the same order with bit-identical float scores. */
  def sameHits(a: Hits, b: Hits): Boolean =
    a.length == b.length && a.zip(b).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 &&
        java.lang.Float.floatToIntBits(s1) == java.lang.Float.floatToIntBits(s2)
    }

  /** Rank order of a top-k: score descending, docId ascending on ties,
    * at most k hits, finite positive scores. */
  def rankProblems(name: String, h: Hits, k: Int): Seq[String] = {
    val ordered = h.zip(h.drop(1)).forall { case ((d1, s1), (d2, s2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2)
    }
    Seq(
      (h.length > k) -> s"$name: ${h.length} hits > k=$k",
      !ordered -> s"$name: hits not in (score desc, docId asc) order",
      h.exists { case (_, s) => !(s > 0f) || s.isInfinite } ->
        s"$name: non-positive or non-finite score"
    ).collect { case (true, msg) => msg }
  }

  /** Two engines (or two executions) must agree exactly. */
  def agreement(name: String, a: Hits, b: Hits): Seq[String] =
    if (sameHits(a, b)) Nil
    else Seq(s"$name: results differ: ${show(a)} vs ${show(b)}")

  private def show(h: Hits): String =
    h.take(3).map { case (d, s) => s"$d:$s" }.mkString("[", ",", if (h.length > 3) ",..]" else "]")

  /** sha-256 over (docId, float bits) of a top-k, for pinned results. */
  def digest(h: Hits): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(h.map { case (d, s) =>
      s"$d:${java.lang.Float.floatToIntBits(s)}" }.mkString(";")
      .getBytes(StandardCharsets.UTF_8))
    md.digest().map(b => f"$b%02x").mkString
  }

  def pinned(name: String, h: Hits, expected: Option[String]): Seq[String] =
    expected.toSeq.flatMap { d =>
      val got = digest(h)
      if (got == d) Nil else Seq(s"$name: digest $got != pinned $d")
    }

  /** CheckIndex reports a violation count per check; all must be 0. */
  def checkIndex(rows: Seq[CheckResult]): Seq[String] =
    (if (rows.isEmpty) Seq("CheckIndex returned no checks") else Nil) ++
      rows.filter(_.violations != 0L)
        .map(r => s"CheckIndex ${r.check}: ${r.violations} violations")

  /** Identical-content pairs CorpusGen plants among docs 0 until n: doc
    * 2j and 2j+1 share content when j % 17 == 3. */
  def plantedPairs(n: Long): Set[(Long, Long)] =
    (0L until n / 2).filter(_ % 17 == 3).map(j => (2 * j, 2 * j + 1))
      .filter(_._2 < n).toSet

  def recall(name: String, planted: Set[(Long, Long)],
             found: Set[(Long, Long)]): Seq[String] = {
    val missing = planted -- found
    if (missing.isEmpty) Nil
    else Seq(s"$name: ${missing.size} planted duplicate pairs missing, " +
      s"e.g. ${missing.take(3).mkString(",")}")
  }

  /** MinHash-LSH output is exact-Jaccard verified, so every pair it
    * returns must be in the exact Jaccard join's output with the same
    * value. */
  def minhashWithinJaccard(minhash: Map[(Long, Long), Double],
                           jaccard: Map[(Long, Long), Double]): Seq[String] = {
    val bad = minhash.filterNot { case (p, j) => jaccard.get(p).contains(j) }
    if (bad.isEmpty) Nil
    else Seq(s"minhash: ${bad.size} pairs absent from or disagreeing with " +
      s"exact Jaccard, e.g. ${bad.take(3).mkString(",")}")
  }
}
