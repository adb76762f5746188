package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.IndexBuilder
import graft.search._

/** Unit coverage for round-2 query surface: span algebra freq functions,
  * fielded parsing, ASCII folding, synonym expansion. (End-to-end results
  * are DuckDB-oracle-checked: ft_span_or, ft_span_unordered, ft_fielded,
  * ft_synonym, ft_folded.) */
class FieldedSpanSpec extends AnyFunSuite {

  private def freqU(slop: Int, lists: Array[Int]*): Int =
    JoinScorer.unorderedSpanMatches(lists.toArray, slop).size
  private def freqO(slop: Int, lists: Array[Int]*): Int =
    JoinScorer.orderedSpanMatches(lists.toArray, slop).size

  test("unordered span freq: any order within window") {
    // "b a": ordered (a then b) fails at slop 0, unordered matches
    assert(freqO(0, Array(5), Array(4)) == 0)
    assert(freqU(0, Array(5), Array(4)) == 1)
    // window width 4 - 2 = 2 > slop 1 -> no match
    assert(freqU(1, Array(10), Array(13)) == 0)
    assert(freqU(2, Array(10), Array(13)) == 1)
    // three terms, minimal window [7,9] width 3 -> slop 0 matches
    assert(freqU(0, Array(1, 9), Array(7), Array(8)) == 1)
    // two minimal windows
    assert(freqU(0, Array(1, 11), Array(2, 12)) == 2)
  }

  test("ordered vs unordered on the same positions") {
    assert(freqO(3, Array(2), Array(4)) == 1)
    assert(freqU(3, Array(2), Array(4)) == 1)
    assert(freqO(3, Array(4), Array(2)) == 0)
    assert(freqU(3, Array(4), Array(2)) == 1)
  }

  test("parser: fielded clauses") {
    val q = QueryParser.parse("path:src/main spark path:Main* content:merge")
    assert(q.clauses(0)._2 ==
      PhraseQ(Seq("path:src", "path:main"), Seq(0, 1)))
    assert(q.clauses(1)._2 == TermQ("spark"))
    assert(q.clauses(2)._2 == PrefixQ("path:main"))
    assert(q.clauses(3)._2 == TermQ("merge"))
    val single = QueryParser.parse("path:F000123.scala")
    assert(single.clauses.head._2 ==
      PhraseQ(Seq("path:f000123", "path:scala"), Seq(0, 1)))
  }

  test("path tokens + field-of-term") {
    assert(IndexBuilder.pathTokens("src/d003/F000123.scala").toSeq ==
      Seq("src", "d003", "f000123", "scala"))
    assert(IndexBuilder.fieldOfTerm("path:src") == "path")
    assert(IndexBuilder.fieldOfTerm("src") == "content")
  }

  test("ascii folding") {
    assert(Analyzer.foldToAscii("café") == "cafe")
    assert(Analyzer.foldToAscii("Mérge tāble") == "Merge table")
    assert(Analyzer.foldToAscii("Ähnlich Œuvre straße") == "Ahnlich OEuvre strasse")
    assert(Analyzer.foldToAscii("łódź đạo") == "lodz dao")
    assert(Analyzer.foldToAscii("plain ascii7") == "plain ascii7") // fast path
  }

  test("synonym expansion to span-OR with folding") {
    val q = QueryParser.parse("quick", synonyms = Map("quick" -> Seq("Fást")),
      foldAscii = true)
    assert(q.clauses.head._2 == SpanOrQ(Seq("quick", "fast")))
    val plain = QueryParser.parse("slow", synonyms = Map("quick" -> Seq("fast")))
    assert(plain.clauses.head._2 == TermQ("slow"))
  }
}
