package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{CheckIndex, CorpusGen, IndexBuilder, IndexReader}
import graft.operators.Dedup

/** Self-test of the benchmark: a tiny run of every workload passes its
  * gates in both modes, and a deliberately corrupted result is caught. */
class SelfTestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp: Path = Files.createTempDirectory("perfbench-selftest")
  private lazy val spark: SparkSession = Main.session(tmp)

  override def afterAll(): Unit = {
    spark.stop()
    Ctx.deleteRecursively(tmp)
  }

  for (w <- Seq("query", "dedup"); trace <- Seq(false, true))
    test(s"a tiny $w run passes its gates (trace=$trace)") {
      val (out, ctx) = Main.runWorkload(spark, w, Sizes.tiny, 42L, 0.5,
        trace, tmp.resolve(s"$w-$trace"), None)
      assert(out.correct, ctx.problems.mkString("; "))
      assert(out.failed == 0, ctx.problems.mkString("; "))
      assert(out.attempted >= 2)
      val want = if (trace) Catalogue.perLayer else Catalogue.endToEnd
      assert(out.metrics.map(_._1) == want.map(_._1))
      out.metrics.foreach { case (k, v) => assert(!v.isNaN && !v.isInfinite, k) }
      if (!trace) out.metrics.foreach { case (k, v) => assert(v > 0, k) }
    }

  private lazy val tinyIndex: IndexReader = {
    val dir = tmp.resolve("gate-index").toString
    val cfg = Sizes.indexConfig(300, 2)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 300, 42L, 4).toDF(), dir, cfg)
    IndexReader(spark, dir, cfg)
  }

  private def swapScores(h: Gates.Hits): Gates.Hits = {
    val i = h.indices.find(i => i + 1 < h.length && h(i)._2 != h(i + 1)._2).get
    h.updated(i, (h(i)._1, h(i + 1)._2)).updated(i + 1, (h(i + 1)._1, h(i)._2))
  }

  test("query gates: engines agree, and a swapped or nudged score is caught") {
    val q = QueryWorkload.Q("or", "wand", "or", Seq("import", "spark", "merge"),
      "import spark merge")
    val wand = QueryWorkload.execute(tinyIndex, q)
    val join = QueryWorkload.crossCheck(tinyIndex, q).get
    assert(wand.length == QueryWorkload.K)
    assert(Gates.agreement("or", wand, join).isEmpty)
    assert(Gates.rankProblems("or", wand, QueryWorkload.K).isEmpty)

    val swapped = swapScores(wand)
    assert(Gates.agreement("or", swapped, join).nonEmpty)
    assert(Gates.rankProblems("or", swapped, QueryWorkload.K).nonEmpty)
    val nudged = wand.updated(0, (wand(0)._1, Math.nextUp(wand(0)._2)))
    assert(Gates.agreement("or", nudged, join).nonEmpty)
    assert(Gates.pinned("or", swapped, Some(Gates.digest(wand))).nonEmpty)
    assert(Gates.pinned("or", wand, Some(Gates.digest(wand))).isEmpty)
  }

  test("build gate: CheckIndex catches an index with a postings file removed") {
    val src = tmp.resolve("gate-index")
    tinyIndex.collStats
    val broken = tmp.resolve("broken-index")
    Files.walk(src).forEach { p =>
      val to = broken.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    assert(Gates.checkIndex(CheckIndex.run(
      new IndexReader(spark, src.toString, 16, cacheData = false)).collect().toSeq).isEmpty)
    val part = Files.walk(broken.resolve("postings")).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.delete(part)
    val problems = Gates.checkIndex(CheckIndex.run(
      new IndexReader(spark, broken.toString, 16, cacheData = false)).collect().toSeq)
    assert(problems.exists(_.contains("termdict_vs_postings")), problems)
  }

  test("dedup gates: a dropped planted pair and a wrong Jaccard are caught") {
    import spark.implicits._
    val n = 120L
    val docs = spark.range(0, n).map(i => (i: Long, CorpusGen.row(42L, i).content))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("a", "b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val jc = pairs(Dedup.ngramJaccard(docs, 3, 0.8))
    val mh = pairs(Dedup.minhashLsh(docs, 3, 0.8))
    val planted = Gates.plantedPairs(n)
    assert(planted.nonEmpty)
    assert(Gates.recall("jaccard", planted, jc.keySet).isEmpty)
    assert(Gates.minhashWithinJaccard(mh, jc).isEmpty)

    assert(Gates.recall("jaccard", planted, jc.keySet - planted.head).nonEmpty)
    val (p, j) = mh.head
    assert(Gates.minhashWithinJaccard(mh.updated(p, j - 0.01), jc).nonEmpty)
  }
}
