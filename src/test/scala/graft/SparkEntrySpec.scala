package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{TempDirs, TempRoot}

/** SparkEntry's fixture store and registry: one memo table keyed by the
  * resolved IndexConfig, every index dir under the one temp root, and
  * the query registry in lockstep with the oracle SQL. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  /** A snapshot dir in the sf layout: documents.parquet (doc_id, text, lang). */
  private lazy val sfDir = {
    val dir = SparkSuite.tmpDir("sf")
    (0L until 200L).map(i => (i, s"doc $i window spark " +
      (if (i % 2 == 0) "fast running" else "vector"), "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("the same resolved config returns the same index instance") {
    val base = SparkEntry.reader(spark, sfDir)
    assert(SparkEntry.index(spark, sfDir) eq base)
    val stem = SparkEntry.stemmedReader(spark, sfDir)
    // a different tweak that resolves to the same IndexConfig shares it
    assert(SparkEntry.index(spark, sfDir, _.copy(analyzer = "english")) eq stem)
    assert(stem ne base)
  }

  test("distinct variants get distinct dirs under the one temp root") {
    val dirs = Seq(SparkEntry.reader(spark, sfDir),
      SparkEntry.stemmedReader(spark, sfDir)).map(r => Paths.get(r.dir))
    assert(dirs.distinct.size == 2)
    dirs.foreach { d =>
      assert(d.getParent == TempDirs.path, d)
      assert(Files.exists(d.resolve("segments")), d)
    }
  }

  test("a temp root's cleanup removes the root and everything under it") {
    val root = new TempRoot("graft-spec-")
    val d = Paths.get(root.dir("a"))
    Files.createDirectories(d.resolve("x/y"))
    Files.writeString(d.resolve("x/y/f.txt"), "z")
    assert(d.getParent == root.path)
    val p = root.path
    root.cleanup()
    assert(!Files.exists(p))
    // the next dir starts a fresh root
    assert(Files.isDirectory(Paths.get(root.dir("b"))))
    root.cleanup()
  }

  test("deleteRecursively removes a link, never its target") {
    val target = Paths.get(SparkSuite.tmpDir("target"))
    Files.writeString(target.resolve("keep.txt"), "k")
    val tree = Paths.get(SparkSuite.tmpDir("tree"))
    Files.createSymbolicLink(tree.resolve("link"), target)
    TempDirs.deleteRecursively(tree)
    TempDirs.deleteRecursively(tree) // missing path: no-op
    assert(!Files.exists(tree))
    assert(Files.exists(target.resolve("keep.txt")))
  }

  test("every registered query has an oracle SQL twin and vice versa") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
