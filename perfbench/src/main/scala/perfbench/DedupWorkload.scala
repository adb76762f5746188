package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.index.CorpusGen
import graft.operators.Dedup

/** `dedup`: the operators layer, which shares no code with scoring. The
  * timed loop makes passes of `Dedup.ngramJaccard`, `Dedup.minhashLsh` and
  * `Dedup.substringPairs` over the same generated docs, each call timed and
  * attributed on its own. Filter-then-verify in all three: candidate
  * generation, then exact verification. */
object DedupWorkload {

  val ShingleK = 3
  val Threshold = 0.8

  private def pairs(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  def run(ctx: Ctx, sizes: Sizes): WorkloadResult = {
    val spark = ctx.spark
    import spark.implicits._
    val n = sizes.dedupDocs
    val seed = ctx.seed

    var docs: DataFrame = null
    val setups = (0 until sizes.setups).map { _ =>
      if (docs != null) docs.unpersist(blocking = true)
      Stats.seconds {
        docs = spark.range(0, n, 1, 2 * ctx.cores)
          .map(i => (i: Long, CorpusGen.row(seed, i).content))
          .toDF("doc_id", "text").persist(StorageLevel.MEMORY_ONLY)
        docs.count()
      }._2
    }

    // the three operators; results as (a, b) -> score
    val ops: Seq[(String, () => Map[(Long, Long), Double])] = Seq(
      "jaccard" -> (() => pairs(Dedup.ngramJaccard(docs, ShingleK, Threshold)
        .select(col("a"), col("b"), col("jaccard")))),
      "minhash" -> (() => pairs(Dedup.minhashLsh(docs, ShingleK, Threshold)
        .select(col("a"), col("b"), col("jaccard")))),
      "substring" -> (() => pairs(Dedup.substringPairs(docs)
        .select(col("a"), col("b"), col("shared_fps").cast("double")))))

    ctx.note(s"set-up done: ${setups.map(t => f"$t%.2f").mkString(" ")} s")
    ops.foreach { case (name, f) => ctx.warmup(name)(f()) }

    val first = mutable.LinkedHashMap[String, Map[(Long, Long), Double]]()
    val perOp = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    ctx.loop(minSteps = 3) { _ =>
      ops.foreach { case (name, f) =>
        ctx.timed(name)(f()).foreach { case (res, ms) =>
          perOp.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
          first.get(name) match {
            case None => first(name) = res
            case Some(f0) if f0 != res =>
              ctx.wrongResult(s"dedup: $name results differ between passes")
            case _ =>
          }
        }
      }
    }

    // correctness, outside the timed region
    val planted = Gates.plantedPairs(n)
    first.foreach { case (name, res) =>
      Gates.recall(name, planted, res.keySet)
        .foreach(p => ctx.wrongResult(s"dedup: $p", perOp(name).size.toLong))
    }
    for (mh <- first.get("minhash"); jc <- first.get("jaccard"))
      Gates.minhashWithinJaccard(mh, jc)
        .foreach(p => ctx.wrongResult(s"dedup: $p", perOp("minhash").size.toLong))

    val perLayer =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val shingles = ctx.replay("operators.shingles")(
          Dedup.docShingles(docs, ShingleK).count().toDouble)
        Map("operators.shingles" -> shingles) ++
          Seq("jaccard", "minhash", "substring").flatMap { name =>
            Seq(s"operators.${name}_pairs" ->
              first.get(name).map(_.size.toDouble).getOrElse(0.0),
              s"operators.${name}_s" ->
                perOp.get(name).map(t => Stats.median(t.toSeq) / 1e3).getOrElse(0.0))
          }
      }
    // a pass's latency is the sum of the operators' median latencies, so
    // one slow call moves one operator's median at most
    val medians = ops.map { case (name, _) =>
      perOp.get(name).map(t => Stats.median(t.toSeq)).getOrElse(Double.NaN)
    }
    val calls = perOp.values.map(_.size).sum
    WorkloadResult(medians.sum, n.toDouble * calls / ops.size,
      perOp.values.flatten.sum / 1e3, Stats.median(setups), perLayer)
  }
}
