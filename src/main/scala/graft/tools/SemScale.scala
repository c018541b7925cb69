package graft.tools

import graft.{Sessions, Tables}
import graft.ext.{SemanticDedup, Similarity}
import org.apache.spark.sql.functions._

/** Trained-k (IVF-posture) semantic-dedup scale probe for the PLANS.md
  * sf1 leg: the gate row `q_semantic_dedup` pins k = 8 cells for its
  * recursive-CTE oracle, so 10x vectors mean 10x vectors PER CELL and
  * ~100x within-cell pair work — a query-configuration effect, not the
  * operator's scale contract, which trains k WITH the corpus (k ~ √N,
  * the IVF posture). This main measures that contract: k-means‖ train
  * at k = √N, then the full semanticDedup pass with the trained
  * centroids, at both sf0.1 and sf1, medians of `runs`.
  *
  * Usage: runMain graft.tools.SemScale <sfDir> [runs] [tau]
  */
object SemScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val tau = if (args.length > 2) args(2).toDouble else 0.92
    val spark = Sessions.local(Sessions.envCpus)

    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val k = math.max(8, math.sqrt(n.toDouble).toInt)
    println(s"[semscale] $sfDir n=$n k=$k tau=$tau")

    val ts = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      val cents = Similarity.trainCentroidsKMeansParallel(
        emb, "vec_id", "embedding", k)
      val verdicts = SemanticDedup.semanticDedup(
        emb, "vec_id", "embedding", k, tau, Some(cents))
      val kept = verdicts.filter(col("keep")).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[semscale] run $t%.2f s kept=$kept")
      t
    }.sorted
    println(f"[semscale] $sfDir n=$n k=$k median ${ts(ts.size / 2)}%.2f s")
    spark.stop()
  }
}
