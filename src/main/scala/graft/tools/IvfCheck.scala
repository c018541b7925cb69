package graft.tools

import graft.{Sessions, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** Empirical recall probe for the IVF family with k-means++ centroids
  * ([[Similarity.trainCentroidsKMeansPP]]): recall@k of single-probe
  * [[Similarity.ivfTopK]] and multi-probe [[Similarity.ivfTopKProbe]]
  * against [[Similarity.bruteForceTopK]] ground truth on the real
  * embeddings table, plus the cell-size balance of the trained
  * quantizer (the skew that deterministic-id centroids can't control).
  *
  * Usage: runMain graft.tools.IvfCheck <sfDir> <kCells> <topK> <nQueries>
  */
object IvfCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val kCells = if (args.length > 1) args(1) else "16"
    val topK = if (args.length > 2) args(2) else "100"
    val nQueries = if (args.length > 3) args(3) else "20"
    val spark = Sessions.local(Sessions.envCpus)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val k = topK.toInt

    val cents = Similarity.trainCentroidsKMeansPP(
      emb, "vec_id", "embedding", kCells.toInt)
    val celled = Similarity.assignCells(emb, "embedding", "cell", cents)
      .cache()
    val sizes = celled.groupBy("cell").count()
      .collect().map(_.getLong(1)).sorted
    println(s"cells=${sizes.length} sizes min=${sizes.head} " +
      s"median=${sizes(sizes.length / 2)} max=${sizes.last}")

    val queries = celled.orderBy("vec_id").limit(nQueries.toInt).cache()
    def resultSet(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = resultSet(Similarity.bruteForceTopK(
      celled, queries, "vec_id", "embedding", k))
    def recall(s: Set[(Long, Long)]) =
      if (truth.isEmpty) 1.0 else (truth & s).size.toDouble / truth.size
    val r1 = recall(resultSet(Similarity.ivfTopK(
      celled, queries, "vec_id", "embedding", "cell", k)))
    Seq(1, 2, 4).foreach { np =>
      val r = recall(resultSet(Similarity.ivfTopKProbe(
        celled, queries, "vec_id", "embedding", "cell", k, cents, np)))
      println(f"nprobe=$np recall@$k=$r%.4f")
    }
    println(f"single-probe ivfTopK recall@$k=$r1%.4f")
    spark.stop()
  }
}
