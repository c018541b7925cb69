package graft.tools

import graft.{Sessions, Tables}
import graft.ext.Dedup

/** Empirical recall check: MinHash+LSH pairs must exactly equal the
  * brute-force n-gram Jaccard join at the query threshold, at every scale
  * factor the driver tests — run after changing LSH parameters.
  *
  * Usage: runMain graft.tools.LshCheck <sfDir> <tau> <numPerms> <bands>
  */
object LshCheck {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, tau, perms, bands) = args
    val spark = Sessions.local(Sessions.envCpus)
    val docs = Tables.load(spark, sfDir, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, tau.toDouble)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", 3, tau.toDouble,
      perms.toInt, bands.toInt)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"exact=${exact.size} lsh=${lsh.size} " +
      s"missed=${(exact -- lsh).size} extra=${(lsh -- exact).size}")
    spark.stop()
  }
}
