package graft.tools

import graft.{Sessions, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** Empirical recall check for the SRP auto-blocking path of
  * [[Similarity.cosinePairs]]: compare the banded
  * sign-random-projection candidates (exact-verified) against the exact
  * all-pairs result at a cosine threshold. Precision is 1.0 by
  * construction (every candidate is verified); this measures recall as
  * a function of (srpBits, srpBands).
  *
  * Usage: runMain graft.tools.SrpCheck <sfDir> <minCosine> <bits> <bands>
  */
object SrpCheck {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, minCos, bits, bands) = args
    val spark = Sessions.local(Sessions.envCpus)
    val emb = Tables.load(spark, sfDir, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.cosinePairs(emb, "vec_id", "embedding",
      minCos.toDouble))
    // broadcastLimit=1 forces the SRP-blocked path
    val srp = pairSet(Similarity.cosinePairs(emb, "vec_id", "embedding",
      minCos.toDouble, srpBits = bits.toInt, srpBands = bands.toInt,
      broadcastLimit = 1L, allowApprox = true))
    val recall = if (exact.isEmpty) 1.0 else
      (exact & srp).size.toDouble / exact.size
    println(f"exact=${exact.size} srp=${srp.size} " +
      f"missed=${(exact -- srp).size} extra=${(srp -- exact).size} " +
      f"recall=$recall%.4f")
    spark.stop()
  }
}
