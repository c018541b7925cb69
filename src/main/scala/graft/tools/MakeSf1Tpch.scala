package graft.tools

import graft.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Extend the [[MakeSf1]] corpus with 10x TPC-H + events tables, for
  * the sf1 scale leg of the GRAPH-shaped families (graph_build, sql,
  * graphx, scc/ppr/lpa, sessionize/funnel) — MakeSf1 covers only
  * documents/embeddings, which the dedup/pipeline/ann leg needed.
  *
  * Replication is FK-consistent: every key column (primary AND foreign)
  * of replica k shifts by k*1_000_000 — all base keys are <1e6 at
  * sf0.1 and GlobalNodeId packs keys into 48 bits, so shifted keys
  * stay valid and replica key spaces are disjoint. region/nation copy
  * through verbatim (25 nations is the schema's fixed dimension), so
  * nation-adjacent reversed adjacencies (Customer/Supplier locatedIn)
  * see true 10x hub growth — the property a natural 10x corpus has —
  * while fact-to-fact edges (placed, contains, supplies, did) replicate
  * into disjoint subgraphs: wall-per-iteration work scales with edges;
  * iteration counts stay diameter-driven, and the replicator preserves
  * the base diameter (noted where ratios are read).
  *
  * Usage: runMain graft.tools.MakeSf1Tpch [srcDir] [outDir] [replicas]
  */
object MakeSf1Tpch {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local(Sessions.envCpus)

    def replicate(table: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val shifted = base
        .withColumn("k", explode(sequence(lit(0), lit(reps - 1))))
      val outDf = keyCols.foldLeft(shifted) { (df, c) =>
        df.withColumn(c, col(c) + col("k") * 1000000L)
      }.drop("k")
      outDf.select(base.columns.map(col).toIndexedSeq: _*)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/$table.parquet")
      println(s"[makesf1tpch] $table ${base.count()} -> " +
        spark.read.parquet(s"$out/$table.parquet").count())
    }

    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }
    spark.stop()
  }
}
