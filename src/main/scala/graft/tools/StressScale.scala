package graft.tools

import graft.Sessions
import graft.ext._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale stress: replicate the sf0.1 documents corpus R times with
  * replica-suffixed tokens (shingle spaces of replicas are disjoint, so
  * duplicate structure — and therefore work — scales linearly, not
  * quadratically) and time the curation operators. The check is the
  * SHAPE of the scaling: a linear operator at R=20 should cost ≲ 20×
  * its sf0.1 time (modulo fixed overhead); anything super-linear is a
  * 100 TB red flag.
  *
  * Usage: runMain graft.tools.StressScale <sfDir> <workDir> [replicas]
  */
object StressScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val work = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 20
    val spark = Sessions.local(Sessions.envCpus)

    val path = s"$work/documents_x$replicas.parquet"
    if (!new java.io.File(path).exists()) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val reps = (0 until replicas).map { r =>
        base.select(
          (col("doc_id") + lit(r.toLong * 10_000_000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            t => concat(t, lit(s"_$r")))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      reps.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(path)
    }
    val docs = spark.read.parquet(path)
    println(s"[stress] corpus rows = ${docs.count()} (replicas=$replicas)")

    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $tag ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    time("heavy_hitters") {
      docs.select(explode(TextFunctions.wordNgrams(col("text"), 3)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(20).count()
    }
    time("substring_spans(k=8)") {
      SubstringDedup.duplicatedSpans(docs, "text", "doc_id", k = 8).count()
    }
    time("minhash_lsh(j>=0.9)") {
      Dedup.minhashLshPairs(docs, "text", "doc_id", n = 3,
        minJaccard = 0.9, numPerms = 64, bands = 8).count()
    }
    time("exact_dedup") {
      Dedup.exactGroups(docs, "text", "doc_id").count()
    }
    time("decontaminate(src0)") {
      Decontaminate.overlapHits(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 5, minHits = 5).count()
    }
    time("c4+quality gate") {
      docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.c4DocKeep(col("text")).as("keep")).count()
    }

    // incremental family: 90% history indexed once, 10% increment probes
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    time("band_index_build") {
      Dedup.writeBandIndex(hist, "text", "doc_id", s"$work/bandidx",
        n = 3, numPerms = 64, bands = 8); 0L
    }
    time("lsh_incremental_probe") {
      Dedup.minhashLshPairsIncremental(spark, inc, hist, s"$work/bandidx",
        "text", "doc_id", n = 3, minJaccard = 0.9,
        numPerms = 64, bands = 8).count()
    }
    time("window_index_build") {
      SubstringDedup.writeWindowIndex(hist, "text", "doc_id", k = 8,
        s"$work/winidx"); 0L
    }
    time("substring_incremental_probe") {
      SubstringDedup.duplicatedSpansIncremental(inc, s"$work/winidx",
        "text", "doc_id", k = 8).count()
    }
    spark.stop()
  }
}
