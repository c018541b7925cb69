package graft.tools

import graft.Sessions
import org.apache.spark.sql.functions._

/** Build a 10x (sf1-equivalent) documents + embeddings corpus from the
  * sf0.1 tables for the SCALE leg recorded in PLANS.md — the driver
  * generates no sf1 data, so the 10x corpus is replication with
  * per-replica perturbation chosen to PRESERVE the corpora's defining
  * property for the dedup families: zero exact duplicates and no
  * replica-induced near-duplicates.
  *
  *  - documents: replica k of a doc interleaves a replica-unique salt
  *    token after EVERY word (xxhash64(doc_id, k, i)-derived), so every
  *    word-3-shingle of a replica contains a salt and is globally
  *    unique: jaccard vs the original and vs sibling replicas is ~0,
  *    edit distance blows past every maxDist, and — the point — the
  *    corpus-wide shingle DF DISTRIBUTION stays that of the base corpus
  *    plus a linear unique tail. The first cut salted every 8th word
  *    only; the 5/8 of base shingles shared across all 10 replicas
  *    multiplied their df ~10× and sent the quadratic shingle join 20×
  *    superlinear — measuring the REPLICATOR, not the operator (a
  *    natural 10× corpus keeps its df distribution; recorded in
  *    PLANS.md as a negative result). Token/char counts run ~2× the
  *    base per replica doc — the fixed cost of breaking shingle
  *    identity — so map-side text passes carry a 2× constant, noted
  *    where ratios are read.
  *  - embeddings: replicas are fresh deterministic hash-random vectors
  *    of the same dim with the label distribution copied — ANN/semantic
  *    timings are corpus-size-driven, and random vectors keep the
  *    threshold rows' pair counts sparse like the base corpus.
  *  - ids remap by +k*1_000_000: preserves every query's doc_id % m
  *    split classes and stays clear of the hot-copy rows' constructed
  *    100000+ id range.
  *
  * Usage: runMain graft.tools.MakeSf1 [srcDir] [outDir] [replicas]
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local(Sessions.envCpus)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docsOut = docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(sequence(lit(0), lit(reps - 1))).as("k"))
      .select(
        (col("doc_id") + col("k") * 1000000L).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(
          array_join(zip_with(
            split(col("text"), " "),
            sequence(lit(1), size(split(col("text"), " "))),
            (w, i) => concat(w, lit(" s"), substring(
              lower(hex(xxhash64(col("doc_id"), col("k"), i))), 1, 8))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
    docsOut.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embOut = emb
      .select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(0), lit(reps - 1))).as("k"))
      .select(
        (col("vec_id") + col("k") * 1000000L).as("vec_id"),
        when(col("k") === 0, col("embedding")).otherwise(
          transform(sequence(lit(1), size(col("embedding"))),
            i => ((pmod(xxhash64(col("vec_id"), col("k"), i),
              lit(2000001L)) - lit(1000000L)).cast("double") / 1e6)
              .cast("float"))).as("embedding"),
        col("label"))
    embOut.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // the families under test also sessionize/funnel over events in
    // the pipeline family's neighborhood — copy the small dims through
    // so any row that loads them still runs; lineitem-scale tables are
    // NOT needed by the dedup/pipeline/ann families and stay out
    Seq("events", "region", "nation").foreach { t =>
      val p = new java.io.File(s"$src/$t.parquet")
      if (p.exists)
        spark.read.parquet(p.toString).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
    }
    println(s"[makesf1] documents ${spark.read.parquet(s"$out/documents.parquet").count()}, " +
      s"embeddings ${spark.read.parquet(s"$out/embeddings.parquet").count()} -> $out")
    spark.stop()
  }
}
