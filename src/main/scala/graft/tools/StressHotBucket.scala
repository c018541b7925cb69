package graft.tools

import graft.Sessions
import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LSH hot-bucket stress: a corpus where a few pages each occur in
  * thousands of exact copies — the classic boilerplate-skew topology
  * that makes banded MinHash quadratic (every copy of a page lands in
  * every one of its band buckets, so the candidate self-join emits
  * bands×m² rows per m-copy group and verification runs m² shingle-set
  * intersections).
  *
  * Measures three shapes on the same corpus:
  *   - legacy: the pre-collapse band self-join, reconstructed inline
  *     (band all docs, bucket-join, verify every candidate);
  *   - pairs: [[Dedup.minhashLshPairs]] with the exact-set collapse
  *     (reps band once; within-set pairs come from one O(output)
  *     equi-join, no verification);
  *   - doomed: [[Dedup.minhashLshDoomed]] (never materializes the Θ(m²)
  *     within-set pairs at all — the curation keep/drop face).
  *
  * The pair COUNT is identical for legacy and pairs (lossless); doomed
  * equals copies−groups + near-dup losers. Usage:
  *   runMain graft.tools.StressHotBucket <workDir> [groups] [copies] [unique]
  */
object StressHotBucket {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val groups = if (args.length > 1) args(1).toInt else 5
    val copies = if (args.length > 2) args(2).toInt else 2000
    val unique = if (args.length > 3) args(3).toInt else 50000
    val spark = Sessions.local(Sessions.envCpus)

    val path = s"$work/hotbucket_g${groups}_c${copies}_u$unique.parquet"
    if (!new java.io.File(path).exists()) {
      // hot groups: copy g's text is a fixed 40-word page per group;
      // unique wing: 12-word rows over a per-row token space
      val hot = spark.range(groups.toLong * copies)
        .select((col("id") + 1000000L).as("doc_id"),
          concat_ws(" ", (0 until 40).map(w =>
            concat(lit(s"page"), (col("id") % groups), lit(s"_w$w"))): _*)
            .as("text"))
      val uniq = spark.range(unique.toLong)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(w =>
            concat(lit(s"u"), col("id"), lit(s"_t$w"))): _*).as("text"))
      hot.unionByName(uniq).repartition(32)
        .write.mode("overwrite").parquet(path)
    }
    val docs = spark.read.parquet(path)
    println(s"[hotbucket] corpus=${docs.count()} rows " +
      s"($groups groups × $copies copies + $unique unique)")

    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[hotbucket] $tag ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val (n, tau, perms, bands) = (3, 0.9, 64, 8)

    time("doomed (collapse, no pair materialization)") {
      Dedup.minhashLshDoomed(docs, "text", "doc_id", n, tau, perms, bands)
        .count()
    }
    time("pairs (collapse)") {
      Dedup.minhashLshPairs(docs, "text", "doc_id", n, tau, perms, bands)
        .count()
    }
    // the legacy batch shape is bands×m² in candidate rows — at 20k
    // copies/group that is 8×10⁹ rows, so it gets its own skip flag
    if (!args.contains("--skip-legacy") &&
        !args.contains("--skip-legacy-batch"))
      time("pairs (legacy band self-join)") {
        legacyPairs(docs, n, tau, perms, bands).count()
      }

    // incremental wing: the hot corpus is history (indexed once); the
    // increment carries copies/10 MORE copies of each hot page. The
    // collapsed probe bands each page once against the index; the legacy
    // shape probed every increment copy against every history copy's
    // band rows (bands × m_new × m_old rows per group)
    val incPath = s"$work/hotbucket_inc.parquet"
    val newCopies = math.max(copies / 10, 10)
    spark.range(groups.toLong * newCopies)
      .select((col("id") + 5000000L).as("doc_id"),
        concat_ws(" ", (0 until 40).map(w =>
          concat(lit(s"page"), (col("id") % groups), lit(s"_w$w"))): _*)
          .as("text"))
      .write.mode("overwrite").parquet(incPath)
    val inc = spark.read.parquet(incPath)
    val idx = s"$work/bandidx"
    time("band index build (history)") {
      Dedup.writeBandIndex(docs, "text", "doc_id", idx, n, perms, bands); 0L
    }
    // the ingest shape (EdgeStream/curation): doomed ids only, resolved
    // at rep granularity — never expands to member pairs at all
    time("incremental doomed (rep-level)") {
      Dedup.minhashLshDoomedIncremental(spark, inc, docs, idx,
        "text", "doc_id", n, tau, perms, bands).count()
    }
    time("incremental probe (collapse)") {
      Dedup.minhashLshPairsIncremental(spark, inc, docs, idx,
        "text", "doc_id", n, tau, perms, bands).count()
    }
    if (!args.contains("--skip-legacy"))
      time("incremental probe (legacy per-copy)") {
        legacyIncremental(spark, inc, docs, idx, n, tau, perms, bands).count()
      }
    spark.stop()
  }

  /** the pre-collapse incremental shape: every increment copy's band
    * rows join the index individually
    */
  private def legacyIncremental(spark: SparkSession, newDocs: DataFrame,
      corpus: DataFrame, indexPath: String, n: Int, minJaccard: Double,
      numPerms: Int, bands: Int): DataFrame = {
    import graft.Stage.StageOps
    val rows = numPerms / bands
    val newBands = newDocs.select(col("doc_id").as("id"),
      Dedup.hashedShingles(col("text"), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .withColumn("sig", graft.functions.MinHashSig(col("shs"), numPerms))
      .select(col("id"),
        posexplode(org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("sig"), b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")
      .stageBoundary
    val index = spark.read
      .schema("id LONG, bandHash LONG, band INT").parquet(indexPath)
    val crossCand = newBands.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val selfCand = newBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val candidates = crossCand.union(selfCand).distinct().stageBoundary
    val texts = corpus.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text")))
    val candIds = candidates.select(col("id_a").as("__cid"))
      .union(candidates.select(col("id_b"))).distinct()
    val verifyDocs = texts
      .join(candIds, col("doc_id") === col("__cid"), "left_semi")
      .select(col("doc_id").as("id"),
        Dedup.hashedShingles(col("text"), n).as("shs"))
      .filter(size(col("shs")) > 0).stageBoundary
    candidates
      .join(verifyDocs.select(col("id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(verifyDocs.select(col("id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** the pre-collapse shape: band every doc, self-join buckets, verify
    * every candidate pair by exact jaccard
    */
  private def legacyPairs(df: DataFrame, n: Int, minJaccard: Double,
      numPerms: Int, bands: Int): DataFrame = {
    import graft.Stage.StageOps
    val rows = numPerms / bands
    val banded = df.select(col("doc_id").as("id"),
      Dedup.hashedShingles(col("text"), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .withColumn("sig", graft.functions.MinHashSig(col("shs"), numPerms))
      .select(col("id"),
        posexplode(org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("sig"), b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")
      .stageBoundary
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct().stageBoundary
    val candIds = candidates.select(col("id_a").as("__cid"))
      .union(candidates.select(col("id_b"))).distinct()
    val verifyDocs = df
      .join(candIds, col("doc_id") === col("__cid"), "left_semi")
      .select(col("doc_id").as("id"),
        Dedup.hashedShingles(col("text"), n).as("shs"))
      .filter(size(col("shs")) > 0).stageBoundary
    candidates
      .join(verifyDocs.select(col("id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(verifyDocs.select(col("id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }
}
