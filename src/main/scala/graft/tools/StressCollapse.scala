package graft.tools

import graft.Sessions
import graft.ext.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-copy stress for the round-9 exact-duplicate collapse on SimHash,
  * edit distance and embedding cosine (the pairwise operators that
  * gained the content-keyed rep restriction after LSH did): a corpus
  * where a few pages each occur in thousands of verbatim copies —
  * boilerplate skew, the topology every real crawl has — plus a
  * near-constant-length unique wing that shares the hot pages' length
  * buckets (adversarial for the edit blocker: the length window alone
  * separates nothing). The cosine leg mirrors the topology with
  * identical per-group 16-dim embeddings and additionally drives
  * SemanticDedup's star-edge closure end to end.
  *
  * For each operator the tool measures the collapsed entry point
  * against the pre-collapse shape reconstructed inline (band-all-docs
  * self-join for simhash; prefix-join-all-docs for edit distance —
  * byte-for-byte the shapes that shipped before round 9), and REQUIRES
  * identical pair counts: the collapse is lossless, so any count drift
  * is a completeness bug, not noise. The expected count is also checked
  * against the closed form G*C(M,2) (within-group pairs at distance 0;
  * cross-group and unique-wing texts differ by >> d edits / > 3
  * hamming by construction).
  *
  * The incremental wing indexes the corpus once, then probes with
  * M/10 more copies of each hot page: the collapsed probe touches the
  * index at rep granularity (one probe per page, not per copy) and must
  * produce exactly G*(C(Mnew,2) + Mnew*M) increment-touching pairs.
  *
  * Usage:
  *   runMain graft.tools.StressCollapse <workDir> [groups] [copies]
  *     [unique] [--skip-legacy]
  */
object StressCollapse {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val groups = if (args.length > 1) args(1).toInt else 5
    val copies = if (args.length > 2) args(2).toInt else 1000
    val unique = if (args.length > 3) args(3).toInt else 20000
    val skipLegacy = args.contains("--skip-legacy")
    val spark = Sessions.local(Sessions.envCpus)

    def time(tag: String)(f: => Long): Long = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[collapse] $tag%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
      n
    }

    // hot wing: group g's text is a fixed templated page (all copies
    // verbatim-identical; across groups the template number + hash
    // token differ by >> d edits); unique wing: the StressEd template
    // keyed per id — same narrow length band as the hot pages
    def textOf(idc: Column) = concat(
      lit("the quick brown fox template number "),
      pmod(idc, lit(40)).cast("string"),
      lit(" jumps over the lazy dog while user "),
      lower(hex(xxhash64(idc))),
      lit(" watches the pipeline run to completion without any surprise"))
    val path = s"$work/collapse_g${groups}_c${copies}_u$unique.parquet"
    if (!new java.io.File(path).exists()) {
      val hot = spark.range(groups.toLong * copies)
        .select((col("id") + 1000000L).as("doc_id"),
          textOf(pmod(col("id"), lit(groups)) * 1000L).as("text"))
      val uniq = spark.range(unique.toLong)
        .select(col("id").as("doc_id"),
          textOf(col("id") + 100000000L).as("text"))
      hot.unionByName(uniq).repartition(32)
        .write.mode("overwrite").parquet(path)
    }
    val docs = spark.read.parquet(path)
    println(s"[collapse] corpus=${docs.count()} rows " +
      s"($groups groups x $copies copies + $unique unique)")
    val expectBatch = groups.toLong * copies * (copies - 1) / 2

    // ---- simhash ----
    // No closed-form TOTAL here: simhash is a semantic near-dup metric,
    // and the templated unique wing legitimately pairs across docs that
    // differ in one token of ~20 (word-level fingerprints land within
    // hamming <= 3 — that's the operator working, not noise; at
    // 5x2000+50k the wing contributes ~77M true pairs). The exactness
    // checks that ARE deterministic: every within-hot-group copy pair
    // appears at hamming 0 with no duplicates, and the collapse loses
    // nothing vs the legacy per-copy shape (total equality).
    val shDf = Dedup.simhashPairs(docs, "text", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = time("simhash pairs (collapse)") { shDf.count() }
    val shHot = shDf.filter(col("id_a") >= 1000000L &&
        col("id_b") >= 1000000L && col("hamming") === 0 &&
        pmod(col("id_a") - 1000000L, lit(groups)) ===
          pmod(col("id_b") - 1000000L, lit(groups)))
      .count()
    require(shHot == expectBatch,
      s"simhash hot-group hamming-0 count $shHot != expected $expectBatch")
    if (!skipLegacy) {
      val shLegacy = time("simhash pairs (legacy band self-join)") {
        legacySimhash(docs).count()
      }
      require(shLegacy == sh,
        s"simhash legacy count $shLegacy != collapsed $sh — collapse lost pairs")
    }
    shDf.unpersist()

    // ---- edit distance ----
    val d = 2
    val ed = time("edit pairs (collapse)") {
      Dedup.editDistancePairs(docs, "text", "doc_id", maxDist = d).count()
    }
    require(ed == expectBatch,
      s"edit collapsed count $ed != expected $expectBatch")
    if (!skipLegacy) {
      val edLegacy = time("edit pairs (legacy prefix join, all copies)") {
        legacyEdit(docs, d).count()
      }
      require(edLegacy == ed,
        s"edit legacy count $edLegacy != collapsed $ed — collapse lost pairs")
    }

    // ---- incremental: index history once, probe a dup-heavy batch ----
    val newCopies = math.max(copies / 10, 10)
    val inc = spark.range(groups.toLong * newCopies)
      .select((col("id") + 5000000L).as("doc_id"),
        textOf(pmod(col("id"), lit(groups)) * 1000L).as("text"))
      .localCheckpoint(true)
    val expectInc = groups.toLong *
      (newCopies.toLong * (newCopies - 1) / 2 + newCopies.toLong * copies)

    val edIdx = s"$work/collapse_edidx"
    time("edit index build (history)") {
      Dedup.writeEditIndex(docs, "text", "doc_id", edIdx, maxDist = d); 0L
    }
    val edInc = time(s"edit incremental probe (${inc.count()} new)") {
      Dedup.editDistancePairsIncremental(spark, inc, docs, edIdx,
        "text", "doc_id", maxDist = d).count()
    }
    require(edInc == expectInc,
      s"edit incremental count $edInc != expected $expectInc")

    val shIdx = s"$work/collapse_shidx"
    time("simhash index build (history)") {
      Dedup.writeSimhashIndex(docs, "text", "doc_id", shIdx); 0L
    }
    val shInc = time("simhash incremental probe") {
      Dedup.simhashPairsIncremental(spark, inc, shIdx,
        "text", "doc_id").count()
    }
    // increment copies share templates with unique-wing docs, so the
    // closed form undercounts for simhash (see the batch note); the
    // scale-true contract is instead checked directly: incremental ==
    // batch over history ∪ increment restricted to increment-touching
    // pairs, plus hot-group hamming-0 exactness
    val shIncBatch = time("simhash batch(history ∪ inc), inc-touching") {
      Dedup.simhashPairs(docs.unionByName(inc), "text", "doc_id")
        .filter(col("id_a") >= 5000000L || col("id_b") >= 5000000L)
        .count()
    }
    require(shInc == shIncBatch,
      s"simhash incremental count $shInc != batch-restricted $shIncBatch")
    val shIncHot = Dedup.simhashPairsIncremental(spark, inc, shIdx,
        "text", "doc_id")
      .filter(col("hamming") === 0 &&
        ((col("id_a") >= 5000000L && col("id_b") >= 5000000L &&
          pmod(col("id_a") - 5000000L, lit(groups)) ===
            pmod(col("id_b") - 5000000L, lit(groups))) ||
         (col("id_a") >= 1000000L && col("id_a") < 5000000L &&
          col("id_b") >= 5000000L &&
          pmod(col("id_a") - 1000000L, lit(groups)) ===
            pmod(col("id_b") - 5000000L, lit(groups)))))
      .count()
    require(shIncHot == expectInc,
      s"simhash incremental hot-group count $shIncHot != expected $expectInc")

    // ---- embedding cosine (blocked) ----
    // hot groups share one PRODUCTION-WIDTH (256-dim, 1 KiB) vector per
    // group — verbatim-copy embeddings; uniques get deterministic
    // pseudo-random vectors in ~25-doc blocks. The hot wing is the
    // adversarial part: one block holding m identical vectors costs the
    // legacy join m² VECTOR-CARRYING rows (2 KiB per pair — the shuffle
    // payload, not the kernel, is what kills at embedding width) and m²
    // kernel evals. The unique wing is capped: it only needs to prove
    // the mostly-unique premium stays small
    val dims = 256
    val uniqueV = math.min(unique, 20000)
    def vecOf(idc: Column): Column =
      transform(sequence(lit(0), lit(dims - 1)), j =>
        ((pmod(xxhash64(idc * lit(1000003L) + j.cast("long")),
          lit(2000003L)) - lit(1000001L)) / lit(1000001.0)).cast("float"))
    val hotV = spark.range(groups.toLong * copies)
      .select((col("id") + 1000000L).as("vec_id"),
        vecOf(pmod(col("id"), lit(groups)) * lit(7919L)).as("embedding"),
        pmod(col("id"), lit(groups)).as("blk"))
    val uniqV = spark.range(uniqueV.toLong)
      .select(col("id").as("vec_id"),
        vecOf(col("id") + lit(500000000L)).as("embedding"),
        (col("id") % 2000 + 10).as("blk"))
    val vecs = hotV.unionByName(uniqV).repartition(32)
      .localCheckpoint(true)
    val csDf = Similarity.cosinePairs(vecs, "vec_id", "embedding",
      minCosine = 0.9, blockCol = Some("blk"))
    val cs = time("cosine pairs blocked (collapse)") { csDf.count() }
    val csHot = csDf.filter(col("id_a") >= 1000000L &&
        col("id_b") >= 1000000L &&
        pmod(col("id_a") - 1000000L, lit(groups)) ===
          pmod(col("id_b") - 1000000L, lit(groups)))
      .count()
    require(csHot == expectBatch,
      s"cosine hot-group pair count $csHot != expected $expectBatch")
    if (!skipLegacy) {
      val csLegacy = time("cosine pairs blocked (legacy block join)") {
        legacyCosine(vecs, 0.9).count()
      }
      require(csLegacy == cs,
        s"cosine legacy count $csLegacy != collapsed $cs — collapse lost pairs")
    }
    // star-closure semantic dedup on the same corpus: every hot copy
    // must resolve to its group minimum
    val sd = time("semanticDedup (star closure)") {
      graft.ext.SemanticDedup.semanticDedup(vecs, "vec_id", "embedding",
        k = 8, tau = 0.9)
        .filter(col("vec_id") >= 1000000L &&
          col("canonical") === pmod(col("vec_id") - 1000000L, lit(groups))
            + 1000000L)
        .count()
    }
    require(sd == groups.toLong * copies,
      s"semanticDedup hot canonical count $sd != ${groups.toLong * copies}")

    println("[collapse] ALL CHECKS PASSED")
    spark.stop()
  }

  /** the pre-r9 cosine shape: blocked equi-join over raw rows, kernel
    * eval per member pair
    */
  private def legacyCosine(vecs: DataFrame, minCosine: Double): DataFrame = {
    val base = vecs.select(col("vec_id").as("id"), col("embedding").as("v"),
      col("blk"))
    base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cs", Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("cs") >= minCosine)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cs"))
  }

  /** the pre-r9 simhash shape: band every doc, self-join the bucket
    * rows, candidate-scaled distinct, hamming filter
    */
  private def legacySimhash(docs: DataFrame): DataFrame = {
    import graft.Stage.StageOps
    val banded = Dedup.simhashes(docs, "text", "doc_id")
      .select(col("id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("simhash"), b * 16)
            .bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandVal")
      .stageBoundary
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandVal") === col("b.bandVal") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
  }

  /** the pre-r9 edit shape: prefix rows for EVERY copy (a hot group of
    * m copies shares all its grams, so the (gram, bucket) join emits
    * (q*d+1) * m^2 / 2 candidate rows per group and runs m^2 / 2
    * identical Levenshtein DPs)
    */
  private def legacyEdit(df: DataFrame, maxDist: Int,
      q: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val shortMax = q * (maxDist + 1) - 1
    val docs = df.filter(col("text").isNotNull)
      .select(col("doc_id").cast(LongType).as("id"), col("text").as("t"),
        length(col("text")).as("len"))
    val p = Dedup.editPrefixRows(df, "text", "doc_id", maxDist, q)
    val candSame = p.as("a").join(p.as("b"),
      col("a.g") === col("b.g") && col("a.b") === col("b.b") &&
        col("a.id") < col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val candAdj = p.as("a").join(p.as("b"),
      col("a.g") === col("b.g") && col("a.b") + 1 === col("b.b") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val candLong = candSame.unionByName(candAdj)
    val short = docs.filter(col("len") <= shortMax)
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
      .select(col("id"), col("len"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
    val partners = docs.filter(col("len") <= shortMax + maxDist)
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
    val candShort = short.as("a").join(partners.as("b"),
      col("a.b") === col("b.b") && col("a.id") =!= col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val texts = docs.select(col("id"), col("t"))
    candLong.unionByName(candShort).distinct()
      .join(texts.select(col("id").as("id_a"), col("t").as("t_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("t").as("t_b")), "id_b")
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast(IntegerType))
  }
}
