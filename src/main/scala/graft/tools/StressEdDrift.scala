package graft.tools

import graft.Sessions
import graft.ext.Dedup
import org.apache.spark.sql.functions._

/** The drift-observer REBUILD loop at StressEd scale — the r9/r10
  * verdicts' missing leg: `editHotPrefixes` → trip → `rebuildEditIndex`
  * → probe restored, mirroring the kNN quantizer's skew → trip →
  * retrain recording.
  *
  * Hazard construction: the frozen (gram, df) snapshot orders grams
  * UNSEEN at build time as df 0 (rarest — completeness requires it),
  * so when ingest later makes such a gram ubiquitous it heads every
  * new doc's prefix and the probe's (gram, length-bucket) join key
  * fans out quadratically. Here a 100k-doc templated history (the
  * StressEd profile) is drifted with `driftN` docs sharing a header
  * whose grams the build never saw; every drift doc's whole prefix
  * comes from that shared header (identical (0, hash) order), in one
  * length bucket — exactly the decay `editHotPrefixes` exists to see.
  *
  * The loop then records:
  *   1. the observer TRIPS (per-(gram, bucket) prefix rows > maxRows);
  *   2. a probe through the decayed index still returns EXACTLY the
  *      planted pairs (completeness never depends on the observer) but
  *      pays the fanout;
  *   3. `rebuildEditIndex` re-freezes df over the accumulated corpus —
  *      the drift grams now carry df ≈ driftN and leave every prefix;
  *   4. the observer is quiet, the SAME increment probes ≡ (2)'s pair
  *      set, and the probe cost is restored (requirement: ≤ half the
  *      decayed probe).
  *
  * Usage: runMain graft.tools.StressEdDrift [hist] [drift] [incDrift]
  */
object StressEdDrift {
  def main(args: Array[String]): Unit = {
    val histN = if (args.length > 0) args(0).toInt else 100000
    val driftN = if (args.length > 1) args(1).toInt else 8000
    val incDriftN = if (args.length > 2) args(2).toInt else 500
    val planted = 1000
    val novelN = 1500
    val spark = Sessions.local(Sessions.envCpus)

    def timed[T](name: String)(f: => T): (T, Double) = {
      val s = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - s) / 1e9
      println(f"[eddrift] $name%-46s $sec%7.2f s")
      (r, sec)
    }

    import org.apache.spark.sql.Column
    // the StressEd profile: heavy template sharing, one 16-hex unique
    // token per doc (pairwise edit distance >> 3 between distinct docs)
    def textOf(idc: Column) = concat(
      lit("the quick brown fox template number "),
      pmod(idc, lit(40)).cast("string"),
      lit(" jumps over the lazy dog while user "),
      lower(hex(xxhash64(idc))),
      lit(" watches the pipeline run to completion without any surprise"))
    // drift profile: a shared header the BUILD never saw (every gram
    // df 0 in the frozen snapshot) + the per-doc unique hex token
    def driftTextOf(idc: Column) = concat(
      lit("zqvjxkwpfy drifted boilerplate header block "),
      lower(hex(xxhash64(idc))),
      lit(" tail of the drifted document body right here"))

    val hist = spark.range(histN)
      .select(col("id"), textOf(col("id")).as("text"))
      .localCheckpoint(true)
    val drift = spark.range(driftN)
      .select((col("id") + 1000000L).as("id"),
        driftTextOf(col("id")).as("text"))
      .localCheckpoint(true)
    // increment: planted 2-edit variants of history docs (the recovery
    // target), drift-header docs (the fanout victims), novel docs
    val incBase = 10000000L
    val variants = spark.range(planted)
      .select((col("id") + incBase).as("id"), textOf(col("id")).as("t0"))
      .select(col("id"), expr(
        "concat('thX', substring(t0, 4, length(t0) - 4), 'Z')").as("text"))
    val incDrift = spark.range(incDriftN)
      .select((col("id") + incBase + planted).as("id"),
        driftTextOf(col("id") + 5000000L).as("text"))
    val novel = spark.range(novelN)
      .select((col("id") + incBase + planted + incDriftN).as("id"),
        textOf(col("id") + 20000000L).as("text"))
    val inc = variants.unionByName(incDrift).unionByName(novel)
      .localCheckpoint(true)
    val corpus = hist.unionByName(drift).localCheckpoint(true)
    println(s"[eddrift] history $histN + drift $driftN, increment " +
      s"${inc.count()} ($planted planted, $incDriftN drift-header)")

    val idx = java.nio.file.Files.createTempDirectory("eddrift_idx").toString
    timed(s"writeEditIndex over $histN history docs") {
      Dedup.writeEditIndex(hist, "text", "id", idx, maxDist = 3)
    }
    timed(s"appendEditIndex of the $driftN drift docs") {
      Dedup.appendEditIndex(drift, "text", "id", idx, maxDist = 3)
    }

    // 1. the observer trips: the drift header's grams each hold driftN
    // prefix rows in one length bucket
    val maxRows = 4000L
    val (hot, obsSec) = timed(s"editHotPrefixes(maxRows=$maxRows)") {
      Dedup.editHotPrefixes(spark, idx, maxRows).localCheckpoint(true)
    }
    val hotN = hot.count()
    val hotMax = if (hotN == 0) 0L
      else hot.agg(max("rows")).head().getLong(0)
    println(s"[eddrift] observer: $hotN hot (gram, bucket) keys, " +
      s"max fan-out $hotMax rows")
    require(hotN > 0, "drift must trip the observer")

    // 2. probe through the DECAYED index: exact recovery, decayed cost
    def runProbe(tag: String) = {
      val (pairs, sec) = timed(s"probe 3k-doc inc ($tag)") {
        Dedup.editDistancePairsIncremental(spark, inc, corpus, idx,
          "text", "id", maxDist = 3).localCheckpoint(true)
      }
      val found = pairs.count()
      val good = pairs.filter(
        col("id_b") === col("id_a") + incBase && col("id_a") < planted)
        .count()
      println(s"[eddrift] $tag: $found pairs, $good/$planted planted")
      require(good == planted, s"missed planted pairs ($tag)")
      require(found == planted, s"false pairs ($tag): ${found - planted}")
      (pairs, sec)
    }
    val (pairsDecayed, decayedSec) = runProbe("decayed index")

    // 3. rebuild: re-freeze df over the accumulated corpus
    timed(s"rebuildEditIndex over ${histN + driftN} docs") {
      Dedup.rebuildEditIndex(corpus, "text", "id", idx, maxDist = 3)
    }

    // 4. observer quiet, probe ≡ decayed pair set, cost restored
    val hotAfter = Dedup.editHotPrefixes(spark, idx, maxRows).count()
    println(s"[eddrift] observer after rebuild: $hotAfter hot keys")
    require(hotAfter == 0, "rebuild must clear the hot prefixes")
    val (pairsRestored, restoredSec) = runProbe("rebuilt index")
    val diff = pairsDecayed.unionByName(pairsRestored)
      .groupBy("id_a", "id_b", "dist").count()
      .filter(col("count") =!= 2).count()
    require(diff == 0, s"probe pair set changed across rebuild: $diff")
    println(f"[eddrift] probe: decayed $decayedSec%.2f s -> rebuilt " +
      f"$restoredSec%.2f s (x${decayedSec / restoredSec}%.1f), " +
      f"observer pass $obsSec%.2f s")
    require(restoredSec <= decayedSec / 2 + 1.0,
      f"rebuild must restore the probe: $decayedSec%.1f -> $restoredSec%.1f s")
    println("[eddrift] PASS")
    spark.stop()
  }
}
