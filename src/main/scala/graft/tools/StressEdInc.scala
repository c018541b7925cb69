package graft.tools

import graft.Sessions
import graft.ext.Dedup
import org.apache.spark.sql.functions._

/** Adversarial-scale run of the INCREMENTAL edit-distance path — the
  * round-8 verdict's missing evidence: `StressEd` pins the batch
  * operator at 100k templated docs, but nothing recorded that
  * `editDistancePairsIncremental` probes at a cost driven by the
  * INCREMENT, not the history.
  *
  * Corpus: the same templated near-constant-length profile that killed
  * the r7 length-bucket join (heavy gram sharing, 16-hex unique token
  * per doc). History at two sizes (default 25k and 100k) gets a
  * `writeEditIndex` + `appendEditIndex` build (the split exercises the
  * frozen-df append path at scale); the SAME 10k increment then probes
  * both. 2k of the increment docs are planted 2-edit variants of
  * history docs — the probe must recover ALL of them (cross-pair
  * completeness through the frozen gram order), find no false pairs,
  * and the 4x history growth must not translate into 4x probe cost
  * (requirement: big-history probe ≤ 2x small-history probe; measured
  * numbers go to PLANS.md).
  *
  * Usage: runMain graft.tools.StressEdInc [histBig] [inc]
  */
object StressEdInc {
  def main(args: Array[String]): Unit = {
    val histBig = if (args.length > 0) args(0).toInt else 100000
    val incN = if (args.length > 1) args(1).toInt else 10000
    val histSmall = histBig / 4
    val planted = 2000
    val spark = Sessions.local(Sessions.envCpus)

    def timed[T](name: String)(f: => T): (T, Double) = {
      val s = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - s) / 1e9
      println(f"[edinc-stress] $name%-42s $sec%7.2f s")
      (r, sec)
    }

    import org.apache.spark.sql.Column
    def textOf(idc: Column) = concat(
      lit("the quick brown fox template number "),
      pmod(idc, lit(40)).cast("string"),
      lit(" jumps over the lazy dog while user "),
      lower(hex(xxhash64(idc))),
      lit(" watches the pipeline run to completion without any surprise"))

    // increment: `planted` 2-edit variants of history docs 0..planted-1
    // (present in BOTH history sizes) + novel unique-token docs
    val incBase = 10000000L
    val variants = spark.range(planted)
      .select((col("id") + incBase).as("id"), textOf(col("id")).as("t0"))
      .select(col("id"), expr(
        "concat('thX', substring(t0, 4, length(t0) - 4), 'Z')").as("text"))
    val novel = spark.range(incN - planted)
      .select((col("id") + incBase + planted).as("id"),
        textOf(col("id") + 20000000L).as("text"))
    val inc = variants.unionByName(novel).localCheckpoint(true)
    println(s"[edinc-stress] increment: ${inc.count()} docs " +
      s"($planted planted 2-edit variants)")

    val probeSecs = Seq(histSmall, histBig).map { h =>
      val hist = spark.range(h)
        .select(col("id"), textOf(col("id")).as("text"))
        .localCheckpoint(true)
      val idx = java.nio.file.Files
        .createTempDirectory(s"edinc_stress_$h").toString
      // split build: base write + append of the last 20% through the
      // frozen-order append path
      val cut = (h * 8L) / 10
      timed(s"history $h: writeEditIndex (${cut} docs)") {
        Dedup.writeEditIndex(hist.filter(col("id") < cut),
          "text", "id", idx, maxDist = 3)
      }
      timed(s"history $h: appendEditIndex (${h - cut} docs)") {
        Dedup.appendEditIndex(hist.filter(col("id") >= cut),
          "text", "id", idx, maxDist = 3)
      }
      val (pairs, probeSec) = timed(s"history $h: probe $incN-doc inc") {
        Dedup.editDistancePairsIncremental(spark, inc, hist, idx,
          "text", "id", maxDist = 3).localCheckpoint(true)
      }
      val found = pairs.count()
      val good = pairs.filter(
        col("id_b") === col("id_a") + incBase && col("id_a") < planted)
        .count()
      println(s"[edinc-stress] history $h: $found pairs, " +
        s"$good/$planted planted recovered")
      require(good == planted, s"missed planted pairs at history $h")
      require(found == planted,
        s"false pairs at history $h: ${found - planted}")
      probeSec
    }
    val Seq(small, big) = probeSecs
    println(f"[edinc-stress] probe: history x4 -> time x${big / small}%.2f")
    require(big <= small * 2 + 2.0,
      f"probe cost tracks history, not increment: $small%.1f -> $big%.1f s")
    println("[edinc-stress] PASS")
    spark.stop()
  }
}
