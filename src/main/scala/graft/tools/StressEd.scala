package graft.tools

import graft.Sessions
import graft.ext.Dedup
import org.apache.spark.sql.functions._

/** Scale stress for the Ed-Join prefix blocking: a templated corpus
  * (the topology that killed the r7 length-bucket join — most docs
  * near-constant length, heavy gram sharing) at 10-100x the bench SF,
  * with planted ≤ d variants the run must find exactly.
  *
  * The r7 shape was quadratic within a length bucket: at 100k
  * near-constant-length docs that is ~10^10 Levenshtein calls and the
  * run never finishes. The prefix join is bounded by candidates that
  * share a rare gram AND a length bucket — this tool records the
  * candidate count so the blocking's selectivity is a measured number,
  * not a claim.
  */
object StressEd {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 100000
    val spark = Sessions.local(Sessions.envCpus)
    import spark.implicits._

    def time[T](name: String)(f: => T): T = {
      val s = System.nanoTime()
      val r = f
      println(f"[ed-stress] $name%-36s ${(System.nanoTime() - s) / 1e9}%7.2f s")
      r
    }

    // templated docs: shared boilerplate + a 16-hex-char unique token
    // (so non-planted docs differ by >> d edits — the OUTPUT stays
    // linear in the planted pairs), all within a narrow length band
    // (the adversarial near-constant-length profile that made the r7
    // length buckets quadratic); one extra 2-edit variant per 50 docs
    import org.apache.spark.sql.Column
    def textOf(idc: Column) = concat(
      lit("the quick brown fox template number "),
      pmod(idc, lit(40)).cast("string"),
      lit(" jumps over the lazy dog while user "),
      lower(hex(xxhash64(idc))),
      lit(" watches the pipeline run to completion without any surprise"))
    val base = spark.range(n).select(col("id"), textOf(col("id")).as("text"))
    val variants = spark.range(n / 50)
      .select((col("id") * 50).as("twin"))
      .select((col("twin") + n).as("id"), textOf(col("twin")).as("t0"))
      // flip char 3 and drop-then-replace the final char: distance 2
      .select(col("id"), expr(
        "concat('thX', substring(t0, 4, length(t0) - 4), 'Z')").as("text"))
    val docs = base.unionByName(variants).localCheckpoint(true)
    println(s"[ed-stress] docs: ${docs.count()}, " +
      s"distinct lengths: ${docs.select(length(col("text"))).distinct().count()}")

    val pairs = time(s"editDistancePairs over $n templated docs") {
      Dedup.editDistancePairs(docs, "text", "id", maxDist = 3)
        .localCheckpoint(true)
    }
    val found = pairs.count()
    println(s"[ed-stress] pairs found: $found")
    // EVERY planted (twin, twin + n) pair must be present at dist 2 —
    // completeness at scale, not just bounded cost
    val planted = pairs
      .filter(col("id_b") === col("id_a") + n && col("id_a") % 50 === 0)
      .count()
    println(s"[ed-stress] planted pairs recovered: $planted / ${n / 50}")
    require(planted == n / 50,
      s"missed planted pairs: $planted of ${n / 50}")
    spark.stop()
  }
}
