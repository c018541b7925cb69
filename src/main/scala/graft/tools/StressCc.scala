package graft.tools

import graft.Sessions
import graft.ext.{Cc, Dedup}
import org.apache.spark.sql.functions._

/** Connected-components stress: the DataFrame-native star contraction
  * (`ext.Cc`) vs GraphX Pregel min-propagation on the two adversarial
  * topologies:
  *
  *   - CHAIN (diameter = n): Pregel needs O(n) supersteps — the
  *     crawl-timeline near-dup shape; star contraction must stay at
  *     O(log² n) rounds;
  *   - HUB (one node in 30% of pairs): the giant-component minimum is
  *     a hot key — the skew case AQE + the aggregate-shaped minima
  *     must absorb;
  *   - RANDOM sparse: the typical LSH-pair workload.
  *
  * Prints wall seconds, contraction rounds, and asserts the two
  * engines produce the IDENTICAL labeling.
  *
  * Usage: runMain graft.tools.StressCc [nodes] [edges]
  */
object StressCc {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val e = if (args.length > 1) args(1).toLong else 2000000L
    val spark = Sessions.local(Sessions.envCpus)

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[cc] $tag ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    def docsOf(pairs: org.apache.spark.sql.DataFrame) =
      pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b"))).distinct()

    def runCase(tag: String, pairs: org.apache.spark.sql.DataFrame,
        alsoGraphX: Boolean): Unit = {
      val p = pairs.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[cc] --- $tag: ${p.count()} pairs ---")
      val (labels, rounds) = time(s"$tag starContraction") {
        // force the distributed contraction loop (localEdgeLimit=0):
        // this harness MEASURES the O(log²) round claim — the
        // driver-side early exit would short-circuit every case here
        val (l, r) = Cc.connectedComponentsWithRounds(p,
          localEdgeLimit = 0)
        l.persist()
        println(s"[cc] $tag rounds=$r labeled=${l.count()}")
        (l, r)
      }
      require(rounds <= 40, s"$tag took $rounds rounds")
      if (alsoGraphX) {
        val docs = docsOf(p)
        val gx = time(s"$tag graphx") {
          val l = Dedup.resolveClusters(p, docs, "doc_id")
          l.persist(); l.count(); l
        }
        val diff = time(s"$tag parity") {
          labels.withColumnRenamed("id", "doc_id")
            .join(gx, "doc_id")
            .filter(col("component") =!= col("canonical")).count()
        }
        require(diff == 0, s"$tag: $diff labels diverge from GraphX")
        gx.unpersist()
      }
      labels.unpersist(); p.unpersist()
    }

    // RANDOM sparse
    val eids = spark.range(e)
    def h(seed: Int) = abs(xxhash64(col("id"), lit(seed)))
    runCase("random",
      eids.select((h(1) % n).as("id_a"), (h(2) % n).as("id_b"))
        .filter(col("id_a") =!= col("id_b")),
      alsoGraphX = true)

    // CHAIN of length n — GraphX would need n supersteps. No GraphX
    // parity here: measured 2026-08-14, Pregel on even a 10k chain
    // DIES with a StackOverflowError deserializing its 10k-deep RDD
    // lineage — the contraction's O(log n) rounds are not merely
    // faster on chains, they are the difference between finishing and
    // crashing. (Chain parity vs union-find is spec-pinned in CcSpec.)
    runCase("chain",
      spark.range(n - 1).select(col("id").as("id_a"),
        (col("id") + 1).as("id_b")),
      alsoGraphX = false)

    // HUB: 30% of pairs hit node 0
    runCase("hub",
      eids.select(
        when(h(3) % 10 < 3, lit(0L)).otherwise(h(1) % n).as("id_a"),
        (h(2) % n).as("id_b"))
        .filter(col("id_a") =!= col("id_b")),
      alsoGraphX = true)

    spark.stop()
  }
}
