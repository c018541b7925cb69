package graft.tools

import graft.Sessions
import graft.graph.{GraphBuilder, GraphProvider}
import graft.meta._
import graft.paths.PathExpand
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Var-length path stress at hub scale — the round-8 verdict's gap:
  * the paths family had oracle rows and property specs but no recorded
  * run of the ITERATIVE loop (unbounded `*`, edge-disjointness arrays,
  * per-hop lineage cuts) on a large skewed graph.
  *
  * Topology (1M edges default): `segs` chains of `segLen` nodes
  * (node → next within the chain), each chain's tail feeding one of 16
  * hub nodes, and the hubs closed into a ring. Every chain walk
  * converges onto the 16-node ring — the frontier join's key
  * distribution collapses from 1M distinct nodes to 16 (hub skew), and
  * the ring is a CYCLE, so termination is entirely the edge-disjoint
  * filter's doing: a walk circles once and stops when its next hop
  * would reuse its ring-entry edge. Out-degree is exactly 1 everywhere,
  * so the expected path count is CLOSED-FORM: each seed (chain head)
  * emits exactly one path per length 1..(segLen−1)+1+16, making the
  * fixpoint row count an exact pin, not a smoke check.
  *
  * The pin: unbounded expansion from all `segs` chain heads converges
  * in segLen+17 rounds (< the 64-round guard), produces exactly
  * segs × (segLen+16) rows, and wall-time stays minutes-scale at 1M
  * edges with 50k concurrent walks (no lineage blowup: each hop is one
  * frontier join off a stage boundary).
  *
  * Usage: runMain graft.tools.StressPaths [segs] [segLen]
  */
object StressPaths {
  def main(args: Array[String]): Unit = {
    val segs = if (args.length > 0) args(0).toInt else 50000
    val segLen = if (args.length > 1) args(1).toInt else 20
    val hubs = 16
    val spark = Sessions.local(Sessions.envCpus)

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[paths] $tag ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val n = segs.toLong * segLen // chain nodes; hubs live at n..n+15
    val td = NodeTableDef("N", 1, Some("id"), Nil,
      Seq(EdgeDef("e", "N", "N")))

    // chain edges: i -> i+1 within a segment; tails feed hub (seg % 16);
    // hub ring h -> (h+1) % 16. All derived from spark.range — no
    // driver-side edge list at any size.
    val chain = spark.range(n)
      .filter(pmod(col("id"), lit(segLen)) =!= (segLen - 1))
      .select(col("id").as("s"), (col("id") + 1).as("t"))
    val intoHub = spark.range(n)
      .filter(pmod(col("id"), lit(segLen)) === (segLen - 1))
      .select(col("id").as("s"),
        (lit(n) + pmod(floor(col("id") / segLen), lit(hubs))).as("t"))
    val ring = spark.range(hubs).select(
      (col("id") + n).as("s"),
      (pmod(col("id") + 1, lit(hubs)) + n).as("t"))
    val pairs = chain.union(intoHub).union(ring)
      .select(GraphBuilder.gid(1, col("s")).as("src"),
        GraphBuilder.gid(1, col("t")).as("sink"))
      .localCheckpoint(true)
    println(s"[paths] graph: ${n + hubs} nodes, ${pairs.count()} edges, " +
      s"$hubs-node hub ring")

    val nodes = spark.range(n + hubs).select(col("id"))
    val table = time("graph build") {
      GraphBuilder.nodeTable(td, nodes, "id",
        Map("e" -> pairs), Seq(td.edge("e") -> pairs))
        .localCheckpoint(true)
    }
    val g = new GraphProvider {
      val schema: GraphSchema = GraphSchema(Seq(td))
      def nodeTable(name: String): DataFrame = table
    }

    // unbounded * from every chain head; walks are deterministic
    // (out-degree 1), so counts are exact: one path per seed per length
    // 1 .. segLen-1 (chain) + 1 (hub entry) + 16 (one full ring lap,
    // stopped by edge-disjointness before reusing the entry edge)
    val seeds = spark.range(segs).select(
      GraphBuilder.gid(1, col("id") * segLen).as("id"))
    val expectedMaxHops = (segLen - 1) + 1 + hubs
    val paths = time(s"unbounded * fixpoint ($segs walks)") {
      PathExpand.expand(g, "N", "e", minLen = 1, maxLen = -1,
        seeds = Some(seeds)).localCheckpoint(true)
    }
    val total = paths.count()
    val expected = segs.toLong * expectedMaxHops
    require(total == expected, s"path rows: got $total want $expected")
    val maxHops = paths.agg(max("hops")).head().getInt(0)
    require(maxHops == expectedMaxHops,
      s"max hops: got $maxHops want $expectedMaxHops")
    // hub skew really happened: the deepest 16 hops' rows all sit on
    // the ring (frontier keyed on 16 nodes for 16 straight rounds)
    val ringRows = paths
      .filter(col("hops") > segLen &&
        PathExpand.localKey(col("dst")) >= n).count()
    require(ringRows == segs.toLong * hubs,
      s"ring rows: got $ringRows want ${segs.toLong * hubs}")
    println(s"[paths] PASS: $total paths, $maxHops max hops " +
      s"(${expectedMaxHops + 1} rounds incl. the empty fixpoint round)")
    spark.stop()
  }
}
