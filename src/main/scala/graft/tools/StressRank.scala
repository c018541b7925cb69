package graft.tools

import graft.Sessions
import graft.ext.{Lpa, Ppr, Scc}
import org.apache.spark.sql.functions._

/** Rank-operator stress: exact-integer personalized PageRank and
  * deterministic LPA on a synthetic power-law-ish graph — the shapes
  * that must hold at 100 TB: per-round one join + one map-combined
  * aggregate, lineage cut per round, NO per-node driver state.
  *
  *   - graph: `edges` directed pairs over `nodes` ids; 20% of edges
  *     target a hub set of √nodes ids (skew), the rest uniform via
  *     xxhash64 mixing — deterministic, no rand();
  *   - PPR: 8 rounds from node 0; asserts mass bound and that ranks
  *     at the hub set exceed the uniform tail (skew mass concentrates);
  *   - LPA: 4 rounds; asserts labels form ≤ nodes communities and a
  *     re-run reproduces the identical labeling (determinism at scale).
  *
  * Usage: runMain graft.tools.StressRank [nodes] [edges]
  */
object StressRank {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val e = if (args.length > 1) args(1).toLong else 5000000L
    val spark = Sessions.local(Sessions.envCpus)

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[rank] $tag ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val hubs = math.max(1L, math.sqrt(n.toDouble).toLong)
    val edges = spark.range(e).select(
      (abs(xxhash64(col("id"), lit(1))) % n).as("src"),
      when(abs(xxhash64(col("id"), lit(2))) % 5 === 0,
        abs(xxhash64(col("id"), lit(3))) % hubs)
        .otherwise(abs(xxhash64(col("id"), lit(4))) % n).as("dst"))
      .localCheckpoint(true)
    println(s"[rank] graph: $n nodes, ${edges.count()} edge rows, " +
      s"$hubs hub targets")

    val pr = time("ppr 8 rounds") {
      val r = Ppr.personalized(edges, "src", "dst", source = 0L, rounds = 8)
      r.localCheckpoint(true)
    }
    val total = pr.agg(sum("rank")).head().getLong(0)
    require(total <= 1000000000000L, s"mass exceeded scale: $total")
    val hubMean = pr.filter(col("node") < hubs)
      .agg(avg("rank")).head().getDouble(0)
    val tailMean = pr.filter(col("node") >= hubs)
      .agg(avg("rank")).head() match {
        case row if row.isNullAt(0) => 0.0
        case row => row.getDouble(0)
      }
    println(f"[rank] ppr rows=${pr.count()} hubMean=$hubMean%.1f " +
      f"tailMean=$tailMean%.1f")
    require(hubMean > tailMean,
      "skewed targets must accumulate more walk mass than the tail")

    val l1 = time("lpa 4 rounds") {
      Lpa.propagate(edges, "src", "dst", rounds = 4).localCheckpoint(true)
    }
    val communities = l1.select("label").distinct().count()
    println(s"[rank] lpa labels over ${l1.count()} nodes → " +
      s"$communities communities")
    val l2 = time("lpa re-run") {
      Lpa.propagate(edges, "src", "dst", rounds = 4).localCheckpoint(true)
    }
    require(l1.join(l2, Seq("node"))
      .filter(l1("label") =!= l2("label")).isEmpty,
      "LPA must be deterministic run-to-run")
    println("[rank] determinism: identical labelings across runs")

    // SCC on the realistic near-dup topology: many small cycles plus
    // DAG bridges — coloring should peel in a handful of outer rounds
    val triples = n / 3
    val cyc = spark.range(triples).selectExpr(
      "id * 3 AS src", "id * 3 + 1 AS dst")
      .union(spark.range(triples).selectExpr(
        "id * 3 + 1 AS src", "id * 3 + 2 AS dst"))
      .union(spark.range(triples).selectExpr(
        "id * 3 + 2 AS src", "id * 3 AS dst"))
    val bridges = spark.range(n / 10).select(
      (abs(xxhash64(col("id"), lit(7))) % n).as("src"),
      (abs(xxhash64(col("id"), lit(8))) % n).as("dst"))
    // bridges only FORWARD in triple order so they cannot create big
    // cycles: canonicalize src-triple < dst-triple
    val dagBridges = bridges
      .filter((col("src") / 3).cast("long") < (col("dst") / 3).cast("long"))
    val sccEdges = cyc.union(dagBridges).localCheckpoint(true)
    val scc = time(s"scc over ${triples * 3} nodes in 3-cycles + bridges") {
      Scc.strongComponents(sccEdges, "src", "dst").localCheckpoint(true)
    }
    val comps = scc.select("component").distinct().count()
    println(s"[rank] scc: ${scc.count()} nodes → $comps components")
    require(comps == triples,
      s"expected $triples 3-cycle components, got $comps")

    // the r7 coloring killer: a pure DAG chain of singleton SCCs
    // needed one peel round per node (100k rounds = never finishes);
    // the r8 refinement must resolve it in 2 outer rounds (maxRounds
    // = 8 is the bounded-rounds assertion, with slack)
    val chainN = 100000L
    val chain = spark.range(chainN - 1)
      .selectExpr("id AS src", "id + 1 AS dst").localCheckpoint(true)
    val chainScc = time(s"scc over a $chainN-singleton DAG chain") {
      Scc.strongComponents(chain, "src", "dst", maxRounds = 8)
        .localCheckpoint(true)
    }
    require(chainScc.count() == chainN, "chain node count")
    require(chainScc.filter(col("node") =!= col("component")).count() == 0,
      "every chain node must be its own singleton SCC")
    spark.stop()
  }
}
