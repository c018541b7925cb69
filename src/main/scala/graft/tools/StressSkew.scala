package graft.tools

import graft.Sessions
import graft.graph.{GraphBuilder, GraphProvider}
import graft.meta._
import graft.pattern.{EdgePat, MatchPattern, MatchPlanner, NodePat}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hub-skew stress: the same node/edge count as a uniform random graph,
  * but with a power-law tail — 30% of all edges sink into one hub node
  * and the rest Zipf-decay over the hottest 1%. Verifies the two skew
  * defenses hold:
  *
  *   - the salted two-phase adjacency build (`GraphBuilder.nodeTable`
  *     `saltFactor`) keeps the hub's reversed-mirror aggregation off a
  *     single reducer;
  *   - AQE skew-join handles the frontier join through the hub (400k
  *     identical join keys land in one shuffle partition; AQE splits
  *     it). Broadcast is disabled and the skew thresholds lowered so
  *     the local-scale run exercises the same SMJ path a 100 TB run
  *     would.
  *
  * Pass/fail is the ratio: the skewed 2-hop must stay < 2x the uniform
  * 2-hop (same edge count, same plan shape).
  *
  * Usage: runMain graft.tools.StressSkew [nodes] [edges]
  */
object StressSkew {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 200000
    val e = if (args.length > 1) args(1).toInt else 2000000
    val spark = Sessions.local(Sessions.envCpus)
    // expose the skewed SMJ path at local scale: no broadcast escape
    // hatch, skew split thresholds sized to the synthetic data
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

    val graphSchema = GraphSchema(Seq(
      NodeTableDef("Person", 1, Some("id"), Seq("pname"), Seq(
        EdgeDef("follows", "Person", "Person")))))
    val base = spark.range(n).select(col("id").cast("int").as("id"),
      concat(lit("p"), col("id")).as("pname"))

    def gid(c: org.apache.spark.sql.Column) = GraphBuilder.gid(1, c)
    // deterministic pseudo-random endpoints off the edge index
    def u(seed: Int) = abs(xxhash64(col("eid"), lit(seed)))
    val eids = spark.range(e).select(col("id").as("eid"))
    val uniformEdges = eids.select(
      gid(u(1) % n).as("src"), gid(u(2) % n).as("sink"))
    // 30% of edges sink into node 0; the rest Zipf-ish over the top 1%
    val skewEdges = eids.select(
      gid(u(1) % n).as("src"),
      gid(when(u(3) % 10 < 3, lit(0L))
        .otherwise(u(2) % (u(4) % (n / 100) + 1))).as("sink"))

    def time[A](tag: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[skew] $tag ${sec}%8.2f s")
      (r, sec)
    }

    def buildProvider(edges: DataFrame, salt: Int): GraphProvider = {
      val td = graphSchema.table("Person")
      val t = GraphBuilder.nodeTable(td, base, "id",
        Map("follows" -> edges), Seq(td.edge("follows") -> edges),
        saltFactor = salt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      new GraphProvider {
        val schema: GraphSchema = graphSchema
        def nodeTable(name: String): DataFrame = t
      }
    }

    val (gUniform, _) = time("build uniform (salt=1)") {
      buildProvider(uniformEdges, salt = 1)
    }
    val (gSkew, _) = time("build hub-skewed (salt=8)") {
      buildProvider(skewEdges, salt = 8)
    }

    def twoHop(g: GraphProvider): Long = {
      val df = MatchPlanner.plan(g, MatchPattern(
        Seq(NodePat("a", "Person"), NodePat("b", "Person"),
          NodePat("c", "Person")),
        Seq(EdgePat("a", "follows", "b"), EdgePat("b", "follows", "c"))))
        .filter(col("a__id") < 20000)
      val out = df.groupBy().count()
      val rows = out.head().getLong(0)
      val plan = out.queryExecution.executedPlan.toString
      println(s"[skew] rows=$rows skewJoinInPlan=${plan.toLowerCase.contains("skew")}")
      rows
    }

    val (_, tU) = time("2-hop uniform")(twoHop(gUniform))
    val (_, tS) = time("2-hop hub-skewed")(twoHop(gSkew))
    println(f"[skew] ratio skewed/uniform = ${tS / tU}%.2f (gate < 2.0)")
    spark.stop()
  }

}
