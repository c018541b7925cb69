package graft.tools

import graft.Sessions
import graft.graph.{EdgeViewDef, GraphBuilder, GraphProvider, NodeViewDef, ViewProvider}
import graft.meta._
import graft.paths.PathExpand
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** View-walk stress: the SAME random graph walked two ways —
  *
  *   - as one self-referencing base table (`Person.follows`);
  *   - as a 2-member node view (`Even` ∪ `Odd` by node parity) whose
  *     self-sink edge view unions the 4 parity-split member edge
  *     columns — the shape `q_sql_view_varlen` exercises at toy scale.
  *
  * The topologies are isomorphic, so the var-length path COUNTS must
  * match exactly; the measurement is the overhead factor of walking
  * through the view union (per-member `transform` + `concat` + the
  * union itself) versus the flat table. Gate: < 3× at 2M edges.
  *
  * Usage: runMain graft.tools.StressViews [nodes] [edges] [seeds]
  */
object StressViews {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 200000
    val e = if (args.length > 1) args(1).toInt else 2000000
    val seedN = if (args.length > 2) args(2).toInt else 20000
    require(n % 2 == 0)
    val spark = Sessions.local(Sessions.envCpus)

    // deterministic random edge list over n nodes
    val eids = spark.range(e).select(col("id").as("eid"))
    def u(seed: Int) = abs(xxhash64(col("eid"), lit(seed)))
    val edges = eids.select((u(1) % n).as("s"), (u(2) % n).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()

    def time[A](tag: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[views] $tag ${sec}%8.2f s")
      (r, sec)
    }

    // ---- flat: one Person table, one self edge ----
    val flatSchema = GraphSchema(Seq(
      NodeTableDef("Person", 1, Some("id"), Nil, Seq(
        EdgeDef("follows", "Person", "Person")))))
    val flatBase = spark.range(n).select(col("id").cast("int").as("id"))
    val flatPairs = edges.select(
      GraphBuilder.gid(1, col("s")).as("src"),
      GraphBuilder.gid(1, col("t")).as("sink"))
    val (flatP, _) = time("build flat") {
      val td = flatSchema.table("Person")
      val t = GraphBuilder.nodeTable(td, flatBase, "id",
        Map("follows" -> flatPairs), Seq(td.edge("follows") -> flatPairs))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      new GraphProvider {
        val schema: GraphSchema = flatSchema
        def nodeTable(name: String): DataFrame = t
      }
    }

    // ---- view: Even/Odd tables by parity, 4 parity-split edge columns,
    // self-sink edge view over their union ----
    val viewSchema = GraphSchema(Seq(
      NodeTableDef("Even", 1, Some("id"), Nil, Seq(
        EdgeDef("fEE", "Even", "Even"), EdgeDef("fEO", "Even", "Odd"))),
      NodeTableDef("Odd", 2, Some("id"), Nil, Seq(
        EdgeDef("fOE", "Odd", "Even"), EdgeDef("fOO", "Odd", "Odd")))))
    // node v lives in table 1 + (v mod 2) under key v/2:
    // gid = ((1 + v%2) << KeyBits) | (v >> 1) — bitwise, NOT `/`
    // (Spark's `/` is true division and would type the gid as DOUBLE)
    def vg(c: org.apache.spark.sql.Column) =
      shiftleft(lit(1L) + c.bitwiseAND(lit(1L)), GlobalNodeId.KeyBits)
        .bitwiseOR(shiftrightunsigned(c, 1))

    val memberBase = spark.range(n / 2).select(col("id").cast("int").as("id"))
    def pairs(sPar: Int, tPar: Int) = edges
      .filter(col("s") % 2 === sPar && col("t") % 2 === tPar)
      .select(vg(col("s")).as("src"), vg(col("t")).as("sink"))
    val pEE = pairs(0, 0); val pEO = pairs(0, 1)
    val pOE = pairs(1, 0); val pOO = pairs(1, 1)
    val (viewP, _) = time("build view members") {
      val tdE = viewSchema.table("Even"); val tdO = viewSchema.table("Odd")
      val even = GraphBuilder.nodeTable(tdE, memberBase, "id",
        Map("fEE" -> pEE, "fEO" -> pEO),
        Seq(tdE.edge("fEE") -> pEE, tdO.edge("fOE") -> pOE))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val odd = GraphBuilder.nodeTable(tdO, memberBase, "id",
        Map("fOE" -> pOE, "fOO" -> pOO),
        Seq(tdE.edge("fEO") -> pEO, tdO.edge("fOO") -> pOO))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      even.count(); odd.count()
      val baseP = new GraphProvider {
        val schema: GraphSchema = viewSchema
        def nodeTable(name: String): DataFrame =
          if (name == "Even") even else odd
      }
      ViewProvider(baseP,
        Seq(NodeViewDef("V", Seq("Even", "Odd"), Nil)),
        Seq(EdgeViewDef("link", "V", "V",
          Seq(("Even", "fEE"), ("Even", "fEO"),
            ("Odd", "fOE"), ("Odd", "fOO")), Nil)))
    }

    val s = spark
    import s.implicits._
    val seedIdsFlat = spark.range(seedN)
      .select(GraphBuilder.gid(1, col("id")).as("id"))
    val seedIdsView = spark.range(seedN).select(vg(col("id")).as("id"))

    def walk(g: GraphProvider, table: String, edge: String,
        seeds: DataFrame): Long =
      PathExpand.expand(g, table, edge, 1, 2, seeds = Some(seeds))
        .groupBy().count().head().getLong(0)

    // diagnostics: total live degree must match between representations
    val degFlat = flatP.nodeTable("Person")
      .agg(sum(size(col("follows")))).head().getLong(0)
    val degView = viewP.nodeTable("V")
      .agg(sum(size(col("link")))).head().getLong(0)
    println(s"[views] degree sum flat=$degFlat view=$degView " +
      s"match=${degFlat == degView}")

    val (rFlat, tFlat) = time("walk *1..2 flat") {
      walk(flatP, "Person", "follows", seedIdsFlat)
    }
    val (rView, tView) = time("walk *1..2 view") {
      walk(viewP, "V", "link", seedIdsView)
    }
    println(s"[views] rows flat=$rFlat view=$rView match=${rFlat == rView}")
    println(f"[views] ratio view/flat = ${tView / tFlat}%.2f (gate < 3.0)")
    spark.stop()
  }
}
