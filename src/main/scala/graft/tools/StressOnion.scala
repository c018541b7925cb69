package graft.tools

import graft.Sessions
import graft.ext.Scc
import org.apache.spark.sql.functions._

/** SCC stress on DEEP onion topologies — the round-8 verdict's open
  * caveat: the refinement provably extracts ≥1 SCC class per outer
  * round, but how many rounds does a deeply NESTED chain of SCCs
  * actually take? This pins it at 10k layers (the SccSpec onion is 20).
  *
  * Topology: a chain of `layers` 3-cycles, each feeding the next
  * through one DAG bridge — under four id layouts chosen to attack the
  * (fwd, bwd) pair structure differently:
  *
  *   - `asc` / `desc`: global min at the head / tail of the chain —
  *     every layer's pair differs, all bridges delete in round 1;
  *   - `mid`: ids assigned by recursive middle-splitting, so the
  *     remaining chain's min keeps landing in its interior — the
  *     layout that forces the extract-and-reconverge recursion and
  *     the theoretical O(log layers) round bound;
  *   - `rand`: seeded permutation (the realistic adversarial corpus).
  *
  * For each layout the tool runs once with `maxRounds = 24` and an
  * observer reporting the outer-round count, then verifies every
  * node's component equals its cycle's min id. The pin: every layout
  * resolves within 24 rounds at 10,000 layers — depth-proportional
  * behavior (the r7 peel) would need 10k rounds and trips immediately.
  * Measured (PLANS.md r9): asc/desc 2 rounds, mid 13 (= log₂ 10k),
  * rand 21 (≈1.6·log₂ L) — the refinement's round law is logarithmic.
  *
  * Usage: runMain graft.tools.StressOnion [layers]
  */
object StressOnion {
  def main(args: Array[String]): Unit = {
    val layers = if (args.nonEmpty) args(0).toInt else 10000
    val spark = Sessions.local(Sessions.envCpus)
    import spark.implicits._

    val n = layers * 3
    // layer index -> the 3 ids of its cycle, under a layout permutation
    def layout(name: String): Int => Seq[Long] = {
      val perm: Array[Int] = name match {
        case "asc" => Array.tabulate(layers)(identity)
        case "desc" => Array.tabulate(layers)(i => layers - 1 - i)
        case "mid" =>
          // recursive middle-splitting: rank 0 (the min block) lands at
          // the chain's middle, each half recurses — the layout where
          // extraction keeps bisecting the remaining chain
          val out = new Array[Int](layers)
          var rank = 0
          def place(lo: Int, hi: Int): Unit = if (lo <= hi) {
            val m = (lo + hi) / 2
            out(m) = rank; rank += 1
            place(lo, m - 1); place(m + 1, hi)
          }
          place(0, layers - 1)
          out
        case "rand" =>
          val r = new scala.util.Random(1234)
          val a = Array.tabulate(layers)(identity)
          var i = layers - 1
          while (i > 0) { val j = r.nextInt(i + 1)
            val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
          a
      }
      (i: Int) => { val b = perm(i).toLong * 3; Seq(b, b + 1, b + 2) }
    }

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[onion] $tag ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    for (name <- Seq("asc", "desc", "mid", "rand")) {
      val ids = layout(name)
      val edges = (0 until layers).flatMap { i =>
        val Seq(a, b, c) = ids(i)
        val bridge =
          if (i + 1 < layers) Seq((c, ids(i + 1).head)) else Nil
        Seq((a, b), (b, c), (c, a)) ++ bridge
      }.toDF("src", "dst").localCheckpoint(true)

      var rounds = 0
      val got = time(s"$name layout, $layers layers") {
        Scc.strongComponents(edges, "src", "dst", maxRounds = 24,
          roundObserver = r => rounds = r)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val expected = (0 until layers).flatMap { i =>
        val c = ids(i); c.map(_ -> c.min)
      }.toMap
      require(got == expected,
        s"$name: wrong components (${(got.toSet diff expected.toSet).take(3)})")
      println(s"[onion] $name: resolved in $rounds outer rounds, " +
        s"$n nodes correct")
    }
    println("[onion] PASS")
    spark.stop()
  }
}
