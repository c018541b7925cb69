package graft.tools

import java.nio.file.Files

import graft.Sessions
import graft.ext.{ClusteredStore, CorpusSink}
import org.apache.spark.sql.functions._

/** Layout stress: Z-order clustering + the incremental clustered store
  * at millions of rows — measures the write costs and PROVES the
  * data-skipping payoff: per-file min/max windows in both clustered
  * dims, and the fraction of files a 1%-selectivity two-dim predicate
  * could skip on stats alone.
  *
  * Usage: runMain graft.tools.StressLayout [rows]
  */
object StressLayout {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 5000000L
    val spark = Sessions.local(Sessions.envCpus)

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[layout] $tag ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // two independent uniform dims + a heavy power-law dim
    val rows = spark.range(n).select(col("id"),
      (abs(xxhash64(col("id"), lit(1))) % n).as("a"),
      (abs(xxhash64(col("id"), lit(2))) % n).as("b"),
      (lit(n) / (lit(1) + abs(xxhash64(col("id"), lit(3))) % 1000)).as("c"))

    val dir = Files.createTempDirectory("graft_stress_z").toString
    time(s"zorder write $n rows (a,b)") {
      CorpusSink.writeZOrdered(rows, dir, Seq("a", "b"), bits = 8,
        maxRecordsPerFile = 250000)
    }
    val back = spark.read.parquet(dir)
    val stats = back.groupBy(input_file_name().as("f"))
      .agg(min("a").as("la"), max("a").as("ha"),
        min("b").as("lb"), max("b").as("hb"))
      .localCheckpoint(true)
    val files = stats.count()
    val w = stats.agg(avg((col("ha") - col("la")) / n.toDouble),
      avg((col("hb") - col("lb")) / n.toDouble)).head()
    println(f"[layout] $files files, avg rel width a=${w.getDouble(0)}%.3f " +
      f"b=${w.getDouble(1)}%.3f")
    // a 10%×10% window predicate (1% of the data under independence):
    // count files whose [min,max] boxes even INTERSECT it
    val (loA, hiA) = (n / 2, n / 2 + n / 10)
    val (loB, hiB) = (n / 4, n / 4 + n / 10)
    val touched = stats.filter(
      col("ha") >= loA && col("la") <= hiA &&
        col("hb") >= loB && col("lb") <= hiB).count()
    println(f"[layout] 10%%x10%% window touches $touched/$files files " +
      f"(${touched * 100.0 / files}%.0f%%)")
    require(touched * 4 <= files,
      "z-order should let a 1% window skip at least 3/4 of files on stats")

    // incremental store: create + 4 appends + compact at n/2 base
    val root = Files.createTempDirectory("graft_stress_store").toString
    time("store create (n/2 clustered)") {
      ClusteredStore.create(spark, root, rows.filter(col("id") < n / 2),
        Seq("a", "b"), bits = 8, maxRecordsPerFile = 250000)
    }
    time("store 4 delta appends (n/8 each)") {
      (0 until 4).foreach { i =>
        val lo = n / 2 + i * n / 8
        ClusteredStore.append(spark, root,
          rows.filter(col("id") >= lo && col("id") < lo + n / 8))
      }
    }
    println(s"[layout] delta rows pending: ${ClusteredStore.deltaRows(spark, root)}")
    time("store compact") {
      ClusteredStore.compact(spark, root, Seq("a", "b"), bits = 8,
        maxRecordsPerFile = 250000)
    }
    val total = ClusteredStore.read(spark, root).count()
    require(total == n, s"store lost rows: $total != $n")
    println(s"[layout] store holds $total rows after compact")
    spark.stop()
  }
}
