package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Bench, Verify, every tool main and the
  * test suite build their session here, so the bench, the oracle dump
  * and the specs plan every query under the same settings.
  */
object Sessions {

  /** AQE coalescing by TARGET SIZE, not parallelism (r15): the upstream
    * default (parallelismFirst=true) keeps ~defaultParallelism
    * post-shuffle partitions however small the data, so every stage of
    * every query schedules `cpus` near-empty tasks — pure scheduler
    * latency at any scale where a stage's bytes fit fewer partitions.
    * false is Spark's own documented recommendation ("it's recommended
    * to set this config to false and respect the configured target
    * size"); the 64m advisory equals the upstream default, and on a
    * cluster size-driven coalescing picks the honest partition count
    * for big shuffles (guide §2.2: 100 MB-1 GB partitions). Measured
    * +7..53% per query across a 18-query A/B at sf0.1, no regressions
    * outside noise (OPTIMIZATION_r15.md). Both are runtime SQL confs:
    * a caller that needs other values sets them with `spark.conf.set`.
    */
  val ParallelismFirst = "false"
  val AdvisoryPartitionSize = "64m"

  /** The mains' core count: the `SPARK_GRAFT_CPUS` deployment setting
    * (default 4).
    */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A local session on `cpus` cores with one shuffle partition per
    * core, UTC session time, UI off and WARN logging. getOrCreate: a
    * second call in the same JVM returns the running session.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // generator-version tolerance: a timestamp[ns] events.ts reads as
      // long under this flag; a timestamp[us] one is normalized to epoch
      // nanos in Tables.load — either way downstream sees LONG nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        ParallelismFirst)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        AdvisoryPartitionSize)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
