package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Settled timings and the job timeline of a query subset —
  * `Profile <sfDir> <q,q,...> [maxRuns] [k=v,k=v,...]`.
  *
  * Each query runs until its wall time SETTLES (at least 3 runs, then
  * stop once a run is within 10% of the one before it; default cap 6).
  * It prints each run's seconds and job count, the median, and the
  * final run's job timeline (id, seconds, first stage name).
  * Latency-bound rows at small sf are job-count problems, not data
  * problems; the timeline shows which jobs carry the time. `k=v` pairs
  * are applied with `spark.conf.set` before the first query: A/B a
  * runtime SQL conf by running once with and once without them.
  *
  * The settle loop makes a standalone number read directly against a
  * bench median (the bench JVM is warm by the time any given query
  * runs): the r14 judge measured ~2.2x JIT overhead at run 2 vs the
  * long-lived bench JVM. Launch it with the bench's own heap shape —
  * `tools/jobcount.sh` carries the direct-java invocation with
  * `-Xms=-Xmx -XX:+AlwaysPreTouch` (lazy heap commit otherwise bills
  * page-zeroing sys time to run 1; see PLANS.md r14).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val (confArgs, rest) = args.drop(2).partition(_.contains("="))
    val maxRuns = rest.headOption.map(_.toInt).getOrElse(6)
    val confs = confArgs.flatMap(_.split(",")).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => throw new IllegalArgumentException(
          s"session confs must be 'k=v,k=v,...', got: '$kv'")
      }
    }
    val spark = Sessions.local(Sessions.envCpus)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (j.time,
          j.stageInfos.headOption.map(_.name.take(70)).getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, n) = starts.getOrDefault(j.jobId, (j.time, "?"))
        lines.add(f"job ${j.jobId}%3d ${(j.time - t0) / 1e3}%6.2f s  $n")
      }
    })
    names.foreach { name =>
      val ts = scala.collection.mutable.ArrayBuffer[Double]()
      var settled = false
      while (ts.size < maxRuns && !settled) {
        lines.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // let the listener bus deliver the run's job-end events
        Thread.sleep(400)
        // runs 1-2 carry JIT + first-touch costs the bench JVM paid
        // long before the query's own window
        settled = ts.size >= 2 && math.abs(dt - ts.last) <= 0.10 * ts.last
        ts += dt
        println(f"[profile] $name run${ts.size} $dt%.2f s jobs=${lines.size}" +
          (if (settled) " SETTLED" else ""))
      }
      lines.forEach(l => println(s"[profile]   $l"))
      if (!settled) println(s"[profile] $name did NOT settle in $maxRuns " +
        "runs (last-run delta > 10%) — read the last number with care")
      val sorted = ts.sorted
      println(f"[profile] $name median ${sorted(sorted.size / 2)}%.2f s " +
        sorted.map(t => f"$t%.2f").mkString("(", " ", ")"))
    }
    spark.stop()
  }
}
