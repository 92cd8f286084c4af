package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale-rehearsal harness (SCALE.md): run named registry queries against a
  * data directory and print, per query, wall time, result rows, shuffle
  * read/write bytes, and the FINAL (post-AQE) join-operator histogram.
  * Diffing two runs — the bench sf vs a 10× synthetic — shows whether any
  * join strategy flips or any shuffle grows super-linearly before a real
  * cluster would find out.
  *
  * Usage: runMain graft.ScaleRehearsal <dataDir> <query> [query ...]
  *        runMain graft.ScaleRehearsal <dataDir> all      (whole registry)
  *
  * In `all` mode a per-query failure is caught and reported (the sweep's
  * job is to FIND failures at scale, not to die on the first one); the
  * process exits nonzero if any query failed.
  */
object ScaleRehearsal {

  private final class ShuffleMeter extends SparkListener {
    @volatile var read = 0L
    @volatile var written = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        read += m.shuffleReadMetrics.totalBytesRead
        written += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def reset(): Unit = { read = 0L; written = 0L }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleRehearsal <dataDir> <query> [query ...]")
    val dir = args(0)
    val names =
      if (args.drop(1).toSeq == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = SessionConf.local(SessionConf.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val joinOps = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    var failures = 0
    var skipped = 0
    for (n <- names) {
      meter.reset()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        // collect() (not count()) so df's OWN plan executes and AQE
        // finalizes its strategies; rehearsal queries return small frames
        val rows = df.collect().length
        val secs = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        val joins = joinOps.map(j => s"$j=${j.r.findAllIn(plan).size}")
          .filterNot(_.endsWith("=0")).mkString(" ")
        println(f"[rehearsal] $n rows=$rows secs=$secs%.2f " +
          f"shuffleReadMB=${meter.read / 1e6}%.1f shuffleWriteMB=${meter.written / 1e6}%.1f " +
          s"joins{${if (joins.isEmpty) "none" else joins}}")
      } catch {
        // a ScaleGuard refusal is the guard WORKING, not a sweep failure:
        // the demonstration-scale configs are designed to refuse big
        // corpora and point at their scale twins (which the sweep runs).
        // Matched by CLASS — an unrelated failure that quotes the guard's
        // message must not masquerade as a skip (r12 advice item).
        case e: graft.ops.ScaleGuardRefusal =>
          skipped += 1
          println(s"[rehearsal] $n SKIPPED (ScaleGuard): " +
            s"${e.getMessage.takeWhile(_ != '.')}")
        case e: Throwable =>
          failures += 1
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"[rehearsal] $n FAILED secs=$secs%.2f " +
            s"err=${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    println(s"[rehearsal] done: ${names.size - failures - skipped}/${names.size} ok" +
      (if (skipped > 0) s", $skipped guarded demo-scale config(s) skipped" else ""))
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
