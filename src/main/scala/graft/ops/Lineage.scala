package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative DataFrame loops (connected components,
  * PageRank, label propagation): without it the logical plan doubles per
  * round and the driver chokes on plan analysis long before data volume is
  * the problem.
  *
  * Two modes, selected by the session conf flag `spark.graft.reliableCheckpoint`:
  *
  *  - default (`false`): `localCheckpoint()` — truncates lineage into
  *    executor-local block storage. Cheapest and exactly right on a
  *    single-node or preemption-free cluster, but the blocks live only on
  *    the executors that computed them: lose an executor mid-loop and the
  *    query fails instead of recomputing (there is no lineage left to
  *    recompute from).
  *  - `true`: reliable `checkpoint()` — writes the truncated frame to the
  *    SparkContext checkpoint directory (HDFS/S3 on a real cluster), so an
  *    executor loss at 1000 nodes re-reads the checkpoint instead of
  *    killing the job. Costs a distributed-FS write per round; worth it
  *    exactly when executors are preemptible. The directory comes from
  *    `spark.graft.checkpointDir` if set (point it at durable storage on a
  *    cluster); otherwise a process-local temp directory is used so the
  *    mode is testable at local[n].
  */
object Lineage {
  /** Session-conf flag: "true" → reliable checkpoint(), else localCheckpoint(). */
  val FlagKey = "spark.graft.reliableCheckpoint"
  /** Checkpoint directory for reliable mode (set to HDFS/S3 on a cluster). */
  val DirKey = "spark.graft.checkpointDir"

  /** ACTUAL stored bytes of an eagerly-truncated frame (r16): after
    * [[truncate]] in localCheckpoint mode the frame is a LogicalRDD over
    * blocks registered with the BlockManager, so its true size is
    * available for free from the storage registry — unlike Catalyst's
    * `sizeInBytes`, which for a join-bearing plan multiplies through the
    * join and can overestimate by many orders of magnitude (the r15
    * PrefixSum width sizing's documented blind spot). Returns None when
    * no storage info exists (reliable-checkpoint mode, or an
    * un-truncated frame) — callers must treat that as "unknown", never
    * as zero. Note the registered size is the DESERIALIZED in-memory
    * size, an overestimate of raw bytes — safe for right-sizing
    * parallelism (errs wider).
    */
  def actualBytes(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
      case _ => None
    }

  /** Truncate `df`'s lineage eagerly, per the session's reliability flag. */
  def truncate(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val reliable = sess.conf.getOption(FlagKey).exists(_.toBoolean)
    if (!reliable) df.localCheckpoint()
    else {
      val sc = sess.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = sess.conf.getOption(DirKey).getOrElse(
          java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
        sc.setCheckpointDir(dir)
      }
      df.checkpoint()
    }
  }
}
