package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

/** Batch pipeline runner with optional per-stage checkpoint + replay —
  * the Spark re-expression of bert-runner.py.
  *
  * Reference semantics carried over (SURVEY.md §2.4 C3, §3.1):
  *  - cache_backend / replay flags (-r/-n/-c/-s, bert/runner/factory.py:36-42,
  *    bert/runner/manager.py:58-88): each stage's output may be materialized
  *    to `<checkpointDir>/<stage>` parquet; a later run can resume from any
  *    stage's checkpoint instead of recomputing the prefix.
  *  - retry loop (bert/runner/manager.py:158-206): per-stage `retries`
  *    re-run the materialization on driver-visible failure.
  *  - stage barrier (bert/runner/manager.py:217): with checkpoints each
  *    stage completes before the next starts, like the reference's
  *    process-join barrier. Without checkpoints the chain is one lazy plan
  *    and Spark's shuffle boundaries are the only barriers — strictly
  *    better (pipelined, optimized across stages).
  *
  * Scale: checkpoints are parquet tables (partitioned by the data's own
  * layout), not the reference's single S3 JSON object — a 100 TB
  * intermediate is just another distributed table.
  *
  * Per stage a checkpointed run starts exactly one Spark job, the write:
  * run-log rows are written on the driver ([[graft.ops.RunLog]]), and the
  * read-back passes the schema of the frame just written, which is the
  * schema Spark stored in the footer, so no job re-reads that footer to
  * infer it.
  */
object Runner {

  /** Run lazily: compose and return the final plan. */
  def run(p: Pipeline): DataFrame = p.plan

  /** Run with materialized checkpoints: every stage writes
    * `<checkpointDir>/<stage>` and the next stage reads it back, so each
    * prefix is durable and independently inspectable (the reference's
    * done-queue tables, bert/deploy/utils.py:542-595).
    *
    * `replayFrom`: skip every stage before this name and seed from its
    * checkpoint (reference `-r -s <stage>`). Fails fast if the checkpoint
    * is missing or has no `_SUCCESS` marker (a write that never committed).
    *
    * Each checkpoint is written to a hidden `<checkpointDir>/.<stage>.tmp`
    * and then swapped in with delete + rename, like [[graft.io.Sinks.compact]]:
    * a stage whose attempts all fail leaves the previous run's checkpoint of
    * that stage in place and replayable.
    */
  def runCheckpointed(
      spark: SparkSession,
      p: Pipeline,
      checkpointDir: String,
      replayFrom: Option[String] = None,
      runLogPath: Option[String] = None): DataFrame = {
    val names = p.stages.map(_.name)
    replayFrom.foreach { r =>
      require(names.contains(r), s"replayFrom stage '$r' not in pipeline $names")
    }
    val startIdx = replayFrom.map(names.indexOf).getOrElse(0)
    val root = new Path(checkpointDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var current: DataFrame =
      if (startIdx == 0) p.source
      else {
        val seed = new Path(root, names(startIdx - 1))
        require(fs.exists(new Path(seed, "_SUCCESS")),
          s"replay checkpoint missing or uncommitted (no _SUCCESS): $seed")
        // the seed's schema is not known here, so this read infers it
        spark.read.parquet(seed.toString)
      }
    val runId = java.util.UUID.randomUUID().toString
    p.stages.drop(startIdx).foreach { st =>
      val out = new Path(root, st.name)
      val tmp = new Path(root, s".${st.name}.tmp")
      def materialize(): DataFrame = {
        val written = withRetries(st.retries, st.name) {
          val df = st(current)
          df.write.mode("overwrite").parquet(tmp.toString)
          df
        }
        fs.delete(out, true)
        require(fs.rename(tmp, out), s"rename $tmp -> $out failed")
        written
      }
      // heartbeat/audit rows per stage (K4) when a run-log table is given
      val written = runLogPath match {
        case Some(path) => graft.ops.RunLog.tracked(spark, path, runId, st.name)(materialize())
        case None => materialize()
      }
      // Spark stored this schema in the footer; passing it skips the job
      // that would re-read the footer to infer it
      current = spark.read.schema(asStored(written.schema)).parquet(out.toString)
    }
    current
  }

  /** Replay helper mirroring the reference's "fill work queue from cache":
    * read a stage's checkpoint without running anything. */
  def checkpointOf(spark: SparkSession, checkpointDir: String, stage: String): DataFrame =
    spark.read.parquet(s"$checkpointDir/$stage")

  /** The schema as parquet stores it: char/varchar columns are strings, their
    * declared type kept in the field metadata. A frame's schema holds
    * CharType/VarcharType only under `spark.sql.preserveCharVarcharTypeInfo`,
    * and `DataFrameReader.schema` rejects them. */
  private def asStored(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = stored(f.dataType))))

  private def stored(t: DataType): DataType = t match {
    case _: CharType | _: VarcharType => StringType
    case s: StructType => asStored(s)
    case a: ArrayType => a.copy(elementType = stored(a.elementType))
    case m: MapType => m.copy(keyType = stored(m.keyType), valueType = stored(m.valueType))
    case other => other
  }

  /** Fatal errors (an interrupt, a VM error) are not retried and propagate
    * as they are. */
  private def withRetries[T](retries: Int, stage: String)(body: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= retries) {
      try return body
      catch {
        case NonFatal(e) =>
          last = e
          attempt += 1
      }
    }
    throw new RuntimeException(
      s"stage '$stage' failed after ${retries + 1} attempts: ${last.getMessage}", last)
  }
}
