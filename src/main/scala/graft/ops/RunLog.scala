package graft.ops

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

/** Run-log / heartbeat table — the reference's reporting subsystem (K4).
  *
  * Reference: `track_execution` puts {identity, job_name, created} into a
  * `bert-etl-reporting` DynamoDB table on stage entry and deletes it on
  * exit (/root/reference/bert/deploy/reporting.py:92-118); the monitor
  * Lambda scans it to find stalled stages. In a single Spark application
  * the driver supervises executors natively, so what survives is the
  * AUDIT value: a durable append-only log of stage runs with status and
  * timing — queryable like any other table.
  *
  * Each entry is one parquet file written on the driver with parquet-hadoop's
  * `ExampleParquetWriter`, not a Spark job: a one-row append through
  * `DataFrameWriter` costs a job plus the commit protocol (~150 ms), this
  * costs a file create and a rename (~10 ms). The file is written under a
  * hidden `.part-<uuid>.parquet` name and renamed to `part-<uuid>.parquet`
  * once closed, so a reader never sees a partial row and a `started` row is
  * durable before the stage body runs. The columns are the [[Entry]] fields;
  * `logged_at` is INT64 `TIMESTAMP(MICROS, isAdjustedToUTC=true)`, which
  * reads as `timestamp` alongside the INT96 rows Spark's writer produces, so
  * logs appended by either writer read back as one table.
  */
object RunLog {

  final case class Entry(
      run_id: String,
      stage: String,
      status: String, // started | succeeded | failed
      detail: String,
      wall_ms: Long,
      logged_at: java.sql.Timestamp)

  private val Schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary run_id (STRING);
      |  optional binary stage (STRING);
      |  optional binary status (STRING);
      |  optional binary detail (STRING);
      |  required int64 wall_ms;
      |  optional int64 logged_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  def log(spark: SparkSession, path: String, e: Entry): Unit = {
    val row = new SimpleGroupFactory(Schema).newGroup()
    Seq("run_id" -> e.run_id, "stage" -> e.stage, "status" -> e.status, "detail" -> e.detail)
      .foreach { case (k, v) => if (v != null) row.append(k, v) }
    row.append("wall_ms", e.wall_ms)
    if (e.logged_at != null) {
      val t = e.logged_at.toInstant
      row.append("logged_at", Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
        (t.getNano / 1000).toLong))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(path, s".$name")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(Schema).build()
    try writer.write(row) finally writer.close()
    val fs = tmp.getFileSystem(conf)
    require(fs.rename(tmp, new Path(path, name)), s"rename $tmp -> $path/$name failed")
  }

  /** Wrap a stage body with started/succeeded/failed entries. Only non-fatal
    * errors log `failed`; a fatal one (an interrupt, a VM error) propagates
    * with the `started` row left open, the reference's stalled-stage signal. */
  def tracked[T](spark: SparkSession, path: String, runId: String, stage: String)(
      body: => T): T = {
    val t0 = System.currentTimeMillis()
    def now = new java.sql.Timestamp(System.currentTimeMillis())
    log(spark, path, Entry(runId, stage, "started", "", 0L, now))
    try {
      val out = body
      log(spark, path, Entry(runId, stage, "succeeded", "", System.currentTimeMillis() - t0, now))
      out
    } catch {
      case NonFatal(e) =>
        log(spark, path,
          Entry(runId, stage, "failed", String.valueOf(e.getMessage).take(500),
            System.currentTimeMillis() - t0, now))
        throw e
    }
  }
}
