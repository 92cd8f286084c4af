package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.io.Seeds
import graft.ops.RunLog

/** Pipeline/Runner semantics, mirroring the reference behaviors the SURVEY
  * calls out: the docs tutorial chain (100 seeds → squared), checkpoint +
  * replay-from-stage (C3), and retry-on-error (D8).
  */
class PipelineSpec extends SparkSpec {

  private def docsChain = Pipeline(Seeds.fromRange(spark, 100))
    .stage("calc")(df => df.withColumn("calculated_result", col("idx") * col("idx")))
    .stage("filter_even")(df => df.filter(col("calculated_result") % 2 === 0))

  test("docs example: 100 seeds → squared, 1→1 then filter") {
    val rows = docsChain.plan.collect()
    assert(rows.length == 50) // even squares come from even idx
    val m = rows.map(r => r.getAs[Long]("idx") -> r.getAs[Long]("calculated_result")).toMap
    assert(m(4L) == 16L && m(10L) == 100L)
  }

  test("stage names must be unique") {
    intercept[IllegalArgumentException] {
      Pipeline(Seeds.fromRange(spark, 1))
        .stage("a")(identity)
        .stage("a")(identity)
    }
  }

  test("1→N emit via explode matches reference flatMap semantics") {
    val p = Pipeline(Seeds.fromRange(spark, 10))
      .stage("fan_out")(df => df.select(col("idx"),
        explode(sequence(lit(0), col("idx"))).as("sub")))
    assert(p.plan.count() == (1 to 10).sum) // Σ (idx+1) for idx 0..9 = 55
  }

  test("checkpointed run writes per-stage parquet and replays from a stage") {
    val dir = tmpDir("ckpt")
    val out = Runner.runCheckpointed(spark, docsChain, dir)
    assert(out.count() == 50)
    // both stage checkpoints exist and are readable
    assert(Runner.checkpointOf(spark, dir, "calc").count() == 100)
    assert(Runner.checkpointOf(spark, dir, "filter_even").count() == 50)

    // replay from filter_even must NOT rerun calc: poison the calc stage
    val poisoned = Pipeline(Seeds.fromRange(spark, 100))
      .stage("calc")(_ => throw new RuntimeException("must not rerun"))
      .stage("filter_even")(df => df.filter(col("calculated_result") % 2 === 0))
    val replayed = Runner.runCheckpointed(spark, poisoned, dir, replayFrom = Some("filter_even"))
    assert(replayed.count() == 50)
  }

  test("replay from an unknown stage or missing checkpoint fails fast") {
    val dir = tmpDir("ckpt2")
    intercept[IllegalArgumentException] {
      Runner.runCheckpointed(spark, docsChain, dir, replayFrom = Some("nope"))
    }
    intercept[IllegalArgumentException] {
      // valid stage name but nothing materialized yet
      Runner.runCheckpointed(spark, docsChain, dir, replayFrom = Some("filter_even"))
    }
  }

  test("retry-on-error: stage succeeds on attempt 3 of max 10") {
    val dir = tmpDir("retry")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = Pipeline(Seeds.fromRange(spark, 5))
      .stage("flaky", retries = 10) { df =>
        if (attempts.incrementAndGet() < 3) throw new RuntimeException("transient")
        df
      }
    assert(Runner.runCheckpointed(spark, flaky, dir).count() == 5)
    assert(attempts.get() == 3)
  }

  test("retry-on-error: permanent failure surfaces after retries exhausted") {
    val dir = tmpDir("retry2")
    val broken = Pipeline(Seeds.fromRange(spark, 5))
      .stage("broken", retries = 2)(_ => throw new RuntimeException("permanent"))
    val e = intercept[RuntimeException] {
      Runner.runCheckpointed(spark, broken, dir)
    }
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("typed stage maps Dataset[A] => Dataset[B] inside a pipeline") {
    import spark.implicits._
    val p = Pipeline(Seeds.fromRange(spark, 10))
      .follow(Stage.typed[Long, (Long, Long)]("square_typed") { ds =>
        ds.map(i => (i, i * i))
      })
    val rows = p.plan.collect()
    assert(rows.length == 10)
    assert(rows.map(r => r.getLong(1)).sorted.last == 81)
  }

  test("sink clear removes a checkpoint directory (queue flush)") {
    val dir = tmpDir("flush")
    graft.io.Sinks.overwrite(Seeds.fromRange(spark, 3), s"$dir/q")
    assert(graft.io.Sinks.clear(spark, s"$dir/q"))
    assert(!graft.io.Sinks.clear(spark, s"$dir/q")) // already gone
  }

  test("checkpointed run writes run-log entries per stage when asked") {
    val dir = tmpDir("ckpt-log")
    val logPath = s"$dir/runlog"
    Runner.runCheckpointed(spark, docsChain, s"$dir/ck", runLogPath = Some(logPath))
    val statuses = spark.read.parquet(logPath)
      .collect().map(r => (r.getAs[String]("stage"), r.getAs[String]("status")))
    assert(statuses.count(_._2 == "succeeded") == 2)
    assert(statuses.map(_._1).toSet == Set("calc", "filter_even"))
  }

  test("lazy plan and checkpointed run produce identical results") {
    val dir = tmpDir("diff")
    val lazyRows = docsChain.plan.collect()
      .map(r => (r.getLong(r.fieldIndex("idx")), r.getLong(r.fieldIndex("calculated_result"))))
      .toSet
    val ckptRows = Runner.runCheckpointed(spark, docsChain, dir).collect()
      .map(r => (r.getLong(r.fieldIndex("idx")), r.getLong(r.fieldIndex("calculated_result"))))
      .toSet
    assert(lazyRows == ckptRows)
  }

  test("stage parallelism repartitions its input (workers=N parity)") {
    val p = Pipeline(Seeds.fromRange(spark, 100).repartition(2))
      .follow(Stage("fan", df => df.withColumn("parts", spark_partition_id()),
        parallelism = Some(7)))
    assert(p.plan.select("parts").distinct().count() == 7)
  }

  test("barrier stage coalesces to one partition (BOTTLE)") {
    val p = Pipeline(Seeds.fromRange(spark, 100).repartition(8))
      .stage("bottle", barrier = true)(df => df.withColumn("parts", spark_partition_id()))
    val parts = p.plan.select("parts").distinct().count()
    assert(parts == 1)
  }

  test("a run-log row is written without a Spark job") {
    val path = tmpDir("runlog-jobs") + "/log"
    val entry = RunLog.Entry("run1", "calc", "started", "", 0L, new java.sql.Timestamp(0L))
    assert(JobCounter(spark.sparkContext)(RunLog.log(spark, path, entry)) == 0)
    assert(spark.read.parquet(path).count() == 1)
  }

  test("a checkpointed run with a run log starts one Spark job per stage") {
    val dir = tmpDir("ckpt-jobs")
    val jobs = JobCounter(spark.sparkContext) {
      Runner.runCheckpointed(spark, docsChain, s"$dir/ck", runLogPath = Some(s"$dir/log"))
    }
    assert(jobs == 2)
  }

  test("replay refuses a stage checkpoint that has part files but no _SUCCESS") {
    val dir = tmpDir("ckpt-uncommitted")
    Runner.runCheckpointed(spark, docsChain, dir)
    // what a crash mid-write leaves behind: data, but no commit marker
    assert(new java.io.File(s"$dir/calc/_SUCCESS").delete())
    assert(new java.io.File(s"$dir/calc").list().exists(_.startsWith("part-")))
    val e = intercept[IllegalArgumentException] {
      Runner.runCheckpointed(spark, docsChain, dir, replayFrom = Some("filter_even"))
    }
    assert(e.getMessage.contains(s"$dir/calc"))
  }

  test("a stage whose attempts all fail leaves the previous checkpoint replayable") {
    val dir = tmpDir("ckpt-keep")
    def chain(filter: DataFrame => DataFrame) = Pipeline(Seeds.fromRange(spark, 100))
      .stage("calc")(_.withColumn("calculated_result", col("idx") * col("idx")))
      .stage("filter_even", retries = 1)(filter)
      .stage("halve")(_.withColumn("half", col("calculated_result") / 2))
    val good = chain(_.filter(col("calculated_result") % 2 === 0))
    Runner.runCheckpointed(spark, good, dir)
    // fails inside the write job, after a direct overwrite would have
    // already deleted the stage's old output
    val boom = udf((x: Long) => if (x >= 0) throw new IllegalStateException("disk gone") else x)
    val e = intercept[RuntimeException] {
      Runner.runCheckpointed(spark, chain(_.filter(boom(col("calculated_result")) % 2 === 0)), dir)
    }
    assert(e.getMessage.contains("after 2 attempts"))
    assert(Runner.checkpointOf(spark, dir, "filter_even").count() == 50)
    assert(Runner.runCheckpointed(spark, good, dir, replayFrom = Some("halve")).count() == 50)
  }

  test("a fatal error is attempted once and propagates unwrapped") {
    val dir = tmpDir("ckpt-fatal")
    val attempts = new AtomicInteger(0)
    val p = Pipeline(Seeds.fromRange(spark, 5))
      .stage("interrupted", retries = 3) { _ =>
        attempts.incrementAndGet()
        throw new InterruptedException("stop")
      }
    intercept[InterruptedException] {
      Runner.runCheckpointed(spark, p, s"$dir/ck", runLogPath = Some(s"$dir/log"))
    }
    assert(attempts.get() == 1)
    // no end row: the stage reads as stalled, like bert-etl's open heartbeat
    val statuses = spark.read.parquet(s"$dir/log").collect().map(_.getAs[String]("status"))
    assert(statuses.toSeq == Seq("started"))
  }

  /** Parquet read-backs are nullable all the way down. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  test("a checkpointed result has the lazy plan's schema, timestamp_ntz and varchar included") {
    val dir = tmpDir("ckpt-schema")
    Seeds.fromRange(spark, 10).withColumn("v", col("idx").cast("string"))
      .write.parquet(s"$dir/src")
    // preserveCharVarcharTypeInfo keeps VarcharType in a frame's schema, which
    // a reader schema may not hold; without it varchar is string plus metadata
    for (preserve <- Seq(false, true)) {
      val table = s"ckpt_schema_src_$preserve"
      spark.conf.set("spark.sql.preserveCharVarcharTypeInfo", preserve)
      try {
        spark.sql(s"CREATE TABLE $table (idx BIGINT, v VARCHAR(5)) USING parquet LOCATION '$dir/src'")
        val p = Pipeline(spark.table(table))
          .stage("typed")(_.select(col("idx"), col("v"),
            to_timestamp_ntz(lit("2024-01-02 03:04:05.123456")).as("ntz"),
            to_timestamp(lit("2024-01-02 03:04:05.123456")).as("ts"),
            map(col("idx"), col("idx").cast("string")).as("m"),
            array(struct(col("idx").as("k"), lit(1.5).cast("decimal(20,4)").as("d"))).as("a")))
          .stage("keep_even")(_.filter(col("idx") % 2 === 0))
        val lazySchema = Runner.run(p).schema
        assert(lazySchema("ntz").dataType == TimestampNTZType)
        assert(lazySchema("v").dataType == (if (preserve) VarcharType(5) else StringType))
        val ckpt = Runner.runCheckpointed(spark, p, s"$dir/ck_$preserve")
        val inferred = Runner.checkpointOf(spark, s"$dir/ck_$preserve", "keep_even").schema
        // what inference reads from the footer; outside preserve mode that is
        // the lazy plan's schema made nullable
        assert(ckpt.schema == inferred)
        if (!preserve) assert(ckpt.schema == nullable(lazySchema))
        assert(ckpt.collect().toSet == Runner.run(p).collect().toSet)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.conf.unset("spark.sql.preserveCharVarcharTypeInfo")
      }
    }
  }
}
