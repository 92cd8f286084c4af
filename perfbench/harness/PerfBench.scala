// Lives under org.apache.spark.sql so it can read the listener registries
// (LiveListenerBus.listeners, ExecutionListenerManager.listListeners) and
// drain the listener bus between items; those members are package-private.
package org.apache.spark.sql.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{Pipeline, Runner}
import graft.types.Codec

/** JVM side of the benchmark. `perfbench/run.py` prepares the inputs,
  * writes a plan (a properties file) and starts this program with one of
  * three modes:
  *
  *  - `run <plan>`: set up the session several times (the last one is
  *    kept), then run the plan's number of passes over the workload's
  *    items, and write every timing and listener record to the plan's
  *    `result` path as JSON. `run.py` turns that into metrics.
  *  - `oracle <names> <out>`: dump `SparkEntry.oracleSql` for the names.
  *  - `scaleup <src> <dst> <copies>`: write a `ScaleUp` copy of the tables
  *    the similarity workload reads.
  *
  * Load shape: one driver thread, closed loop (an item starts when the
  * previous one has returned), `local[cores]`.
  */
object PerfBench {

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", plan) => BenchRun(props(plan)).run()
    case Seq("oracle", names, out) =>
      val sql = graft.SparkEntry.oracleSql
      val m = names.split(",").filter(_.nonEmpty).map(n => n -> sql.get(n).orNull).toMap
      Files.writeString(Paths.get(out), Json(m))
    case Seq("scaleup", src, dst, copies) => scaleUp(src, dst, copies.toInt)
    case _ =>
      System.err.println("usage: PerfBench run <plan> | oracle <names> <out> | scaleup <src> <dst> <copies>")
      sys.exit(2)
  }

  private def props(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(path))
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = graft.SessionConf.overlay(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      // the drains' throwaway checkpoints stay inside the benchmark's tree
      .config("spark.graft.streamCkptRoot", s"$workDir/stream-ckpt"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Tables the similarity items read, copied through `ScaleUp`. */
  private def scaleUp(src: String, dst: String, copies: Int): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, dst + ".tmp")
    import graft.ScaleUp._
    val gens: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "documents" -> documentsCopy, "embeddings" -> embeddingsCopy,
      "part" -> partCopy, "orders" -> ordersCopy, "lineitem" -> lineitemCopy,
      "customer" -> customerCopy, "supplier" -> supplierCopy,
      "region" -> identityCopy, "nation" -> identityCopy)
    for ((table, gen) <- gens) {
      val in = spark.read.parquet(s"$src/$table.parquet")
      val n = if (Set("region", "nation")(table)) 1 else copies
      (0 until n).map(gen(in, _)).reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    spark.stop()
  }
}

/** Minimal JSON writer for Map/Seq/String/number/Boolean/null trees. */
object Json {
  def apply(v: Any): String = { val b = new StringBuilder; write(v, b); b.toString }
  private def write(v: Any, b: StringBuilder): Unit = v match {
    case null | None => b ++= "null"
    case Some(x) => write(x, b)
    case s: String => b += '"'; s.foreach {
        case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"; case c => b += c
      }; b += '"'
    case d: Double => b ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Number => b ++= n.toString
    case x: Boolean => b ++= x.toString
    case m: collection.Map[_, _] =>
      b += '{'
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) b += ','; write(k.toString, b); b += ':'; write(x, b)
      }
      b += '}'
    case xs: Iterable[_] =>
      b += '['; xs.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) b += ','; write(x, b) }; b += ']'
    case other => write(other.toString, b)
  }
}

/** Records what Spark's three listener buses report while a traced item
  * runs. All records carry epoch-millisecond times from Spark's events;
  * the driver drains the bus after each item and takes the records. */
final class Recorder(currentItem: () => String) {
  val jobs = new ConcurrentLinkedQueue[mutable.Map[String, Any]]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  val streams = new ConcurrentLinkedQueue[Map[String, Any]]()
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobRec = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Any]]()

  private def stage(id: Int): mutable.Map[String, Any] =
    stages.computeIfAbsent(id, _ => mutable.Map[String, Any](
      "id" -> id, "job" -> stageJob.getOrDefault(id, -1), "tasks" -> 0L,
      "failed_tasks" -> 0L, "task_wait_ms" -> 0L))

  private def add(m: mutable.Map[String, Any], k: String, v: Long): Unit =
    m.synchronized { m(k) = m.getOrElse(k, 0L).asInstanceOf[Long] + v }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val r = mutable.Map[String, Any]("id" -> e.jobId, "start_ms" -> e.time,
        "stages" -> e.stageIds, "execution" -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).orNull)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      jobRec.put(e.jobId, r)
      jobs.add(r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobRec.remove(e.jobId)).foreach { r =>
        r.synchronized { r("end_ms") = e.time; r("ok") = e.jobResult == JobSucceeded }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      stageSubmit.put(si.stageId, java.lang.Long.valueOf(
        si.submissionTime.getOrElse(System.currentTimeMillis())))
      val s = stage(si.stageId)
      s.synchronized { s("submit_ms") = stageSubmit.get(si.stageId); s("attempt") = si.attemptNumber() }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      add(s, "tasks", 1)
      if (!e.taskInfo.successful) add(s, "failed_tasks", 1)
      val sub = stageSubmit.get(e.stageId)
      if (sub != null) add(s, "task_wait_ms", math.max(0L, e.taskInfo.launchTime - sub))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val s = stage(si.stageId)
      s.synchronized {
        s("complete_ms") = si.completionTime.getOrElse(System.currentTimeMillis())
        s("submit_ms") = si.submissionTime.getOrElse(s.getOrElse("submit_ms", 0L))
        if (m != null) {
          s("run_ms") = m.executorRunTime
          s("cpu_ns") = m.executorCpuTime
          s("gc_ms") = m.jvmGCTime
          s("shuffle_write_bytes") = m.shuffleWriteMetrics.bytesWritten
          s("shuffle_read_bytes") = m.shuffleReadMetrics.totalBytesRead
          s("fetch_wait_ms") = m.shuffleReadMetrics.fetchWaitTime
          s("spill_bytes") = m.diskBytesSpilled
          s("read_bytes") = m.inputMetrics.bytesRead
          s("read_rows") = m.inputMetrics.recordsRead
          s("write_bytes") = m.outputMetrics.bytesWritten
        }
      }
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(Recorder.describe(qe, durationNs, ok = true))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      executions.add(Recorder.describe(qe, 0L, ok = false))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    // onQueryStarted runs synchronously inside start(), on the driver
    // thread, so the item that owns the drain is known here.
    private val owner = new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      owner.put(e.runId.toString, currentItem())
      streams.add(Map("run_id" -> e.runId.toString, "item" -> currentItem(),
        "start_ms" -> java.time.Instant.parse(e.timestamp).toEpochMilli))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(Map("run_id" -> p.runId.toString, "item" -> owner.get(p.runId.toString),
        "batch" -> p.batchId, "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "durations_ms" -> d, "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def drain(): Map[String, Any] = {
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    val js = take(jobs).map(_.toMap)
    val ids = js.flatMap(_("stages").asInstanceOf[Seq[Int]]).toSet
    val ss = ids.toSeq.sorted.flatMap(id => Option(stages.remove(id))).map(_.toMap)
    ids.foreach { id => stageSubmit.remove(id); stageJob.remove(id) }
    Map("jobs" -> js, "stages" -> ss, "executions" -> take(executions),
      "streams" -> take(streams), "batches" -> take(batches))
  }
}

object Recorder {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case _ => p.children ++ p.subqueries
  }
  // nodes that keep the row count, between a pair filter and its join
  private def transparent(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => transparent(w.child)
    case i: InputAdapter => transparent(i.child)
    case x: ProjectExec => transparent(x.child)
    case _ => p
  }
  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Operator counters of one finished execution, read from its plan. */
  def describe(qe: QueryExecution, durationNs: Long, ok: Boolean): Map[String, Any] = {
    var joinRows, keptRows, joinsUnderFilter, native = 0L
    val writes = mutable.ArrayBuffer[Map[String, Any]]()
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case j: BaseJoinExec => joinRows += rows(j)
        case f: FilterExec => transparent(f.child) match {
            case j: BaseJoinExec => keptRows += rows(f); joinsUnderFilter += rows(j)
            case _ =>
          }
        case w: DataWritingCommandExec =>
          val path = w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
            case _ => ""
          }
          writes += Map("path" -> path,
            "files" -> w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L),
            "bytes" -> w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
        case _ =>
      }
      if (p.getClass.getSimpleName == "AsofJoinExec") native += 1
      children(p).foreach(walk)
    }
    try walk(qe.executedPlan) catch { case NonFatal(_) => () }
    Map("id" -> qe.id, "ok" -> ok, "duration_ns" -> durationNs,
      "end_ms" -> System.currentTimeMillis(), "writes" -> writes.toSeq,
      "join_rows" -> joinRows, "filter_rows_above_join" -> keptRows,
      "join_rows_under_filter" -> joinsUnderFilter, "native_nodes" -> native)
  }
}

/** One `run` invocation. */
final case class BenchRun(plan: Map[String, String]) {
  private val workload = plan("workload")
  private val seed = plan("seed").toLong
  // fixed per run, so every run of a workload does the same work
  private val nPasses = plan("passes").toInt
  private val traced = plan("trace") == "1"
  private val cores = plan("cores").toInt
  private val workDir = plan("work_dir")
  private val checkDir = plan("check_dir")
  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis() * 1000L

  /** Epoch microseconds on the monotonic clock, comparable with Spark's ms. */
  private def nowUs(): Long = t0Epoch + (System.nanoTime() - t0Nano) / 1000L

  @volatile private var currentItem = ""
  private val recorder = new Recorder(() => currentItem)

  private def ctx(s: SparkSession) = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Listeners the benchmark itself has registered on the three buses. */
  private def ourListeners(s: SparkSession): Int = {
    val mine = Set[AnyRef](recorder.spark, recorder.sql, recorder.streaming)
    s.sparkContext.listenerBus.listeners.asScala.count(mine.contains) +
      ctx(s).listenerManager.listListeners().count(mine.contains) +
      s.streams.listListeners().count(mine.contains)
  }
  private def listenerCounts(s: SparkSession): Map[String, Any] = Map(
    "spark" -> s.sparkContext.listenerBus.listeners.size,
    "sql" -> ctx(s).listenerManager.listListeners().length,
    "streaming" -> s.streams.listListeners().length,
    "benchmark" -> ourListeners(s))

  private def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(recorder.spark)
    ctx(s).listenerManager.register(recorder.sql)
    s.streams.addListener(recorder.streaming)
  }
  private def detach(s: SparkSession): Unit = {
    s.sparkContext.listenerBus.waitUntilEmpty()
    s.sparkContext.removeSparkListener(recorder.spark)
    ctx(s).listenerManager.unregister(recorder.sql)
    s.streams.removeListener(recorder.streaming)
  }

  /** Warm-up: the driver contract's flagship query on sf0.001. */
  private def warmUp(s: SparkSession): Unit = {
    graft.SparkEntry.entry(s).foreach(_ => ())
    s.catalog.clearCache()
  }

  private def workloadOn(s: SparkSession): Workload = workload match {
    case "etl_chain" => new EtlChain(s, plan, workDir)
    case _ =>
      val scaled = plan("scaled_items").split(",").toSet
      new Registry(s, plan("items").split(",").toSeq,
        n => if (scaled(n)) plan("scaled_dir") else plan("data_dir"))
  }

  private def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def heapLiveMb(): Double = {
    // the second collection also frees what the context cleaner released
    // after the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    val h = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    h.getUsed / 1048576.0
  }

  def run(): Unit = {
    val setups = (1 to plan("setups").toInt).map { i =>
      val a = System.nanoTime()
      val s = PerfBench.session(cores, workDir)
      val b = System.nanoTime()
      warmUp(s)
      val c = System.nanoTime()
      if (i < plan("setups").toInt) s.stop()
      Map("session_s" -> (b - a) / 1e9, "warmup_s" -> (c - b) / 1e9)
    }
    val spark = SparkSession.active
    val baseline = listenerCounts(spark)
    require(baseline("benchmark") == 0, "benchmark listener registered before the passes")

    val work = workloadOn(spark)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val first = mutable.Map[String, String]() // item -> fingerprint of first good output
    var k = 0
    // A traced run alternates untraced and traced passes after an untraced
    // first pass, so the tracing overhead is measured in one JVM.
    def tracedPass(k: Int) = traced && k % 2 == 1
    while (k < nPasses) {
      val on = tracedPass(k)
      if (on) attach(spark)
      val ours = ourListeners(spark)
      require(ours == (if (on) 3 else 0), s"pass $k: $ours benchmark listeners, traced=$on")
      val order =
        if (work.shuffled) new scala.util.Random(seed * 1000003L + k).shuffle(work.items) else work.items
      val passStart = nowUs()
      val cpu0 = processCpuNs()
      val items = order.zipWithIndex.map { case (name, i) =>
        currentItem = s"p$k.i$i.$name"
        work.prepare(name, k)
        val phases = mutable.ArrayBuffer[Map[String, Any]]()
        val phase = new PhaseFn {
          def apply[T](n: String)(body: => T): T = {
            val a = nowUs()
            try body finally phases += Map("name" -> n, "start_us" -> a, "end_us" -> nowUs())
          }
        }
        val itemStart = nowUs()
        val out = try Right(work.run(name, k, phase)) catch { case e: Throwable => Left(e) }
        val itemEnd = nowUs()
        val rec = mutable.Map[String, Any]("name" -> name, "trace_id" -> currentItem,
          "start_us" -> itemStart, "end_us" -> itemEnd, "phases" -> phases.toSeq)
        out match {
          case Left(e) =>
            rec("ok") = false
            rec("error") = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
          case Right(result) =>
            rec("ok") = true
            // output check material, outside the timed region
            rec ++= work.check(name, k, result, first, checkDir)
        }
        if (on) { spark.sparkContext.listenerBus.waitUntilEmpty(); rec("events") = recorder.drain() }
        // in the last pass, the live heap after each item: every item's
        // retained state is seen whatever the order
        if (k == nPasses - 1) rec("heap_live_mb") = heapLiveMb()
        rec.toMap
      }
      if (on) detach(spark)
      val extras = if (on) work.tracedExtras(k) else Map.empty[String, Any]
      val wall = items.map(r => (r("end_us").asInstanceOf[Long] - r("start_us").asInstanceOf[Long]) / 1e6).sum
      passes += Map("index" -> k, "traced" -> on, "start_us" -> passStart, "end_us" -> nowUs(),
        "wall_s" -> wall, "cpu_s" -> (processCpuNs() - cpu0) / 1e9,
        "items" -> items, "extras" -> extras)
      k += 1
    }
    val after = listenerCounts(spark)
    require(after("benchmark") == 0, "benchmark listener left registered")
    val rt = Runtime.getRuntime
    val result = Map(
      "meta" -> Map("spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.runtime.version"),
        "heap_max_mb" -> rt.maxMemory / 1048576, "cores" -> cores,
        "default_parallelism" -> spark.sparkContext.defaultParallelism),
      "setups" -> setups, "listeners" -> Map("baseline" -> baseline, "after" -> after),
      "passes" -> passes.toSeq)
    Files.writeString(Paths.get(plan("result")), Json(result))
    spark.stop()
  }
}

/** The unit the benchmark times: `run` is the item's timed region, split
  * into phases. `check` runs after it, untimed. */
trait Workload {
  def items: Seq[String]
  /** Whether a pass may run the items in a seeded order. */
  def shuffled: Boolean
  def prepare(name: String, pass: Int): Unit
  def run(name: String, pass: Int, phase: PhaseFn): Any
  def check(name: String, pass: Int, result: Any, first: mutable.Map[String, String],
            checkDir: String): Map[String, Any]
  def tracedExtras(pass: Int): Map[String, Any]
}

trait PhaseFn { def apply[T](name: String)(body: => T): T }

object Workload {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close() }
}

/** Registry queries: build (the registry call), plan (force the executed
  * plan), exec (collect the rows, which are small for every item). */
final class Registry(spark: SparkSession, val items: Seq[String], dataDir: String => String)
    extends Workload {
  private val fns = graft.SparkEntry.queries
  def shuffled = true
  def prepare(name: String, pass: Int): Unit = {
    spark.catalog.clearCache()
    graft.queries.LearnQueries.clearMemo()
  }
  def run(name: String, pass: Int, phase: PhaseFn): Any = {
    val df = phase("build")(fns(name)(spark, dataDir(name)))
    phase("plan")(df.queryExecution.executedPlan)
    val rows = phase("exec")(df.collect())
    (df.schema, rows)
  }
  def check(name: String, pass: Int, result: Any, first: mutable.Map[String, String],
            checkDir: String): Map[String, Any] = {
    val (schema, rows) = result.asInstanceOf[(org.apache.spark.sql.types.StructType, Array[Row])]
    val fp = Integer.toHexString(rows.map(_.toString).sorted.toSeq.hashCode)
    first.get(name) match {
      case Some(f) => Map("fingerprint" -> fp, "same_as_checked" -> (f == fp))
      case None =>
        // the first good output of each item is written for the DuckDB check
        val out = s"$checkDir/$name"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(out)
        first(name) = fp
        Map("fingerprint" -> fp, "same_as_checked" -> true, "output" -> out)
    }
  }
  def tracedExtras(pass: Int): Map[String, Any] = Map.empty
}

/** The bert-etl job chain: six stages run through `core.Runner` three
  * ways per pass — checkpointed with a run log, replayed from the middle
  * stage, and lazily — each writing its result. */
final class EtlChain(spark: SparkSession, plan: Map[String, String], workDir: String) extends Workload {
  val items: Seq[String] = Seq("checkpointed", "replay", "lazy")
  private val input = plan("etl_input")
  val middle = "filter"

  // the replay reads the checkpoints the checkpointed run wrote
  def shuffled = false

  def pipeline(input: String): Pipeline = Pipeline(spark.read.parquet(input))
    .stage("decode")(_.select(col("item_id"),
      Codec.decodeScalarColumn(col("qty")).getField("i").as("qty"),
      Codec.decodeScalarColumn(col("price")).getField("d").as("price"),
      Codec.decodeScalarColumn(col("flag")).getField("b").as("flag"),
      col("text")))
    .stage("enrich")(_.withColumn("amount",
      coalesce(col("qty"), lit(0L)) * coalesce(round(col("price") * 100).cast(LongType), lit(0L))))
    .stage("explode")(_.select(col("item_id"), col("flag"), col("amount"),
      explode(split(col("text"), " ")).as("word")))
    .stage("filter")(_.filter(length(col("word")) >= 3 && (col("flag") || col("amount") > 5000L)))
    .stage("aggregate")(_.groupBy(col("word"), (col("item_id") % 64).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("total"), max(col("flag")).as("any_flag")))
    .stage("encode")(_.select(col("word"), col("bucket"),
      Codec.encodeScalarColumn(col("n"), LongType).as("n"),
      Codec.encodeScalarColumn(col("total"), LongType).as("total"),
      Codec.encodeScalarColumn(col("any_flag"), org.apache.spark.sql.types.BooleanType).as("any_flag")))

  private def passDir(pass: Int) = s"$workDir/etl/pass$pass"

  def prepare(name: String, pass: Int): Unit = spark.catalog.clearCache()

  def run(name: String, pass: Int, phase: PhaseFn): Any = {
    val d = passDir(pass)
    name match {
      case "checkpointed" => phase("runCheckpointed")(Runner.runCheckpointed(
        spark, pipeline(input), s"$d/ckpt", runLogPath = Some(s"$d/runlog")))
      case "replay" => phase("replayFrom")(Runner.runCheckpointed(
        spark, pipeline(input), s"$d/ckpt", replayFrom = Some(middle), runLogPath = Some(s"$d/runlog")))
      case "lazy" => phase("run")(Runner.run(pipeline(input)).write.parquet(s"$d/lazy"))
    }
  }

  def check(name: String, pass: Int, result: Any, first: mutable.Map[String, String],
            checkDir: String): Map[String, Any] = {
    // run.py compares each output with the reference; the checkpointed
    // output is moved aside before the replay rewrites it
    val d = passDir(pass)
    val out = name match {
      case "lazy" => s"$d/lazy"
      case other =>
        val to = Paths.get(s"$d/out_$other")
        Files.move(Paths.get(s"$d/ckpt/encode"), to)
        to.toString
    }
    Map("output" -> out)
  }

  def tracedExtras(pass: Int): Map[String, Any] = {
    val in = spark.read.parquet(input)
    val a = System.nanoTime()
    in.select(
      Codec.encodeScalarColumn(Codec.decodeScalarColumn(col("qty")).getField("i"), LongType),
      Codec.encodeScalarColumn(Codec.decodeScalarColumn(col("price")).getField("d"),
        org.apache.spark.sql.types.DoubleType),
      Codec.encodeScalarColumn(Codec.decodeScalarColumn(col("flag")).getField("b"),
        org.apache.spark.sql.types.BooleanType)).foreach(_ => ())
    val roundtrip = (System.nanoTime() - a) / 1e9
    Map("roundtrip_s" -> roundtrip,
      // the last stage's checkpoint was moved to out_replay for the check
      "checkpoint_bytes" -> (Workload.dirBytes(Paths.get(s"${passDir(pass)}/ckpt")) +
        Workload.dirBytes(Paths.get(s"${passDir(pass)}/out_replay"))),
      "input_bytes" -> Workload.dirBytes(Paths.get(input)),
      "runlog_path" -> s"${passDir(pass)}/runlog")
  }

}
