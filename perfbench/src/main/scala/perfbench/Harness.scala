package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Engine
import org.apache.spark.sql.perfbench.SparkAccess

/** The benchmark's JVM side: one closed-loop client running one workload.
  *
  * Set-up (`Engine.session`, `Engine.tuneForEstate`, a warm-up) runs
  * once and is timed from JVM launch (`--launch-epoch-s`, the caller's
  * clock when it started the JVM). Then one cold pass runs every op once,
  * and warm passes repeat for `--seconds`. Warm passes keep getting faster
  * for tens of seconds as the JIT catches up, so only the passes that
  * start in the second half of the warm phase are measured (and at least
  * three are, the run going on until they have). Each op is timed in
  * three contiguous spans: build (`QueryDef.build` or
  * `Pipeline.observedBatch`), exec (running the returned plan into
  * Parquet, which plans it once) and sweep (`Engine.sweepPersistentRDDs`).
  *
  * With `--trace 1`, listeners are registered, warm passes alternate
  * between traced and untraced (the difference is the tracing overhead),
  * and each traced pass gets per-layer counters. In a traced op the
  * planning phases of the executions exec ran are carved out of the exec
  * span as a plan span. Everything is kept in memory and written to
  * `report.json` and `trace.json` in the run dir at the end; outputs are
  * checked by the caller.
  *
  * Usage: Harness --workload W --data DIR --run DIR --seconds S
  *                --trace 0|1 --launch-epoch-s T
  */
object Harness {
  final case class OpRun(
      name: String, wallS: Double, spans: Seq[(String, Double, Double)],
      error: Option[String], out: String, pinsAdded: Int, gcExecS: Double,
      counters: Map[String, Double])

  /** `startS`: seconds from the start of the warm phase (0 for the cold
    * pass); `measured`: the pass is in the window the metrics are taken
    * from. */
  final case class PassRun(
      index: Int, traced: Boolean, startS: Double, measured: Boolean, wallS: Double,
      ops: Seq[OpRun], storageMb: Double, pinned: Int, layers: Map[String, Double])

  private def now(): Long = System.nanoTime()
  private def secs(from: Long, to: Long = now()): Double = (to - from) / 1e9

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def pinned(spark: SparkSession): Int = {
    val app = spark.sparkContext.applicationId + ":"
    Engine.pinnedRDDs.asScala.count(_.startsWith(app))
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  private def dirMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1048576.0
      finally s.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val run = Paths.get(args("run"))
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val launchEpochS = args("launch-epoch-s").toDouble

    if (trace) {
      System.setProperty("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
      System.setProperty("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamListener].getName)
    }

    // --- set-up, timed from JVM launch ------------------------------------
    val s0 = now()
    val spark = Engine.session()
    val sessionS = secs(s0)
    val t0 = now()
    Engine.tuneForEstate(spark, data)
    val tuneS = secs(t0)
    val w0 = now()
    warmup(spark, Workloads.warmupTable(workload, data))
    val warmupS = secs(w0)
    val ready = java.time.Instant.now()
    val setup = Map("total_s" -> (ready.getEpochSecond + ready.getNano / 1e9 - launchEpochS),
      "session_s" -> sessionS, "tune_s" -> tuneS, "warmup_s" -> warmupS)
    val cores = spark.sparkContext.defaultParallelism
    if (trace) spark.sparkContext.addSparkListener(new JobListener)

    val ops = Workloads.ops(workload, data)
    writeOracle(run.resolve("oracle_sql.json"), ops)
    val out = run.resolve("out")

    // --- passes -----------------------------------------------------------
    val passes = ArrayBuffer[PassRun]()
    var warmStart = now()
    def runPass(index: Int, traced: Boolean): Unit = {
      if (trace) { SparkAccess.drainBus(spark.sparkContext); Trace.enabled = traced }
      val p0 = now()
      val runs = ops.map(op => runOp(spark, op, index, out.resolve(s"p$index").toString, traced))
      val wall = secs(p0)
      val startS = if (index == 0) 0.0 else secs(warmStart, p0)
      val measured = index >= 2 && startS >= seconds / 2
      val layers = if (traced) passLayers(index, runs, cores) else Map.empty[String, Double]
      passes += PassRun(index, traced, startS, measured, wall, runs, storageMb(spark),
        pinned(spark), layers)
      System.err.println(f"[perfbench] pass $index%d traced=$traced%s wall=$wall%.3f s")
    }
    runPass(0, trace)
    warmStart = now()
    def enough: Boolean = {
      val window = passes.filter(_.measured)
      val t = window.count(_.traced)
      secs(warmStart) >= seconds &&
        (if (trace) t >= 3 && window.size - t >= 3 else window.size >= 3)
    }
    var k = 1
    while (!enough) { runPass(k, trace && k % 2 == 1); k += 1 }
    if (trace) { SparkAccess.drainBus(spark.sparkContext); Trace.enabled = false }

    // --- after the timed region ---------------------------------------------
    if (workload == "sensor_etl")
      graft.etl.Pipeline.decode(spark.read.parquet(s"$data/sample.parquet"))
        .write.mode("overwrite").parquet(run.resolve("sample_decoded").toString)
    val liveHeapMb = liveHeap()
    val report = Json.obj(
      "workload" -> workload,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> setup,
      "live_heap_mb" -> liveHeapMb,
      "passes" -> passes.toSeq.map { p =>
        Json.obj(
          "index" -> p.index, "traced" -> p.traced, "start_s" -> p.startS,
          "measured" -> p.measured, "wall_s" -> p.wallS,
          "storage_mb" -> p.storageMb, "pinned" -> p.pinned, "layers" -> p.layers,
          "ops" -> p.ops.map { o =>
            Json.obj("name" -> o.name, "wall_s" -> o.wallS, "error" -> o.error,
              "out" -> o.out, "pins_added" -> o.pinsAdded,
              "spans" -> o.spans.map(s => s._1 -> s._3).toMap,
              "counters" -> o.counters)
          })
      })
    Files.writeString(run.resolve("report.json"), Json.render(report))
    if (trace) Files.writeString(run.resolve("trace.json"), Json.render(spanTree(passes.toSeq)))
    spark.stop()
  }

  /** JIT and codegen for the shared machinery (scan, aggregate, shuffle,
    * write), as `graft.Bench` does before its timed queries. */
  private def warmup(spark: SparkSession, table: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val t = spark.read.parquet(table)
    t.groupBy(col(t.columns.head)).count().write.format("noop").mode("overwrite").save()
  }

  private def liveHeap(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    // the context cleaner frees blocks of collected RDDs asynchronously,
    // so collect, let it run, and collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private[perfbench] def runOp(
      spark: SparkSession, op: Op, pass: Int, passDir: String, traced: Boolean): OpRun = {
    val sc = spark.sparkContext
    val key = s"p$pass/${op.name}"
    val target = s"$passDir/${op.name}"
    Trace.currentOp = key
    val pins0 = pinned(spark)
    val spans = ArrayBuffer[(String, Double, Double)]()
    var error: Option[String] = None
    var gcExec = 0.0
    val start = now()
    def span[T](name: String)(body: => T): Option[T] = {
      sc.setLocalProperty(Trace.SpanProperty, s"$key/$name")
      val s0 = now()
      val r =
        try Some(body)
        catch {
          case e: Throwable =>
            if (error.isEmpty) error = Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      spans += ((name, secs(start, s0), secs(s0)))
      r
    }
    val built = span("build")(op.build(spark))
    built.foreach { b =>
      val g0 = gcMs()
      span("exec")(b.exec(target))
      gcExec = (gcMs() - g0) / 1000.0
    }
    span("sweep")(Engine.sweepPersistentRDDs(spark))
    val wall = secs(start)
    sc.setLocalProperty(Trace.SpanProperty, null)
    if (traced) SparkAccess.drainBus(sc)
    error.foreach(e => System.err.println(s"[perfbench] $key failed: $e"))
    OpRun(op.name, wall, if (traced) carvePlan(key, spans.toSeq) else spans.toSeq, error,
      target, pinned(spark) - pins0, gcExec, built.map(_.counters).getOrElse(Map.empty))
  }

  /** Splits the exec span into plan (the planning phases of the
    * executions that ran jobs in it, as the QueryExecutionListener saw
    * them) followed by the rest of exec. Planning comes first in each
    * execution, so plan is placed at the start of exec. */
  private def carvePlan(
      key: String, spans: Seq[(String, Double, Double)]): Seq[(String, Double, Double)] =
    spans.flatMap {
      case ("exec", at, dur) =>
        val plan = math.min(dur, Trace.qeIn(s"$key/exec").map(_.planMs).sum / 1000.0)
        Seq(("plan", at, plan), ("exec", at + plan, dur - plan))
      case s => Seq(s)
    }

  /** Per-layer counters of one traced pass. */
  private[perfbench] def passLayers(pass: Int, runs: Seq[OpRun], cores: Int): Map[String, Double] = {
    def spanS(name: String) = runs.flatMap(_.spans.filter(_._1 == name).map(_._3)).sum
    def aggs(name: String) = runs.map(o => Trace.span(s"p$pass/${o.name}/$name"))
    def all = Seq("build", "exec", "sweep").flatMap(aggs)
    val build = aggs("build")
    val exec = aggs("exec")
    val qes = runs.flatMap(o => Trace.qeIn(s"p$pass/${o.name}/exec"))
    val progress = runs.flatMap(o => Trace.progressOf(s"p$pass/${o.name}"))
    val (batches, batchJobs) = runs.map(o => Trace.batchJobsOf(s"p$pass/${o.name}"))
      .foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val batchS = progress.map(_.durationMs.getOrElse("triggerExecution", 0L) / 1000.0).sorted
    val microS = progress.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum / 1000.0
    val lastState = progress.groupBy(_.queryId).values.map(_.maxBy(_.batchId).stateRows).sum
    val execS = spanS("exec")
    val mb = 1048576.0
    val sensor = runs.filter(_.name == "sensor_etl")
    Map(
      "engine.sweep_s" -> spanS("sweep"),
      "queries.build_s" -> spanS("build"),
      "queries.build_self_s" -> (spanS("build") - microS),
      "queries.build_jobs" -> build.map(_.jobs).sum.toDouble,
      "queries.build_task_s" -> build.map(_.taskMs).sum / 1000.0,
      "plans.plan_s" -> spanS("plan"),
      "plans.exchanges" -> qes.map(_.exchanges).sum.toDouble,
      "plans.smj" -> qes.map(_.smj).sum.toDouble,
      "plans.shj" -> qes.map(_.shj).sum.toDouble,
      "plans.bhj" -> qes.map(_.bhj).sum.toDouble,
      "exec.run_s" -> execS,
      "exec.jobs" -> exec.map(_.jobs).sum.toDouble,
      "exec.stages" -> exec.map(_.stages).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.task_s" -> exec.map(_.taskMs).sum / 1000.0,
      "exec.core_util" -> (if (execS > 0) exec.map(_.taskMs).sum / 1000.0 / (execS * cores) else 0.0),
      "exec.skew" -> exec.map(_.skew).foldLeft(1.0)(math.max),
      "exec.shuffle_write_mb" -> exec.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> exec.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> exec.map(_.spill).sum / mb,
      "exec.peak_exec_mb" -> exec.map(_.peakExec).foldLeft(0L)(math.max) / mb,
      "exec.gc_s" -> runs.map(_.gcExecS).sum,
      "exec.task_failures" -> all.map(_.taskFailures).sum.toDouble,
      "sources.input_mb" -> all.map(_.inputBytes).sum / mb,
      "sources.input_rows" -> all.map(_.inputRows).sum.toDouble,
      "ops.pins_added" -> runs.map(_.pinsAdded).sum.toDouble,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.jobs_per_batch" -> (if (batches > 0) batchJobs.toDouble / batches else 0.0),
      "streaming.batch_s" -> (if (batchS.isEmpty) 0.0 else batchS(batchS.size / 2)),
      "streaming.batch_max_s" -> batchS.lastOption.getOrElse(0.0),
      "streaming.add_batch_s" -> progress.map(_.durationMs.getOrElse("addBatch", 0L)).sum / 1000.0,
      "streaming.wal_commit_s" -> progress.map(p =>
        p.durationMs.getOrElse("walCommit", 0L) + p.durationMs.getOrElse("commitOffsets", 0L)).sum / 1000.0,
      "streaming.state_commit_s" -> progress.map(_.stateCommitMs).sum / 1000.0,
      "streaming.state_rows" -> lastState.toDouble,
      "etl.write_s" -> sensor.flatMap(_.spans.collect { case ("plan" | "exec", _, d) => d }).sum,
      "etl.output_mb" -> sensor.map(o => dirMb(o.out)).sum,
      "etl.windows" -> sensor.flatMap(_.counters.get("windows")).sum,
      "etl.readings_kept" -> sensor.flatMap(_.counters.get("readings")).sum,
      "trace.span_residual_s" -> runs.map(o => math.abs(o.wallS - o.spans.map(_._3).sum))
        .foldLeft(0.0)(math.max))
  }

  /** Every traced op as a root span with build/plan/exec/sweep children;
    * micro-batches are children of build. Times are seconds from op start. */
  private def spanTree(passes: Seq[PassRun]): Seq[Map[String, Any]] =
    for (p <- passes if p.traced; o <- p.ops) yield {
      val key = s"p${p.index}/${o.name}"
      val batches = Trace.progressOf(key)
      val kids = o.spans.map { case (name, at, dur) =>
        val micro =
          if (name != "build") Nil
          else batches.map(b => Json.obj(
            "name" -> s"batch ${b.queryId.take(8)}/${b.batchId}",
            "start_epoch_ms" -> b.startMs,
            "duration_s" -> b.durationMs.getOrElse("triggerExecution", 0L) / 1000.0,
            "duration_ms" -> b.durationMs))
        val microS = batches.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum / 1000.0
        Json.obj("name" -> name, "start_s" -> at, "duration_s" -> dur,
          "self_s" -> (if (name == "build") dur - microS else dur), "children" -> micro)
      }
      Json.obj("name" -> key, "duration_s" -> o.wallS,
        "self_s" -> (o.wallS - o.spans.map(_._3).sum), "error" -> o.error, "children" -> kids)
    }

  private def writeOracle(path: Path, ops: Seq[Op]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json.render(ops.flatMap(o => sql.get(o.name).map(o.name -> _)).toMap))
  }
}

/** JSON for the report files, through the Jackson Scala module Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** A map that keeps its keys in the order given. */
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
