package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Listener attribution on a tiny stream, for test_perfbench.py. One op
  * goes through the harness's own `runOp` as a traced op: its build runs
  * three one-file micro-batches of a stateful aggregation in a
  * `newSession()` child, and its exec writes one batch aggregate. Prints
  * what the listeners attributed, the op's spans and the per-layer
  * counters `passLayers` makes of it, as one JSON line.
  *
  * Usage: SelfTest <work dir> */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    System.setProperty("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamListener].getName)
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.addSparkListener(new JobListener)
    val src = s"$dir/src"
    for (i <- 0 until 3)
      spark.range(i * 10L, i * 10L + 10).selectExpr("id % 3 AS k", "id AS v")
        .coalesce(1).write.mode("append").parquet(src)

    val tiny = new Op {
      def name: String = "tiny"
      def build(spark: SparkSession): Built = {
        val child = spark.newSession()
        child.conf.set("spark.sql.shuffle.partitions", "1")
        child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        child.readStream.schema("k LONG, v LONG").option("maxFilesPerTrigger", "1").parquet(src)
          .groupBy("k").count()
          .writeStream.outputMode("complete").format("memory").queryName("tiny")
          .option("checkpointLocation", s"$dir/ckp")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        new Built {
          def exec(out: String): Unit =
            child.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
              .write.mode("overwrite").parquet(out)
        }
      }
    }
    Trace.enabled = true
    val run = Harness.runOp(spark, tiny, 0, s"$dir/out", traced = true)
    Trace.enabled = false
    val layers = Harness.passLayers(0, Seq(run), sc.defaultParallelism)

    val op = "p0/tiny"
    val (batches, batchJobs) = Trace.batchJobsOf(op)
    val progress = Trace.progressOf(op)
    println(Json.render(Json.obj(
      "error" -> run.error,
      "wall_s" -> run.wallS,
      "spans" -> run.spans.map(s => Json.obj("name" -> s._1, "start_s" -> s._2, "duration_s" -> s._3)),
      "progress_batches" -> progress.map(_.batchId).sorted,
      "job_batches" -> batches,
      "batch_jobs" -> batchJobs,
      "build_jobs" -> Trace.span(s"$op/build").jobs,
      "exec_jobs" -> Trace.span(s"$op/exec").jobs,
      "exec_qe_events" -> Trace.qeIn(s"$op/exec").size,
      "state_rows" -> progress.sortBy(_.batchId).lastOption.map(_.stateRows).getOrElse(0L),
      "layers" -> layers)))
    spark.stop()
  }
}
