package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.etl.Pipeline

/** One op once built: the returned plan, ready to run. */
trait Built {
  /** Execution of the returned plan into `out`; the write plans it once,
    * as the engine's own callers do. */
  def exec(out: String): Unit
  /** Op-specific counters read after exec. */
  def counters: Map[String, Double] = Map.empty
}

trait Op {
  def name: String
  def build(spark: SparkSession): Built
}

/** A declared query, through the same entry point the engine's own mains
  * use (`SparkEntry.inventory`). Its result is written as Parquet so the
  * output can be checked against the DuckDB oracle. */
final class QueryOp(q: graft.queries.QueryDef, estate: String) extends Op {
  def name: String = q.name
  def build(spark: SparkSession): Built = new Built {
    private val df: DataFrame = q.build(spark, estate)
    def exec(out: String): Unit = df.write.mode("overwrite").parquet(out)
  }
}

/** The reference dataflow: `Pipeline.observedBatch` (whitelist, decode,
  * 30-minute aggregate, enrich) and then `Pipeline.writeBatch` into the
  * dual Parquet sink. */
final class SensorOp(data: String) extends Op {
  def name: String = "sensor_etl"
  def build(spark: SparkSession): Built = new Built {
    private val readings = spark.read.parquet(s"$data/readings.parquet")
    private val tags = spark.read.parquet(s"$data/tags.parquet")
    private val (agg, obs): (DataFrame, Observation) = Pipeline.observedBatch(readings, tags)
    private var seen = Map.empty[String, Any]
    def exec(out: String): Unit = {
      Pipeline.writeBatch(agg, out)
      seen = obs.get
    }
    override def counters: Map[String, Double] = seen.collect {
      case (k @ ("windows" | "readings"), v: Number) => k -> v.doubleValue
    }
  }
}

object Workloads {
  /** Incremental dedup folding into the bucketed index through
    * `foreachBatch`, and a `flatMapGroupsWithState` sessionizer (state
    * store commits): two different per-batch cost shapes. d06 is the batch
    * dedup beside them: it pins its component labels (`ArtifactCache`) in
    * the cold pass and reuses them in warm passes, the only pinned artifact
    * in the benchmark. */
  val streamReplay: Seq[String] =
    Seq("q58_stream_incdedup", "q36_stream_sessions", "d06_dup_components")

  def ops(workload: String, data: String): Seq[Op] = {
    def queries(names: Seq[String]) = {
      val defs = graft.SparkEntry.inventory.map(q => q.name -> q).toMap
      names.map(n => new QueryOp(defs(n), data))
    }
    workload match {
      case "sensor_etl"    => Seq(new SensorOp(data))
      case "stream_replay" => queries(streamReplay)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** A small table of the workload's inputs for the set-up warm-up. */
  def warmupTable(workload: String, data: String): String =
    if (workload == "sensor_etl") s"$data/tags.parquet" else s"$data/nation.parquet"
}
