package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage a LOCAL sf1 estate — the sf0.1 tables replicated ×10 — for the
  * full-surface decade-step sweep (round-12 verdict item 1: every
  * growth probe so far is per-operator; cross-operator effects — AQE
  * skew handling on band shuffles, broadcast-threshold flips, memory
  * pressure from concurrent wide ops — only show up composed).
  *
  * Replication is ISOMORPHIC-UNIVERSE, not naive copy: every copy `r`
  * is a self-contained replica of the sf0.1 world with its keys offset
  * by `r × (max(key)+1)` ON EVERY SIDE OF EVERY JOIN (orders.o_custkey
  * moves with customer.c_custkey, lineitem's three FKs move with their
  * parents), so per-copy join fan-outs, selectivities and group
  * cardinalities are EXACTLY the base estate's and a measured exponent
  * isolates data volume. Two distinctness fixes stop copying from
  * manufacturing quadratic artifacts the base estate doesn't have:
  *
  *  - `documents.text` gets a FIXED-WIDTH per-copy token prefix
  *    (`r<r> ` on every token — uniform 2-char prefix for r in 0..9):
  *    byte-identical cross-copy texts would otherwise share every
  *    MinHash band and turn each doc into a 10-member exact-dup class
  *    (bucket pair mass ×100, not ×10). Prefixed, each copy carries an
  *    isomorphic near-dup structure over a disjoint vocabulary —
  *    dedup-family load scales linearly, vocabulary ×10 (which also
  *    unblocks wide-vocab receipts like hashed DSIR). `n_chars` is
  *    recomputed (the estate pins n_chars = length(text)).
  *  - `embeddings.embedding` copies are deterministic 50/50 MIXES of
  *    two base vectors (partner index stride-rotated per copy):
  *    identical copies would put 10 exact-coincident points on every
  *    base vector (cosine-edge mass ×100); a half-mix sits ~0.7–0.76
  *    cosine from both parents — below near-dup thresholds, cluster
  *    structure preserved in the large, near-dup mass linear.
  *
  * `events.ts` is NOT shifted: the copies share the calendar (distinct
  * user_id spaces), so window/session state keys scale ×10 while
  * literal date predicates keep matching every copy — per-pane mass and
  * matched row counts both scale linearly, which is what an exponent
  * wants. Dims region/nation stay as-is (25 rows; every copy shares
  * them, and nationkey domains are unchanged on both sides).
  *
  *  - MEASURE COLUMNS GET A PER-COPY RELATIVE JITTER (`× (1 + r·1e-9)`
  *    on `events.value` and `lineitem.l_extendedprice`) — the
  *    round-13 midpoint-ulp closure: exact ×10 value duplication put
  *    thousands of group means/sums EXACTLY on 2-decimal rounding
  *    midpoints, where Spark's and DuckDB's double-sum final-ulp
  *    difference flips `round(·, 2)` (six queries, BASELINE.md sf1
  *    cross-check). The jitter moves every such mean ~1e-9 relative
  *    off the knife edge — 4+ orders above cross-engine ulp noise,
  *    6+ below any semantic threshold (filters, clamps, validity) —
  *    so both engines, reading the SAME staged parquet, round the
  *    same way again. Staging-grade by design: the engine itself
  *    needs no change, because the artifact only exists in
  *    replica-staged estates.
  *
  * Usage: runMain graft.examples.Sf1Stage [srcDir] [destDir] [copies]
  */
object Sf1Stage {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Engine.session()
    stage(spark, src, dest, copies)
    spark.stop()
  }

  def stage(spark: SparkSession, src: String, dest: String, copies: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def strideOf(t: String, k: String): Long =
      rd(t).agg(max(col(k))).head().getLong(0) + 1L

    // shared dims: copied verbatim
    for (t <- Seq("region", "nation"))
      rd(t).write.mode("overwrite").parquet(s"$dest/$t.parquet")

    val custStride = strideOf("customer", "c_custkey")
    val suppStride = strideOf("supplier", "s_suppkey")
    val partStride = strideOf("part", "p_partkey")
    val orderStride = strideOf("orders", "o_orderkey")
    val liStride = orderStride // lineitem's key is l_orderkey
    val userStride = strideOf("events", "user_id")
    val eventStride = strideOf("events", "event_id")
    val docStride = strideOf("documents", "doc_id")
    val vecStride = strideOf("embeddings", "vec_id")
    val nVecs = rd("embeddings").count()

    /** ×copies union with per-copy column rewrites. */
    def fan(t: String, parts: Int)(rewrite: (DataFrame, Int) => DataFrame): Unit =
      (0 until copies).map(r => rewrite(rd(t), r))
        .reduce(_ unionByName _)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")

    fan("customer", 4)((df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * custStride)))
    fan("supplier", 2)((df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * suppStride)))
    fan("part", 4)((df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * partStride)))
    fan("orders", 8)((df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * orderStride))
      .withColumn("o_custkey", col("o_custkey") + lit(r * custStride)))
    fan("lineitem", 16)((df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * liStride))
      .withColumn("l_partkey", col("l_partkey") + lit(r * partStride))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppStride))
      .withColumn("l_extendedprice",
        col("l_extendedprice") * (lit(1.0) + lit(r) * lit(1e-9))))
    // events.value is 2dp-GRID data, so duplicated-group means are
    // grid rationals that land EXACTLY on rounding midpoints; the
    // multiplicative jitter knocks each copy OFF the grid (an additive
    // grid-multiple jitter was tried and preserves the grid — q05
    // flipped again). The format5 pipeline is immune either way: its
    // aggregate is exact-integer (Pipeline.gridAvg), so identical
    // duplicated raws produce bit-identical means in both engines.
    fan("events", 8)((df, r) => df
      .withColumn("event_id", col("event_id") + lit(r * eventStride))
      .withColumn("user_id", col("user_id") + lit(r * userStride))
      .withColumn("value", col("value") * (lit(1.0) + lit(r) * lit(1e-9))))
    fan("documents", 8)((df, r) => df
      .withColumn("doc_id", col("doc_id") + lit(r * docStride))
      .withColumn("text",
        array_join(
          transform(split(col("text"), " "),
            t => concat(lit(s"r$r"), t)), " "))
      .withColumn("n_chars", length(col("text"))))
    // embeddings: half-mix with the stride-rotated partner of the SAME
    // copy's base index (deterministic, no RNG — the probe discipline)
    val emb = rd("embeddings")
    // The partner arithmetic below assumes vec_ids are EXACTLY the
    // contiguous range 0..nVecs-1; on an estate with gaps or a nonzero
    // base the inner join would silently drop vectors and stage fewer
    // than copies × nVecs embeddings, skewing every exponent measured
    // on the staged estate. Assert rather than derive-by-rank: the
    // driver-generated estates ARE contiguous, and a failed staging
    // run must be loud, not subtly smaller.
    require(vecStride == nVecs,
      s"embeddings vec_id not contiguous from 0: max+1=$vecStride, count=$nVecs")
    val partner = emb.select(
      col("vec_id").as("pid"), col("embedding").as("pe"))
    (0 until copies).map { r =>
      emb
        .withColumn("pid", (col("vec_id") + lit(1L + 37L * r)) % lit(nVecs))
        .join(partner, "pid")
        .select(
          (col("vec_id") + lit(r * vecStride)).as("vec_id"),
          (if (r == 0) col("embedding")
           else zip_with(col("embedding"), col("pe"),
             (a, b) => (a + b) * lit(0.5f))).as("embedding"),
          col("label"))
    }.reduce(_ unionByName _)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
    println(s"staged ×$copies estate at $dest")
  }
}
