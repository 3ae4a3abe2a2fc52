package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF join — "for each left row, the most recent right row at or
  * before it, per key" — an operator Spark's built-in joins don't
  * express (a range join would be O(pairs)). Composed from existing ops
  * per the preference order: union the two sides with a side tag, one
  * window pass ordered by (ts, side) carrying the last right-side row
  * forward, then keep left rows.
  *
  * Cost: ONE shuffle on the key + a per-partition sort — the same price
  * as a plain sort-merge join, regardless of how many right rows precede
  * each left row (a naive `right.ts <= left.ts` range join explodes to
  * the full pair count; Catalyst plans inequality-only conditions as
  * BroadcastNestedLoopJoin). Ties (right.ts == left.ts) match, because
  * the right side sorts before the left at equal timestamps.
  *
  * NULL-key caveat: `Window.partitionBy` groups NULL keys together, so
  * a null-key left row here picks up null-key right rows — unlike SQL
  * equality (NULL = NULL is not true, so DuckDB's ASOF JOIN, and the
  * native [[lastPriorNative]], produce no match). Immaterial for the
  * declared queries (event keys are non-null); pinned as the one
  * divergence between the two forms in AsOfJoinNativeSpec.
  */
object AsOfJoin {

  /** For every row of `left`, attach `payload` (a struct column built
    * from `right`'s columns) of the latest `right` row with
    * `right.tsCol <= left.tsCol` and the same `key`; null when no such
    * row exists. Both inputs must share the `key` and `tsCol` names. */
  def lastPrior(
      left: DataFrame, right: DataFrame,
      key: String, tsCol: String,
      payload: Column): DataFrame = {
    val leftCols = left.columns
    // right side contributes only (key, ts, payload); sorts first on ties.
    // A NULL-ts right row must never match (the "at or before" predicate
    // is unknowable) — nullify its payload so `last(ignoreNulls)` skips
    // it. Without this, the row sorts nulls-FIRST in the window and its
    // non-null payload struct would be carried as the match for any key
    // with no other prior right row — a divergence from the native
    // operator (which skips null-ts rows in the merge) found by review
    // and pinned in AsOfJoinNativeSpec.
    val r = right
      .select(col(key), col(tsCol),
        when(col(tsCol).isNotNull, payload).as("__rp"))
      .withColumn("__side", lit(0))
    val unioned = left
      .select((leftCols.map(col) :+ lit(1).as("__side") :+
        lit(null).cast(r.schema("__rp").dataType).as("__rp")).toIndexedSeq: _*)
      .unionByName(
        r.select((leftCols.map(c =>
          if (c == key || c == tsCol) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c))
          :+ col("__side") :+ col("__rp")).toIndexedSeq: _*))
    // __rp as the final sort key makes ties deterministic: when several
    // right rows share (key, ts), the carried payload is always the
    // struct-wise greatest one, on every run. (Payload fields must be
    // orderable types — true for any struct of atomics; left rows all
    // have a null __rp so their relative order can't affect the result.)
    val w = Window
      .partitionBy(key)
      .orderBy(col(tsCol), col("__side"), col("__rp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("asof", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__rp")
  }

  /** The NATIVE form of [[lastPrior]] — the same "latest right row at
    * or before each left row, per key" semantics planned as the
    * whole-operator [[graft.plans.AsOfJoinExec]] instead of the
    * union+window composition: each side shuffles with only its own
    * columns (the composed form pads right rows to the left schema
    * plus the payload struct) and the window's frame buffering becomes
    * an O(1) forward-merge pointer (measured: ~0.9× shuffle bytes,
    * ~1.7× faster join stages — BASELINE.md "Round-10 continuation").
    *
    * Output = all of `left`'s columns plus all of `right`'s columns
    * renamed `<rPrefix><name>` (all-null when no prior right row
    * exists). The rename is load-bearing, not cosmetic: the custom
    * node bypasses the analyzer's `DeduplicateRelations` (which only
    * rewrites known node types), so a self-join's attribute-id
    * collisions must be prevented here — aliasing every right column
    * mints fresh expression ids, and the prefixed names keep
    * `RemoveRedundantAliases` from undoing that (an identity alias
    * `a AS a` may be collapsed; `a AS r_a` never is).
    *
    * Tie rule: among right rows sharing the greatest eligible `tsCol`,
    * the one greatest by the remaining right columns (in output order)
    * wins — deterministic on every run, and identical to [[lastPrior]]'s
    * struct-ordered `last` when the payload struct lists `tsCol` first
    * and the tie columns in the same order. */
  def lastPriorNative(
      left: DataFrame, right: DataFrame,
      key: String, tsCol: String,
      rPrefix: String = "r_"): DataFrame =
    lastPriorNative(left, right, Seq(key), tsCol, rPrefix)

  /** Composite-key form: equi-keys compared pairwise in order. */
  def lastPriorNative(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String,
      rPrefix: String): DataFrame = {
    val clash = left.columns.toSet
      .intersect(right.columns.map(rPrefix + _).toSet)
    require(clash.isEmpty,
      s"as-of join: left already has column(s) ${clash.mkString(", ")} — " +
        s"pass a different rPrefix")
    val renamed = right.select(
      right.columns.toIndexedSeq.map(c => col(c).as(rPrefix + c)): _*)
    val lp = left.queryExecution.analyzed
    val rp = renamed.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    org.apache.spark.sql.GraftSqlShim.ofRows(
      left.sparkSession,
      graft.plans.AsOfJoinNode(
        lp, rp,
        keys.map(attr(lp, _)), keys.map(k => attr(rp, rPrefix + k)),
        attr(lp, tsCol), attr(rp, rPrefix + tsCol)))
  }
}
