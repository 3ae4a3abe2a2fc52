package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, BindReferences, Expression,
  GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Whole-operator AS-OF join — tier (c) of the extension preference
  * order: a custom logical node ([[AsOfJoinNode]]), planned by an
  * injected strategy ([[AsOfJoinStrategy]], registered through
  * [[GraftExtensions]]) into a custom physical operator
  * ([[AsOfJoinExec]]).
  *
  * Semantics (identical to the composed [[graft.ops.AsOfJoin.lastPrior]],
  * which re-expresses the reference's "latest reading at or before the
  * moment of interest" lookup — the arrival-ordered first/last
  * discipline of `/root/reference/src/utils.rs:64-71` — as a join): for
  * every left row, attach the right row with the greatest
  * `(rightTs, tie-columns)` among rows with the same key and
  * `rightTs <= leftTs`; all-null right side when no such row exists.
  * NULL keys and NULL timestamps never match (on either side), matching
  * both the composed form (its window never carries a payload across
  * keys; null-ts right rows have their payload explicitly nullified so
  * `last(..., ignoreNulls)` skips them) and SQL join-key conventions.
  *
  * Why a physical operator when (a)-composition exists: the composed
  * form UNIONS both sides through one exchange — every right row is
  * padded to the full left schema plus the payload struct, every left
  * row carries a null payload column, and a window operator buffers an
  * unbounded-preceding frame per key on the far side. This operator
  * shuffles each side with ONLY its own columns and replaces the
  * window's frame-buffering with a single forward-merge pointer per
  * partition — O(1) state, no frame materialization, no
  * `last(ignoreNulls)` scan over the frame. Measured at sf0.1
  * (BASELINE.md "Round-10 continuation"): 0.85–0.90× the composed form's
  * shuffle bytes at identical shuffled row counts (UnsafeRow nulls are
  * fixed-width, so schema-padding is cheaper than it looks; the byte
  * gap widens when the payload struct duplicates wide columns), and
  * ~1.7× faster on the join stages from dropping the window operator.
  * The O(1)-state merge is also what survives skew: one hot key costs
  * a sorted-run scan, never a window frame in memory.
  *
  * Scale posture: `requiredChildDistribution` is the same
  * co-partitioning contract as SortMergeJoin — EnsureRequirements
  * inserts hash exchanges on the keys (or reuses existing compatible
  * partitioning: a bucketed layout on the key makes this operator
  * shuffle-free), AQE coalesces both sides' shuffles consistently
  * exactly as it does for SMJ. The merge is streaming: no
  * per-partition materialization, `O(1)` carried state, spill pressure
  * identical to SMJ's sorted-run scan.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    strict: Boolean = false)
  extends BinaryNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join needs at least one equi-key on each side")
  // type mismatches must fail at plan build, not compare boxed values
  // of different runtime classes mid-merge (self-review hardening)
  require(leftKeys.zip(rightKeys).forall {
      case (a, b) => a.dataType == b.dataType },
    s"as-of join key types differ: ${leftKeys.map(_.dataType.sql)} vs " +
      s"${rightKeys.map(_.dataType.sql)}")
  require(leftTs.dataType == rightTs.dataType,
    s"as-of join ts types differ: ${leftTs.dataType.sql} vs " +
      s"${rightTs.dataType.sql}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** One output row per left row (right columns appended) — so size ≈
    * |left| × (combined row width) ≈ left bytes + right bytes as an
    * upper bound. Without this override the stats visitor's `default`
    * MULTIPLIES the children's sizes (the cartesian worst case for an
    * unknown binary node), which poisons every downstream
    * broadcast-join decision: an as-of output small enough to
    * broadcast would never be, because the planner believes it is
    * |L|·|R| bytes (AsOfJoinNativeSpec pins the broadcast). */
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes,
      rowCount = left.stats.rowCount)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] 1:1 into [[AsOfJoinExec]]. Injected via
  * `SparkSessionExtensions.injectPlannerStrategy` — extension
  * strategies run before the built-ins, so the node never falls
  * through to Spark's planner (which would fail on an unknown node). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, strict) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r), strict) :: Nil
    case _ => Nil
  }
}

/** Sorted-merge AS-OF join executor.
  *
  * Children arrive co-partitioned on the keys (EnsureRequirements) and
  * sorted by `(keys, ts)` — the right side additionally by its
  * remaining columns, which pins the tie rule "greatest
  * `(ts, other columns in output order)` wins" deterministically on
  * every run (the composed form's struct-ordered `last` — same rule,
  * same results; [[graft.AsOfJoinNativeSpec]] asserts row equality).
  * Each partition then runs a two-pointer forward merge: left rows
  * stream in order, a single lookahead pointer consumes right rows up
  * to the current left `(key, ts)`, and the latest eligible right row
  * is carried as the match. Per left row: one key projection, O(1)
  * comparisons amortized (each right row is consumed exactly once),
  * two retained row copies only when the pointer advances.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    left: SparkPlan,
    right: SparkPlan,
    strict: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Right tie-break columns: every ORDERABLE right output column not
    * already in the sort prefix, in output order. Non-orderable columns
    * (maps) are excluded — they cannot appear in a SortOrder, so a right
    * side carrying one would otherwise fail to plan; the tie rule then
    * covers the orderable columns only (two right rows identical on key,
    * ts and every orderable column but differing in a map tie
    * nondeterministically — the documented residual, same as any SQL
    * engine's order-by-all-orderable determinism). Wide right sides pay
    * the full-row sort key this implies; project the right side first
    * if that cost shows up. */
  private def rightTieCols: Seq[Attribute] = {
    val prefixed = AttributeSet(rightKeys.flatMap(_.references)) ++
      AttributeSet(rightTs.references)
    right.output.filterNot(prefixed.contains)
      .filter(a => RowOrdering.isOrderable(a.dataType))
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    ((rightKeys :+ rightTs) ++ rightTieCols).map(SortOrder(_, Ascending)))

  // one output row per left row, in left order, left partitioning —
  // downstream sorts/exchanges on left-derived keys can be elided
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val lt = leftTs
    val rt = rightTs
    val st = strict
    val keyTypes = leftKeys.map(_.dataType)
    val outTypes = output.map(_.dataType).toArray
    val lrdd = left.execute()
    val rrdd = right.execute()
    require(lrdd.getNumPartitions == rrdd.getNumPartitions,
      s"as-of join children must be co-partitioned " +
        s"(${lrdd.getNumPartitions} vs ${rrdd.getNumPartitions})")
    lrdd.zipPartitions(rrdd, preservesPartitioning = true) { (lIter, rIter) =>
      new AsOfMergeIterator(
        lIter, rIter, lk, rk, lt, rt, lOut, rOut, keyTypes, outTypes, st)
    }
  }
}

/** The per-partition forward merge (see [[AsOfJoinExec]]). Both inputs
  * sorted; emits exactly one joined row per left row. Retained rows
  * (the carried match, its key) are copied — iterator rows are reused
  * buffers; the lookahead row is held only until consumed or discarded,
  * during which no further `next()` touches its buffer. */
private[plans] final class AsOfMergeIterator(
    lIter: Iterator[InternalRow],
    rIter: Iterator[InternalRow],
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    lOut: Seq[Attribute],
    rOut: Seq[Attribute],
    keyTypes: Seq[DataType],
    outTypes: Array[DataType],
    strict: Boolean = false)
  extends Iterator[InternalRow] {

  private val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
  private val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
  private val ltBound = BindReferences.bindReference(leftTs, lOut)
  private val rtBound = BindReferences.bindReference(rightTs, rOut)
  private val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
  private val tsOrd = AsOfMergeIterator.orderingFor(leftTs.dataType)
  private val nullRight = new GenericInternalRow(rOut.size)
  private val joined = new JoinedRow
  private val resultProj = UnsafeProjection.create(outTypes)

  // lookahead: the next right row whose (key, ts) has NOT yet been
  // reached by the left cursor. NOT copied — its buffer is untouched
  // until the next rIter.next(), which happens only after consumption.
  private var rNext: InternalRow = _
  private var rNextKey: UnsafeRow = _
  private var rNextTs: Any = _
  // the latest eligible right row seen, and its key (both copies)
  private var matched: InternalRow = _
  private var matchedKey: UnsafeRow = _

  override def hasNext: Boolean = lIter.hasNext

  override def next(): InternalRow = {
    val l = lIter.next()
    val lKey = lKeyProj(l)
    val lTs = ltBound.eval(l)
    var m: InternalRow = null
    if (!lKey.anyNull && lTs != null) {
      advanceTo(lKey, lTs)
      if (matched != null && keyOrd.compare(matchedKey, lKey) == 0) m = matched
    }
    resultProj(joined(l, if (m == null) nullRight else m))
  }

  /** Consume right rows up to and including (lKey, lTs); the last one
    * consumed with key == lKey becomes the carried match. */
  private def advanceTo(lKey: UnsafeRow, lTs: Any): Unit = {
    var continue = true
    while (continue) {
      if (rNext == null) {
        if (rIter.hasNext) {
          val r = rIter.next()
          val k = rKeyProj(r)
          if (!k.anyNull) {
            val ts = rtBound.eval(r)
            if (ts != null) { rNext = r; rNextKey = k; rNextTs = ts }
          } // null key / null ts: never matches anything — skip
        } else continue = false
      } else {
        val c = keyOrd.compare(rNextKey, lKey)
        if (c < 0) {
          rNext = null // left cursor is past this key for good
        } else if (c == 0 &&
            (if (strict) tsOrd.lt(rNextTs, lTs) else tsOrd.lteq(rNextTs, lTs))) {
          matched = rNext.copy()
          matchedKey = rNextKey.copy()
          rNext = null
        } else {
          continue = false // lookahead is beyond the current left row
        }
      }
    }
  }
}

private[plans] object AsOfMergeIterator {

  /** Total ascending ordering over non-null runtime values of the
    * timestamp column's type (nulls are filtered before comparison). */
  def orderingFor(dt: DataType): Ordering[Any] = (dt match {
    case TimestampType | TimestampNTZType | LongType => Ordering.Long
    case IntegerType | DateType                      => Ordering.Int
    case ShortType                                   => Ordering.Short
    case ByteType                                    => Ordering.Byte
    case DoubleType => Ordering.Double.TotalOrdering
    case FloatType  => Ordering.Float.TotalOrdering
    case _: StringType | _: DecimalType =>
      new Ordering[Any] {
        override def compare(a: Any, b: Any): Int =
          a.asInstanceOf[Comparable[Any]].compareTo(b)
      }
    case other =>
      throw new UnsupportedOperationException(
        s"as-of join: unsupported timestamp column type ${other.sql}")
  }).asInstanceOf[Ordering[Any]]
}
