package org.apache.spark.sql.graft

import org.apache.spark.{RangePartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, BinaryNode => LogicalBinaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator custom plan for the as-of (step-function) lookup —
  * SURVEY.md §2.3 J11 / §2.5 W8 (reference:
  * cosmo/monitors/telemetry_monitors.py:428–457 `step_wise`).
  *
  * Semantics (left as-of join): for every probe row, the value of the
  * most recent quote with `quote.time <= probe.time` within the same
  * key group; probes with no such quote get null. Identical to
  * `Relational.asOfLookup`'s union+window formulation (equivalence
  * pinned in AsOfJoinSpec; both certified against DuckDB's ASOF JOIN).
  * Duplicate quotes at the same (key, time) make the chosen value
  * order-dependent — in this operator AND in the window/DuckDB
  * formulations alike; dedupe quotes per (key, time) first when the
  * source allows duplicates.
  *
  * Why a custom operator: the window formulation unions probes and
  * quotes and sorts the COMBINED stream once per key — 2× the rows
  * through the sort, plus the union's column-padding. This node declares
  * the join's true requirements (hash-cluster each side on the key, sort
  * each side by (key, time)) and then does a linear per-partition merge:
  * Spark's existing Exchange/Sort machinery provides the heavy lifting,
  * the operator itself is O(n) with no buffering beyond one lookahead
  * quote. At 100 TB each side shuffles once on the key — the minimum —
  * and skew is AQE's problem, same as any shuffled join.
  *
  * The node runs through `doExecute` only and has no whole-stage-codegen
  * path of its own: Spark's collapse rule still fuses each child's sort
  * and the parent's filters/projects into their own stages, and the
  * merge runs between them as a row iterator ([[AsOfMerge]]).
  *
  * The stack: [[AsOfJoinPlan]] (logical) → [[AsOfJoinStrategy]]
  * (planner) → [[AsOfJoinExec]] (physical), registered through
  * `SparkSessionExtensions.injectPlannerStrategy` (GraftExtensions).
  *
  * Skew caveat: AQE's skew mitigation (OptimizeSkewedJoin) only rewrites
  * the built-in join execs, so a pathologically hot key lands in one
  * partition here — same as any custom shuffled operator. The mitigation
  * is upstream salting (split the hot key's probes across salt buckets
  * and replicate its quotes per bucket), exactly as for the salted
  * equi-join in Relational.saltedJoin.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightValues: Seq[Expression], outAttrs: Seq[AttributeReference])
  extends LogicalBinaryNode {

  override def output: Seq[Attribute] = left.output ++ outAttrs

  // outAttrs are produced BY this node — without this they would count as
  // references and CheckAnalysis would flag them missing from the children
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, rvs, outs) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rvs, outs) :: Nil
    case _ => Nil
  }
}

/** Per-partition merge worker for the KEYED as-of join, run by
  * [[AsOfJoinExec.doExecute]]. One instance per partition, built on the
  * executor (its projections and orderings compile there); `process`
  * must see probes in (key, time) order and pulls quotes from `qIter`
  * as it goes. */
final class AsOfMerge(
    lk: Seq[Expression], rk: Seq[Expression],
    lt: Expression, rt: Expression, rvs: Seq[Expression],
    lOut: Seq[Attribute], rOut: Seq[Attribute]) {
  private val nKeys = lk.length
  private val nVals = rvs.length
  private val keyTypes = lk.map(_.dataType)
  private val valTypes = rvs.map(_.dataType)
  // Codegen-tuned merge: each side is flattened by ONE generated
  // UnsafeProjection — probes to (keys..., time), quotes to
  // (keys..., time, vals...) — so the per-row work inside the loop is
  // compiled projections, compiled comparators over aligned ordinals
  // (the key/time prefix has the same ordinals on both shapes), and
  // ZERO copies: the quote-side buffers rotate instead (see rProjs).
  // No boxed eval(), no per-field allocation, no GenericInternalRow
  // rebuild, no per-row allocation at all.
  private val lProj = UnsafeProjection.create(lk :+ lt, lOut)
  // THREE quote-side projection instances, each with its own result
  // buffer, rotated so the lookahead quote and the retained (as-of
  // candidate) quote stay valid without any per-row copy: at any moment
  // one buffer holds qRow, one holds lastRow (or aliases qRow right
  // after a consume), and the third takes the next projection. Identical
  // expressions → one codegen'd class, three buffer instances.
  private val rProjs = Array.fill(3)(
    UnsafeProjection.create((rk :+ rt) ++ rvs, rOut))
  // compare (keys..., time): Ascending/NullsFirst matches the merge
  // condition — an earlier key consumes regardless of time, the same
  // key consumes while quote.time <= probe.time, and a null probe
  // time sorts before every (pre-filtered, non-null) quote time so
  // it consumes nothing at its own key
  private val keyTimeOrd = codegen.GenerateOrdering.generate(
    (keyTypes :+ lt.dataType).zipWithIndex.map { case (dt, i) =>
      SortOrder(BoundReference(i, dt, nullable = true), Ascending) })
  private val keyOrd = codegen.GenerateOrdering.generate(
    keyTypes.zipWithIndex.map { case (dt, i) =>
      SortOrder(BoundReference(i, dt, nullable = true), Ascending) })
  // output = probe row ++ value fields of the retained quote row,
  // read through one JoinedRow: vals sit at ordinal nKeys+1+i of the
  // right shape, i.e. lOut.size + nKeys + 1 + i of the joined row
  private val resultProj = UnsafeProjection.create(
    lOut.indices.map(i => BoundReference(i, lOut(i).dataType, lOut(i).nullable)) ++
      valTypes.zipWithIndex.map { case (dt, i) =>
        BoundReference(lOut.size + nKeys + 1 + i, dt, nullable = true) })
  private val nullQuote: InternalRow = new GenericInternalRow(nKeys + 1 + nVals)
  private val joined = new JoinedRow

  // lookahead quote and the most recently consumed quote (the as-of
  // candidate), each pointing at one of the rotated projection buffers
  private var qRow: InternalRow = null
  private var qHas = false
  private var started = false
  private var lastRow: InternalRow = null
  private var hasLast = false
  private var qIdx = -1     // buffer holding qRow
  private var lastIdx = -1  // buffer holding lastRow
  private var freeIdx = 0   // buffer for the next projection

  private def keysNull(row: InternalRow): Boolean = {
    var i = 0
    while (i < nKeys) { if (row.isNullAt(i)) return true; i += 1 }
    false
  }

  private def pickFree(): Int = {
    var i = 0
    while (i == qIdx || i == lastIdx) i += 1
    i
  }

  // Quotes with a null key component — or a null time — are skipped
  // outright: SQL semantics, null keys match nothing and
  // `probe.time >= null` is never true. Both sort first under the
  // required ordering, so skipping upfront is consistent (a retained
  // null-time quote would otherwise never be consumed and block every
  // later quote of its key). A rejected quote reuses the same free
  // buffer; only an accepted lookahead rotates it.
  private def advance(qIter: Iterator[InternalRow]): Unit = {
    qHas = false
    while (!qHas && qIter.hasNext) {
      val q = rProjs(freeIdx)(qIter.next())
      if (!q.isNullAt(nKeys) && !keysNull(q)) {
        qRow = q
        qIdx = freeIdx
        freeIdx = pickFree()
        qHas = true
      }
    }
  }

  /** The as-of result row for one probe. The returned UnsafeRow is a
    * reused buffer — copy before buffering. */
  def process(p: InternalRow, qIter: Iterator[InternalRow]): UnsafeRow = {
    if (!started) { advance(qIter); started = true }
    val pRow = lProj(p)
    if (keysNull(pRow)) {
      // null probe key matches no quote (SQL equi-join semantics)
      resultProj(joined(p, nullQuote))
    } else {
      // consume quotes at earlier keys, or same key with time <=
      // probe time (a quote AT the probe time counts — reference
      // step_wise)
      // consuming aliases lastRow onto qRow's buffer; freeIdx already
      // excludes it, so the next projection cannot clobber the candidate
      while (qHas && keyTimeOrd.compare(qRow, pRow) <= 0) {
        lastRow = qRow; lastIdx = qIdx; hasLast = true
        advance(qIter)
      }
      resultProj(joined(p,
        if (hasLast && keyOrd.compare(lastRow, pRow) == 0) lastRow
        else nullQuote))
    }
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightValues: Seq[Expression], outAttrs: Seq[AttributeReference])
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  // hash-cluster both sides on the key (EnsureRequirements inserts the
  // exchanges and makes the partition counts compatible, exactly as for
  // a sort-merge join). With NO keys (global as-of) hash clustering is
  // meaningless — the exec range-partitions both sides by time itself
  // (see executeGlobal), so it requires nothing of its children.
  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // sort each side by (key, time); EnsureRequirements inserts the sorts
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (leftKeys.isEmpty) Seq(Nil, Nil)
    else Seq(
      (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // probes pass through in order, so downstream can reuse both; the
  // global path re-partitions internally, so it can only promise the
  // intra-partition time order, not a recognizable partitioning
  override def outputPartitioning: Partitioning =
    if (leftKeys.isEmpty)
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0)
    else left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  /** Retain a value across iterator steps (unsafe buffers are reused). */
  private def retained(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case r: InternalRow => r.copy()
    case x => x
  }

  private def validateTypes(): Unit = {
    require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
      "as-of join key types must match on both sides")
    require(rightTime.dataType == leftTime.dataType,
      "as-of join time types must match on both sides")
  }

  protected override def doExecute(): RDD[InternalRow] = {
    if (leftKeys.isEmpty) return executeGlobal()
    validateTypes()
    val (lk, rk, lt, rt, rvs) = (leftKeys, rightKeys, leftTime, rightTime, rightValues)
    val (lOut, rOut) = (left.output, right.output)
    left.execute().zipPartitions(right.execute()) { (pIter, qIter) =>
      val merge = new AsOfMerge(lk, rk, lt, rt, rvs, lOut, rOut)
      pIter.map(p => merge.process(p, qIter))
    }
  }

  /** Global (unkeyed) as-of: every probe sees ONE step function over all
    * quotes. Hash clustering cannot express this — the scalable layout is
    * a RANGE partitioning by time, shared by both sides:
    *
    *   1. sample the probes once to build a `RangePartitioner` on time
    *      (nulls first), and shuffle+sort BOTH sides with it — same
    *      boundaries, so each partition holds a contiguous time slice;
    *   2. one tiny job collects the last quote of each quote partition
    *      (one `(time, value)` per partition to the driver); a prefix
    *      scan turns those into the seed each partition starts from — the
    *      as-of value carried across the boundary;
    *   3. per partition, the same O(n) merge as the keyed path.
    *
    * Work per side is one shuffle + one sort — identical asymptotics to
    * the keyed path, with no single-partition bottleneck (the window
    * formulation of an unkeyed as-of degenerates to exactly that). Null
    * probe times sort first and match nothing; null quote times are
    * dropped on the map side.
    *
    * Like Spark's own range exchange (global orderBy), the sampling job
    * evaluates the probe child once before the shuffle re-evaluates it —
    * persist an expensive probe subplan upstream if that double
    * evaluation matters. The quote child's map stage runs once; its
    * shuffle output is reused by the seed job and the merge. */
  private def executeGlobal(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lt = leftTime; val rt = rightTime; val rvs = rightValues
    val timeType = leftTime.dataType
    require(rightTime.dataType == timeType,
      "as-of join time types must match on both sides")
    val out = output
    val outs = outAttrs
    val nVals = rvs.length

    val base = TypeUtils.getInterpretedOrdering(timeType)
    implicit val ord: Ordering[Any] = new Ordering[Any] with Serializable {
      override def compare(a: Any, b: Any): Int =
        if (a == null) { if (b == null) 0 else -1 }
        else if (b == null) 1
        else base.compare(a, b)
    }

    val lPairs: RDD[(Any, InternalRow)] = left.execute().mapPartitions { it =>
      val tBound = BindReferences.bindReference(lt, AttributeSeq(lOut))
      it.map { r => (retained(tBound.eval(r)), r.copy()) }
    }
    val qPairs: RDD[(Any, Array[Any])] = right.execute().mapPartitions { it =>
      val tBound = BindReferences.bindReference(rt, AttributeSeq(rOut))
      val vBounds = rvs.map(BindReferences.bindReference(_, AttributeSeq(rOut))).toArray
      it.flatMap { r =>
        val t = tBound.eval(r)
        if (t == null) Iterator.empty
        else Iterator.single((retained(t),
          Array.tabulate(nVals)(i => retained(vBounds(i).eval(r)))))
      }
    }

    val part = new RangePartitioner[Any, InternalRow](
      conf.numShufflePartitions, lPairs, ascending = true)
    val lShuffled = new ShuffledRDD[Any, InternalRow, InternalRow](lPairs, part)
      .setKeyOrdering(ord)
    val qShuffled = new ShuffledRDD[Any, Array[Any], Array[Any]](qPairs, part)
      .setKeyOrdering(ord)

    // last quote per quote-partition (≤ one pair per partition to the
    // driver), prefix-scanned into the seed each partition starts from
    val lasts: Array[Option[(Any, Array[Any])]] = qShuffled
      .mapPartitionsWithIndex { (i, it) =>
        var last: Option[(Any, Array[Any])] = None
        while (it.hasNext) last = Some(it.next())
        Iterator.single(i -> last)
      // collect-bound: one (key, row) pair per quote partition - numPartitions entries
      }.collect().sortBy(_._1).map(_._2)
    val seeds = new Array[Option[(Any, Array[Any])]](part.numPartitions)
    var carry: Option[(Any, Array[Any])] = None
    var i = 0
    while (i < part.numPartitions) {
      seeds(i) = carry
      if (i < lasts.length && lasts(i).isDefined) carry = lasts(i)
      i += 1
    }
    val seedsBc = sparkContext.broadcast(seeds)

    lShuffled.zipPartitions(qShuffled) { (pIter, qIter) =>
      val resultProj = UnsafeProjection.create(out, lOut ++ outs)
      val valRow = new GenericInternalRow(nVals)
      val joined = new JoinedRow
      var hasLast = false
      var lastVals: Array[Any] = null
      seedsBc.value(TaskContext.getPartitionId()).foreach { case (_, v) =>
        hasLast = true; lastVals = v
      }
      var qHas = false
      var qTime: Any = null
      var qVals: Array[Any] = null
      def advance(): Unit =
        if (qIter.hasNext) {
          val (t, v) = qIter.next(); qTime = t; qVals = v; qHas = true
        } else qHas = false
      advance()
      def emit(p: InternalRow, vals: Array[Any]): InternalRow = {
        var j = 0
        while (j < nVals) {
          valRow.update(j, if (vals == null) null else vals(j)); j += 1
        }
        resultProj(joined(p, valRow))
      }
      pIter.map { case (pTime, p) =>
        if (pTime == null) {
          emit(p, null)
        } else {
          while (qHas && ord.lteq(qTime, pTime)) {
            lastVals = qVals; hasLast = true; advance()
          }
          emit(p, if (hasLast) lastVals else null)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Dataset-API entry for the custom as-of join. `keys = Seq.empty` is the
  * GLOBAL as-of: one step function over all quotes, executed with a
  * shared range partitioning by time (see [[AsOfJoinExec.executeGlobal]])
  * instead of hash clustering — the formulation that survives scale,
  * where a window over an empty partitionBy would collapse to one task. */
object AsOfJoinApi {
  def asOf(probes: DataFrame, quotes: DataFrame, keys: Seq[String],
           timeCol: String, quoteVal: String, outCol: String): DataFrame =
    asOfMulti(probes, quotes, keys, timeCol, Seq(quoteVal), Seq(outCol))

  /** Multi-value form: carry several quote columns through one merge —
    * one shuffle+sort per side regardless of how many columns ride
    * along (vs one whole as-of join per column). */
  def asOfMulti(probes: DataFrame, quotes: DataFrame, keys: Seq[String],
                timeCol: String, quoteVals: Seq[String],
                outCols: Seq[String]): DataFrame = {
    require(quoteVals.nonEmpty && quoteVals.length == outCols.length,
      "quoteVals and outCols must be non-empty and the same length")
    val spark = probes.sparkSession
    // the planner must know the strategy in THIS session, however it was
    // built (withExtensions sessions already have it; this is idempotent)
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val l = probes.queryExecution.analyzed
    // fresh exprIds on the right side: probes and quotes often derive
    // from the same relation, and duplicate attribute ids across the two
    // children would be ambiguous
    val r0 = quotes.queryExecution.analyzed
    val r = org.apache.spark.sql.catalyst.plans.logical.Project(
      r0.output.map(a => Alias(a, a.name)()), r0)
    def att(output: Seq[Attribute], n: String): Attribute =
      output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found in ${output.map(_.name).mkString(", ")}"))
    val rOut = r.output.asInstanceOf[Seq[Attribute]]
    val valueAttrs = quoteVals.map(att(rOut, _))
    val plan = AsOfJoinPlan(
      l, r,
      keys.map(att(l.output, _)), keys.map(att(rOut, _)),
      att(l.output, timeCol), att(rOut, timeCol),
      valueAttrs,
      outCols.zip(valueAttrs).map { case (n, a) =>
        AttributeReference(n, a.dataType, nullable = true)()
      })
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }
}
