package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{UniqSketch, UniqSketchCodec, UniqSketchState}

/** Specialized two-stage physical aggregation for `uniq`-sketch
  * GROUP BYs — the reference's Aggregator key-type specialization
  * (dbms/src/Interpreters/Aggregator.cpp:112-221 picks a typed hash
  * table per key layout; AggregateFunctionUniq.h does raw per-row
  * sketch inserts) restated as a Catalyst Strategy + SparkPlan pair.
  *
  * Spark plans TypedImperativeAggregate GROUP BYs as
  * ObjectHashAggregateExec, whose per-row path costs ~700 ns at 32
  * threads on the bench43 q9 shape (profiled): an UnsafeRow grouping
  * projection, a LinkedHashMap probe via UnsafeRow.hashCode/equals,
  * and two megamorphic lambda dispatches — the sketch insert itself
  * is 11% of samples. This operator replaces that path for the
  * narrow shape it owns:
  *
  *   Aggregate(0-2 plain keys of integral/string type,
  *             aggs ⊆ {uniq(col), any(col), count(), count(col),
  *                     sum(int-ish), avg(int-ish)})
  *
  * admitted when ≥1 agg carries object state (the generic plan would
  * be ObjectHashAggregateExec) or, for plain count/sum/avg shapes,
  * when a 64-bit or string group key makes high NDV likely (see
  * [[SketchAgg.eligible]]),
  *
  * with a typed open-addressing map (long/UTF8String keys, no
  * UnsafeRow materialization) over column-striped aggregate state.
  * Partial stage emits one row per group with the sketch in its wire
  * codec (the same UniquesHashSet layout the shuffle always carried);
  * final stage merges per shuffle partition. Results are
  * BIT-IDENTICAL to the ObjectHashAggregate plan: same sketch, same
  * order-independent merge, same null semantics (uniq/sum/avg/count(c)
  * skip NULLs; sum/avg of no rows is NULL), same Spark Average
  * double-sum accumulation.
  *
  * Scale shape: identical to Spark's own partial→shuffle→final hash
  * aggregation (map-side combine, one keyed exchange, per-group state
  * ≤ 256 KB by sketch construction). The partial map is bounded: at
  * [[SketchAgg.PartialFlushGroups]] in-memory groups it emits and
  * resets (Spark's partial-agg spill analog), so driver-less skew or
  * high-NDV keys cannot OOM a task. */
object SketchAgg {
  /** Partial stage emits-and-resets at this many in-memory groups.
    * Mutable for tests only (flush-window pin). */
  @volatile private[graft] var PartialFlushGroups: Int = 1 << 20
  /** Final stage falls back to sort-based merge (UnsafeKVExternalSorter,
    * the same machinery ObjectHashAggregateExec falls back to) past
    * this many in-memory groups per shuffle partition — an unbounded
    * final map would OOM a task on adversarial NDV (millions of
    * groups × up-to-256KB sketch states). Mutable for tests only. */
  @volatile private[graft] var FinalMaxGroups: Int = 4 << 20
  /** Initial per-partition table size (slots). */
  val InitialSlots: Int = 1 << 12
  /** Kill switch, also used by specs to obtain the generic-plan
    * baseline for bit-identical comparison. */
  @volatile private[graft] var enabled: Boolean = true

  /** Adaptive partial-agg bypass — ClickHouse's answer to high-NDV
    * GROUP BY keys (two-level table conversion + WithMergeableState
    * streaming, Interpreters/Aggregator.h:736-744) restated for
    * Spark's partial/final split: each partial task aggregates its
    * first [[BypassSampleRows]] rows through the map normally; if
    * nearly every sampled row opened a NEW group (groups/rows ≥
    * [[BypassRatio]]), the map is futile — one candidate row per key
    * means the exchange shrinks by ~nothing while every row still pays
    * hash+probe+insert+rehash. The task then stops hashing entirely
    * and streams each remaining row into the exchange as a ONE-ROW
    * partial through a single codegen'd projection (no interpreted
    * readers, no map). Low-NDV and skewed shapes never trigger (their
    * sample hit rate is high), so map-side combine is preserved
    * exactly where it pays. Decision is per task — a skewed partition
    * keeps its map while a high-NDV one streams. Rows each partial
    * task aggregates before deciding; mutable for tests and the
    * oracle run (re-sample and bypass pins at small scale). */
  @volatile private[graft] var BypassSampleRows: Int = 1 << 16
  /** groups/sampledRows at or above this ⇒ stream instead of hash. */
  val BypassRatio: Double = 0.7
  /** A bypassing task re-samples after streaming this many rows: a
    * partition whose first window is high-NDV but whose TAIL is
    * repetitive (clustered-prefix shape — e.g. data sorted so new keys
    * front-load) must not stream rows/groups partials forever. The
    * re-check costs one 64k-row map window per [[BypassRecheckRows]]
    * streamed (<1% overhead) and mirrors the reference's per-block
    * conversion decision, which keeps re-evaluating as blocks arrive
    * (Interpreters/Aggregator.h:736-744). Mutable for tests only. */
  @volatile private[graft] var BypassRecheckRows: Long = 8L << 20

  /** Max group-key arity admitted (see the note in [[eligible]]). */
  val MaxKeys: Int = 2

  /** Packed exchange — keyed shapes ship BLOCKS, not rows (the
    * reference's Block-granular pipeline: partial states travel as
    * columns of a block, DataStreams/IBlockInputStream.h, not as
    * per-row messages). Profiling at 100M rows (r16) attributed ~65%
    * of the heavy-class task time to per-RECORD exchange overhead:
    * 100M one-row partials cost ~410 ns each to shuffle-write and a
    * similar fetch+deserialize on the final side, while the actual
    * merge compute was ~5 s of 107 s. With packing, each partial task
    * appends its output rows (map-emitted AND bypass-streamed) into
    * per-bucket byte buffers — bucket = hash(key) % [[PackBuckets]] —
    * and emits ONE (bucket, blob) row per [[PackFlushBytes]] window,
    * so the per-record cost amortizes ~10⁴×. The final stage unpacks
    * sub-rows (same payload schema, same ordinals) and merges exactly
    * as before; bucket count ≫ shuffle partitions keeps reduce skew
    * at balls-in-bins ±few-% without per-task buffers exceeding
    * PackBuckets × PackFlushBytes. Keyless (global) aggregation emits
    * one row per task and is never packed.
    *
    * Bucket fan-out is fixed, independent of shuffle partitions — the
    * exchange hashes the bucket id again, so many small buckets spread
    * evenly over any partition count, including AQE coalescing. */
  val PackBuckets: Int = 1024
  /** Per-bucket blob flush threshold (bytes). */
  val PackFlushBytes: Int = 64 << 10

  /** count(*) spelled as count(non-null literal) — count(NULL) is NOT
    * a row count (it is 0) and must fall through to the null-checked
    * Count arm in every path that special-cases literal children. */
  private[operators] object CountStar {
    def unapply(f: AggregateFunction): Boolean = f match {
      case Count(Seq(l: Literal)) => l.value != null
      case _ => false
    }
  }

  /** Non-Expression holder: keeps the final stage's aggregate
    * functions out of TreeNode's expression traversal — their INPUT
    * references (already consumed by the partial stage) would
    * otherwise count as missing input on the final node. */
  final case class AggList(aggs: Seq[AggregateExpression])

  private[operators] def supportedKeyType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        StringType => true
    case _ => false
  }

  private def intish(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType => true
    case _ => false
  }

  private def cleanExpr(e: Expression): Boolean =
    e.deterministic && e.find(_.isInstanceOf[PlanExpression[_]]).isEmpty

  /** Is this PhysicalAggregation shape ours?
    *
    * Two admitted shapes:
    *  - ≥1 object-state aggregate (uniq sketch or any()): the generic
    *    plan is ObjectHashAggregateExec, whose per-row path this
    *    operator beats outright (see header).
    *  - zero object-state (plain count/sum/avg) IF at least one group
    *    key is a 64-bit integer or a string: the generic plan is
    *    codegen HashAggregate, which wins at low NDV (its vectorized
    *    fast map covers ≤2^16 groups), but 64-bit identifier keys
    *    (UserID, WatchID, ClientIP in the reference schema) and URL-
    *    class strings are exactly the unbounded-domain keys where the
    *    UnsafeRow map's probe cost and growth dominate — the
    *    reference's Aggregator picks a typed UInt64 or string table
    *    there (dbms/src/Interpreters/Aggregator.h:691). Narrow int keys
    *    stay with codegen HashAggregate.
    *
    * Sum/Average are admitted under LEGACY and ANSI eval modes (the
    * states raise on Long overflow in ANSI, matching the generic
    * plan); TRY mode is not ours. */
  private[operators] def eligible(
      grouping: Seq[NamedExpression],
      aggs: Seq[AggregateExpression]): Boolean = {
    // ≤MaxKeys. GroupKeyMap is arity-generic; raising to 3 for the
    // bench q19 shape (UserID, minute, SearchPhrase) was MEASURED A
    // LOSS at 100M in r15 (SketchAgg 13.6–140 s vs codegen's stable
    // 9–13 s) — root cause was the FINAL map cloning a UTF8String per
    // group (~90M groups, allocation/GC storm). r16 replaced the clones
    // with a byte arena and the exchange with packed blobs; the limit
    // stays at 2 until a paired run shows 3 keys winning.
    val keysOk = grouping.length <= MaxKeys && grouping.forall { k =>
      supportedKeyType(k.dataType) && cleanExpr(k)
    }
    def objectState(f: AggregateFunction): Boolean = f match {
      case u: UniqSketch => !u.asState && !u.trivial
      case _: graft.functions.ChAny => true
      case _ => false
    }
    def modeOk(m: EvalMode.Value): Boolean =
      m == EvalMode.LEGACY || m == EvalMode.ANSI
    def fnOk(e: AggregateExpression): Boolean =
      !e.isDistinct && e.filter.isEmpty &&
        e.aggregateFunction.children.forall(cleanExpr) &&
        (e.aggregateFunction match {
          case u: UniqSketch => !u.asState && !u.trivial
          case _: graft.functions.ChAny => true
          case Count(Seq(_)) => true
          case Sum(c, ctx) => intish(c.dataType) && modeOk(ctx.evalMode)
          case Average(c, m) => intish(c.dataType) && modeOk(m)
          case _ => false
        })
    val shapeOk = keysOk && aggs.nonEmpty && aggs.forall(fnOk)
    // Zero-object shapes are admitted where the adaptive bypass
    // protects them: a 64-bit or string key at high NDV is exactly
    // where codegen HashAggregate's partial map is futile (r14 measured
    // the typed MAP alone losing to codegen on these full scans — the
    // bypass replaces the map with a streamed projection, changing the
    // economics). count/sum/avg all have singleton forms, so the bypass
    // is always available for this shape. String keys were measured at
    // 100M in r17 (5 interleaved pairs per query): q34 won 5/5 pairs
    // (min 3.56 vs 5.17 s), q35 4/5 (3.24 vs 5.47), q13 4/5 (0.98 vs
    // 1.11), moving the GROUP-BY-URL class from ~2.2–2.4× of the
    // reference baseline to ~1.0–1.1×.
    def keyedOk = grouping.exists(k =>
      k.dataType == LongType || k.dataType == StringType)
    shapeOk && (aggs.exists(e => objectState(e.aggregateFunction)) || keyedOk)
  }
}

/** Plans the eligible Aggregate shape as Partial→(exchange)→Final.
  * Over a one-partition input, [[SingleStream]] makes the pair one
  * [[CompleteSketchAggExec]] pass. */
object SketchAggStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(grouping, aggExprs, results, child)
        if SketchAgg.enabled && SketchAgg.eligible(grouping, aggExprs) =>
      val partial = PartialSketchAggExec(grouping, aggExprs, planLater(child))
      FinalSketchAggExec(grouping, SketchAgg.AggList(aggExprs), results,
        partial) :: Nil
    case _ => Nil
  }
}

/** Column-striped per-group state for one aggregate function.
  * `update` consumes input rows (partial), `mergeRow` consumes partial
  * rows (final); both address state by dense group index. */
private[operators] sealed trait AggState {
  def ensure(n: Int): Unit
  def update(idx: Int, row: InternalRow): Unit
  def mergeRow(idx: Int, row: InternalRow): Unit
  /** Value for the partial-output row. */
  def partialValue(idx: Int): Any
  /** Writes the partial-output column(s) at `ord` of `out`; returns the
    * ordinal after them. */
  def writePartial(idx: Int, out: InternalRow, ord: Int): Int = {
    out.update(ord, partialValue(idx)); ord + 1
  }
  /** Value for the final result row. */
  def resultValue(idx: Int): Any
  def reset(n: Int): Unit
  /** Zero ONE slot (sort-based final path reuses slot 0 per run). */
  def clear(idx: Int): Unit
}

private[operators] object AggState {
  /** ANSI-mode long add: overflow raises the same error class as the
    * codegen plan's Add(EvalMode.ANSI) — ARITHMETIC_OVERFLOW with a
    * try_sum hint — so callers matching on Spark error classes see
    * identical behavior to the generic HashAggregate plan. */
  @inline def ansiAddExact(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch {
      case _: ArithmeticException =>
        throw org.apache.spark.sql.graftbridge.Bridge
          .arithmeticOverflowError("long overflow", "try_sum")
    }

  final class UniqState(agg: UniqSketch, bufOrd: Int) extends AggState {
    private var s = new Array[UniqSketchState](64)
    def ensure(n: Int): Unit =
      if (n > s.length) s = java.util.Arrays.copyOf(s, math.max(n, s.length * 4))
    def update(idx: Int, row: InternalRow): Unit = {
      var st = s(idx)
      if (st == null) { st = new UniqSketchState; s(idx) = st }
      agg.update(st, row)
    }
    def mergeRow(idx: Int, row: InternalRow): Unit = {
      val other = UniqSketchCodec.read(row.getBinary(bufOrd))
      var st = s(idx)
      if (st == null) { s(idx) = other }
      else st.merge(other)
    }
    private def st(idx: Int): UniqSketchState = {
      if (s(idx) == null) s(idx) = new UniqSketchState
      s(idx)
    }
    def partialValue(idx: Int): Any = UniqSketchCodec.write(st(idx))
    def resultValue(idx: Int): Any = st(idx).estimate()
    def reset(n: Int): Unit = { s = new Array[UniqSketchState](64) }
    def clear(idx: Int): Unit = { s(idx) = null }
  }

  final class CountState(childOrd: Int, bufOrd: Int) extends AggState {
    // childOrd == -1: count(*) — no null check
    private var c = new Array[Long](64)
    def ensure(n: Int): Unit =
      if (n > c.length) c = java.util.Arrays.copyOf(c, math.max(n, c.length * 4))
    def update(idx: Int, row: InternalRow): Unit =
      if (childOrd < 0 || !row.isNullAt(childOrd)) c(idx) += 1
    def mergeRow(idx: Int, row: InternalRow): Unit =
      c(idx) += row.getLong(bufOrd)
    def partialValue(idx: Int): Any = c(idx)
    def resultValue(idx: Int): Any = c(idx)
    def reset(n: Int): Unit = { c = new Array[Long](64) }
    def clear(idx: Int): Unit = { c(idx) = 0L }
  }

  final class SumState(childOrd: Int, get: InternalRow => Long, bufOrd: Int,
      ansi: Boolean) extends AggState {
    private var s = new Array[Long](64)
    private var seen = new Array[Boolean](64)
    def ensure(n: Int): Unit = if (n > s.length) {
      val m = math.max(n, s.length * 4)
      s = java.util.Arrays.copyOf(s, m)
      seen = java.util.Arrays.copyOf(seen, m)
    }
    @inline private def add(idx: Int, v: Long): Unit = {
      s(idx) = if (ansi) AggState.ansiAddExact(s(idx), v) else s(idx) + v
      seen(idx) = true
    }
    def update(idx: Int, row: InternalRow): Unit =
      if (!row.isNullAt(childOrd)) add(idx, get(row))
    def mergeRow(idx: Int, row: InternalRow): Unit =
      if (!row.isNullAt(bufOrd)) add(idx, row.getLong(bufOrd))
    def partialValue(idx: Int): Any = if (seen(idx)) s(idx) else null
    def resultValue(idx: Int): Any = partialValue(idx)
    def reset(n: Int): Unit = { s = new Array[Long](64); seen = new Array[Boolean](64) }
    def clear(idx: Int): Unit = { s(idx) = 0L; seen(idx) = false }
  }

  /** any()/anyLast() — wraps the bound ChAny aggregate. */
  final class AnyState(agg: graft.functions.ChAny, bufOrd: Int) extends AggState {
    private var s = new Array[graft.functions.AnyBuf](64)
    def ensure(n: Int): Unit =
      if (n > s.length) s = java.util.Arrays.copyOf(s, math.max(n, s.length * 4))
    private def buf(idx: Int): graft.functions.AnyBuf = {
      if (s(idx) == null) s(idx) = agg.createAggregationBuffer()
      s(idx)
    }
    def update(idx: Int, row: InternalRow): Unit = agg.update(buf(idx), row)
    def mergeRow(idx: Int, row: InternalRow): Unit =
      agg.merge(buf(idx), agg.deserialize(row.getBinary(bufOrd)))
    def partialValue(idx: Int): Any = agg.serialize(buf(idx))
    def resultValue(idx: Int): Any = buf(idx).value
    def reset(n: Int): Unit = { s = new Array[graft.functions.AnyBuf](64) }
    def clear(idx: Int): Unit = { s(idx) = null }
  }

  /** count(expr) with a non-attribute child: count rows where the
    * bound expression is non-null. */
  final class CountExprState(bound: Expression, bufOrd: Int) extends AggState {
    private var c = new Array[Long](64)
    def ensure(n: Int): Unit =
      if (n > c.length) c = java.util.Arrays.copyOf(c, math.max(n, c.length * 4))
    def update(idx: Int, row: InternalRow): Unit =
      if (bound.eval(row) != null) c(idx) += 1
    def mergeRow(idx: Int, row: InternalRow): Unit =
      c(idx) += row.getLong(bufOrd)
    def partialValue(idx: Int): Any = c(idx)
    def resultValue(idx: Int): Any = c(idx)
    def reset(n: Int): Unit = { c = new Array[Long](64) }
    def clear(idx: Int): Unit = { c(idx) = 0L }
  }

  /** sum(expr) with a non-attribute int-ish child. */
  final class SumExprState(bound: Expression, bufOrd: Int, ansi: Boolean)
      extends AggState {
    private var s = new Array[Long](64)
    private var seen = new Array[Boolean](64)
    def ensure(n: Int): Unit = if (n > s.length) {
      val m = math.max(n, s.length * 4)
      s = java.util.Arrays.copyOf(s, m)
      seen = java.util.Arrays.copyOf(seen, m)
    }
    @inline private def add(idx: Int, v: Long): Unit = {
      s(idx) = if (ansi) AggState.ansiAddExact(s(idx), v) else s(idx) + v
      seen(idx) = true
    }
    def update(idx: Int, row: InternalRow): Unit = {
      val v = bound.eval(row)
      if (v != null) add(idx, v.asInstanceOf[Number].longValue())
    }
    def mergeRow(idx: Int, row: InternalRow): Unit =
      if (!row.isNullAt(bufOrd)) add(idx, row.getLong(bufOrd))
    def partialValue(idx: Int): Any = if (seen(idx)) s(idx) else null
    def resultValue(idx: Int): Any = partialValue(idx)
    def reset(n: Int): Unit = { s = new Array[Long](64); seen = new Array[Boolean](64) }
    def clear(idx: Int): Unit = { s(idx) = 0L; seen(idx) = false }
  }

  /** avg(expr) with a non-attribute int-ish child — Spark Average
    * double-sum semantics. */
  final class AvgExprState(bound: Expression, bufOrd: Int) extends AggState {
    private var s = new Array[Double](64)
    private var c = new Array[Long](64)
    def ensure(n: Int): Unit = if (n > s.length) {
      val m = math.max(n, s.length * 4)
      s = java.util.Arrays.copyOf(s, m)
      c = java.util.Arrays.copyOf(c, m)
    }
    def update(idx: Int, row: InternalRow): Unit = {
      val v = bound.eval(row)
      if (v != null) { s(idx) += v.asInstanceOf[Number].doubleValue(); c(idx) += 1 }
    }
    def mergeRow(idx: Int, row: InternalRow): Unit = {
      s(idx) += row.getDouble(bufOrd)
      c(idx) += row.getLong(bufOrd + 1)
    }
    def partialValue(idx: Int): Any = s(idx)
    override def writePartial(idx: Int, out: InternalRow, ord: Int): Int = {
      out.update(ord, s(idx)); out.setLong(ord + 1, c(idx)); ord + 2
    }
    def resultValue(idx: Int): Any =
      if (c(idx) == 0L) null else s(idx) / c(idx)
    def reset(n: Int): Unit = { s = new Array[Double](64); c = new Array[Long](64) }
    def clear(idx: Int): Unit = { s(idx) = 0.0; c(idx) = 0L }
  }

  /** Spark Average semantics exactly: DOUBLE running sum + long count
    * (bit-identical to the Average buffer), NULL on empty. */
  final class AvgState(childOrd: Int, get: InternalRow => Double, bufOrd: Int)
      extends AggState {
    private var s = new Array[Double](64)
    private var c = new Array[Long](64)
    def ensure(n: Int): Unit = if (n > s.length) {
      val m = math.max(n, s.length * 4)
      s = java.util.Arrays.copyOf(s, m)
      c = java.util.Arrays.copyOf(c, m)
    }
    def update(idx: Int, row: InternalRow): Unit =
      if (!row.isNullAt(childOrd)) { s(idx) += get(row); c(idx) += 1 }
    def mergeRow(idx: Int, row: InternalRow): Unit = {
      s(idx) += row.getDouble(bufOrd)
      c(idx) += row.getLong(bufOrd + 1)
    }
    def partialValue(idx: Int): Any = s(idx)
    override def writePartial(idx: Int, out: InternalRow, ord: Int): Int = {
      out.update(ord, s(idx)); out.setLong(ord + 1, c(idx)); ord + 2
    }
    def resultValue(idx: Int): Any =
      if (c(idx) == 0L) null else s(idx) / c(idx)
    def reset(n: Int): Unit = { s = new Array[Double](64); c = new Array[Long](64) }
    def clear(idx: Int): Unit = { s(idx) = 0.0; c(idx) = 0L }
  }
}

/** One-row aggregate states in their wire form — StaticInvoke targets
  * for the bypass projection (see [[SketchAgg.BypassSampleRows]]). Each
  * method produces exactly the bytes [[AggState.UniqState]] would emit
  * for a group that saw one row with the given value: UniquesHashSet
  * layout [skipDegree=0][varint count][32-bit hashes LE], hash =
  * intHash64(key).toInt with the same per-type key mapping as
  * [[UniqSketch.update]]. Must stay public: invoked from generated
  * code. */
object SingletonState {
  /** Zero-row sketch (the agg skipped a NULL): skipDegree 0, count 0. */
  val emptySketch: Array[Byte] = Array[Byte](0, 0)

  @inline private def sk(h: Int): Array[Byte] = {
    val out = new Array[Byte](6)
    // out(0) = skipDegree 0
    out(1) = 1 // varint count = 1
    out(2) = (h & 0xff).toByte
    out(3) = ((h >>> 8) & 0xff).toByte
    out(4) = ((h >>> 16) & 0xff).toByte
    out(5) = ((h >>> 24) & 0xff).toByte
    out
  }
  @inline private def ofKey(key: Long): Array[Byte] =
    sk(UniqSketchState.intHash64(key).toInt)

  def sketchLong(v: Long): Array[Byte] = ofKey(v)
  def sketchInt(v: Int): Array[Byte] = ofKey(v.toLong)
  def sketchShort(v: Short): Array[Byte] = ofKey(v.toLong)
  def sketchByte(v: Byte): Array[Byte] = ofKey(v.toLong)
  def sketchBool(v: Boolean): Array[Byte] = ofKey(if (v) 1L else 0L)
  def sketchFloat(v: Float): Array[Byte] =
    ofKey(java.lang.Float.floatToRawIntBits(v).toLong & 0xffffffffL)
  def sketchDouble(v: Double): Array[Byte] =
    ofKey(java.lang.Double.doubleToRawLongBits(v))
  /** Timestamp micros → seconds, like the reference's DateTime hash. */
  def sketchTimestamp(us: Long): Array[Byte] =
    ofKey(Math.floorDiv(us, 1000000L))
  def sketchString(s: UTF8String): Array[Byte] =
    ofKey(graft.functions.HashFns.cityHash64(s.getBytes))
  def sketchBinary(b: Array[Byte]): Array[Byte] =
    ofKey(graft.functions.HashFns.cityHash64(b))
}

/** Typed open-addressing map: composite (≤2) long/UTF8String keys →
  * dense group index. No UnsafeRow; key parts stored column-striped. */
private[operators] final class GroupKeyMap(
    keyIsString: Array[Boolean], nullable: Array[Boolean]) {
  private val nk = keyIsString.length
  private var cap = SketchAgg.InitialSlots
  private var table = { val t = new Array[Int](cap); java.util.Arrays.fill(t, -1); t }
  private var hashArr = new Array[Long](cap)
  private var shift = java.lang.Long.numberOfLeadingZeros(cap - 1)

  private var kL: Array[Array[Long]] =
    Array.tabulate(nk)(i => if (keyIsString(i)) null else new Array[Long](64))
  // String keys live in a per-column append-only byte ARENA with
  // (offset, len) pairs per group — not one UTF8String object per
  // group: at millions of groups the per-group clone was an
  // allocation/GC storm (the r15 q19 negative's root cause). The
  // arena is bounded by Int offsets (~2 GB of key bytes per column
  // per task); the final stage's group cap keeps real shapes far
  // below it, and overflow raises rather than corrupts.
  private var kArena: Array[Array[Byte]] =
    Array.tabulate(nk)(i => if (keyIsString(i)) new Array[Byte](1 << 12) else null)
  private var kArenaLen: Array[Int] = new Array[Int](nk)
  private var kOff: Array[Array[Int]] =
    Array.tabulate(nk)(i => if (keyIsString(i)) new Array[Int](64) else null)
  private var kLen: Array[Array[Int]] =
    Array.tabulate(nk)(i => if (keyIsString(i)) new Array[Int](64) else null)
  private var kN: Array[Array[Boolean]] = Array.fill(nk)(new Array[Boolean](64))
  // per-GROUP hash (not per-slot): rehash re-probes from stored hashes
  // instead of re-mixing every key — at millions of groups the jstack
  // profile put 19% of final-stage samples inside rehash
  private var gHash = new Array[Long](64)
  var n = 0

  // scratch for the current row's key
  val rowL = new Array[Long](math.max(nk, 1))
  val rowS = new Array[UTF8String](math.max(nk, 1))
  val rowN = new Array[Boolean](math.max(nk, 1))

  @inline private def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  def rowHash(): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < nk) {
      val hi =
        if (rowN(i)) 0x7f4A7C15L
        else if (keyIsString(i)) rowS(i).hashCode().toLong
        else rowL(i)
      h = mix(h ^ hi)
      i += 1
    }
    h
  }

  @inline private def equalsAt(g: Int): Boolean = {
    var i = 0
    while (i < nk) {
      if (kN(i)(g) != rowN(i)) return false
      if (!rowN(i)) {
        if (keyIsString(i)) {
          val s = rowS(i)
          if (kLen(i)(g) != s.numBytes()) return false
          if (!org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
            s.getBaseObject, s.getBaseOffset, kArena(i),
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + kOff(i)(g),
            s.numBytes())) return false
        } else if (kL(i)(g) != rowL(i)) return false
      }
      i += 1
    }
    true
  }

  private def growKeys(m: Int): Unit = {
    var i = 0
    while (i < nk) {
      if (keyIsString(i)) {
        kOff(i) = java.util.Arrays.copyOf(kOff(i), m)
        kLen(i) = java.util.Arrays.copyOf(kLen(i), m)
      } else kL(i) = java.util.Arrays.copyOf(kL(i), m)
      kN(i) = java.util.Arrays.copyOf(kN(i), m)
      i += 1
    }
    gHash = java.util.Arrays.copyOf(gHash, m)
  }

  /** Append a string key's bytes to column i's arena; returns offset. */
  private def arenaAppend(i: Int, s: UTF8String): Int = {
    val len = s.numBytes()
    val off = kArenaLen(i)
    if (off.toLong + len > Int.MaxValue - 16)
      throw new IllegalStateException(
        "group-key arena exceeds 2 GB for one task — raise parallelism " +
          "or lower SketchAgg.FinalMaxGroups")
    var arena = kArena(i)
    if (off + len > arena.length) {
      arena = java.util.Arrays.copyOf(arena,
        math.max(arena.length * 2, off + len))
      kArena(i) = arena
    }
    s.writeToMemory(arena,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
    kArenaLen(i) = off + len
    off
  }

  private def rehash(): Unit = {
    // grow 4x while small: high-NDV final stages reach millions of
    // groups, and halving the number of full-table rebuilds matters
    // more than the <=48 MB slot overshoot below the 4M-slot bound
    cap <<= (if (cap < (1 << 22)) 2 else 1)
    table = new Array[Int](cap); java.util.Arrays.fill(table, -1)
    val nh = new Array[Long](cap)
    shift = java.lang.Long.numberOfLeadingZeros(cap - 1)
    var g = 0
    while (g < n) {
      val h = gHash(g)
      var s = (h >>> shift).toInt
      while (table(s) >= 0) s = (s + 1) & (cap - 1)
      table(s) = g; nh(s) = h
      g += 1
    }
    hashArr = nh
  }

  /** Find the group for the scratch key, inserting if absent.
    * Returns the dense group index. */
  def findOrInsert(h: Long): Int = {
    var s = (h >>> shift).toInt
    var g = table(s)
    while (g >= 0) {
      if (hashArr(s) == h && equalsAt(g)) return g
      s = (s + 1) & (cap - 1)
      g = table(s)
    }
    // insert (key/state arrays grow 4x for the same reason as rehash)
    g = n
    if (nk > 0 && g >= kN(0).length) growKeys(math.max(g + 1, kN(0).length * 4))
    else if (g >= gHash.length)
      gHash = java.util.Arrays.copyOf(gHash, math.max(g + 1, gHash.length * 4))
    var i = 0
    while (i < nk) {
      kN(i)(g) = rowN(i)
      if (!rowN(i)) {
        if (keyIsString(i)) {
          kOff(i)(g) = arenaAppend(i, rowS(i))
          kLen(i)(g) = rowS(i).numBytes()
        } else kL(i)(g) = rowL(i)
      }
      i += 1
    }
    gHash(g) = h
    table(s) = g; hashArr(s) = h
    n += 1
    if (n * 2 > cap) rehash()
    g
  }

  def keyLong(i: Int, g: Int): Long = kL(i)(g)
  /** A VIEW into the arena (no copy) — consumers copy on write-out
    * (toUnsafe / UnsafeProjection), and an arena growth after this
    * call keeps the old array alive for existing views. */
  def keyStr(i: Int, g: Int): UTF8String =
    UTF8String.fromBytes(kArena(i), kOff(i)(g), kLen(i)(g))
  def keyNull(i: Int, g: Int): Boolean = kN(i)(g)

  def reset(): Unit = {
    cap = SketchAgg.InitialSlots
    table = new Array[Int](cap); java.util.Arrays.fill(table, -1)
    hashArr = new Array[Long](cap)
    shift = java.lang.Long.numberOfLeadingZeros(cap - 1)
    kL = Array.tabulate(nk)(i => if (keyIsString(i)) null else new Array[Long](64))
    kArena = Array.tabulate(nk)(i =>
      if (keyIsString(i)) new Array[Byte](1 << 12) else null)
    kArenaLen = new Array[Int](nk)
    kOff = Array.tabulate(nk)(i => if (keyIsString(i)) new Array[Int](64) else null)
    kLen = Array.tabulate(nk)(i => if (keyIsString(i)) new Array[Int](64) else null)
    kN = Array.fill(nk)(new Array[Boolean](64))
    gHash = new Array[Long](64)
    n = 0
  }
}

/** Shared machinery of the SketchAgg operators: the update pass (input
  * rows → typed map) and the merge (partial rows → typed map → results). */
private[operators] trait SketchAggExecBase extends UnaryExecNode {
  def keys: Seq[NamedExpression]
  def aggs: Seq[AggregateExpression]

  /** A one-partition input (a single-split scan) stays one partition,
    * so the final step needs no exchange and the operators above it
    * none either. */
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case SinglePartition => SinglePartition
    case _ => UnknownPartitioning(0)
  }

  /** Keyed shapes ship packed blobs (see [[SketchAgg.PackBuckets]]);
    * keyless aggregation has one partial row per task, nothing to pack. */
  protected def packed: Boolean = keys.nonEmpty

  protected def keyIsString: Array[Boolean] =
    keys.map(_.dataType == StringType).toArray
  protected def keyNullable: Array[Boolean] = keys.map(_.nullable).toArray

  /** Partial buffer schema fields (after the group keys). */
  protected def bufferFields: Seq[StructField] = aggs.zipWithIndex.flatMap {
    case (e, i) => e.aggregateFunction match {
      case _: UniqSketch => Seq(StructField(s"uniq$i", BinaryType, nullable = false))
      case _: graft.functions.ChAny =>
        Seq(StructField(s"any$i", BinaryType, nullable = false))
      case _: Count => Seq(StructField(s"cnt$i", LongType, nullable = false))
      case _: Sum => Seq(StructField(s"sum$i", LongType, nullable = true))
      case _: Average => Seq(
        StructField(s"avgs$i", DoubleType, nullable = false),
        StructField(s"avgc$i", LongType, nullable = false))
      case other => throw new IllegalStateException(other.toString)
    }
  }

  /** Packed-blob record format for the payload schema, identical on
    * both sides by construction (keys ++ bufferFields):
    *  - (0, 0): some field is var-width — blobs carry
    *    [4B len][UnsafeRow bytes] per sub-row.
    *  - (S, B) with B > 0: all fields fixed-width, some nullable —
    *    blobs carry the constant-size S UnsafeRow bytes back to back
    *    (no length prefix), zero-copy unpack.
    *  - (S, 0) nothing nullable — additionally the leading B' null
    *    bitmap bytes (always zero) are omitted: records are S bytes of
    *    VALUE words only, rebuilt into a zeroed scratch row on unpack.
    * Fixed-width sub-rows all serialize to the same UnsafeRow byte
    * count, so a length prefix would be redundant: the heavy count-only
    * shapes (bench43 q16/q36: one long key + count) ship 16 blob bytes
    * per row instead of 28. */
  protected def packRecordSpec: (Int, Int) = {
    val fields: Seq[(DataType, Boolean)] =
      keys.map(k => (k.dataType, k.nullable)) ++
        bufferFields.map(f => (f.dataType, f.nullable))
    def isVar(dt: DataType): Boolean = dt match {
      case StringType | BinaryType => true
      case _ => false
    }
    if (fields.exists(f => isVar(f._1))) (0, 0)
    else {
      val bitmapBytes = ((fields.length + 63) / 64) * 8
      if (fields.exists(_._2)) (bitmapBytes + 8 * fields.length, bitmapBytes)
      else (8 * fields.length, 0) // caller knows bitmapBytes are elided
    }
  }

  /** Null-bitmap bytes of the payload UnsafeRow (for the elided-bitmap
    * unpack path). */
  protected def payloadBitmapBytes: Int =
    (((keys.length + bufferFields.length) + 63) / 64) * 8

  /** Reader for a key part: attribute fast path by ordinal, or a
    * bound-expression evaluation (computed GROUP BY keys). */
  protected def keyReaderFor(k: NamedExpression,
      childOut: Seq[Attribute]): (InternalRow, GroupKeyMap, Int) => Unit = {
    val inner: Expression = k match {
      case al: Alias => al.child
      case other => other
    }
    inner match {
      case a: AttributeReference =>
        val ord = childOut.indexWhere(_.exprId == a.exprId)
        require(ord >= 0, s"group key $a not found in child output")
        keyReader(a.dataType, ord)
      case e =>
        val bound = BindReferences.bindReference(e, childOut)
        e.dataType match {
          case StringType => (row, m, i) => {
            val v = bound.eval(row)
            if (v == null) m.rowN(i) = true
            else { m.rowN(i) = false; m.rowS(i) = v.asInstanceOf[UTF8String] }
          }
          case _ => (row, m, i) => {
            val v = bound.eval(row)
            if (v == null) m.rowN(i) = true
            else { m.rowN(i) = false; m.rowL(i) = v.asInstanceOf[Number].longValue() }
          }
        }
    }
  }

  /** Reader for a key part from an input row ordinal. */
  protected def keyReader(dt: DataType, ord: Int): (InternalRow, GroupKeyMap, Int) => Unit =
    dt match {
      case StringType => (row, m, i) =>
        if (row.isNullAt(ord)) m.rowN(i) = true
        else { m.rowN(i) = false; m.rowS(i) = row.getUTF8String(ord) }
      case LongType => (row, m, i) =>
        if (row.isNullAt(ord)) m.rowN(i) = true
        else { m.rowN(i) = false; m.rowL(i) = row.getLong(ord) }
      case IntegerType | DateType => (row, m, i) =>
        if (row.isNullAt(ord)) m.rowN(i) = true
        else { m.rowN(i) = false; m.rowL(i) = row.getInt(ord).toLong }
      case ShortType => (row, m, i) =>
        if (row.isNullAt(ord)) m.rowN(i) = true
        else { m.rowN(i) = false; m.rowL(i) = row.getShort(ord).toLong }
      case ByteType => (row, m, i) =>
        if (row.isNullAt(ord)) m.rowN(i) = true
        else { m.rowN(i) = false; m.rowL(i) = row.getByte(ord).toLong }
      case other => throw new IllegalStateException(other.toString)
    }

  /** Write the group key parts of group g into `out(0..nk)`. */
  protected def writeKey(m: GroupKeyMap, g: Int,
      out: GenericInternalRow, isStr: Array[Boolean]): Unit = {
    var i = 0
    while (i < isStr.length) {
      if (m.keyNull(i, g)) out.update(i, null)
      else if (isStr(i)) out.update(i, m.keyStr(i, g))
      else keys(i).dataType match {
        case LongType => out.setLong(i, m.keyLong(i, g))
        case IntegerType | DateType => out.setInt(i, m.keyLong(i, g).toInt)
        case ShortType => out.setShort(i, m.keyLong(i, g).toShort)
        case ByteType => out.setByte(i, m.keyLong(i, g).toByte)
        case _ => throw new IllegalStateException(keys(i).dataType.toString)
      }
      i += 1
    }
  }

  /** The partial row: the group keys, then [[bufferFields]]. */
  private[operators] lazy val payloadOutput: Seq[Attribute] =
    keys.map(_.toAttribute) ++ bufferFields.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())

  protected def payloadSchema: StructType =
    StructType(payloadOutput.map(a => StructField(a.name, a.dataType, a.nullable)))

  /** Where the update pass reads its keys and aggregate inputs, built on
    * the driver. Computed keys / agg children evaluate through ONE
    * projection (interpreted Expression.eval per row is 5-10x slower);
    * the typed map then reads plain ordinals. All-attribute shapes skip
    * the projection entirely. */
  protected def updateInput: UpdateInput = {
    val childOut = child.output
    val nk = keys.length
    val innerKeys: Seq[Expression] = keys.map {
      case al: Alias => al.child
      case k => k
    }
    val aggKids: Seq[Option[Expression]] = aggs.map(_.aggregateFunction match {
      case u: UniqSketch => Some(u.child)
      case a: graft.functions.ChAny => Some(a.child)
      // literal child: nothing to project — CountStar counts rows via
      // CountState(-1); a NULL literal counts 0 via CountExprState
      // evaluating the literal itself (never send NullType through the
      // UnsafeProjection)
      case Count(Seq(_: Literal)) => None
      case Count(Seq(c)) => Some(c)
      case Sum(c, _) => Some(c)
      case Average(c, _) => Some(c)
      case other => throw new IllegalStateException(other.toString)
    })
    if ((innerKeys ++ aggKids.flatten).forall(_.isInstanceOf[AttributeReference]))
      UpdateInput(childOut, None, keys, aggs, childOut)
    else {
      // projected layout: keys at 0..nk-1, present agg children after
      val projExprs: Seq[Expression] = innerKeys ++ aggKids.flatten
      val projAttrs: Seq[AttributeReference] = projExprs.zipWithIndex.map {
        case (e, i) => AttributeReference(s"_p$i", e.dataType, e.nullable)()
      }
      val kidAttr: Seq[Option[AttributeReference]] = {
        var next = nk
        aggKids.map {
          case Some(_) => val a = projAttrs(next); next += 1; Some(a)
          case None => None
        }
      }
      val rewritten = aggs.zip(kidAttr).map { case (e, ka) =>
        val f = e.aggregateFunction match {
          case u: UniqSketch => u.copy(child = ka.get)
          case a: graft.functions.ChAny => a.copy(child = ka.get)
          case c @ Count(Seq(_: Literal)) => c
          case Count(Seq(_)) => Count(Seq(ka.get))
          case sum: Sum => sum.copy(child = ka.get)
          case avg: Average => avg.copy(child = ka.get)
          case other => throw new IllegalStateException(other.toString)
        }
        e.copy(aggregateFunction = f)
      }
      UpdateInput(childOut, Some(projExprs), projAttrs.take(nk), rewritten, projAttrs)
    }
  }

  /** One task's update pass over its input rows. */
  protected def openUpdate(in: UpdateInput, rows0: Iterator[InternalRow],
      flushAt: Int): UpdatePass = {
    val rows = in.projection match {
      case Some(es) => rows0.map(UnsafeProjection.create(es, in.from))
      case None => rows0
    }
    val readers = in.keys.map(k => keyReaderFor(k, in.input)).toArray
    // ordinal of an attribute child in the effective input, -1 if
    // the child is a computed expression (cannot happen post-proj)
    def attrOrd(e: Expression): Int = e match {
      case a: AttributeReference => in.input.indexWhere(_.exprId == a.exprId)
      case _ => -1
    }
    // bind agg children to the effective input and build states
    var bufOrd = keys.length
    val states: Array[AggState] = in.aggs.map { e =>
      e.aggregateFunction match {
        case u: UniqSketch =>
          val bound = BindReferences.bindReference(u.child, in.input)
          val st = new AggState.UniqState(u.copy(child = bound), bufOrd)
          bufOrd += 1; st
        case a: graft.functions.ChAny =>
          val bound = a.copy(
            child = BindReferences.bindReference(a.child, in.input))
          val st = new AggState.AnyState(bound, bufOrd); bufOrd += 1; st
        case SketchAgg.CountStar() =>
          val st = new AggState.CountState(-1, bufOrd); bufOrd += 1; st
        case Count(Seq(c)) =>
          val o = attrOrd(c)
          val st: AggState =
            if (o >= 0) new AggState.CountState(o, bufOrd)
            else new AggState.CountExprState(
              BindReferences.bindReference(c, in.input), bufOrd)
          bufOrd += 1; st
        case Sum(c, ctx) =>
          val o = attrOrd(c)
          val ansi = ctx.evalMode == EvalMode.ANSI
          val st: AggState = if (o >= 0) {
            val get: InternalRow => Long = c.dataType match {
              case IntegerType => r => r.getInt(o).toLong
              case ShortType => r => r.getShort(o).toLong
              case ByteType => r => r.getByte(o).toLong
              case t => throw new IllegalStateException(t.toString)
            }
            new AggState.SumState(o, get, bufOrd, ansi)
          } else new AggState.SumExprState(
            BindReferences.bindReference(c, in.input), bufOrd, ansi)
          bufOrd += 1; st
        case Average(c, _) =>
          val o = attrOrd(c)
          val st: AggState = if (o >= 0) {
            val get: InternalRow => Double = c.dataType match {
              case IntegerType => r => r.getInt(o).toDouble
              case ShortType => r => r.getShort(o).toDouble
              case ByteType => r => r.getByte(o).toDouble
              case t => throw new IllegalStateException(t.toString)
            }
            new AggState.AvgState(o, get, bufOrd)
          } else new AggState.AvgExprState(
            BindReferences.bindReference(c, in.input), bufOrd)
          bufOrd += 2; st
        case other => throw new IllegalStateException(other.toString)
      }
    }.toArray
    new UpdatePass(rows, readers, states, new GroupKeyMap(keyIsString, keyNullable), flushAt)
  }

  /** The pass's window as partial rows ([[payloadOutput]]), streamed
    * lazily through one reused output row with no per-group copy: every
    * consumer (shuffle writer, packer, merge) takes a row's bytes before
    * pulling the next, so materializing the window into an Array would
    * only double peak memory right at the boundary the flush threshold
    * exists to bound. The map and states stay live until the window is
    * drained. */
  protected def payloadRows(pass: UpdatePass,
      toUnsafe: UnsafeProjection): Iterator[InternalRow] = {
    val nGroups = pass.groups
    val isStr = keyIsString
    val nk = keys.length
    val out = new GenericInternalRow(payloadOutput.length)
    new Iterator[InternalRow] {
      private var g = 0
      override def hasNext: Boolean = g < nGroups
      override def next(): InternalRow = {
        writeKey(pass.gmap, g, out, isStr)
        var ord = nk
        var ai = 0
        while (ai < pass.states.length) {
          ord = pass.states(ai).writePartial(g, out, ord); ai += 1
        }
        g += 1
        toUnsafe(out)
      }
    }
  }

  /** The pass's flush windows as partial rows, one [[payloadRows]] per
    * window; with `bypass`, the adaptive bypass of
    * [[SketchAgg.BypassSampleRows]] streams futile windows' rows as
    * one-row partials instead. */
  protected def windows(pass: UpdatePass, toUnsafe: UnsafeProjection,
      bypass: Option[Bypass]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private var pending: Iterator[InternalRow] = Iterator.empty
    private var done = false
    private var needReset = false
    private var sampled = 0L // rows aggregated before the decision
    private var decided = bypass.isEmpty
    private var countedBypass = false // bypassTasks counts tasks once
    private def consume(): Unit = {
      if (needReset) { // previous window fully drained: recycle
        pass.reset()
        needReset = false
      }
      // aggregate until flush threshold, sample boundary (pre-
      // decision only), or input end
      var aggregate = true
      while (aggregate) {
        aggregate = false
        sampled += pass.fill(if (decided) Long.MaxValue else bypass.get.sampleRows - sampled)
        if (!decided) {
          decided = true
          val b = bypass.get
          if (pass.rows.hasNext && sampled > 0 &&
              pass.gmap.n >= SketchAgg.BypassRatio * sampled) {
            // futile map (≈ every row opened a new group): drain
            // the sampled window, then stream the next
            // [[SketchAgg.BypassRecheckRows]] rows as one-row
            // partials through the singleton projection — no
            // readers, no hashing, no map. NOT unbounded: a
            // clustered-prefix partition (high-NDV head, repetitive
            // tail) re-samples after the window so the map comes
            // back exactly when it stops being futile.
            if (!countedBypass) { b.tasks.add(1); countedBypass = true }
            pending = payloadRows(pass, toUnsafe) ++ new Iterator[InternalRow] {
              private var streamed = 0L
              override def hasNext: Boolean =
                streamed < b.recheckRows && pass.rows.hasNext
              override def next(): InternalRow = {
                b.rows.add(1)
                streamed += 1
                b.proj(pass.rows.next())
              }
            }
            // after the streamed window drains, hasNext() re-enters
            // consume(), which recycles the map and re-samples; an
            // exhausted input just emits the (empty) next window
            needReset = true
            decided = false
            sampled = 0L
            return
          }
          // no bypass: resume aggregating the SAME window — a
          // non-triggering task must not pay an extra emit/reset
          // boundary at the sample mark
          aggregate = pass.rows.hasNext && !pass.full
        }
      }
      pending = payloadRows(pass, toUnsafe)
      if (pass.rows.hasNext) needReset = true else done = true
    }
    override def hasNext: Boolean = {
      while (!pending.hasNext && !done) consume()
      pending.hasNext
    }
    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      pending.next()
    }
  }

  /** Projects keys ++ aggregate results to `resultExprs`. */
  protected def resultProjection(resultExprs: Seq[NamedExpression]): UnsafeProjection =
    UnsafeProjection.create(resultExprs,
      keys.map(_.toAttribute) ++ aggs.map(_.resultAttribute))

  /** Groups `0 until n` of `gmap` as result rows: the keys and each
    * state's result, through `proj` ([[resultProjection]]). */
  protected def resultRows(gmap: GroupKeyMap, states: Array[AggState], n: Int,
      proj: UnsafeProjection): Iterator[InternalRow] = {
    val nk = keys.length
    val isStr = keyIsString
    val mid = new GenericInternalRow(nk + states.length)
    new Iterator[InternalRow] {
      private var g = 0
      override def hasNext: Boolean = g < n
      override def next(): InternalRow = {
        writeKey(gmap, g, mid, isStr)
        var ai = 0
        while (ai < states.length) {
          states(ai).ensure(g + 1)
          mid.update(nk + ai, states(ai).resultValue(g))
          ai += 1
        }
        g += 1
        proj(mid)
      }
    }
  }

  /** Merges partial rows, laid out as `payload` (keys, then
    * [[bufferFields]]), and emits the result rows. Each row is fully
    * merged before the next is pulled, so rows may point into reused
    * memory. Hash-merges until the input ends OR `maxGroups` in-memory
    * groups: the merge cannot emit-and-reset like the update pass — a
    * group may still receive merges — so past the cap it falls back to
    * sort-based merging, mirroring ObjectHashAggregateExec. `timed`
    * gets the merge loop's nanoseconds and the sampled share of them
    * spent pulling rows. */
  protected def merge(rows: Iterator[InternalRow], payload: Seq[Attribute],
      resultExprs: Seq[NamedExpression], maxGroups: Int,
      timed: (Long, Long) => Unit): Iterator[InternalRow] = {
    val keyTypes = keys.map(_.dataType).toArray
    val isStr = keyIsString
    val nk = keys.length
    // key parts sit at ordinals 0..nk-1 of the partial row
    val readers = keyTypes.zipWithIndex.map { case (t, i) => keyReader(t, i) }
    var bufOrd = nk
    val states: Array[AggState] = aggs.map { e =>
      e.aggregateFunction match {
        case u: UniqSketch =>
          val st = new AggState.UniqState(u, bufOrd); bufOrd += 1; st
        case a: graft.functions.ChAny =>
          val st = new AggState.AnyState(a, bufOrd); bufOrd += 1; st
        case _: Count =>
          val st = new AggState.CountState(-1, bufOrd); bufOrd += 1; st
        case Sum(_, ctx) =>
          val st = new AggState.SumState(-1, null, bufOrd,
            ctx.evalMode == EvalMode.ANSI); bufOrd += 1; st
        case _: Average =>
          val st = new AggState.AvgState(-1, null, bufOrd); bufOrd += 2; st
        case other => throw new IllegalStateException(other.toString)
      }
    }.toArray
    val gmap = new GroupKeyMap(isStr, keyNullable)
    // Timing: the loop is metered whole; every 128th (hasNext, next)
    // pair is timed and extrapolated to split the pull (exchange
    // fetch+deser) from merge compute. next() and hasNext() are timed
    // SEPARATELY around the merge — the merge must complete before
    // hasNext advances the input, whose reused buffer may back the
    // rows (see FinalSketchAggExec's unpacking)
    val loopT0 = System.nanoTime()
    var fetchNs = 0L
    var rowCnt = 0L
    var more = rows.hasNext
    // state capacity ensured only when a new group appears (see the
    // update pass's note) — not per row per state
    var ensured = 0
    while (more && gmap.n < maxGroups) {
      val sampled = (rowCnt & 127) == 0
      var t0 = if (sampled) System.nanoTime() else 0L
      val row = rows.next()
      if (sampled) fetchNs += (System.nanoTime() - t0) << 7
      rowCnt += 1
      var i = 0
      while (i < nk) { readers(i)(row, gmap, i); i += 1 }
      val g = if (nk > 0 || gmap.n == 0) gmap.findOrInsert(gmap.rowHash()) else 0
      if (gmap.n != ensured) {
        ensured = gmap.n
        var ae = 0
        while (ae < states.length) { states(ae).ensure(ensured); ae += 1 }
      }
      var ai = 0
      while (ai < states.length) {
        states(ai).mergeRow(g, row); ai += 1
      }
      t0 = if (sampled) System.nanoTime() else 0L
      more = rows.hasNext
      if (sampled) fetchNs += (System.nanoTime() - t0) << 7
    }
    timed(System.nanoTime() - loopT0, fetchNs)
    val proj = resultProjection(resultExprs)

    if (!rows.hasNext) {
      // in-memory path (the overwhelmingly common case); a global agg
      // over an empty input emits the default state row (count 0, uniq
      // 0, sum/avg NULL) exactly once — only the single AllTuples
      // partition exists, so this is the one row
      resultRows(gmap, states, if (nk == 0) 1 else gmap.n, proj)
    } else {
      // Sort-based fallback: spill everything seen so far plus the
      // rest of the input into an UnsafeKVExternalSorter (the same
      // machinery HashAggregateExec/ObjectHashAggregateExec fall
      // back to), then merge adjacent equal-key runs. Bounded
      // memory: the sorter spills to disk under memory pressure;
      // only one group's state is live at a time.
      val keySchema = StructType(payload.take(nk).map(a =>
        StructField(a.name, a.dataType, a.nullable)))
      val valSchema = StructType(payload.drop(nk).map(a =>
        StructField(a.name, a.dataType, a.nullable)))
      val env = org.apache.spark.SparkEnv.get
      val sorter = new org.apache.spark.sql.execution.UnsafeKVExternalSorter(
        keySchema, valSchema, env.blockManager, env.serializerManager,
        org.apache.spark.sql.graftbridge.Bridge.taskPageSizeBytes(),
        Integer.MAX_VALUE, java.lang.Long.MAX_VALUE)
      // 1. re-serialize the accumulated map as synthetic partial rows
      val keyRow = new GenericInternalRow(math.max(nk, 1))
      val keyToUnsafe = UnsafeProjection.create(keySchema)
      val bufRow = new GenericInternalRow(payload.length - nk)
      val bufToUnsafe = UnsafeProjection.create(valSchema)
      var g = 0
      while (g < gmap.n) {
        writeKey(gmap, g, keyRow, isStr)
        var ord = 0
        var ai = 0
        while (ai < states.length) {
          ord = states(ai).writePartial(g, bufRow, ord); ai += 1
        }
        sorter.insertKV(keyToUnsafe(keyRow), bufToUnsafe(bufRow))
        g += 1
      }
      gmap.reset()
      locally { var ai = 0; while (ai < states.length) { states(ai).reset(0); ai += 1 } }
      // 2. feed the remaining partial rows, split key/buffer
      val splitKey = UnsafeProjection.create(payload.take(nk), payload)
      val splitVal = UnsafeProjection.create(payload.drop(nk), payload)
      while (rows.hasNext) {
        val r = rows.next()
        sorter.insertKV(splitKey(r), splitVal(r))
      }
      // 3. merge adjacent equal-key runs (equal keys have equal
      // UnsafeRow bytes — both insert paths project the same schema
      // — and the sorter orders by key bytes, so runs are contiguous)
      val iter = sorter.sortedIterator()
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => sorter.cleanupResources()))
      val joined = new JoinedRow
      val mid = new GenericInternalRow(nk + states.length)
      new Iterator[InternalRow] {
        private var has = iter.next()
        override def hasNext: Boolean = has
        override def next(): InternalRow = {
          if (!has) throw new NoSuchElementException
          val curKey = iter.getKey.copy()
          var ai = 0
          while (ai < states.length) {
            states(ai).ensure(1); states(ai).clear(0); ai += 1
          }
          var more = true
          while (more) {
            joined(iter.getKey, iter.getValue)
            var aj = 0
            while (aj < states.length) { states(aj).mergeRow(0, joined); aj += 1 }
            has = iter.next()
            more = has && iter.getKey == curKey
          }
          var i = 0
          while (i < nk) {
            if (curKey.isNullAt(i)) mid.update(i, null)
            else keyTypes(i) match {
              case StringType => mid.update(i, curKey.getUTF8String(i))
              case LongType => mid.setLong(i, curKey.getLong(i))
              case IntegerType | DateType => mid.setInt(i, curKey.getInt(i))
              case ShortType => mid.setShort(i, curKey.getShort(i))
              case ByteType => mid.setByte(i, curKey.getByte(i))
              case t => throw new IllegalStateException(t.toString)
            }
            i += 1
          }
          var ak = 0
          while (ak < states.length) {
            mid.update(nk + ak, states(ak).resultValue(0)); ak += 1
          }
          proj(mid)
        }
      }
    }
  }
}

/** Where an update pass reads its keys and aggregate inputs: the rows of
  * `from`, through `projection` when there is one, laid out as `input`. */
private[operators] final case class UpdateInput(
    from: Seq[Attribute],
    projection: Option[Seq[Expression]],
    keys: Seq[NamedExpression],
    aggs: Seq[AggregateExpression],
    input: Seq[Attribute])

/** One partial task's adaptive bypass (see [[SketchAgg.BypassSampleRows]]):
  * the singleton-partial projection, the sample and re-check sizes, and
  * the task and row counters. */
private[operators] final case class Bypass(
    proj: UnsafeProjection,
    sampleRows: Long,
    recheckRows: Long,
    tasks: SQLMetric,
    rows: SQLMetric)

/** One task's update pass: input rows fold into a typed map and its
  * column-striped states, one flush window of at most `flushAt` groups
  * at a time (Spark's partial-agg spill analog), so skewed or high-NDV
  * keys cannot OOM a task. */
private[operators] final class UpdatePass(
    val rows: Iterator[InternalRow],
    readers: Array[(InternalRow, GroupKeyMap, Int) => Unit],
    val states: Array[AggState],
    val gmap: GroupKeyMap,
    flushAt: Int) {
  private val nk = readers.length

  /** Folds at most `limit` rows into the window, stopping early when it
    * is full or the input ends; returns the rows folded. */
  def fill(limit: Long): Long = {
    // state capacity is ensured ONLY when a new group appears
    // (gmap.n moved) — the per-row per-state ensure() calls
    // were ~a virtual call + bounds check × states × rows in
    // the jstack profile of the map path
    var ensured = 0
    var n = 0L
    while (n < limit && rows.hasNext && gmap.n < flushAt) {
      val row = rows.next()
      var i = 0
      while (i < nk) { readers(i)(row, gmap, i); i += 1 }
      val g = if (nk > 0 || gmap.n == 0) gmap.findOrInsert(gmap.rowHash()) else 0
      if (gmap.n != ensured) {
        ensured = gmap.n
        var ae = 0
        while (ae < states.length) { states(ae).ensure(ensured); ae += 1 }
      }
      var ai = 0
      while (ai < states.length) {
        states(ai).update(g, row); ai += 1
      }
      n += 1
    }
    n
  }

  def full: Boolean = gmap.n >= flushAt

  /** Groups in the window, with every state sized for them. A keyless
    * pass always has its one group: a global agg over an empty input
    * still has a zero state. */
  def groups: Int = {
    val n = if (nk == 0) math.max(gmap.n, 1) else gmap.n
    var ai = 0
    while (ai < states.length) { states(ai).ensure(math.max(n, 1)); ai += 1 }
    n
  }

  /** Starts the next window; the previous one is drained. */
  def reset(): Unit = {
    gmap.reset()
    var ai = 0
    while (ai < states.length) { states(ai).reset(0); ai += 1 }
  }
}

/** Partial stage: input rows → one row per (flush-window, group) with
  * column-striped buffers.
  *
  * OUTPUT ROW REUSE: the emit iterator returns ONE UnsafeRow instance,
  * overwritten on every next() (the UnsafeProjection target buffer).
  * Safe for the only planned consumers — ShuffleExchange copies or
  * serializes each row before advancing, and FinalSketchAggExec fully
  * consumes a row before pulling the next — but any plan rule placing
  * a BUFFERING operator directly above this node must copy() rows, or
  * it will silently see every slot mutate to the last row emitted. */
case class PartialSketchAggExec(
    keys: Seq[NamedExpression],
    aggs: Seq[AggregateExpression],
    child: SparkPlan) extends SketchAggExecBase {

  // Memoized, NOT a plain lazy val: the attributes fabricate fresh
  // ExprIds and must stay IDENTICAL across tree copies — the packed
  // exchange's HashPartitioning references __bucket by exprId, so a
  // withNewChildInternal copy that re-fabricated ids would break
  // binding at execution (ATTRIBUTE_NOT_FOUND). withNewChildInternal
  // hands the memo to the copy.
  // volatile: withNewChildInternal hands the memo to an unsynchronized
  // copy; a racing reader of the copy must never observe a stale null
  // and refabricate fresh exprIds
  @transient @volatile private var outputMemo: Seq[Attribute] = _

  // synchronized: two threads racing the first call (AQE stage
  // planning and the SQL UI both walk plans) must not each fabricate a
  // distinct attribute set — a non-memoized set escaping to one caller
  // binds against exprIds the exchange never sees (ATTRIBUTE_NOT_FOUND)
  override def output: Seq[Attribute] = synchronized {
    if (outputMemo == null)
      outputMemo =
        if (packed) Seq(
          AttributeReference("__bucket", IntegerType, nullable = false)(),
          AttributeReference("__blob", BinaryType, nullable = false)())
        else payloadOutput
    outputMemo
  }

  override lazy val metrics = Map(
    "bypassTasks" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "tasks that switched to adaptive bypass"),
    "bypassRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows streamed as one-row partials"))
  /** Singleton-partial projection for the adaptive bypass: key
    * expressions followed by each aggregate's ONE-ROW wire state, all
    * over the effective (possibly pre-projected) input row — exactly
    * the row [[bufferFields]] describes for a group that saw one row.
    * None when an aggregate has no order-safe singleton form: any()'s
    * survivor would depend on final-merge arrival order instead of
    * map-insertion order, and exotic uniq child types have no kernel. */
  private def singletonExprs(effKeys: Seq[NamedExpression],
      effAggs: Seq[AggregateExpression]): Option[Seq[Expression]] = {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val cls = classOf[SingletonState.type]
    def sketchOf(c: Expression): Option[Expression] = {
      val name = c.dataType match {
        case LongType => Some("sketchLong")
        case IntegerType | DateType => Some("sketchInt")
        case ShortType => Some("sketchShort")
        case ByteType => Some("sketchByte")
        case BooleanType => Some("sketchBool")
        case FloatType => Some("sketchFloat")
        case DoubleType => Some("sketchDouble")
        case TimestampType | TimestampNTZType => Some("sketchTimestamp")
        case StringType => Some("sketchString")
        case BinaryType => Some("sketchBinary")
        case _ => None
      }
      name.map { m =>
        val call = StaticInvoke(cls, BinaryType, m, Seq(c),
          returnNullable = false)
        if (c.nullable)
          If(IsNull(c), Literal(SingletonState.emptySketch, BinaryType), call)
        else call
      }
    }
    val perAgg: Seq[Option[Seq[Expression]]] = effAggs.map { e =>
      e.aggregateFunction match {
        case u: UniqSketch if !u.asState && !u.trivial =>
          sketchOf(u.child).map(Seq(_))
        case Count(Seq(l: Literal)) =>
          // folded driver-side: count(non-null literal) counts the row,
          // count(NULL) counts nothing — never codegen over NullType
          Some(Seq(Literal(if (l.value == null) 0L else 1L)))
        case Count(Seq(c)) => Some(Seq(
          if (c.nullable) If(IsNull(c), Literal(0L), Literal(1L))
          else Literal(1L)))
        case Sum(c, _) => Some(Seq(Cast(c, LongType)))
        case Average(c, _) =>
          if (c.nullable) Some(Seq(
            If(IsNull(c), Literal(0.0), Cast(c, DoubleType)),
            If(IsNull(c), Literal(0L), Literal(1L))))
          else Some(Seq(Cast(c, DoubleType), Literal(1L)))
        case _ => None // ChAny and anything else: no singleton form
      }
    }
    if (perAgg.exists(_.isEmpty)) None
    else {
      val innerKeys: Seq[Expression] = effKeys.map {
        case al: Alias => al.child
        case k => k
      }
      Some(innerKeys ++ perAgg.flatMap(_.get))
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val in = updateInput
    val flushAt = SketchAgg.PartialFlushGroups
    val schema = payloadSchema
    // packed-exchange plumbing (see SketchAgg.PackBuckets): bucket =
    // murmur3(key parts) mod PackBuckets, computed by a projection over
    // the payload row (same hash for map-emitted and bypass-streamed
    // rows — equal keys always share a bucket)
    val packedLocal = packed
    val (packRecBytes, packBitmapKept) = packRecordSpec
    val payloadAttrs = payloadOutput
    val bucketExpr: Expression = Pmod(new Murmur3Hash(payloadAttrs.take(keys.length)),
      Literal(SketchAgg.PackBuckets))
    // Adaptive-bypass plumbing (see SketchAgg.BypassSampleRows): sample
    // sizes snapshotted at execute, singleton exprs built driver-side,
    // the projection built per task.
    val bypassSample = SketchAgg.BypassSampleRows.toLong
    val bypassRecheck = SketchAgg.BypassRecheckRows
    val bypassExprs = if (keys.isEmpty) None else singletonExprs(in.keys, in.aggs)
    val mBypassTasks = longMetric("bypassTasks")
    val mBypassRows = longMetric("bypassRows")

    child.execute().mapPartitions { rows =>
      val pass = openUpdate(in, rows, flushAt)
      val bypass = bypassExprs.map(es => Bypass(UnsafeProjection.create(es, in.input),
        bypassSample, bypassRecheck, mBypassTasks, mBypassRows))
      val payloadIter = windows(pass, UnsafeProjection.create(schema), bypass)
      if (!packedLocal) payloadIter
      else new PackingIterator(payloadIter,
        UnsafeProjection.create(Seq(bucketExpr), payloadAttrs),
        SketchAgg.PackBuckets, SketchAgg.PackFlushBytes, packRecBytes,
        packBitmapKept)
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): PartialSketchAggExec = {
    val c = copy(child = newChild)
    c.outputMemo = output // keep exprIds stable across copies (see memo)
    c
  }
}

/** Packs payload UnsafeRows into per-bucket byte blobs
  * ([[SketchAgg.PackBuckets]]): emits one (bucket, blob) row whenever
  * a bucket crosses `flushBytes`, draining the remainder at input end.
  * Each input row's bytes are copied immediately, so the upstream
  * single-reused-row contract is preserved; emitted blob arrays are
  * exact-size copies owned by the consumer.
  *
  * Record format ([[SketchAggExecBase.packRecordSpec]]):
  * `recordBytes == 0` → [4B len][UnsafeRow bytes] per row;
  * `recordBytes > 0, bitmapKept > 0` → constant-size UnsafeRow bytes
  * back to back; `recordBytes > 0, bitmapKept == 0` → value words
  * only (the all-zero null bitmap is elided). */
private[operators] final class PackingIterator(
    in: Iterator[InternalRow],
    bucketProj: UnsafeProjection,
    buckets: Int,
    flushBytes: Int,
    recordBytes: Int = 0,
    bitmapKept: Int = 0) extends Iterator[InternalRow] {
  import org.apache.spark.unsafe.Platform
  private val bufs = new Array[Array[Byte]](buckets)
  private val lens = new Array[Int](buckets)
  private val outRow = new GenericInternalRow(2)
  private val toPacked = UnsafeProjection.create(StructType(Seq(
    StructField("__bucket", IntegerType, nullable = false),
    StructField("__blob", BinaryType, nullable = false))))
  private var pendingBucket = -1
  private var drainPos = 0
  // bytes of the source UnsafeRow skipped per record: the elided
  // all-zero null bitmap (rowSize − recordBytes, derived on the first
  // append — row sizes are constant in fixed mode)
  private var skip = if (recordBytes > 0 && bitmapKept == 0) -1 else 0

  private def append(row: InternalRow): Int = {
    val ur = row.asInstanceOf[UnsafeRow]
    val b = bucketProj(ur).getInt(0)
    val sz = ur.getSizeInBytes
    val fixed = recordBytes > 0
    if (fixed) {
      if (skip < 0) skip = sz - recordBytes
      require(sz - skip == recordBytes,
        s"fixed-record pack: row size $sz != ${recordBytes + skip}")
    }
    val recLen = if (fixed) recordBytes else sz + 4
    val need = lens(b) + recLen
    var arr = bufs(b)
    if (arr == null) {
      arr = new Array[Byte](math.max(4096, need)); bufs(b) = arr
    } else if (need > arr.length) {
      arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, need))
      bufs(b) = arr
    }
    if (fixed) {
      Platform.copyMemory(ur.getBaseObject, ur.getBaseOffset + skip,
        arr, Platform.BYTE_ARRAY_OFFSET + lens(b), recordBytes)
    } else {
      Platform.putInt(arr, Platform.BYTE_ARRAY_OFFSET + lens(b), sz)
      ur.writeToMemory(arr, Platform.BYTE_ARRAY_OFFSET + lens(b) + 4)
    }
    lens(b) = need
    b
  }

  private def emit(b: Int): InternalRow = {
    outRow.setInt(0, b)
    outRow.update(1, java.util.Arrays.copyOf(bufs(b), lens(b)))
    lens(b) = 0
    toPacked(outRow)
  }

  override def hasNext: Boolean = {
    if (pendingBucket >= 0) return true
    while (in.hasNext) {
      val b = append(in.next())
      if (lens(b) >= flushBytes) { pendingBucket = b; return true }
    }
    while (drainPos < buckets && lens(drainPos) == 0) drainPos += 1
    drainPos < buckets
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    if (pendingBucket >= 0) {
      val b = pendingBucket; pendingBucket = -1; emit(b)
    } else {
      val b = drainPos; drainPos += 1; emit(b)
    }
  }
}

/** Sub-rows of one packed blob ([[PackingIterator]] layout), pointing
  * straight into the backing memory (no per-blob byte copy). The
  * returned UnsafeRow instance is REUSED across next() calls, and the
  * backing memory is only valid until the exchange iterator advances —
  * callers must fully consume each row before pulling the next blob.
  *
  * Fixed-record blobs (`recordBytes > 0`) stride without length
  * prefixes; when the null bitmap was elided (`bitmapElided > 0`) the
  * value words are copied behind a zeroed scratch bitmap — a 16-48 B
  * copy, still allocation-free (the scratch row is reused). */
private[operators] final class BlobRows(
    base: AnyRef, start: Long, totalLen: Int, width: Int,
    recordBytes: Int = 0, bitmapElided: Int = 0)
    extends Iterator[InternalRow] {
  import org.apache.spark.unsafe.Platform
  private val row = new UnsafeRow(width)
  private val scratch: Array[Byte] =
    if (recordBytes > 0 && bitmapElided > 0)
      new Array[Byte](bitmapElided + recordBytes)
    else null
  if (scratch != null)
    row.pointTo(scratch, Platform.BYTE_ARRAY_OFFSET, scratch.length)
  private var off = 0
  override def hasNext: Boolean = off < totalLen
  override def next(): InternalRow = {
    if (recordBytes > 0) {
      if (scratch != null) {
        Platform.copyMemory(base, start + off,
          scratch, Platform.BYTE_ARRAY_OFFSET + bitmapElided, recordBytes)
      } else {
        row.pointTo(base, start + off, recordBytes)
      }
      off += recordBytes
    } else {
      val sz = Platform.getInt(base, start + off)
      row.pointTo(base, start + off + 4, sz)
      off += 4 + sz
    }
    row
  }
}

/** Final stage: merges partial rows per shuffle partition and emits
  * the result projection. */
case class FinalSketchAggExec(
    keys: Seq[NamedExpression],
    aggList: SketchAgg.AggList,
    resultExprs: Seq[NamedExpression],
    child: SparkPlan) extends SketchAggExecBase {

  def aggs: Seq[AggregateExpression] = aggList.aggs

  override def output: Seq[Attribute] = resultExprs.map(_.toAttribute)

  override lazy val metrics = Map(
    // whole hash-merge loop (fetch + merge compute), summed over tasks
    "mergeLoopNs" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createNanoTimingMetric(sparkContext, "final merge loop (fetch+merge)"),
    // exchange-read share of the loop: every 128th (hasNext, next)
    // pair is timed and extrapolated ×128 — partial rows are uniform
    // (one group per row), so the sample is unbiased at ~0.8%% timer
    // overhead. mergeLoopNs - fetchNs ≈ merge COMPUTE: the two
    // together attribute the heavy-class residual (exchange serde vs
    // typed-map merge) from the query's SQL metrics.
    "fetchNs" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createNanoTimingMetric(sparkContext, "exchange fetch+deser (sampled)"))

  // result expressions reference the aggregate functions' result
  // attributes, which this node itself produces from merged state;
  // the packed exchange carries only (bucket, blob), so the key
  // attributes are also produced HERE (from the unpacked sub-rows),
  // not passed through
  override def producedAttributes: AttributeSet =
    AttributeSet(aggs.map(_.resultAttribute)) ++ AttributeSet(output) ++
      AttributeSet(keys.map(_.toAttribute))

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    // cluster by the precomputed bucket id: equal keys share a bucket
    // by construction, and PackBuckets ≫ partitions keeps the reduce
    // side balanced under any partition count
    else ClusteredDistribution(Seq(child.output.head)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val maxGroups = SketchAgg.FinalMaxGroups
    // packed: sub-rows carry the payload schema at the same ordinals
    // the unpacked exchange rows would
    val payload = if (packed) payloadOutput else child.output
    val packedLocal = packed
    val payloadWidth = payload.length
    val (packRecBytes, packBitmapKept) = packRecordSpec
    val packBitmapElided =
      if (packRecBytes > 0 && packBitmapKept == 0) payloadBitmapBytes else 0
    val mMergeLoop = longMetric("mergeLoopNs")
    val mFetch = longMetric("fetchNs")

    child.execute().mapPartitions { rows0 =>
      val rows: Iterator[InternalRow] =
        if (!packedLocal) rows0
        else rows0.flatMap { r =>
          // zero-copy: point sub-rows into the exchange row's own
          // memory (UnsafeRow var-length layout: (offset << 32) | size
          // in the fixed slot — same arithmetic getBinary uses before
          // copying). The serializer REUSES that buffer on the next
          // fetch, so every sub-row must be fully merged before the
          // outer iterator's hasNext/next runs again — [[merge]] and
          // its sort-fallback feed both do exactly that (flatMap only
          // advances the outer once the blob drains).
          val ur = r.asInstanceOf[UnsafeRow]
          val offSize = ur.getLong(1)
          new BlobRows(ur.getBaseObject,
            ur.getBaseOffset + (offSize >> 32).toInt,
            offSize.toInt, payloadWidth, packRecBytes, packBitmapElided)
        }
      merge(rows, payload, resultExprs, maxGroups, { (loopNs, fetchNs) =>
        mMergeLoop.add(loopNs)
        mFetch.add(fetchNs)
      })
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): FinalSketchAggExec =
    copy(child = newChild)
}

/** Partial and final as one pass over a one-partition input: the
  * reference's single-stream Aggregator, which merges mergeable state
  * only across streams and shards (SURVEY §2.4). Input rows update the
  * typed map and each group's result goes through the result
  * projection: no bypass, no packing, no wire codec. Past
  * [[SketchAgg.PartialFlushGroups]] groups the pass hands its windows to
  * the final's merge in-process, so memory stays bounded and
  * [[SketchAgg.FinalMaxGroups]]' sort fallback still applies.
  * [[SingleStream]] plans it in place of a Partial/Final pair. */
case class CompleteSketchAggExec(
    keys: Seq[NamedExpression],
    aggList: SketchAgg.AggList,
    resultExprs: Seq[NamedExpression],
    child: SparkPlan) extends SketchAggExecBase {

  def aggs: Seq[AggregateExpression] = aggList.aggs

  override def output: Seq[Attribute] = resultExprs.map(_.toAttribute)

  // the aggregate results and computed keys are made here
  override def producedAttributes: AttributeSet =
    AttributeSet(aggs.map(_.resultAttribute)) ++ AttributeSet(output) ++
      AttributeSet(keys.map(_.toAttribute))

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys.map {
      case al: Alias => al.child
      case k => k
    }) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val in = updateInput
    val flushAt = SketchAgg.PartialFlushGroups
    val maxGroups = SketchAgg.FinalMaxGroups
    val payload = payloadOutput
    val schema = payloadSchema
    child.execute().mapPartitions { rows =>
      val pass = openUpdate(in, rows, flushAt)
      pass.fill(Long.MaxValue)
      if (!pass.rows.hasNext)
        resultRows(pass.gmap, pass.states, pass.groups, resultProjection(resultExprs))
      else merge(windows(pass, UnsafeProjection.create(schema), None),
        payload, resultExprs, maxGroups, (_, _) => ())
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CompleteSketchAggExec =
    copy(child = newChild)
}
