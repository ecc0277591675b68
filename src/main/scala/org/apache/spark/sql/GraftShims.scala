package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeRow, XXH64}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.AccumulatorV2

/** Spark-internal access shim (hence the package) for one operation the
  * public Dataset API cannot express: an eager lineage-cutting checkpoint
  * that preserves the physical OUTPUT PARTITIONING but does NOT carry the
  * source plan's estimated statistics forward.
  *
  * Why not `Dataset.localCheckpoint`: it preserves the optimized plan's
  * stats on the resulting `LogicalRDD` (`originStats`). In an iterative
  * superstep, join-size estimation multiplies those stats every iteration —
  * and a self-join squares them — so the estimated `sizeInBytes` BigInt
  * doubles its bit length per superstep and Catalyst's
  * `SizeInBytesOnlyStatsPlanVisitor` ends up spending minutes per step in
  * `BigInteger.multiply` (observed via jstack: ~100 s/step by superstep 20
  * on a 50k-row state). Rebuilding from the materialized `InternalRow` RDD
  * resets the leaf to default stats; AQE re-plans join strategies from
  * runtime shuffle sizes anyway.
  *
  * Why not `createDataFrame(rdd)`: it loses `outputPartitioning`, so every
  * superstep re-shuffles the full state even when the step's joins are on
  * the same key the previous step hashed by. Passing the executed plan's
  * partitioning through the `LogicalRDD` leaf lets Catalyst prove
  * co-partitioning and skip the exchange — at 10^8-row states that is the
  * difference between O(frontier) and O(state) shuffle bytes per step.
  *
  * Storage: checkpointed partitions are cached as PACKED byte batches
  * ([[PackedRowBatch]]) — each batch one contiguous byte array of
  * concatenated UnsafeRows plus offset/length arrays, rows re-materialized
  * by `pointTo` into one reused UnsafeRow per scan. A per-row `copy()` cache
  * keeps two heap OBJECTS per row (the UnsafeRow + its byte[]) alive for the
  * checkpoint's lifetime: at the 61M-edge SCC point that is ~20M rows × 2
  * objects per superstep state, and GC was 34% of executor task time.
  * Packing stores the same bytes in O(1) objects per batch — no serializer,
  * no compression, just memcpy in and pointer-bumping out.
  */
object GraftShims {

  /** A statistic ridden on a checkpoint's materialization pass: computed
    * once per row as the rows are packed, so it costs no extra job.
    */
  sealed trait Ride extends Serializable

  /** Rows whose column is true — a BooleanType column with `mask = 0`, or
    * an IntegerType column with `(value & mask) != 0`. Nulls never count.
    */
  final case class CountIf(col: String, mask: Int = 0) extends Ride

  /** Sum of a LongType column; nulls are skipped. */
  final case class Sum(col: String) extends Ride

  /** Max of a LongType column; nulls are skipped, and no non-null value
    * reads 0.
    */
  final case class Max(col: String) extends Ride

  /** Order-free 64-bit content signature of LongType columns: xor over rows
    * of the seed-42 XXH64 fold of the non-null values (the fold
    * `xxhash64(cols…)` computes).
    */
  final case class XorSig(cols: Seq[String]) extends Ride

  /** A materialized checkpoint: the fresh frame, the persisted RDD behind
    * it (to `unpersist` once superseded), the exact row count and one value
    * per requested ride, in order.
    */
  final case class Checkpoint(df: DataFrame, handle: RDD[_], rows: Long, rides: IndexedSeq[Long])

  /** The one fold behind every ride: slot 0 counts rows, slot i+1 folds
    * ride i with + (counts, sums), max or xor — all associative and
    * commutative, so task partials merge in any order.
    */
  private final class RideAccumulator(rides: Array[Ride], idx: Array[Array[Int]])
      extends AccumulatorV2[InternalRow, Array[Long]] {
    private val zero = 0L +: rides.map { case _: Max => Long.MinValue; case _ => 0L }
    private var acc = zero.clone()

    private def fold(slot: Int, a: Long, b: Long): Long =
      if (slot == 0) a + b
      else rides(slot - 1) match {
        case _: Max => math.max(a, b)
        case _: XorSig => a ^ b
        case _ => a + b
      }

    override def isZero: Boolean = acc.sameElements(zero)
    override def copy(): RideAccumulator = {
      val a = new RideAccumulator(rides, idx); a.acc = acc.clone(); a
    }
    override def reset(): Unit = acc = zero.clone()
    override def merge(other: AccumulatorV2[InternalRow, Array[Long]]): Unit = {
      val o = other.value
      for (s <- acc.indices) acc(s) = fold(s, acc(s), o(s))
    }
    override def value: Array[Long] = acc

    override def add(r: InternalRow): Unit = {
      acc(0) += 1L
      var i = 0
      while (i < rides.length) {
        val c = idx(i)
        val v = rides(i) match {
          case CountIf(_, mask) =>
            if (r.isNullAt(c(0))) 0L
            else if (if (mask == 0) r.getBoolean(c(0)) else (r.getInt(c(0)) & mask) != 0) 1L
            else 0L
          case _: Sum => if (r.isNullAt(c(0))) 0L else r.getLong(c(0))
          case _: Max => if (r.isNullAt(c(0))) Long.MinValue else r.getLong(c(0))
          case _: XorSig =>
            var h = 42L
            var j = 0
            while (j < c.length) {
              if (!r.isNullAt(c(j))) h = XXH64.hashLong(r.getLong(c(j)), h)
              j += 1
            }
            h
        }
        acc(i + 1) = fold(i + 1, acc(i + 1), v)
        i += 1
      }
    }
  }

  /** Resolve each ride's column indexes against `df`'s schema, checking types. */
  private def bind(df: DataFrame, rides: Seq[Ride]): Array[Array[Int]] =
    rides.map { ride =>
      val cols = ride match {
        case CountIf(c, _) => Seq(c)
        case Sum(c) => Seq(c)
        case Max(c) => Seq(c)
        case XorSig(cs) => cs
      }
      val idx = cols.map(df.schema.fieldIndex).toArray
      val want = ride match {
        case CountIf(_, 0) => BooleanType
        case _: CountIf => IntegerType
        case _ => LongType
      }
      idx.foreach { i =>
        require(df.schema(i).dataType == want,
          s"$ride: column ${df.schema(i).name} must be $want")
      }
      idx
    }.toArray

  /** Eagerly materialize `df` into a cached, lineage-truncated RDD and wrap
    * it in a fresh DataFrame with the same schema, output partitioning and
    * ordering but default (not inherited) stats. The row count and every
    * ride fold in the same single job.
    *
    * EXACTNESS of the ridden values: the fold runs in the final map of the
    * one count() below, i.e. inside that job's ResultStage tasks. Spark's
    * scheduler applies a ResultTask's accumulator updates only on the FIRST
    * successful completion of each partition (retries of failed attempts
    * are discarded — countFailedValues=false — and a speculative
    * duplicate's updates are ignored because the partition is already
    * finished), so ridden values are exactly-once per partition even under
    * task retry, stage retry, and speculation — unlike an accumulator in a
    * ShuffleMapStage, where re-executed map tasks DO double-count. The
    * other recompute path (a later job re-running this map after cache
    * eviction) is closed by the localCheckpoint: lineage is truncated, so
    * Spark reloads blocks or fails — never re-executes. Callers may
    * therefore use ridden counts as exact tallies (Scc's fragment
    * exactness does), not just convergence signals.
    */
  def checkpoint(df: DataFrame, rides: Seq[Ride]): Checkpoint = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val acc = new RideAccumulator(rides.toArray, bind(df, rides))
    session.sparkContext.register(acc, "graft.ckpt")
    val nf = qe.analyzed.output.size
    val packed = qe.toRdd.mapPartitions(it => PackedRowBatch.pack(it, nf, acc.add))
    packed.persist(StorageLevel.MEMORY_AND_DISK)
    packed.localCheckpoint()
    packed.count()
    val rows = packed.mapPartitions(_.flatMap(_.rowIterator), preservesPartitioning = true)
    // AdaptiveSparkPlanExec reports UnknownPartitioning at the top even
    // after finalization — unwrap to the final physical plan or the
    // partitioning is silently lost and every downstream same-key join
    // re-exchanges the state (caught by PlanSpec).
    val physical = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }
    val logical = LogicalRDD(
      physical.output, rows, physical.outputPartitioning, physical.outputOrdering)(session)
    val folded = acc.value
    val values = rides.indices.map { i =>
      val v = folded(i + 1)
      if (rides(i).isInstanceOf[Max] && v == Long.MinValue) 0L else v
    }
    Checkpoint(classic.Dataset.ofRows(session, logical), packed, folded(0), values)
  }

  /** Wrap a raw Catalyst Expression as a user-facing Column (Spark 4 made
    * Column node-based; the classic converter lives in a private[sql]
    * package, re-exposed here for graft's native expressions).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse of [[column]]. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Drain the listener bus so a task-metrics snapshot taken right after a
    * timed region includes every stage that completed inside it — stage
    * events post asynchronously and can otherwise land after the snapshot
    * (the bench's per-leg taskSec/cpuSec/gcSec attribution relies on this).
    * Best-effort: a timeout leaves the snapshot slightly short, never wrong
    * in sign.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: Throwable => () }
}

/** One cached checkpoint batch: up to [[PackedRowBatch.targetBytes]] of
  * concatenated UnsafeRow bytes in ONE array, plus per-row offset/length.
  * Rows re-materialize on scan via `pointTo` into a single reused UnsafeRow
  * (downstream Spark operators treat incoming InternalRows as reusable
  * buffers — the LogicalRDD scan's UnsafeProjection copies values out per
  * row, the same contract as rows read from shuffle or cache). The rare
  * non-UnsafeRow input row (no whole-stage-codegen top operator) is kept as
  * a copied object with a negative length marking its slot, preserving row
  * order exactly.
  */
private[sql] final class PackedRowBatch(
    val numFields: Int,
    val data: Array[Byte],
    val offsets: Array[Int],
    val lens: Array[Int],
    val others: Array[InternalRow]) extends Serializable {

  def rowIterator: Iterator[InternalRow] = new scala.collection.AbstractIterator[InternalRow] {
    private var i = 0
    private val row = new UnsafeRow(numFields)
    override def hasNext: Boolean = i < lens.length
    override def next(): InternalRow = {
      val l = lens(i)
      val out =
        if (l >= 0) {
          row.pointTo(data, Platform.BYTE_ARRAY_OFFSET + offsets(i), l)
          row
        } else others(-l - 1)
      i += 1
      out
    }
  }
}

private[sql] object PackedRowBatch {
  /** Per-batch data cap: bounds transient build memory and keeps any
    * disk-spill unit reasonable; multiple batches per partition are fine.
    */
  val targetBytes: Int = 32 << 20

  /** Pack a partition's rows into batches, calling `observe` exactly once
    * per row as it streams by.
    */
  def pack(
      it: Iterator[InternalRow], numFields: Int,
      observe: InternalRow => Unit): Iterator[PackedRowBatch] =
    new scala.collection.AbstractIterator[PackedRowBatch] {
      override def hasNext: Boolean = it.hasNext
      override def next(): PackedRowBatch = {
        var data = new Array[Byte](64 << 10)
        var used = 0
        val offsets = new scala.collection.mutable.ArrayBuilder.ofInt
        val lens = new scala.collection.mutable.ArrayBuilder.ofInt
        val others = scala.collection.mutable.ArrayBuffer[InternalRow]()
        var full = false
        while (it.hasNext && !full) {
          val r = it.next()
          observe(r)
          r match {
            case u: UnsafeRow =>
              val sz = u.getSizeInBytes
              if (used + sz > data.length) {
                var cap = data.length.toLong
                while (cap < used + sz) cap *= 2
                data = java.util.Arrays.copyOf(data, math.min(cap, Int.MaxValue - 8).toInt)
              }
              Platform.copyMemory(u.getBaseObject, u.getBaseOffset,
                data, Platform.BYTE_ARRAY_OFFSET + used, sz.toLong)
              offsets += used
              lens += sz
              used += sz
            case other =>
              others += other.copy()
              offsets += 0
              lens += -others.size // -(index+1)
          }
          if (used >= targetBytes) full = true
        }
        new PackedRowBatch(numFields,
          if (used == data.length) data else java.util.Arrays.copyOf(data, used),
          offsets.result(), lens.result(), others.toArray)
      }
    }
}
