package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeRow, XXH64}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{GraftPlanning, LogicalRDD, SQLExecutionRDD}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.AccumulatorV2

/** Spark-internal access shim (hence the package) for one operation the
  * public Dataset API cannot express: an eager lineage-cutting checkpoint
  * that preserves the physical OUTPUT PARTITIONING and carries the
  * MEASURED size of what it stored, not the source plan's estimate.
  *
  * Why not `Dataset.localCheckpoint`: it preserves the optimized plan's
  * stats on the resulting `LogicalRDD` (`originStats`). In an iterative
  * superstep, join-size estimation multiplies those stats every iteration —
  * and a self-join squares them — so the estimated `sizeInBytes` BigInt
  * doubles its bit length per superstep and Catalyst's
  * `SizeInBytesOnlyStatsPlanVisitor` ends up spending minutes per step in
  * `BigInteger.multiply` (observed via jstack: ~100 s/step by superstep 20
  * on a 50k-row state). Rebuilding from the materialized `InternalRow` RDD
  * gives the leaf `Statistics(bytes, Some(rows))` counted while the rows
  * are packed: measured fresh at every checkpoint, so they cannot compound
  * across supersteps, and exact, so the planner picks joins from true
  * sizes (a join of two single-partition checkpoints needs no exchange;
  * default statistics exceed `spark.sql.maxSinglePartitionBytes`).
  *
  * Why not AQE: the checkpointed plan is planned and run without adaptive
  * execution, whatever the session says. Its inputs are checkpoints and
  * caches whose sizes are known, so re-planning at every shuffle would only
  * add a query-stage job per exchange per superstep; and the choice is made
  * here, per plan, so nothing writes the shared session's conf.
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

  /** Sum of a DoubleType column over the rows whose LongType `zeroCol` is 0
    * (every row when None); nulls are skipped. The value comes back as the
    * double's raw bits ([[Checkpoint.double]] reads it). Partition partials
    * add up in partition order, so equal inputs give equal doubles on every
    * run, whatever order the tasks finish in.
    */
  final case class SumDouble(col: String, zeroCol: Option[String] = None) extends Ride

  /** A materialized checkpoint: the fresh frame, the persisted RDD behind
    * it (to `unpersist` once superseded), the exact row count and one value
    * per requested ride, in order.
    */
  final case class Checkpoint(df: DataFrame, handle: RDD[_], rows: Long, rides: IndexedSeq[Long]) {
    /** Ride `i` read as a double (a [[SumDouble]]). */
    def double(i: Int): Double = java.lang.Double.longBitsToDouble(rides(i))
  }

  /** The one fold behind every ride: slot 0 counts rows, slot 1 their
    * packed bytes, slot i+2 folds ride i with + (counts, sums), max, xor or
    * a double + on raw bits. Each task's fold is kept by its partition and
    * the partials are folded in partition order, which makes the double
    * sums deterministic (the others are order-free anyway).
    */
  private final class RideAccumulator(rides: Array[Ride], idx: Array[Array[Int]])
      extends AccumulatorV2[InternalRow, Array[Long]] {
    private val zero = Array(0L, 0L) ++ rides.map { case _: Max => Long.MinValue; case _ => 0L }
    private var acc = zero.clone()
    // the partition a task-side copy folded (-1 until its first row)
    private var part = -1
    // driver side: the merged task folds by partition
    private var parts = scala.collection.immutable.TreeMap.empty[Int, Array[Long]]

    private def fold(slot: Int, a: Long, b: Long): Long =
      if (slot < 2) a + b
      else rides(slot - 2) match {
        case _: Max => math.max(a, b)
        case _: XorSig => a ^ b
        case _: SumDouble => java.lang.Double.doubleToRawLongBits(
          java.lang.Double.longBitsToDouble(a) + java.lang.Double.longBitsToDouble(b))
        case _ => a + b
      }

    private def foldInto(into: Array[Long], o: Array[Long]): Unit =
      for (s <- into.indices) into(s) = fold(s, into(s), o(s))

    override def isZero: Boolean = acc.sameElements(zero) && parts.isEmpty
    override def copy(): RideAccumulator = {
      val a = new RideAccumulator(rides, idx)
      a.acc = acc.clone(); a.part = part; a.parts = parts
      a
    }
    override def reset(): Unit = { acc = zero.clone(); part = -1; parts = parts.empty }
    override def merge(other: AccumulatorV2[InternalRow, Array[Long]]): Unit = other match {
      case o: RideAccumulator if o.part >= 0 =>
        val mine = parts.get(o.part).map(_.clone()).getOrElse(zero.clone())
        foldInto(mine, o.value)
        parts = parts.updated(o.part, mine)
      case o => foldInto(acc, o.value)
    }
    override def value: Array[Long] = {
      val out = acc.clone()
      parts.valuesIterator.foreach(foldInto(out, _))
      out
    }

    override def add(r: InternalRow): Unit = {
      if (part < 0) part = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
      acc(0) += 1L
      // a rare non-UnsafeRow row counts as its fixed-width UnsafeRow size
      acc(1) += (r match {
        case u: UnsafeRow => u.getSizeInBytes
        case o => UnsafeRow.calculateBitSetWidthInBytes(o.numFields) + 8 * o.numFields
      })
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
          case _: SumDouble =>
            if (r.isNullAt(c(0)) || (c.length > 1 && (r.isNullAt(c(1)) || r.getLong(c(1)) != 0L))) 0L
            else java.lang.Double.doubleToRawLongBits(r.getDouble(c(0)))
          case _: XorSig =>
            var h = 42L
            var j = 0
            while (j < c.length) {
              if (!r.isNullAt(c(j))) h = XXH64.hashLong(r.getLong(c(j)), h)
              j += 1
            }
            h
        }
        acc(i + 2) = fold(i + 2, acc(i + 2), v)
        i += 1
      }
    }
  }

  /** Resolve each ride's column indexes against `df`'s schema, checking types. */
  private def bind(df: DataFrame, rides: Seq[Ride]): Array[Array[Int]] =
    rides.map { ride =>
      val cols: Seq[(String, DataType)] = ride match {
        case CountIf(c, 0) => Seq(c -> BooleanType)
        case CountIf(c, _) => Seq(c -> IntegerType)
        case Sum(c) => Seq(c -> LongType)
        case Max(c) => Seq(c -> LongType)
        case XorSig(cs) => cs.map(_ -> LongType)
        case SumDouble(c, z) => (c -> DoubleType) +: z.toSeq.map(_ -> LongType)
      }
      cols.map { case (c, want) =>
        val i = df.schema.fieldIndex(c)
        require(df.schema(i).dataType == want, s"$ride: column $c must be $want")
        i
      }.toArray
    }.toArray

  /** Eagerly materialize `df` into a cached, lineage-truncated RDD and wrap
    * it in a fresh DataFrame with the same schema, output partitioning and
    * ordering, and statistics measured on the stored rows (not inherited).
    * The plan is planned and run without AQE (see the object doc). The row
    * count, the byte count and every ride fold in the same single job.
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
    val physical = GraftPlanning.withoutAqe(df.queryExecution)
    val acc = new RideAccumulator(rides.toArray, bind(df, rides))
    session.sparkContext.register(acc, "graft.ckpt")
    val nf = physical.output.size
    // what `QueryExecution.toRdd` does: SQLExecutionRDD carries the SQL conf
    // to the tasks
    val packed = new SQLExecutionRDD(physical.execute(), session.sessionState.conf)
      .mapPartitions(it => PackedRowBatch.pack(it, nf, acc.add))
    packed.persist(StorageLevel.MEMORY_AND_DISK)
    packed.localCheckpoint()
    packed.count()
    val rows = packed.mapPartitions(_.flatMap(_.rowIterator), preservesPartitioning = true)
    val folded = acc.value
    val logical = LogicalRDD(
      physical.output, rows, physical.outputPartitioning, physical.outputOrdering)(
      session, Some(Statistics(sizeInBytes = folded(1), rowCount = Some(folded(0)))))
    val values = rides.indices.map { i =>
      val v = folded(i + 2)
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
