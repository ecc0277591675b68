package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, fully-distributed synthetic graph generator.
  *
  * Mirrors the construction of the reference's generator
  * (`/root/reference/gen/generate.py:39-41,85-114`): a union of directed
  * cycles of pseudo-random lengths, plus random extra arcs that merge some
  * cycles into larger SCCs, plus vertices that belong to no cycle. The U
  * subset is "all members of ~half the cycles ∪ a random 1/20 of vertices"
  * (generate.py:146-147).
  *
  * Unlike the reference (a driver-side Python loop), generation here is pure
  * column algebra over `spark.range(n)` — every vertex/edge is a function of
  * its index through `xxhash64`, so the same spec yields the same graph at
  * any parallelism and any scale, with no driver materialization. At 10^12
  * rows this is just a bigger `range`.
  *
  * Layout: cycle `c` owns the id block `[c*B, (c+1)*B)` where `B = maxCycleLen`.
  * Within the block, positions `0 until len(c)` form the directed cycle
  * (`len(c) = 2 + hash(c) mod (B-1)`); positions `len(c) until B` are
  * cycle-free filler vertices (the reference's "extra nodes"). This keeps
  * vertex→cycle assignment O(1) per row instead of needing a prefix-sum over
  * random lengths.
  */
final case class GraphSpec(
    numCycles: Long,
    maxCycleLen: Int = 16,
    extraArcsPerVertex: Double = 0.5,
    seed: Long = 42L) {
  require(maxCycleLen >= 3, "need room for cycles of length >= 2 plus filler")
  def blockSize: Int = maxCycleLen
  def numVertices: Long = numCycles * blockSize
  def numExtraArcs: Long = (numVertices * extraArcsPerVertex).toLong
}

object GraphGen {

  /** Range split count sized to the row count (~1 split per 32k rows,
    * clamped to [1, defaultParallelism]). `spark.range(n)` always fans out
    * to defaultParallelism tasks; for tiny synthetic tables every one of
    * those tasks pays Spark's fixed per-task costs — a ~page-sized
    * RowBasedKeyValueBatch allocation in each hash aggregate and a
    * file-create+commit per shuffle map task — which dominated the
    * generator-backed queries (thread-dump evidence, OPTIMIZATION_r06.md).
    * Row values are a pure function of `id`, so the split count never
    * changes results.
    */
  private[sources] def slicesFor(spark: SparkSession, n: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, n / 32768L + 1L)).toInt

  /** The c/pos/len cycle-assignment columns shared by [[edges]] and
    * [[vertices]] — ONE copy of the algebra so the two can never silently
    * diverge, and in the LONG domain end-to-end: `id div b` is exact
    * integer division at any id, where the old double `/` (Spark's `/` on
    * longs is floating-point) rounds ids past ~2^52/b into the NEIGHBORING
    * cycle's block, making edges and vertices disagree on membership.
    */
  private def withCycleCols(
      df: DataFrame, spec: GraphSpec): DataFrame = {
    val b = lit(spec.blockSize.toLong)
    df.withColumn("c", expr(s"id div ${spec.blockSize}"))
      .withColumn("pos", col("id") % b)
      .withColumn("len", lit(2L) + pmod(xxhash64(lit(spec.seed), col("c")), b - 1))
  }

  /** Distinct directed edges (src: long, dst: long), no self-loops. */
  def edges(spark: SparkSession, spec: GraphSpec): DataFrame = {
    val b = lit(spec.blockSize.toLong)
    val n = spec.numVertices

    val cycleEdges = withCycleCols(
      spark.range(0, n, 1, slicesFor(spark, n)).toDF(), spec)
      .filter(col("pos") < col("len"))
      .select(
        col("id").as("src"),
        when(col("pos") + 1 < col("len"), col("id") + 1)
          .otherwise(col("c") * b)
          .as("dst"))

    val extraArcs = spark
      .range(0, spec.numExtraArcs, 1, slicesFor(spark, spec.numExtraArcs))
      .select(
        pmod(xxhash64(lit(spec.seed + 1), col("id")), lit(n)).as("src"),
        pmod(xxhash64(lit(spec.seed + 2), col("id")), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))

    cycleEdges.unionByName(extraArcs).distinct()
  }

  /** Vertex table (id: long, isU: boolean). */
  def vertices(spark: SparkSession, spec: GraphSpec): DataFrame = {
    withCycleCols(
      spark.range(0, spec.numVertices, 1, slicesFor(spark, spec.numVertices)).toDF(), spec)
      .select(
        col("id"),
        ((col("pos") < col("len") && pmod(xxhash64(lit(spec.seed + 3), col("c")), lit(2)) === 0) ||
          pmod(xxhash64(lit(spec.seed + 4), col("id")), lit(20)) === 0).as("isU"))
  }
}
