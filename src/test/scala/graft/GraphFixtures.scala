package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph fixtures that only the tests build: the driver-side parse of the
  * reference graph-file format and the reference's mid_tests generator.
  */
object GraphFixtures {

  /** Driver-side parse of the format [[graft.sources.GraphFile.read]]
    * reads, for small test fixtures and the in-test Tarjan oracle. Kept
    * semantically identical to `GraphFile.read` on well-formed files.
    * Returns (edges, numNodes, U ids).
    */
  def parseLocal(content: String): (Seq[(Long, Long)], Long, Set[Long]) = {
    var n = 0L
    val edges = Seq.newBuilder[(Long, Long)]
    val u = Set.newBuilder[Long]
    content.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      val toks = line.split("\\s+")
      if (toks(0) == "%") n = toks(2).toLong
      else if (toks.length >= 2) edges += ((toks(0).toLong, toks(1).toLong))
      else u += toks(0).toLong
    }
    (edges.result(), n, u.result())
  }

  /** Parameters of the reference's mid_tests generator (generate.py:14-36),
    * defaults = the published constants. The reference derives
    * lenLo = numCycles/60 and lenHi = 2·numCycles/60; pass them explicitly so
    * fixture size and cycle length decouple.
    */
  final case class MidTestSpec(
      numCycles: Long,
      lenLo: Int,
      lenHi: Int,
      extraNodesFrac: Double = 0.2,
      arcsPerNode: Double = 0.9999,
      arcsToRemovePerCycle: Int = 18,
      seed: Long = 24122022L) {
    require(lenLo >= 2 && lenHi >= lenLo)
  }

  /** The reference's mid_tests construction (generate.py:76-153), ported
    * parameter-for-parameter as distributed column algebra: `numCycles`
    * directed cycles with pseudo-random lengths in [lenLo, lenHi] laid out
    * at cumulative offsets (generate.py:39-41,96-99), plus
    * `extraNodesFrac`·n isolated vertices (l.101-102), plus
    * ⌊arcsPerNode·n⌋ uniform random arcs (l.108-110, RANDOM_ARCS_TO_ADD),
    * minus `arcsToRemovePerCycle`·numCycles pseudo-randomly chosen arcs
    * (l.116-117, N_ARCS_TO_REMOVE). Python's RNG is replaced by xxhash64
    * streams — the construction (not the byte-identical graph) is the
    * parity target; correctness is checked against the in-test Tarjan
    * oracle, like the reference checks its own generator with networkx
    * (generate.py:131-136).
    *
    * Returns (edges, numVertices). The cumulative-offset prefix sum runs as
    * a window over the cycle table (numCycles rows, not numVertices) — at
    * 10^9+ cycles switch to a two-level scan; fixture generation never
    * needs that.
    */
  def midTestEdges(spark: SparkSession, spec: MidTestSpec): (DataFrame, Long) = {
    val lens = spark.range(spec.numCycles)
      .select(col("id").as("c"),
        (lit(spec.lenLo.toLong) +
          pmod(xxhash64(lit(spec.seed), col("id")), lit((spec.lenHi - spec.lenLo + 1).toLong)))
          .as("len"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("c")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cycles = lens.withColumn("offset", coalesce(sum("len").over(w), lit(0L)))

    val n0 = lens.agg(sum("len")).head().getLong(0)
    val n = n0 + (n0 * spec.extraNodesFrac).toLong

    val cycleEdges = cycles
      .select(col("offset"), col("len"),
        explode(sequence(lit(0L), col("len") - 1)).as("pos"))
      .select(
        (col("offset") + col("pos")).as("src"),
        (col("offset") + pmod(col("pos") + 1, col("len"))).as("dst"))

    val numRandomArcs = (n * spec.arcsPerNode).toLong
    val randomArcs = spark.range(numRandomArcs)
      .select(
        pmod(xxhash64(lit(spec.seed + 1), col("id")), lit(n)).as("src"),
        pmod(xxhash64(lit(spec.seed + 2), col("id")), lit(n)).as("dst"))

    val all = cycleEdges.unionByName(randomArcs)
      .filter(col("src") =!= col("dst"))
      .distinct()
    // remove K pseudo-random arcs: the K smallest under an order-free hash.
    // Computed in the LONG domain — the old .toInt on the product wrapped
    // negative past ~120M cycles and limit() throws on a negative argument
    val kL = spec.arcsToRemovePerCycle.toLong * spec.numCycles
    require(kL >= 0 && kL <= Int.MaxValue,
      s"arcsToRemovePerCycle*numCycles = $kL exceeds limit()'s Int range")
    val k = kL.toInt
    val removed = all
      .orderBy(xxhash64(lit(spec.seed + 3), col("src"), col("dst")))
      .limit(k)
    (all.join(removed, Seq("src", "dst"), "left_anti"), n)
  }

  /** Mid-test vertex table: isU = random 1/20 of vertices (generate.py:147
    * RATIO_U_NODES_TO_TOTAL_NODES; the SCC-seeded half of the reference's U
    * needs the answer, so tests add it from the oracle when required). */
  def midTestVertices(spark: SparkSession, spec: MidTestSpec, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      (pmod(xxhash64(lit(spec.seed + 4), col("id")), lit(20)) === 0).as("isU"))
}
