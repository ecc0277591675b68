package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.GraftShims.{CountIf, SumDouble}
import org.apache.spark.sql.functions._

import graft.functions.expr.DoubleParam
import graft.plans.{CheckpointArena, JobLabel, StepMetrics, Superstep}

/** Result handle for [[PageRank.run]]: the per-vertex ranks plus
  * [[release]] to unpersist the cached blocks backing [[ranks]] once
  * consumed. The frame must not be used after release — checkpoint lineage
  * is truncated. Idempotent.
  */
final class PageRankRun(
    val ranks: DataFrame,
    val metrics: Vector[StepMetrics],
    releaseFn: () => Unit) {
  def release(): Unit = releaseFn()
}

/** PageRank with proper dangling-mass redistribution (north-star capability,
  * SURVEY.md §2.3 — reuses the reference's frontier-join shape,
  * `/root/reference/main.cpp:65-87`).
  *
  * Per iteration (one shuffle for the contribution aggregate; the dangling
  * mass and the convergence count ride the same state checkpoint):
  *   rank'(v) = (1-α)/n + α·( Σ_{u→v} rank(u)/outDeg(u) + danglingMass/n )
  *
  * Ranks sum to 1 every iteration; convergence = max |Δrank| < tol
  * (north_star: allclose 1e-6 at convergence).
  *
  * Scale shape: one capped attempt ([[LocalGraph.attempt]]) first reads
  * the edges in one task and stops past [[LocalGraph.EdgeThreshold]]. An
  * edge table that fits is solved in that job by the same power iteration
  * over arrays ([[LocalGraph.pageRank]]), with each iteration's exact
  * changed count (and its wall time in the task) coming back in `metrics`
  * through an accumulator of that job's result task. Above it, the
  * superstep path: the edge table is checkpointed hash-partitioned on
  * `src`, the contributions aggregate is a map-side-combinable hash agg on
  * `dst`, the rank⨝edges join reuses the `src` partitioning as a
  * co-partitioned shuffle-hash join at every size (the SHUFFLE_HASH hints
  * in `update`): no edge broadcast, and the dangling mass of step i rides
  * step i's checkpoint into step i+1's plan, so an iteration is one job.
  * Its setup is three jobs: the edge table, the vertex out-degrees (whose
  * row count is n) and the first state, which a resumed run reads back
  * from its newest snapshot instead.
  *
  * Every edge row counts in its source's out-degree (duplicates,
  * self-loops and edges to ids outside `vertices` alike); an edge from an
  * id outside `vertices` carries nothing, and mass sent to one is lost.
  */
object PageRank {

  /** One rank update per superstep; `maxIter` bounds the iterations
    * exactly (q_pagerank_topk's oracle depends on exactly-20), and `tol`
    * stops earlier once no rank moves by more than it.
    * @param snapshotDir per-step state snapshots of the superstep path,
    *   which a later call with the same directory resumes from (see
    *   [[graft.plans.Superstep]]); a directory belongs to one input, and a
    *   resumed state whose row count is not the vertex count throws. A
    *   graph that fits one task ([[LocalGraph.EdgeThreshold]] edges or
    *   fewer) is solved in one job and writes none
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      alpha: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      snapshotDir: Option[String] = None): PageRankRun =
    run(spark, edges, vertices, alpha, tol, maxIter, snapshotDir, LocalGraph.EdgeThreshold)

  /** [[run]] with the one-task attempt capped at `localSolveEdgeThreshold`
    * edges (see [[LocalGraph.attempt]]; 0 runs the superstep path alone).
    * The attempt's result task hands back each iteration's (changed, wall
    * ms), which Spark applies exactly once per partition (see
    * [[org.apache.spark.sql.GraftShims.checkpoint]]). */
  private[graft] def run(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      alpha: Double,
      tol: Double,
      maxIter: Int,
      snapshotDir: Option[String],
      localSolveEdgeThreshold: Long): PageRankRun = JobLabel(spark, "pagerank", "setup") {
    import spark.implicits._
    val arena = new CheckpointArena
    val steps = spark.sparkContext.collectionAccumulator[(Long, Long)]("graft.pagerank.steps")
    LocalGraph.attempt(arena, "pagerank", LocalGraph.records(edges, Some(vertices)),
        localSolveEdgeThreshold, Seq("id", "rank")) { g =>
      val rank = LocalGraph.pageRank(g, alpha, tol, maxIter, (c, ms) => steps.add((c, ms)))
      g.vertices.iterator.map(v => (g.id(v), rank(v)))
    } match {
      case Some(solved) =>
        val metrics = steps.value.asScala.toVector.zipWithIndex
          .map { case ((changed, ms), i) => StepMetrics(i, changed, ms) }
        graft.Log.v(s"pagerank: local solve of ${solved.rows} vertices, ${metrics.size} iterations")
        arena.closeExcept(solved.df)
        new PageRankRun(solved.df, metrics, () => arena.closeExcept())
      case None =>
        val edgesBySrc = arena.checkpoint(edges.select("src", "dst").repartition(col("src")))
        supersteps(spark, arena, edgesBySrc.df, vertices, alpha, tol, maxIter, snapshotDir)
    }
  }

  private def supersteps(spark: SparkSession, arena: CheckpointArena, edgesBySrc: DataFrame,
      vertices: DataFrame, alpha: Double, tol: Double, maxIter: Int,
      snapshotDir: Option[String]): PageRankRun = {
    // hash(src) already: the out-degree count needs no exchange, and the
    // hinted join keeps it from being broadcast by a job of its own
    val outDeg = edgesBySrc.groupBy(col("src").as("id")).agg(count("*").as("outDeg"))
    val verts = arena.checkpoint(vertices
      .select("id")
      .join(outDeg.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("outDeg"), lit(0L)).as("outDeg"))
      .repartition(col("id")))
    val n = verts.rows.toDouble

    // State slimming to (id, rank, changed) with outDeg re-joined per use
    // from the persisted verts was TRIED and MEASURED NEGATIVE (round 3,
    // BASELINE.md "PageRank state A/B"): the 25% checkpoint-byte cut was
    // outweighed by two extra joins per iteration — Catalyst broadcasts the
    // sub-10MB verts side and a superstep is a fresh query, so every
    // iteration paid fresh broadcast builds; q_pagerank_topk 10.0 → 13.5 s
    // and both scaling legs −38%. The static outDeg column riding the
    // checkpoint is the cheaper carrier at any scale where the join build
    // isn't free.
    // Every state checkpoint rides its changed count and its dangling mass
    // Σ rank over outDeg = 0, which the next update reads: the first
    // state's too, fresh or resumed.
    val rides = Seq(CountIf("changed"), SumDouble("rank", Some("outDeg")))
    val state0 =
      verts.df.select(col("id"), col("outDeg"), lit(1.0 / n).as("rank"), lit(true).as("changed"))
    var danglingMass = 0.0

    // One rank update. The dangling mass enters the plan as a DoubleParam:
    // the generated code reads it from its references, so every step runs
    // the same compiled classes (an inlined literal would change the source
    // and compile them anew each step).
    def update(state: DataFrame): DataFrame = {
      // SHUFFLE_HASH on both joins (guide §3.1): the state is hash(id), the
      // edges hash(src) and contribs hash(id) from its own aggregation, so
      // hash-building the state / contribs side keeps both joins
      // co-partitioned with no new exchange. Unhinted, exact statistics
      // below `autoBroadcastJoinThreshold` broadcast the cached edge table
      // again on every iteration (a superstep is a fresh query), and above
      // it the sort-merge fallback re-sorts the edges and the state every
      // iteration. Float-sum order changes only within partitions, which
      // the rank outputs already tolerate (ranks round to 6 dp before
      // ranking; the oracle sums in its own order) — gated by the
      // hash-exact oracle compare.
      val contribs = state.hint("shuffle_hash")
        .join(edgesBySrc, state("id") === edgesBySrc("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("outDeg")).as("contrib"))

      state
        .select(col("id"), col("outDeg"), col("rank").as("prevRank"))
        .join(contribs.hint("shuffle_hash"), Seq("id"), "left")
        .select(
          col("id"),
          col("outDeg"),
          (lit((1.0 - alpha) / n) +
            lit(alpha) * (coalesce(col("contrib"), lit(0.0)) +
              GraftShims.column(DoubleParam(danglingMass)) / n))
            .as("rank"),
          col("prevRank"))
        .withColumn("changed", abs(col("rank") - col("prevRank")) > tol)
        .drop("prevRank")
    }

    val harness = new Superstep(spark, "pagerank", snapshotDir, arena = arena)
    val (converged, metrics) = harness.run(state0, maxIter, rides = rides) {
      (state, _) => update(state)
    } { ck =>
      arena.release(verts.df) // backs only the first state
      // every state holds one row per vertex; a snapshot of another input may not
      if (ck.rows != verts.rows) throw new IllegalStateException(s"pagerank: a state of " +
        s"${ck.rows} rows for ${verts.rows} vertices; ${snapshotDir.mkString} holds another input")
      danglingMass = ck.double(1)
      ck.rides(0)
    }

    arena.release(edgesBySrc)
    new PageRankRun(converged.select("id", "rank"), metrics, () => arena.closeExcept())
  }
}
