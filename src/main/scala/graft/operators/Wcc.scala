package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.XorSig
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{CheckpointArena, JobLabel, StepMetrics, Superstep}

/** Result handle for [[Wcc.run]]: the per-vertex components plus
  * [[release]] to unpersist the cached blocks backing [[components]] once
  * consumed (long-lived sessions otherwise accumulate storage blocks run
  * after run). The frame must not be used after release — checkpoint
  * lineage is truncated. Idempotent.
  */
final class WccRun(
    val components: DataFrame,
    val metrics: Vector[StepMetrics],
    releaseFn: () => Unit) {
  def release(): Unit = releaseFn()
}

/** Weakly connected components via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — north-star capability (SURVEY.md §2.3).
  *
  * State is an evolving undirected link set, not per-vertex labels: each
  * round rewires every vertex's larger neighbors to its minimum neighbor
  * (large-star), then its smaller neighbors to the minimum (small-star).
  * Converges in O(log² n) rounds with high probability — in practice ~5–15
  * — where naive min-label flooding needs O(diameter) supersteps and even
  * flooding + pointer-jumping was measured at 169 supersteps on the
  * reference's 46k-vertex `mid_tests` graph (vs 10 rounds for this).
  * Each phase takes every vertex's minimum neighbour with a window over
  * its link rows — one exchange on multi-partition links, none on a single
  * partition — and only small-star ends in a distinct. No driver data; a
  * hub's rows form one window group in one task, as they would for an
  * aggregate.
  *
  * Canonical component id = min member id; an id that only an edge names
  * joins components and may be their id. Self-loops are dropped.
  * Convergence is detected by a 64-bit content signature of the link set
  * (xor of row hashes + count) going stable — ridden on each round's
  * checkpoint, so it costs no extra job.
  *
  * Scale shape: one capped attempt ([[LocalGraph.attempt]]) first reads
  * the links in one task and stops past [[LocalGraph.EdgeThreshold]]. A
  * link set that fits is solved by union-find in that job, reported as
  * one round with `changed = 0`. Above it, the star rounds run one
  * checkpoint job each, after the link checkpoint and before the exact
  * confirmation and the finish.
  */
object Wcc {

  /** @param snapshotDir per-round state snapshots of the superstep path,
    *   which a later call with the same directory resumes from (see
    *   [[graft.plans.Superstep]]); a directory belongs to one input. A
    *   graph that fits one task ([[LocalGraph.EdgeThreshold]] links or
    *   fewer) is solved in one job and writes none
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      maxIter: Int = 50,
      snapshotDir: Option[String] = None): WccRun =
    run(spark, edges, vertices, maxIter, snapshotDir, LocalGraph.EdgeThreshold)

  /** [[run]] with the one-task attempt capped at `localSolveEdgeThreshold`
    * links (see [[LocalGraph.attempt]]; 0 runs the superstep path alone). */
  private[graft] def run(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      maxIter: Int,
      snapshotDir: Option[String],
      localSolveEdgeThreshold: Long): WccRun = JobLabel(spark, "wcc", "setup") {
    import spark.implicits._
    val arena = new CheckpointArena
    val links = edges.filter(col("src") =!= col("dst"))
    val t0 = System.nanoTime()
    LocalGraph.attempt(arena, "wcc", LocalGraph.records(links.select("src", "dst"), Some(vertices)),
        localSolveEdgeThreshold, Seq("id", "comp"))(LocalGraph.wccRows) match {
      case Some(solved) =>
        // one reported round that changed nothing
        graft.Log.v(s"wcc: local solve of ${solved.rows} vertices")
        arena.closeExcept(solved.df)
        new WccRun(solved.df, Vector(StepMetrics(0, 0L, (System.nanoTime() - t0) / 1000000)),
          () => arena.closeExcept())
      case None =>
        // smallStar's distinct dedupes the first round anyway; an input
        // distinct here would be one more full shuffle of the edge table.
        val links0 = arena.checkpoint(links.select(col("src").as("u"), col("dst").as("v")))
        supersteps(spark, arena, links0.df, vertices, maxIter, snapshotDir)
    }
  }

  private def supersteps(spark: SparkSession, arena: CheckpointArena, links0: DataFrame,
      vertices: DataFrame, maxIter: Int, snapshotDir: Option[String]): WccRun = {
    val byU = Window.partitionBy("u")

    // Every link in both directions; explode keeps the child's
    // partitioning, a union would not.
    def both(links: DataFrame): DataFrame =
      links.select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e")).select("e.*")

    // Each vertex's larger neighbours move to its minimum. Minimums do not
    // change when rows repeat, so no distinct here.
    def largeStar(links: DataFrame): DataFrame =
      both(links)
        .withColumn("m", least(col("u"), min("v").over(byU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))

    // Input is largeStar's output, already oriented u > v: each u and its
    // smaller neighbours move to their minimum. The distinct keeps the
    // checkpointed state a set, which the XorSig + row-count test needs.
    def smallStar(links: DataFrame): DataFrame =
      links.withColumn("m", min("v").over(byU))
        .select(explode(array(col("u"), col("v"))).as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    val harness = new Superstep(spark, "wcc", snapshotDir, arena = arena)

    var prevSig: Option[(Long, Long)] = None
    var prevState: DataFrame = null
    // The (xor-hash, count) signature rides the checkpoint materialization
    // — no separate full-scan signature aggregate job per round. A resumed
    // link set is checkpointed with it too, so the test restarts from it.
    val (links, metrics) = harness.run(links0, maxIter, rides = Seq(XorSig(Seq("u", "v")))) {
      (st, _) =>
      prevState = st
      smallStar(largeStar(st))
    } { ck =>
      val sig = (ck.rides(0), ck.rows)
      // The 64-bit signature alone leaves a ~2^-64/round early-termination
      // window (an xor-hash collision). On FIRST stability, one exact
      // confirmation closes it: counts already match (part of sig) and both
      // sides are distinct link sets, so an empty anti-join proves equality.
      // Cost: one extra job per RUN, not per round. Both sides are
      // checkpoints partitioned alike (hash(u, v) from the distinct, or one
      // partition each), so a hash-built anti-join runs in place; unhinted,
      // the small previous state is broadcast by a job of its own.
      val changed =
        if (!prevSig.contains(sig)) 1L
        else if (prevState != null &&
          !ck.df.join(prevState.hint("shuffle_hash"), Seq("u", "v"), "left_anti").isEmpty) {
          graft.Log.v("wcc: signature collision — exact check forced another round")
          1L
        } else 0L
      graft.Log.v(s"wcc round: links=${ck.rows} changed=$changed")
      prevSig = Some(sig)
      changed
    }
    require(metrics.nonEmpty && metrics.last.changed == 0,
      s"WCC did not converge within $maxIter rounds")

    // At fixpoint every link connects a vertex directly to its component
    // min. comp(v) = min neighbor (or self for roots/isolated vertices).
    val comps = both(links).groupBy(col("u").as("id")).agg(min("v").as("mv"))
    val out = vertices.select("id")
      .join(comps, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("mv"), col("id"))).as("comp"))

    val result = JobLabel(spark, "wcc", "finish")(arena.checkpoint(out).df)
    arena.closeExcept(result)
    new WccRun(result, metrics, () => arena.closeExcept())
  }
}
