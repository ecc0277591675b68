package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.{CheckpointArena, JobLabel, Superstep}

/** Result handle for [[LabelProp.run]]: the per-vertex labels plus
  * [[release]] to unpersist the cached blocks backing [[labels]] once
  * consumed. The frame must not be used after release — checkpoint lineage
  * is truncated. Idempotent.
  */
final class LabelPropRun(val labels: DataFrame, releaseFn: () => Unit) {
  def release(): Unit = releaseFn()
}

/** Seeded synchronous label propagation over a directed edge table — the
  * north-rule's fourth named graph capability (alongside PageRank, connected
  * components and triangle count). The classic web use is propagating a
  * sparse trusted labeling (topic, spam/ham, license class) along the link
  * graph: each round, every vertex adopts the **majority label of its
  * in-neighbors'** current labels (ties broken toward the smallest label);
  * vertices with a seed label are clamped to it (semi-supervised LPA);
  * vertices that no labeled vertex has reached keep their previous label.
  * Every edge row is a vote: duplicates and self-loops count, an edge from
  * an id outside `verts` votes nothing and a vote for one is lost.
  * Synchronous rounds + deterministic tie-break make the result exactly
  * reproducible — the driver oracle unrolls the same recurrence in SQL.
  *
  * Scale shape: one capped attempt ([[LocalGraph.attempt]]) first reads
  * the edges in one task and stops past [[LocalGraph.EdgeThreshold]]. An
  * edge table that fits is solved in that job by the recurrence over
  * arrays ([[LocalGraph.labelPropRows]]). Above it, the edge table is
  * checkpointed hash(src), and each round is one
  * checkpoint job: a co-partitioned shuffle-hash join of the edge table
  * against the labeled state (hash(id)), built on the state — unhinted,
  * the state's exact statistics below `autoBroadcastJoinThreshold` made
  * the planner broadcast it, one broadcast job per round — then ONE
  * hash(dst) exchange, after which the `(dst, label)` vote count, the
  * arg-max per `dst` (both hash aggregations) and the co-partitioned
  * shuffle-hash join back into the state all run in place. Shuffle bytes
  * per round are O(labeled out-degree), not O(E); rounds run on
  * [[graft.plans.Superstep]], so lineage stays flat at any iteration count.
  */
object LabelProp {

  /** Ordering key of a (count, label) vote tally as one decimal:
    * `c·2^64 + (2^63 - 1 - label)`, larger for more votes and then for the
    * smaller label. A max over it is a hash aggregation, where a
    * (count, -label) struct max plans as a sort aggregation. Exact for
    * every Long label and any count below 5·10^18. */
  private val VoteKey = DecimalType(38, 0)

  private def voteKey(c: Column, label: Column): Column =
    c.cast(VoteKey) * lit(BigDecimal(2).pow(64).bigDecimal).cast(VoteKey) +
      (lit(Long.MaxValue).cast(VoteKey) - label.cast(VoteKey))

  /** @param edges (src, dst) directed edges; labels flow src → dst
    * @param verts (id) full vertex set
    * @param seeds (id, label) clamped seed labels, label: Long; duplicate
    *   ids resolve deterministically to their MIN label (an un-deduped
    *   left join would multiply state rows and double-count votes)
    * @return handle to (id, label) for every vertex; -1 where no label
    *   arrived
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      verts: DataFrame,
      seeds: DataFrame,
      iterations: Int): LabelPropRun =
    run(spark, edges, verts, seeds, iterations, LocalGraph.EdgeThreshold)

  /** [[run]] with the one-task attempt capped at `localSolveEdgeThreshold`
    * edges (see [[LocalGraph.attempt]]; 0 runs the superstep path alone). */
  private[graft] def run(
      spark: SparkSession,
      edges: DataFrame,
      verts: DataFrame,
      seeds: DataFrame,
      iterations: Int,
      localSolveEdgeThreshold: Long): LabelPropRun = JobLabel(spark, "labelprop", "setup") {
    require(iterations >= 1, "iterations must be >= 1")
    import spark.implicits._
    val arena = new CheckpointArena
    LocalGraph.attempt(arena, "labelprop", LocalGraph.records(edges, Some(verts), Some(seeds)),
        localSolveEdgeThreshold, Seq("id", "label"))(LocalGraph.labelPropRows(_, iterations)) match {
      case Some(solved) =>
        arena.closeExcept(solved.df)
        new LabelPropRun(solved.df, () => arena.closeExcept())
      case None =>
        // A checkpoint, not a persist: a persisted plan is cached through
        // AQE, whose exchange runs as a query-stage job of its own inside
        // the first round.
        val eBySrc = arena.checkpoint(edges.select("src", "dst").repartition(col("src")))
        supersteps(spark, arena, eBySrc.df, verts, seeds, iterations)
    }
  }

  private def supersteps(spark: SparkSession, arena: CheckpointArena, eBySrc: DataFrame,
      verts: DataFrame, seeds: DataFrame, iterations: Int): LabelPropRun = {
    // hinted so the seed labels are not broadcast by a job of their own
    val seeds1 = seeds.groupBy("id").agg(min("label").as("seedLabel"))
    val state0 = verts.select("id")
      .join(seeds1.hint("shuffle_hash"), Seq("id"), "left")
      .withColumn("label", col("seedLabel"))
      .repartition(col("id"))

    // Exactly `iterations` rounds: the recurrence has no convergence test,
    // and only an empty state (nothing to propagate) stops it earlier.
    val harness = new Superstep(spark, "labelprop", arena = arena)
    val (state, _) = harness.run(state0, iterations) { (st, _) =>
      // the one exchange of the round: the vote count groups by
      // (dst, label), which hash(dst) already clusters, and so does the
      // arg-max after it
      val contrib = eBySrc
        .join(st.filter(col("label").isNotNull)
          .select(col("id").as("src"), col("label")).hint("shuffle_hash"), Seq("src"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy("dst")
        .agg(max_by(col("label"), voteKey(col("c"), col("label"))).as("cand"))
        .select(col("dst").as("id"), col("cand"))
      st.join(contrib.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), col("seedLabel"),
          coalesce(col("seedLabel"), col("cand"), col("label")).as("label"))
    } (_.rows)

    val out = state.select(col("id"), coalesce(col("label"), lit(-1L)).as("label"))
    // state's blocks back `out` lazily; kept alive until the caller's
    // release() (same pattern as Scc's assignedParts).
    arena.closeExcept(state)
    new LabelPropRun(out, () => arena.closeExcept())
  }
}
