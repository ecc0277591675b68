package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{CheckpointArena, Superstep}

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
  * Synchronous rounds + deterministic tie-break make the result exactly
  * reproducible — the driver oracle unrolls the same recurrence in SQL.
  *
  * Scale shape (per round): one join of the edge table against the labeled
  * state — edges persisted hash(src) so the big side never moves — then a
  * two-level aggregation (`(dst,label)` count with map-side partials, then
  * arg-max per `dst`) and one co-partitioned join back into the
  * hash(id)-partitioned state. Shuffle bytes per round are O(labeled
  * out-degree), not O(E); rounds run on [[graft.plans.Superstep]], which
  * checkpoints each one, so lineage stays flat at any iteration count.
  *
  * Labels must be > Long.MinValue (the min-label tie-break rides a numeric
  * negation inside the arg-max struct).
  */
object LabelProp {

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
      iterations: Int): LabelPropRun = {
    require(iterations >= 1, "iterations must be >= 1")
    val arena = new CheckpointArena

    val eBySrc = edges.select("src", "dst")
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val seeds1 = seeds.groupBy("id").agg(min("label").as("seedLabel"))
    val state0 = verts.select("id")
      .join(seeds1, Seq("id"), "left")
      .withColumn("label", col("seedLabel"))
      .repartition(col("id"))

    // The per-round plan touches only the state, its aggregates and the
    // co-partitioned eBySrc — the PageRank/WCC shape, so the tiny-loop
    // policy applies. Exactly `iterations` rounds: the recurrence has no
    // convergence test, and only an empty state (nothing to propagate)
    // stops it earlier.
    val harness = new Superstep(spark, "labelprop", arena = arena, tinyLoop = true)
    val (state, _) = harness.run(state0, iterations) { (st, _) =>
      val contrib = eBySrc
        .join(st.filter(col("label").isNotNull)
          .select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy("dst")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst").as("id"), (-col("m.nl")).as("cand"))
      st.join(contrib, Seq("id"), "left")
        .select(col("id"), col("seedLabel"),
          coalesce(col("seedLabel"), col("cand"), col("label")).as("label"))
    } (_.rows)

    val out = state.select(col("id"), coalesce(col("label"), lit(-1L)).as("label"))
    eBySrc.unpersist(false)
    // state's blocks back `out` lazily; kept alive until the caller's
    // release() (same pattern as Scc's assignedParts).
    arena.closeExcept(state)
    new LabelPropRun(out, () => arena.closeExcept())
  }
}
