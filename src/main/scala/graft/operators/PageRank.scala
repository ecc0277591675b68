package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.CountIf
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.{CheckpointArena, StepMetrics, Superstep}

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
  * Per iteration (one shuffle for the contribution aggregate, one scalar agg
  * for the dangling mass — the convergence check rides on the same state):
  *   rank'(v) = (1-α)/n + α·( Σ_{u→v} rank(u)/outDeg(u) + danglingMass/n )
  *
  * Ranks sum to 1 every iteration; convergence = max |Δrank| < tol
  * (north_star: allclose 1e-6 at convergence).
  *
  * Scale notes: contributions aggregate is a map-side-combinable hash agg on
  * `dst`; the edge table is persisted hash-partitioned on `src` so the
  * rank⨝edges join reuses one partitioning every superstep; AQE skew-join
  * handles hub vertices.
  */
object PageRank {

  /** One rank update per superstep; `maxIter` bounds the iterations
    * exactly (q_pagerank_topk's oracle depends on exactly-20), and `tol`
    * stops earlier once no rank moves by more than it.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      alpha: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      snapshotDir: Option[String] = None): PageRankRun = {
    val n = vertices.count().toDouble
    val arena = new CheckpointArena

    val outDeg = edges.groupBy(col("src").as("id")).agg(count("*").as("outDeg"))
    // NOT persisted: the only consumer is state0, which the harness
    // checkpoints immediately (update() reads outDeg from the checkpointed
    // state — see the negative A/B below); caching O(V) rows that are
    // scanned exactly once would be a pure cache-write tax
    val verts = vertices
      .select("id")
      .join(outDeg, Seq("id"), "left")
      .select(col("id"), coalesce(col("outDeg"), lit(0L)).as("outDeg"))
      .repartition(col("id"))
    val edgesBySrc = edges.select("src", "dst")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgesBySrc.count()

    // State slimming to (id, rank, changed) with outDeg re-joined per use
    // from the persisted verts was TRIED and MEASURED NEGATIVE (round 3,
    // BASELINE.md "PageRank state A/B"): the 25% checkpoint-byte cut was
    // outweighed by two extra joins per iteration — Catalyst broadcasts the
    // sub-10MB verts side and a superstep is a fresh query, so every
    // iteration paid fresh broadcast builds; q_pagerank_topk 10.0 → 13.5 s
    // and both scaling legs −38%. The static outDeg column riding the
    // checkpoint is the cheaper carrier at any scale where the join build
    // isn't free.
    val state0 = verts.select(col("id"), col("outDeg"), lit(1.0 / n).as("rank"),
      lit(true).as("changed"))

    // One rank update. Dangling mass rides the plan as a broadcast 1-row
    // aggregate — folding it in keeps each update scalar-action-free; a
    // `.head()` here would add a job per iteration.
    def update(state: DataFrame): DataFrame = {
      val danglingDf = state.filter(col("outDeg") === 0)
        .agg(coalesce(sum("rank"), lit(0.0)).as("danglingMass"))

      // SHUFFLE_HASH on BIG graphs only (guide §3.1): above the AQE-off
      // size cutover the checkpointed state carries default stats and the
      // planner's fallback was sort-merge — re-SORTING the cached edge
      // table and the state on every iteration; hash-building the state /
      // contribs side streams the big sides unsorted, and both joins stay
      // co-partitioned (state hash(id), edges hash(src), contribs hash(id)
      // from its own aggregation), so no new exchange appears. BELOW the
      // cutover AQE is on and the forced hint measured 2× SLOWER than
      // AQE's own broadcast/coalesce choices — so the hint follows the
      // same size gate as the AQE policy. Float-sum order changes only
      // within partitions, which the rank outputs already tolerate (ranks
      // round to 6 dp before ranking; the oracle sums in its own order) —
      // gated by the hash-exact oracle compare.
      def sized(df: DataFrame): DataFrame =
        if (n >= graft.plans.Superstep.aqeOffMinStateRows) df.hint("shuffle_hash") else df
      val contribs = sized(state)
        .join(edgesBySrc, state("id") === edgesBySrc("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("outDeg")).as("contrib"))

      state
        .select(col("id"), col("outDeg"), col("rank").as("prevRank"))
        .join(sized(contribs), Seq("id"), "left")
        .crossJoin(broadcast(danglingDf))
        .select(
          col("id"),
          col("outDeg"),
          (lit((1.0 - alpha) / n) +
            lit(alpha) * (coalesce(col("contrib"), lit(0.0)) + col("danglingMass") / n))
            .as("rank"),
          col("prevRank"))
        .withColumn("changed", abs(col("rank") - col("prevRank")) > tol)
        .drop("prevRank")
    }

    val harness = new Superstep(spark, "pagerank", snapshotDir, arena = arena,
      tinyLoop = true)
    val (converged, metrics) = harness.run(state0, maxIter, rides = Seq(CountIf("changed"))) {
      (state, _) => update(state)
    } (_.rides(0))

    edgesBySrc.unpersist(false)
    new PageRankRun(converged.select("id", "rank"), metrics, () => arena.closeExcept())
  }
}
