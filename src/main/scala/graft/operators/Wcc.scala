package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.XorSig
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.{CheckpointArena, StepMetrics, Superstep}

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
  * Each phase is one groupBy + join + distinct on the link set: all
  * map-side-combinable hash aggregates, no driver data, skew-tolerant
  * (AQE splits the heavy min-groups).
  *
  * Canonical component id = min member id. Convergence is detected by a
  * 64-bit content signature of the link set (xor of row hashes + count) going
  * stable — ridden on each round's checkpoint, so it costs no extra job.
  */
object Wcc {

  def run(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      maxIter: Int = 50,
      snapshotDir: Option[String] = None): WccRun = {

    val arena = new CheckpointArena

    def largeStar(links: DataFrame): DataFrame = {
      val sym = links.select(col("u"), col("v"))
        .unionByName(links.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(links: DataFrame): DataFrame = {
      val oriented = links.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(mins, Seq("u"))
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    val harness = new Superstep(spark, "wcc", snapshotDir, arena = arena,
      tinyLoop = true)
    // largeStar's first distinct dedupes anyway; an input distinct here
    // would be one more full shuffle of the edge table.
    val links0 = edges
      .filter(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))

    var prevSig: Option[(Long, Long)] = None
    var prevState: DataFrame = null
    // The (xor-hash, count) signature rides the checkpoint materialization
    // — no separate full-scan signature aggregate job per round.
    val (links, metrics) = harness.run(links0, maxIter, rides = Seq(XorSig(Seq("u", "v")))) {
      (st, _) =>
      prevState = st
      smallStar(largeStar(st))
    } { ck =>
      val sig = (ck.rides(0), ck.rows)
      // The 64-bit signature alone leaves a ~2^-64/round early-termination
      // window (an xor-hash collision). On FIRST stability, one exact
      // confirmation closes it: counts already match (part of sig) and both
      // sides are distinct link sets, so one-direction set difference being
      // empty proves equality. Cost: one extra job per RUN, not per round.
      val changed =
        if (!prevSig.contains(sig)) 1L
        else if (prevState != null &&
          !ck.df.select("u", "v").except(prevState.select("u", "v")).isEmpty) {
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
    val sym = links.select(col("u"), col("v"))
      .unionByName(links.select(col("v").as("u"), col("u").as("v")))
    val comps = sym.groupBy(col("u").as("id")).agg(min("v").as("mv"))
    val out = vertices.select("id")
      .join(comps, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("mv"), col("id"))).as("comp"))

    val result = arena.checkpoint(out).df
    arena.closeExcept(result)
    new WccRun(result, metrics, () => arena.closeExcept())
  }
}
