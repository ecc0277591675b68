package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.GraftShims.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.expr.SortedIntersect
import graft.plans.{CheckpointArena, JobLabel}

/** Triangle counting on the undirected view of a directed edge table
  * (north-star capability, SURVEY.md §2.3 — absent from the reference), by
  * sorted-adjacency intersection (HERO, SIGMOD 2024, PAPERS.md).
  *
  * Each undirected edge is oriented from the (degree, id)-smaller endpoint
  * to the larger, and N⁺(v) is v's ascending list of higher-ranked
  * neighbours. A triangle x < y < z (by rank) is then found exactly once,
  * on its edge x→y, as z ∈ N⁺(x) ∩ N⁺(y): the count is
  * Σ_{u→v} |N⁺(u) ∩ N⁺(v)|, one merge intersection per oriented edge
  * ([[SortedIntersect]]). Orientation bounds |N⁺(v)| by √(2m), so a hub
  * never fans out: its high-ranked neighbours are few.
  *
  * The whole plan is one checkpoint job (see [[neighbourPairs]] for its
  * stages); [[total]] reads its count from a ridden sum and hands back a
  * driver-side frame, so the caller's `collect` starts no job.
  *
  * Hybrid execution: [[total]] first makes one capped attempt
  * ([[LocalGraph.attempt]]) that reads the non-loop edges in one task and
  * stops past [[LocalGraph.EdgeThreshold]]. An edge table that fits is
  * counted there by the same orientation and merge intersection over
  * arrays ([[LocalGraph.triangles]]), its count riding that one job; above
  * it, the distributed plan runs after the attempt.
  */
object Triangles {

  /** One row (u, v, nu, nv) per oriented edge u→v whose N⁺(u) = nu and
    * N⁺(v) = nv are both non-empty. Two sort-based groupings and a
    * hash join, no broadcast:
    *   1. every non-loop edge in both directions, grouped by endpoint: the
    *      distinct neighbours of v (duplicated and reversed edges collapse
    *      here), each told (w, v, deg v);
    *   2. grouped by w: w hears every neighbour's degree once, so its own
    *      degree is the number of rows, and keeps the higher-ranked ones as
    *      N⁺(w), ascending;
    *   3. each u→v row of N⁺(u) meets N⁺(v) in a shuffle-hash join on v.
    */
  private def neighbourPairs(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val both = edges
      .select(col("src").cast(LongType).as("a"), col("dst").cast(LongType).as("b"))
      .filter(col("a") =!= col("b"))
      .select(explode(array(struct(col("a").as("_1"), col("b").as("_2")),
        struct(col("b").as("_1"), col("a").as("_2")))).as("e"))
      .select("e.*")
      .as[(Long, Long)]

    val told = both.groupByKey(_._1).flatMapGroups { (v, rows) =>
      val ns = rows.map(_._2).toArray
      java.util.Arrays.sort(ns)
      var d = 0
      for (i <- ns.indices) if (i == 0 || ns(i) != ns(i - 1)) { ns(d) = ns(i); d += 1 }
      Iterator.tabulate(d)(i => (ns(i), v, d.toLong))
    }

    val up = told.groupByKey(_._1).flatMapGroups { (w, rows) =>
      val heard = rows.toArray
      val dw = heard.length.toLong
      val hi = heard.collect { case (_, v, dv) if dv > dw || (dv == dw && v > w) => v }
      java.util.Arrays.sort(hi)
      if (hi.isEmpty) Iterator.empty else Iterator.single((w, hi))
    }.toDF("v", "up")

    up.select(col("v").as("u"), explode(col("up")).as("v"), col("up").as("nu"))
      .join(up.select(col("v"), col("up").as("nv")).hint("shuffle_hash"), Seq("v"))
  }

  /** N⁺(u) ∩ N⁺(v) of a [[neighbourPairs]] row: its triangles' third corners. */
  private def corners = GraftShims.column(
    SortedIntersect(GraftShims.expression(col("nu")), GraftShims.expression(col("nv"))))

  /** Total triangle count (1-row DataFrame: triangles: long), held on the
    * driver. */
  def total(spark: SparkSession, edges: DataFrame): DataFrame =
    total(spark, edges, LocalGraph.EdgeThreshold)

  /** [[total]] with the one-task attempt capped at `localSolveEdgeThreshold`
    * edges (0 runs the distributed plan alone). An edge with a null
    * endpoint is in no triangle on either path. */
  private[graft] def total(spark: SparkSession, edges: DataFrame,
      localSolveEdgeThreshold: Long): DataFrame = JobLabel(spark, "triangles", "total") {
    import spark.implicits._
    val arena = new CheckpointArena
    val (a, b) = (col("src").cast(LongType), col("dst").cast(LongType))
    val t = LocalGraph.attempt(arena, "triangles", LocalGraph.records(edges.filter(a =!= b), None),
        localSolveEdgeThreshold, Seq("t"), Sum("t"))(g => Iterator.single(LocalGraph.triangles(g)))
      .map(_.rides(0))
      .getOrElse(arena.checkpoint(
        neighbourPairs(spark, edges)
          .select(size(corners).cast(LongType).as("t"))
          .filter(col("t") > 0),
        Sum("t")).rides(0))
    arena.closeExcept()
    spark.createDataFrame(java.util.List.of(Row(t)),
      StructType(Seq(StructField("triangles", LongType, nullable = false))))
  }

  /** Per-vertex triangle participation count (id, triangles): each found
    * triangle contributes one to all three corners. Vertices in no triangle
    * are absent. Materialized by one checkpoint job. */
  def perVertex(spark: SparkSession, edges: DataFrame): DataFrame =
    JobLabel(spark, "triangles", "per-vertex") {
      GraftShims.checkpoint(
        neighbourPairs(spark, edges)
          .select(col("u"), col("v"), explode(corners).as("w"))
          .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
          .groupBy("id").agg(count("*").as("triangles")),
        Nil).df
    }
}
