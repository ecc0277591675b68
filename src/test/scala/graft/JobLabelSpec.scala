package graft

import org.apache.spark.sql.functions._

import graft.operators.{LabelProp, PageRank, Scc, Triangles, Wcc}
import graft.sources.{GraphGen, GraphSpec}

/** Every Spark job an operator starts is named `graft <op> <phase>`
  * ([[graft.plans.JobLabel]]): a traced run attributes each job to an
  * operator phase, and Spark skips its per-RDD stack walk for them.
  */
class JobLabelSpec extends SparkTest {
  test("every job inside an operator call carries a graft label") {
    val spec = GraphSpec(numCycles = 40, maxCycleLen = 6, extraArcsPerVertex = 1.0, seed = 11L)
    val edges = GraphGen.edges(spark, spec).persist()
    edges.count()
    val verts = GraphGen.vertices(spark, spec).select("id")
    val seeds = verts.filter(col("id") % 10 === 0).select(col("id"), (col("id") % 4).as("label"))
    val withU = verts.withColumn("isU", col("id") % 3 =!= 0)
    val calls: Seq[(String, () => Unit)] = Seq(
      "scc local solve" -> (() => Scc.components(spark, edges, verts).release()),
      "scc distributed" -> (() =>
        Scc.components(spark, edges, verts, localSolveEdgeThreshold = 0).release()),
      "scc accepted full graph" -> (() =>
        Scc.acceptedRun(spark, edges, withU, Scc.FullGraph).release()),
      "scc accepted induced" -> (() =>
        Scc.acceptedRun(spark, edges, withU, Scc.InducedU).release()),
      "pagerank local" -> (() => PageRank.run(spark, edges, verts, tol = 0.0, maxIter = 3).release()),
      "pagerank distributed" -> (() => PageRank.run(spark, edges, verts, alpha = 0.85, tol = 0.0,
        maxIter = 3, snapshotDir = None, localSolveEdgeThreshold = 0L).release()),
      "wcc local" -> (() => Wcc.run(spark, edges, verts).release()),
      "wcc distributed" -> (() => Wcc.run(spark, edges, verts, maxIter = 50, snapshotDir = None,
        localSolveEdgeThreshold = 0L).release()),
      "labelprop local" -> (() => LabelProp.run(spark, edges, verts, seeds, iterations = 2).release()),
      "labelprop distributed" -> (() => LabelProp.run(spark, edges, verts, seeds, iterations = 2,
        localSolveEdgeThreshold = 0L).release()),
      "triangles total" -> (() => Triangles.total(spark, edges)),
      "triangles total distributed" -> (() => Triangles.total(spark, edges, 0L)),
      "triangles perVertex" -> (() => Triangles.perVertex(spark, edges)))
    try {
      for ((name, call) <- calls) {
        val (_, jobs) = jobsOf(call())
        assert(jobs.nonEmpty, s"$name started no job")
        val unlabelled = jobs.filterNot(j => j._1 != null && j._1.startsWith("graft "))
        assert(unlabelled.isEmpty, s"$name: unlabelled jobs $unlabelled of ${jobs.map(_._1)}")
      }
    } finally edges.unpersist()
  }
}
