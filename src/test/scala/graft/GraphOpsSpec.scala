package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Degrees, LocalGraph, PageRank, PageRankRun, Triangles, Wcc, WccRun}
import graft.sources.{GraphGen, GraphSpec}

class WccSpec extends SparkTest {
  test("wcc matches union-find on fixtures") {
    for (name <- Seq("sample_graph", "sample_graph5", "sample_graph8")) {
      val (edges, n, _) = fixture(name)
      val expected = Oracle.wcc(0L until n, edges)
      val run1 = Wcc.run(spark, edgesDf(edges), vertsDf(0L until n))
      val got = run1.components
      assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected, name)
    }
  }

  test("wcc on a long path converges in O(log) rounds, not O(diameter) supersteps") {
    val edges = (0L until 200L).map(i => (i, i + 1))
    val expected = Oracle.wcc(0L to 200L, edges)
    val run2 = distributed(edgesDf(edges), vertsDf(0L to 200L))
    val got = run2.components
    val metrics = run2.metrics
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    assert(metrics.size < 30, s"took ${metrics.size} supersteps for diameter 200")
  }

  test("wcc on generated graph") {
    val spec = GraphSpec(numCycles = 30, maxCycleLen = 8, extraArcsPerVertex = 0.2, seed = 5L)
    val edges = GraphGen.edges(spark, spec).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Oracle.wcc(0L until spec.numVertices, edges)
    val run3 = Wcc.run(spark, GraphGen.edges(spark, spec), GraphGen.vertices(spark, spec))
    val got = run3.components
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }

  private def labels(run: WccRun): Map[Long, Long] = rows(run).toMap

  /** (id, comp) per row, a null as [[GraphCases.NullId]]. */
  private def rows(run: WccRun): Seq[(Long, Long)] =
    try run.components.collect().map(r => GraphCases.long(r, 0) -> GraphCases.long(r, 1)).toSeq
    finally run.release()

  /** The superstep path, whatever the graph's size. */
  private def distributed(edges: DataFrame, vertices: DataFrame): WccRun =
    Wcc.run(spark, edges, vertices, maxIter = 50, snapshotDir = None, localSolveEdgeThreshold = 0L)

  /** The `linkgraph` benchmark's graph (6,000 vertices, 18,465 edges) fits
    * one task: one union-find job, one round that changed nothing. Routed
    * by a link checkpoint's row count, it took 2 jobs (that checkpoint and
    * the solve); its five large-star/small-star rounds took 9: the link
    * checkpoint, a job per round, the exact confirmation and the finish. */
  test("wcc on a graph that fits one task runs 1 job and reports one round") {
    val spec = GraphSpec(numCycles = 1000, maxCycleLen = 6, extraArcsPerVertex = 2.4, seed = 42L)
    val edges = GraphGen.edges(spark, spec).persist()
    val local = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (run, jobs) = jobsOf(Wcc.run(spark, edges, GraphGen.vertices(spark, spec)))
    val metrics = run.metrics
    val got = labels(run)
    edges.unpersist()
    assert(got == Oracle.wcc(0L until spec.numVertices, local))
    assert(jobs.map(_._1) == Vector("graft wcc local-solve"), jobs.toString)
    assert(metrics == Vector(graft.plans.StepMetrics(0, 0L, metrics.head.wallMs)), metrics.toString)
  }

  /** Over the cap (threshold 1) the attempt stops at its second link
    * record and emits nothing, and the superstep path then runs exactly as
    * it runs alone (threshold 0). */
  test("wcc over the one-task cap runs one attempt job, then the superstep path's jobs") {
    val (edges, n, _) = fixture("sample_graph")
    def at(threshold: Long): (Seq[(Long, Long)], Vector[(String, Int)]) = {
      val (run, jobs) = jobsOf(Wcc.run(spark, edgesDf(edges), vertsDf(0L until n), maxIter = 50,
        snapshotDir = None, localSolveEdgeThreshold = threshold))
      (rows(run).sorted, jobs.map(j => (j._1, j._2.size)))
    }
    val (over, overJobs) = at(1L)
    val (dist, distJobs) = at(0L)
    assert(over.toMap == Oracle.wcc(0L until n, edges) && over == dist)
    assert(overJobs == ("graft wcc local-solve", 1) +: distJobs, s"$overJobs vs $distJobs")
  }

  /** Stages of each round's checkpoint job: the first job under each
    * `graft wcc step <i>` label (the exact-confirmation job of the last
    * round runs after it under the same label). When each star phase joined
    * a min-aggregate back and ran a distinct, the 1-partition rounds here
    * took 9, 9, 7, 9 and 9 stages.
    */
  private def stagesPerRound(parts: Int): (Vector[Int], Int) = {
    val spec = GraphSpec(numCycles = 40, maxCycleLen = 6, extraArcsPerVertex = 1.0, seed = 11L)
    val edges = GraphGen.edges(spark, spec).repartition(parts)
    val (run, jobs) = jobsOf(distributed(edges, GraphGen.vertices(spark, spec)))
    val rounds = run.metrics.size
    run.release()
    val steps = jobs.filter(j => j._1 != null && j._1.startsWith("graft wcc step "))
    (steps.groupBy(_._1).values.map(_.head._2.size).toVector, rounds)
  }

  test("a wcc round is one stage on one partition and at most four on four") {
    val (one, rounds1) = stagesPerRound(1)
    assert(one.size == rounds1 && rounds1 >= 3, s"$rounds1 rounds, step jobs $one")
    assert(one.forall(_ == 1), s"stages per round at 1 partition: $one")
    val (four, rounds4) = stagesPerRound(4)
    assert(four.size == rounds4, s"$rounds4 rounds, step jobs $four")
    assert(four.forall(_ <= 4), s"stages per round at 4 partitions: $four")
  }

  /** The exact check that confirms a stable signature anti-joins the last
    * two states. On one partition both are single-partition checkpoints
    * whose measured statistics are far below
    * `spark.sql.maxSinglePartitionBytes`, so the join runs in place: one
    * job of one stage. With default-statistics checkpoints it exchanged both
    * sides: one job of 4 stages.
    */
  test("wcc's exact confirmation on one partition runs without an exchange") {
    val spec = GraphSpec(numCycles = 40, maxCycleLen = 6, extraArcsPerVertex = 1.0, seed = 11L)
    val edges = GraphGen.edges(spark, spec).repartition(1)
    val (run, jobs) = jobsOf(distributed(edges, GraphGen.vertices(spark, spec)))
    val last = s"graft wcc step ${run.metrics.last.iter}"
    run.release()
    val confirm = jobs.filter(_._1 == last).drop(1).map(_._2.size)
    assert(confirm == Vector(1), s"stages of the confirmation jobs: $confirm")
  }

  /** Random graphs, seeded, against union-find, on the local solve and on
    * the superstep path: see [[GraphCases]]. An endpoint outside the
    * vertices joins components and may label them; a repeated id repeats
    * its row; a null id is a vertex of its own, labelled null, and a link
    * with a null end joins nothing. */
  test("wcc equals union-find on seeded random graphs (ScalaCheck)") {
    GraphCases.check(20261018L, maxN = 400, maxSpokes = 150) { c =>
      val (e, v, _) = c.frames(spark)
      val want = Oracle.wcc(c.oracleVertices, c.oracleEdges)
      GraphCases.matches(c, rows(Wcc.run(spark, e, v)), want)() &&
        GraphCases.matches(c, rows(distributed(e, v)), want)()
    }
  }

  /** A run stopped at `maxIter` leaves its last round's link set in
    * `snapshotDir`; the same call again resumes there and ends with the
    * uninterrupted run's components. */
  test("kill-between-steps resume: wcc continues from its last snapshot") {
    val edges = (0L until 200L).map(i => (i, i + 1))
    val (e, v) = (edgesDf(edges), vertsDf(0L to 200L))
    val dir = java.nio.file.Files.createTempDirectory("wcc_resume_").toString
    def run(maxIter: Int): WccRun =
      Wcc.run(spark, e, v, maxIter, snapshotDir = Some(dir), localSolveEdgeThreshold = 0L)
    intercept[IllegalArgumentException](run(maxIter = 2))
    val resumed = run(maxIter = 50)
    assert(resumed.metrics.head.iter > 0, resumed.metrics.toString)
    assert(labels(resumed) == labels(distributed(e, v)))
  }
}

class PageRankSpec extends SparkTest {
  private def ranks(run: PageRankRun): Map[Long, Double] = rankRows(run).toMap

  /** (id, rank) per row, a null id as [[GraphCases.NullId]]. */
  private def rankRows(run: PageRankRun): Seq[(Long, Double)] =
    try run.ranks.collect().map(r => GraphCases.long(r, 0) -> r.getDouble(1)).toSeq
    finally run.release()

  /** The superstep path, whatever the graph's size. */
  private def distributed(edges: DataFrame, vertices: DataFrame, tol: Double,
      maxIter: Int): PageRankRun =
    PageRank.run(spark, edges, vertices, alpha = 0.85, tol = tol, maxIter = maxIter,
      snapshotDir = None, localSolveEdgeThreshold = 0L)

  /** A step is its checkpoint job alone: both rank joins are
    * co-partitioned shuffle-hash joins against the `src`-partitioned edge
    * checkpoint, and the dangling mass it reads rode the previous step's
    * checkpoint. Setup is three checkpoints (edges, out-degrees, first
    * state). When each step broadcast its 1-row dangling-mass aggregate
    * this run took 2 jobs per step and 16 in all (setup 8: the vertex
    * `count()` and the edge table's `persist` + `count()` ran through AQE).
    */
  test("a pagerank step runs one job and a four-step run at most eight") {
    val (edges, n, _) = fixture("sample_graph")
    val (run, jobs) = jobsOf(distributed(edgesDf(edges), vertsDf(0L until n), tol = 0.0, maxIter = 4))
    run.release()
    val perStep = jobs.collect { case (l, _) if l != null && l.startsWith("graft pagerank step ") => l }
      .groupBy(identity).map { case (l, js) => l -> js.size }
    assert(perStep.size == 4, s"step labels: $perStep")
    assert(perStep.values.forall(_ <= 1), s"jobs per step: $perStep")
    assert(jobs.size <= 8, s"${jobs.size} jobs: ${jobs.map(_._1)}")
  }

  /** A run stopped at `maxIter` leaves its last state in `snapshotDir`;
    * the same call with a larger `maxIter` resumes there, reading the
    * dangling mass off the resumed state, and ends where the uninterrupted
    * run does. The sums run in another order after the read back, hence
    * 1e-12 and not equality. */
  test("kill-between-steps resume: pagerank continues from its last snapshot") {
    val (edges, n, _) = fixture("sample_graph")
    val (e, v) = (edgesDf(edges), vertsDf(0L until n))
    val dir = java.nio.file.Files.createTempDirectory("pagerank_resume_").toString
    def run(maxIter: Int): PageRankRun = PageRank.run(spark, e, v, alpha = 0.85, tol = 0.0,
      maxIter = maxIter, snapshotDir = Some(dir), localSolveEdgeThreshold = 0L)
    run(maxIter = 3).release()
    val resumed = run(maxIter = 6)
    assert(resumed.metrics.map(_.iter) == (3 until 6), resumed.metrics.toString)
    val got = ranks(resumed)
    val want = ranks(distributed(e, v, tol = 0.0, maxIter = 6))
    assert(got.keySet == want.keySet && got.forall { case (id, r) => math.abs(r - want(id)) < 1e-12 })
  }

  test("a resumed pagerank state of another vertex count fails loudly, naming the directory") {
    val (edges, n, _) = fixture("sample_graph")
    val dir = java.nio.file.Files.createTempDirectory("pagerank_other_").toString
    def run(vertices: Long): PageRankRun = PageRank.run(spark, edgesDf(edges),
      vertsDf(0L until vertices), alpha = 0.85, tol = 0.0, maxIter = 4, snapshotDir = Some(dir),
      localSolveEdgeThreshold = 0L)
    run(n).release()
    val err = intercept[IllegalStateException](run(n + 5))
    assert(err.getMessage.contains(dir), err.getMessage)
  }

  test("pagerank matches power iteration within 1e-6 and sums to 1") {
    val (edges, n, _) = fixture("sample_graph")
    val expected = Oracle.pagerank(0L until n, edges)
    val run5 = PageRank.run(spark, edgesDf(edges), vertsDf(0L until n))
    val got = run5.ranks
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(gotMap.values.sum - 1.0) < 1e-9)
    for (v <- 0L until n)
      assert(math.abs(gotMap(v) - expected(v)) < 1e-6, s"vertex $v")
  }

  test("pagerank with dangling vertices (sinks) still sums to 1") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L)) // 2 is a sink
    val expected = Oracle.pagerank(Seq(0L, 1L, 2L), edges)
    val run6 = PageRank.run(spark, edgesDf(edges), vertsDf(Seq(0L, 1L, 2L)))
    val got = run6.ranks
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(gotMap.values.sum - 1.0) < 1e-9)
    for (v <- Seq(0L, 1L, 2L))
      assert(math.abs(gotMap(v) - expected(v)) < 1e-6)
  }

  test("tol = 0 runs exactly maxIter iterations, reproducibly (oracle-critical)") {
    val (edges, n, _) = fixture("sample_graph")
    // the one-task solve, then the superstep path
    for (threshold <- Seq(LocalGraph.EdgeThreshold, 0L)) {
      def run(): PageRankRun = PageRank.run(spark, edgesDf(edges), vertsDf(0L until n),
        alpha = 0.85, tol = 0.0, maxIter = 5, snapshotDir = None, localSolveEdgeThreshold = threshold)
      val run7 = run()
      assert(run7.metrics.size == 5, s"threshold $threshold")
      val am = ranks(run7)
      val bm = ranks(run())
      for (v <- 0L until n)
        assert(math.abs(am(v) - bm(v)) < 1e-12, s"threshold $threshold, vertex $v")
    }
  }

  /** The `linkgraph` benchmark's graph fits one task: one power-iteration
    * job, with every iteration's metrics. Routed by the `src`-partitioned
    * edge checkpoint's row count, it took 2 jobs (that checkpoint and the
    * solve); its four steps took 7: three setup checkpoints and one per
    * step. */
  test("pagerank on a graph that fits one task runs 1 job and reports every iteration") {
    val spec = GraphSpec(numCycles = 1000, maxCycleLen = 6, extraArcsPerVertex = 2.4, seed = 42L)
    val edges = GraphGen.edges(spark, spec).persist()
    val local = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (run, jobs) = jobsOf(PageRank.run(spark, edges, GraphGen.vertices(spark, spec),
      tol = 0.0, maxIter = 4))
    val metrics = run.metrics
    val got = ranks(run)
    edges.unpersist()
    assert(jobs.map(_._1) == Vector("graft pagerank local-solve"), jobs.toString)
    assert(metrics.map(_.iter) == (0 until 4), metrics.toString)
    val want = Oracle.pagerank(0L until spec.numVertices, local, tol = 0.0, maxIter = 4)
    assert(got.keySet == want.keySet && got.forall { case (v, r) => math.abs(r - want(v)) < 1e-10 })
  }

  /** Over the cap (threshold 1) the attempt stops at its second edge
    * record and emits nothing, and the superstep path then runs exactly as
    * it runs alone (threshold 0). */
  test("pagerank over the one-task cap runs one attempt job, then the superstep path's jobs") {
    val (edges, n, _) = fixture("sample_graph")
    def at(threshold: Long): (Map[Long, Double], Int, Vector[(String, Int)]) = {
      val (run, jobs) = jobsOf(PageRank.run(spark, edgesDf(edges), vertsDf(0L until n),
        alpha = 0.85, tol = 0.0, maxIter = 4, snapshotDir = None, localSolveEdgeThreshold = threshold))
      val iters = run.metrics.size
      (ranks(run), iters, jobs.map(j => (j._1, j._2.size)))
    }
    val (over, overIters, overJobs) = at(1L)
    val (dist, distIters, distJobs) = at(0L)
    val want = Oracle.pagerank(0L until n, edges, tol = 0.0, maxIter = 4)
    assert(overIters == 4 && distIters == 4)
    assert(over.keySet == want.keySet && over.forall { case (v, r) =>
      math.abs(r - want(v)) < 1e-10 && math.abs(r - dist(v)) < 1e-12 })
    assert(overJobs == ("graft pagerank local-solve", 1) +: distJobs, s"$overJobs vs $distJobs")
  }

  /** Both paths stop on the same rule and report the same iterations, each
    * with its exact changed count (a tolerance far above the float noise
    * between their summation orders). */
  test("local and distributed pagerank report the same iterations and changed counts") {
    for (name <- Seq("sample_graph", "sample_graph5", "sample_graph8")) {
      val (edges, n, _) = fixture(name)
      def steps(run: PageRankRun): Vector[(Int, Long)] =
        try run.metrics.map(m => (m.iter, m.changed)) finally run.release()
      val local = steps(PageRank.run(spark, edgesDf(edges), vertsDf(0L until n), tol = 1e-3))
      val dist = steps(distributed(edgesDf(edges), vertsDf(0L until n), tol = 1e-3, maxIter = 100))
      assert(local == dist, name)
      assert(local.last._2 == 0 && local.size > 1, s"$name: $local")
    }
  }

  /** Random graphs, seeded, against power iteration at `tol = 0` on both
    * paths: see [[GraphCases]]. Duplicates and self-loops count; an edge
    * from outside the vertices (or from a null id) carries nothing, one
    * into it (or to a null id) loses its mass; a repeated id is that many
    * vertices sharing one rank; a null id is a vertex of its own.
    */
  test("pagerank equals power iteration on seeded random graphs (ScalaCheck)") {
    GraphCases.check(20261020L, maxN = 200, maxSpokes = 100) { c =>
      val (e, v, _) = c.frames(spark)
      val iters = 1 + c.n % 5
      val want = Oracle.pagerank(c.oracleVertices, c.oracleEdges, tol = 0.0, maxIter = iters)
      def close(run: PageRankRun): Boolean =
        GraphCases.matches(c, rankRows(run), want)((a, b) => math.abs(a - b) < 1e-10)
      close(PageRank.run(spark, e, v, tol = 0.0, maxIter = iters)) &&
        close(distributed(e, v, tol = 0.0, maxIter = iters))
    }
  }
}

class SharedSessionSpec extends SparkTest {
  /** Operators share the caller's session with whatever else runs in it.
    * Two operators on two threads must plan exactly as they do alone and
    * leave the session's conf as they found it.
    */
  test("wcc and pagerank on two threads of one session equal serial runs, conf untouched") {
    val spec = GraphSpec(numCycles = 30, maxCycleLen = 8, extraArcsPerVertex = 0.8, seed = 13L)
    val edges = GraphGen.edges(spark, spec)
    val verts = GraphGen.vertices(spark, spec)
    def wcc(threshold: Long): Map[Long, Long] = {
      val r = Wcc.run(spark, edges, verts, maxIter = 50, snapshotDir = None,
        localSolveEdgeThreshold = threshold)
      try r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      finally r.release()
    }
    def pagerank(threshold: Long): Map[Long, Double] = {
      val r = PageRank.run(spark, edges, verts, alpha = 0.85, tol = 0.0, maxIter = 8,
        snapshotDir = None, localSolveEdgeThreshold = threshold)
      try r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      finally r.release()
    }
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val conf0 = keys.map(spark.conf.get)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // the superstep paths, then the one-task solves
      for (threshold <- Seq(0L, LocalGraph.EdgeThreshold)) {
        val (wcc0, pr0) = (wcc(threshold), pagerank(threshold))
        for (round <- 1 to 3) {
          val w = pool.submit(() => wcc(threshold))
          val p = pool.submit(() => pagerank(threshold))
          assert(w.get() == wcc0, s"threshold $threshold, round $round: wcc differs from the serial run")
          val pr = p.get()
          assert(pr.keySet == pr0.keySet &&
            pr.forall { case (v, r) => math.abs(r - pr0(v)) < 1e-12 },
            s"threshold $threshold, round $round: pagerank differs from the serial run")
        }
      }
    } finally pool.shutdown()
    assert(keys.map(spark.conf.get) == conf0)
  }
}

class TrianglesSpec extends SparkTest {
  /** `total` on the one-task route and on the distributed plan alone. */
  private def totals(edges: DataFrame): Seq[Long] =
    Seq(LocalGraph.EdgeThreshold, 0L).map(Triangles.total(spark, edges, _).head().getLong(0))

  test("triangle count matches brute force on fixtures") {
    for (name <- Seq("sample_graph", "sample_graph5", "sample_graph8")) {
      val (edges, _, _) = fixture(name)
      val expected = Oracle.triangles(edges)
      assert(totals(edgesDf(edges)) == Seq(expected, expected), name)
    }
  }

  test("triangle count on generated graph") {
    val spec = GraphSpec(numCycles = 25, maxCycleLen = 6, extraArcsPerVertex = 1.5, seed = 9L)
    val edges = GraphGen.edges(spark, spec).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Oracle.triangles(edges)
    assert(totals(GraphGen.edges(spark, spec)) == Seq(expected, expected))
  }

  /** Over the cap (threshold 1) the attempt stops at its second edge
    * record and emits nothing, and the distributed plan then runs exactly
    * as it runs alone (threshold 0). */
  test("triangles over the one-task cap run one attempt job, then the distributed plan's job") {
    val (edges, _, _) = fixture("sample_graph5")
    def at(threshold: Long): (Long, Vector[(String, Int)]) = {
      val (t, jobs) = jobsOf(Triangles.total(spark, edgesDf(edges), threshold).head().getLong(0))
      (t, jobs.map(j => (j._1, j._2.size)))
    }
    val (over, overJobs) = at(1L)
    val (dist, distJobs) = at(0L)
    assert(over == Oracle.triangles(edges) && over == dist)
    assert(overJobs == ("graft triangles local-solve", 1) +: distJobs, s"$overJobs vs $distJobs")
  }

  test("per-vertex triangle counts sum to 3x total") {
    val spec = GraphSpec(numCycles = 10, maxCycleLen = 6, extraArcsPerVertex = 2.0, seed = 11L)
    val e = GraphGen.edges(spark, spec)
    val total = Triangles.total(spark, e).head().getLong(0)
    val per = Triangles.perVertex(spark, e).agg(sum("triangles")).head().getLong(0)
    assert(per == 3 * total)
  }

  test("perVertex matches brute force on a fixture") {
    val (edges, n, _) = fixture("sample_graph")
    val und = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val verts = 0L until n
    val expected = (for {
      x <- verts; y <- verts if x < y && und((x, y))
      z <- verts if y < z && und((y, z)) && und((x, z))
    } yield Seq(x, y, z)).flatten
      .groupBy(identity).map { case (v, c) => v -> c.size.toLong }
    val got = Triangles.perVertex(spark, edgesDf(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("perVertex on a skewed hub (degree ~10^3): exact counts, no hub fan-out") {
    // Star hub 0 ↔ spokes 1..n plus a consecutive spoke chain: one triangle
    // {0, i, i+1} per adjacent spoke pair. The degree-n hub is the HIGHEST-
    // rank endpoint of every star edge under degree-ordered orientation, so
    // its higher-ranked neighbour list is empty and each spoke's holds at
    // most 3 ids — O(1) intersection work per spoke instead of the O(n²)
    // wedge blow-up an unoriented plan generates (the round-2 perVertex
    // defect this test pins).
    val n = 1000L
    val edges = (1L to n).map(i => (0L, i)) ++ (1L until n).map(i => (i, i + 1))
    val got = Triangles.perVertex(spark, edgesDf(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (Map(0L -> (n - 1)) ++ (1L to n).map { i =>
      i -> Seq(i - 1, i + 1).count(j => j >= 1 && j <= n).toLong
    }).filter(_._2 > 0)
    assert(got == expected)
    assert(Triangles.total(spark, edgesDf(edges)).head().getLong(0) == n - 1)
  }

  /** Triangles on the benchmark graph (6,000 vertices, 18,465 edges) is
    * one job: `total` counts them in one task and hands back a driver-side
    * frame, so its `collect` starts none, and `perVertex`'s result is a
    * checkpoint, so one caller action is one more. The wedge plan ended in
    * `Dataset.localCheckpoint`, which ran through AQE with a query-stage
    * job per exchange: `total(…).collect()` took 15 jobs, and so did
    * `perVertex` with one `collect`.
    */
  test("triangles: total(…).collect() and perVertex plus one action run at most 2 jobs") {
    val spec = GraphSpec(numCycles = 1000, maxCycleLen = 6, extraArcsPerVertex = 2.4, seed = 42L)
    val edges = GraphGen.edges(spark, spec).persist()
    val local = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (total, totalJobs) = jobsOf(Triangles.total(spark, edges).collect()(0).getLong(0))
    val (per, perJobs) = jobsOf(Triangles.perVertex(spark, edges).collect())
    edges.unpersist()
    assert(total == Oracle.triangles(local))
    assert(per.map(_.getLong(1)).sum == 3 * total)
    assert(totalJobs.map(_._1) == Vector("graft triangles local-solve"), s"total: $totalJobs")
    assert(perJobs.size <= 2, s"perVertex: ${perJobs.size} jobs: ${perJobs.map(_._1)}")
  }

  /** Random graphs, seeded, against brute force for `total` on both paths
    * and `perVertex`. Each case mixes hub stars (one vertex in most edges),
    * cliques, self-loops, duplicated and reversed edges and edges with a
    * null endpoint (in no triangle), any of which may be empty, split over
    * 1, 4 or 8 input partitions.
    */
  test("triangles equal brute force on seeded random graphs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Shrink, Test}
    import org.scalacheck.rng.Seed

    final case class Case(edges: Vector[(Long, Long)], parts: Int,
        nullEnds: Vector[(Option[Long], Option[Long])] = Vector.empty)
    def vertex(n: Int): Gen[Long] = Gen.choose(0L, n - 1L)
    def star(n: Int): Gen[Vector[(Long, Long)]] = for {
      hub <- vertex(n)
      k <- Gen.choose(0, 120)
      spokes <- Gen.listOfN(k, Gen.zip(vertex(n), Gen.prob(0.5)))
    } yield spokes.map { case (v, in) => if (in) (v, hub) else (hub, v) }.toVector
    def clique(n: Int): Gen[Vector[(Long, Long)]] = for {
      k <- Gen.choose(0, 9)
      members <- Gen.listOfN(k, vertex(n))
    } yield (for (a <- members; b <- members if a < b) yield (a, b)).toVector
    val caseGen = for {
      n <- Gen.choose(1, 150)
      stars <- Gen.listOfN(2, star(n))
      cliques <- Gen.listOfN(2, clique(n))
      rand <- Gen.listOf(Gen.zip(vertex(n), vertex(n)))
      loops <- Gen.listOf(vertex(n).map(v => (v, v)))
      dups <- Gen.listOf(Gen.oneOf(stars.flatten ++ cliques.flatten ++ rand :+ ((0L, 0L))))
      k <- Gen.choose(0, 3)
      nullEnds <- Gen.listOfN(k, Gen.oneOf(vertex(n).map(v => (Option(v), None)),
        vertex(n).map(v => (None, Option(v))), Gen.const((None, None))))
      parts <- Gen.oneOf(1, 4, 8)
    } yield Case((stars.flatten ++ cliques.flatten ++ rand ++ loops ++ dups ++ dups.map(_.swap))
      .toVector, parts, nullEnds.toVector)
    implicit val shrinkCase: Shrink[Case] = Shrink { c =>
      Shrink.shrinkContainer[Vector, (Long, Long)].shrink(c.edges).map(es => c.copy(edges = es))
    }

    def perVertexOracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val und = edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
      val nbrs = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
      und.toSeq.flatMap { case (a, b) =>
        nbrs(a).toSeq.filter(c => c > b && nbrs(b)(c)).flatMap(c => Seq(a, b, c))
      }.groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    }
    val seen = scala.collection.mutable.Set.empty[Int]
    def check(c: Case): Boolean = {
      seen += c.parts
      val e = {
        import spark.implicits._
        (c.edges.map { case (a, b) => (Option(a), Option(b)) } ++ c.nullEnds).toDF("src", "dst")
          .repartition(c.parts)
      }
      val per = Triangles.perVertex(spark, e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      totals(e).forall(_ == Oracle.triangles(c.edges)) && per == perVertexOracle(c.edges)
    }
    val prop = Prop.forAll(caseGen)(check)
    val params = Test.Parameters.default.withMinSuccessfulTests(12).withWorkers(1)
      .withInitialSeed(Seed(20261019L))
    val result = Test.check(params, prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(seen == Set(1, 4, 8), s"partition counts drawn: $seen")

    // no edges at all, only self-loops, and a triangle whose corners each
    // also meet a null, at every partition count
    val nulls = Vector((Option(1L), None), (None, Option(2L)), (Option(3L), None), (None, None))
    for (p <- Seq(1, 4, 8)) {
      assert(check(Case(Vector.empty, p)), s"empty edges, $p partitions")
      assert(check(Case(Vector((3L, 3L), (3L, 3L)), p)), s"self-loops only, $p partitions")
      assert(check(Case(Vector((1L, 2L), (2L, 3L), (3L, 1L)), p, nulls)), s"null endpoints, $p partitions")
    }
  }
}

class DegreesSpec extends SparkTest {
  test("degrees match hand computation") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 0L))
    val got = Degrees.all(edgesDf(edges), vertsDf(Seq(0L, 1L, 2L, 3L, 4L)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((2L, 1L)), 1L -> ((1L, 1L)), 2L -> ((0L, 2L)),
      3L -> ((1L, 0L)), 4L -> ((0L, 0L))))
  }
}

class LabelPropSpec extends SparkTest {
  import graft.operators.{LabelProp, LabelPropRun}

  private def seedsDf(seeds: Seq[(Long, Long)]) = {
    import spark.implicits._
    seeds.toDF("id", "label")
  }

  private def labels(run: LabelPropRun): Map[Long, Long] = rows(run).toMap

  /** (id, label) per row, a null id as [[GraphCases.NullId]]. */
  private def rows(run: LabelPropRun): Seq[(Long, Long)] =
    try run.labels.collect().map(r => GraphCases.long(r, 0) -> r.getLong(1)).toSeq
    finally run.release()

  /** The superstep path, whatever the graph's size. */
  private def distributed(edges: DataFrame, verts: DataFrame, seeds: DataFrame,
      iterations: Int): LabelPropRun =
    LabelProp.run(spark, edges, verts, seeds, iterations, localSolveEdgeThreshold = 0L)

  test("clamping, majority vote, min-label tie-break, multi-hop, unreached") {
    // seeds: 0->5, 1->7, 5->7. Vertex 2's in-labels {5,7} tie -> min 5;
    // vertex 4's in-labels {5,7,7} -> majority 7; vertex 3 is two hops from
    // any seed (via 2) -> labeled only in round 2; vertex 6 unreached -> -1.
    val edges = Seq((0L, 2L), (1L, 2L), (0L, 4L), (1L, 4L), (5L, 4L), (2L, 3L))
    val got = LabelProp.run(spark, edgesDf(edges), vertsDf(0L to 6L),
      seedsDf(Seq((0L, 5L), (1L, 7L), (5L, 7L))), iterations = 2)
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 5L, 1L -> 7L, 2L -> 5L, 3L -> 5L, 4L -> 7L,
      5L -> 7L, 6L -> -1L))
  }

  test("one round stops after one hop") {
    val edges = Seq((0L, 1L), (1L, 2L))
    val got = LabelProp.run(spark, edgesDf(edges), vertsDf(0L to 2L),
      seedsDf(Seq((0L, 9L))), iterations = 1)
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 9L, 1L -> 9L, 2L -> -1L))
  }

  test("generated graph matches the synchronous reference recurrence") {
    val spec = GraphSpec(numCycles = 25, maxCycleLen = 7, extraArcsPerVertex = 0.5, seed = 9L)
    val edges = GraphGen.edges(spark, spec).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val verts = 0L until spec.numVertices
    val seeds = verts.filter(_ % 7 == 0).map(v => v -> v % 3).toMap
    val iters = 3

    var lab: Map[Long, Option[Long]] = verts.map(v => v -> seeds.get(v)).toMap
    val inN = edges.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    for (_ <- 1 to iters) {
      lab = verts.map { v =>
        seeds.get(v) match {
          case Some(s) => v -> Option(s)
          case None =>
            val labs = inN.getOrElse(v, Nil).flatMap(lab(_))
            if (labs.isEmpty) v -> lab(v)
            else v -> Some(labs.groupBy(identity).toSeq
              .map { case (l, c) => (l, c.size) }
              .minBy { case (l, c) => (-c, l) }._1)
        }
      }.toMap
    }
    val expected = lab.map { case (v, o) => v -> o.getOrElse(-1L) }

    val got = LabelProp.run(spark, edgesDf(edges), vertsDf(verts),
      seedsDf(seeds.toSeq), iterations = iters)
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  /** A round is its checkpoint job alone: the edge table (hash(src)) joins
    * the checkpointed state (hash(id)) in place, built on the state. Left
    * to the planner, the state's exact statistics made it broadcast the
    * state every round: 3 jobs in round 0 and 2 in round 1 on this graph
    * (the benchmark's, 6,000 vertices).
    */
  test("a labelprop round runs one job (no state broadcast)") {
    val spec = GraphSpec(numCycles = 1000, maxCycleLen = 6, extraArcsPerVertex = 2.4, seed = 42L)
    val verts = GraphGen.vertices(spark, spec)
    val seeds = verts.filter(col("id") % 10 === 0).select(col("id"), (col("id") % 4).as("label"))
    val (run, jobs) = jobsOf(distributed(GraphGen.edges(spark, spec),
      verts.select("id"), seeds, iterations = 2))
    run.release()
    val perStep = jobs.collect { case (l, _) if l != null && l.startsWith("graft labelprop step ") => l }
      .groupBy(identity).map { case (l, js) => l -> js.size }
    assert(perStep.size == 2, s"step labels: $perStep")
    assert(perStep.values.forall(_ <= 1), s"jobs per step: $perStep")
  }

  /** A round's job is two stages around its one hash(dst) exchange: the
    * edge⨝state join, then the vote count, the arg-max and the join back
    * into the state. When the arg-max was a `max(struct(c, -label))` sort
    * aggregation, each round ran 3 stages: one exchange for the
    * (dst, label) count and another, plus a sort, for the arg-max. */
  test("a labelprop round runs one exchange: two stages per step") {
    val spec = GraphSpec(numCycles = 1000, maxCycleLen = 6, extraArcsPerVertex = 2.4, seed = 42L)
    val verts = GraphGen.vertices(spark, spec)
    val seeds = verts.filter(col("id") % 10 === 0).select(col("id"), (col("id") % 4).as("label"))
    val (run, jobs) = jobsOf(distributed(GraphGen.edges(spark, spec),
      verts.select("id"), seeds, iterations = 3))
    run.release()
    val perStep = jobs.collect { case (l, st) if l != null && l.startsWith("graft labelprop step ") =>
      l -> st.size }
    assert(perStep.size == 3 && perStep.forall(_._2 == 2), s"stages per step: $perStep")
  }

  /** The `linkgraph` benchmark's graph fits one task: the solve, then one
    * caller action on the result. Routed by the `src`-partitioned edge
    * checkpoint's row count, it took 2 jobs before that action (that
    * checkpoint and the solve); its two rounds took 4: the edge table, the
    * first state and one per round. */
  test("labelprop on a graph that fits one task runs 1 job") {
    val spec = GraphSpec(numCycles = 1000, maxCycleLen = 6, extraArcsPerVertex = 2.4, seed = 42L)
    val edges = GraphGen.edges(spark, spec).persist()
    val local = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val verts = GraphGen.vertices(spark, spec).select("id")
    val seeds = verts.filter(col("id") % 10 === 0).select(col("id"), (col("id") % 4).as("label"))
    val (run, jobs) = jobsOf(LabelProp.run(spark, edges, verts, seeds, iterations = 2))
    val got = labels(run)
    edges.unpersist()
    assert(jobs.map(_._1) == Vector("graft labelprop local-solve"), jobs.toString)
    val ids = 0L until spec.numVertices
    assert(got == Oracle.labelProp(ids, local, ids.filter(_ % 10 == 0).map(v => v -> v % 4), 2))
  }

  /** Over the cap (threshold 1) the attempt stops at its second edge
    * record and emits nothing, and the superstep path then runs exactly as
    * it runs alone (threshold 0). */
  test("labelprop over the one-task cap runs one attempt job, then the superstep path's jobs") {
    val (edges, n, _) = fixture("sample_graph")
    val seeds = (0L until n).filter(_ % 3 == 0).map(v => v -> v % 2)
    def at(threshold: Long): (Seq[(Long, Long)], Vector[(String, Int)]) = {
      val (run, jobs) = jobsOf(LabelProp.run(spark, edgesDf(edges), vertsDf(0L until n),
        seedsDf(seeds), 3, localSolveEdgeThreshold = threshold))
      (rows(run).sorted, jobs.map(j => (j._1, j._2.size)))
    }
    val (over, overJobs) = at(1L)
    val (dist, distJobs) = at(0L)
    assert(over.toMap == Oracle.labelProp(0L until n, edges, seeds, 3) && over == dist)
    assert(overJobs == ("graft labelprop local-solve", 1) +: distJobs, s"$overJobs vs $distJobs")
  }

  /** Random graphs, seeded, against the sequential recurrence on both
    * paths: see [[GraphCases]]. Seeds include repeated ids and ids outside
    * the vertices; a seed with a null id or label is no seed, a repeated
    * vertex id votes once per row, and a null vertex id reads -1. */
  test("labelprop equals the sequential recurrence on seeded random graphs (ScalaCheck)") {
    GraphCases.check(20261021L, maxN = 200, maxSpokes = 100) { c =>
      val (e, v, s) = c.frames(spark)
      val rounds = 1 + c.n % 3
      val want = Oracle.labelProp(c.oracleVertices, c.oracleEdges, c.seeds, rounds)
      GraphCases.matches(c, rows(LabelProp.run(spark, e, v, s, rounds)), want)() &&
        GraphCases.matches(c, rows(distributed(e, v, s, rounds)), want)()
    }
  }

  test("duplicate seed ids resolve to the min label (no state-row multiplication)") {
    val edges = Seq((0L, 1L))
    val got = LabelProp.run(spark, edgesDf(edges), vertsDf(0L to 1L),
      seedsDf(Seq((0L, 7L), (0L, 3L))), iterations = 1)
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one state row per vertex, seed 0 clamped to min(7,3)=3, one vote out
    assert(got == Map(0L -> 3L, 1L -> 3L))
  }

  test("release() drops every cached block a run created (Wcc, PageRank, LabelProp)") {
    // attribution by RDD id — a global block COUNT races Spark's
    // ContextCleaner, which asynchronously unpersists unreferenced frames
    // from earlier tests in the shared session
    def ids = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L))
    def checkReleased(created: Set[Int], release: () => Unit, what: String): Unit = {
      assert(created.nonEmpty, s"$what should hold cached blocks before release")
      release()
      val leaked = created.intersect(ids.toSet)
      assert(leaked.isEmpty, s"$what blocks remaining after release: $leaked")
    }
    val before1 = ids.toSet
    val w = Wcc.run(spark, edgesDf(edges), vertsDf(0L to 4L))
    w.components.count()
    checkReleased(ids.toSet -- before1, () => w.release(), "WccRun")
    val before2 = ids.toSet
    val p = PageRank.run(spark, edgesDf(edges), vertsDf(0L to 4L), maxIter = 3)
    p.ranks.count()
    checkReleased(ids.toSet -- before2, () => p.release(), "PageRankRun")
    val before3 = ids.toSet
    val l = LabelProp.run(spark, edgesDf(edges), vertsDf(0L to 4L),
      seedsDf(Seq((0L, 1L))), iterations = 2)
    l.labels.count()
    checkReleased(ids.toSet -- before3, () => l.release(), "LabelPropRun")
  }
}
