package graft

import org.apache.spark.sql.functions._
import graft.operators.{Degrees, PageRank, Triangles, Wcc}
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
    val run2 = Wcc.run(spark, edgesDf(edges), vertsDf(0L to 200L))
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
}

class PageRankSpec extends SparkTest {
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
    val run7 = PageRank.run(spark, edgesDf(edges), vertsDf(0L until n),
      tol = 0.0, maxIter = 5)
    assert(run7.metrics.size == 5)
    val run8 = PageRank.run(spark, edgesDf(edges), vertsDf(0L until n),
      tol = 0.0, maxIter = 5)
    val am = run7.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bm = run8.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (v <- 0L until n) assert(math.abs(am(v) - bm(v)) < 1e-12, s"vertex $v")
  }
}

class TrianglesSpec extends SparkTest {
  test("triangle count matches brute force on fixtures") {
    for (name <- Seq("sample_graph", "sample_graph5", "sample_graph8")) {
      val (edges, _, _) = fixture(name)
      val expected = Oracle.triangles(edges)
      val got = Triangles.total(spark, edgesDf(edges)).head().getLong(0)
      assert(got == expected, name)
    }
  }

  test("triangle count on generated graph") {
    val spec = GraphSpec(numCycles = 25, maxCycleLen = 6, extraArcsPerVertex = 1.5, seed = 9L)
    val edges = GraphGen.edges(spark, spec).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Oracle.triangles(edges)
    val got = Triangles.total(spark, GraphGen.edges(spark, spec)).head().getLong(0)
    assert(got == expected)
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
    // wedges fan out only from the degree-≤3 spokes — O(1) rows per spoke
    // instead of the O(n²) wedge blow-up the unoriented plan generated
    // (the round-2 perVertex defect this test pins).
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
  import graft.operators.LabelProp

  private def seedsDf(seeds: Seq[(Long, Long)]) = {
    import spark.implicits._
    seeds.toDF("id", "label")
  }

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
