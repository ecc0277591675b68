package graft

import org.apache.spark.sql.functions._
import graft.operators.Scc
import graft.sources.{GraphGen, GraphSpec}

class SccSpec extends SparkTest {

  /** Check both execution paths: hybrid (local Tarjan routing, the default)
    * and pure distributed FW-BW (threshold 0 forces every partition through
    * the superstep loop).
    */
  /** threshold=250000 → hybrid/local-Tarjan routing (the default);
    * threshold=0 → pure distributed FW-BW; threshold=1 → distributed with
    * round 0's local solve skipped on its known live-edge count (> 1 on any
    * nontrivial graph), so after a complete pre-trim round 0 builds no
    * live-edge table and runs straight off the original edge partitionings.
    */
  private def checkDecomposition(edges: Seq[(Long, Long)], vertices: Seq[Long]): Unit = {
    val expected = Oracle.tarjan(vertices, edges)
    for (threshold <- Seq(250000L, 0L, 1L)) {
      val run1 = Scc.components(spark, edgesDf(edges), vertsDf(vertices),
        localSolveEdgeThreshold = threshold)
      val got = run1.components
      val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotMap == expected, s"threshold=$threshold")
    }
  }

  test("two cycles joined by an arc") {
    // 0→1→2→0 and 3→4→3, arc 2→3
    checkDecomposition(
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 3L), (2L, 3L)),
      Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("chain of singletons") {
    checkDecomposition((0L until 9L).map(i => (i, i + 1)), (0L to 9L))
  }

  test("disconnected cycles resolve in parallel") {
    val edges = (0 until 20).flatMap { c =>
      val base = c * 3L
      Seq((base, base + 1), (base + 1, base + 2), (base + 2, base))
    }
    checkDecomposition(edges, (0L until 60L))
    // Behavioral pin of the deferred-WCC partition refinement: round 0
    // extracts one cycle (single degree-product pivot), round 1's WCC
    // refinement must then give every remaining weak component its own
    // pivot — 20 components may not serialize into ~20 rounds.
    val run2 = Scc.components(spark, edgesDf(edges),
      vertsDf(0L until 60L), localSolveEdgeThreshold = 0)
    val got = run2.components
    val metrics = run2.metrics
    got.count()
    assert(metrics.size <= 3, s"rounds=${metrics.size}")
  }

  test("mutual pair (trim-2 shape)") {
    checkDecomposition(
      Seq((0L, 1L), (1L, 0L), (2L, 0L), (1L, 3L)),
      Seq(0L, 1L, 2L, 3L))
  }

  test("overlapping mutual pairs are one SCC, not two trim-2 pairs") {
    // a1↔b, a2↔b: the whole {a1,a2,b} is strongly connected
    checkDecomposition(
      Seq((0L, 2L), (2L, 0L), (1L, 2L), (2L, 1L)),
      Seq(0L, 1L, 2L))
  }

  test("all reference sample graphs: decomposition matches Tarjan") {
    val names = Seq("sample_graph", "sample_graph1", "sample_graph2", "sample_graph3",
      "sample_graph4", "sample_graph4T", "sample_graph5", "sample_graph5B",
      "sample_graph6", "sample_graph6B", "sample_graph7A", "sample_graph7B",
      "sample_graph7C", "sample_graph7D", "sample_graph7E", "sample_graph8")
    for (name <- names) {
      val (edges, n, _) = fixture(name)
      val vertices = (0L until n)
      val expected = Oracle.tarjan(vertices, edges)
      // hybrid path on all; pure-distributed path spot-checked on a few
      val thresholds = if (name.endsWith("8") || name == "sample_graph") Seq(250000L, 0L)
        else Seq(250000L)
      for (threshold <- thresholds) {
        val run3 = Scc.components(spark, edgesDf(edges), vertsDf(vertices),
          localSolveEdgeThreshold = threshold)
        val got = run3.components
        val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotMap == expected, s"fixture $name threshold=$threshold")
      }
    }
  }

  test("accepted SCCs match verify.py semantics on all fixtures") {
    val names = Seq("sample_graph", "sample_graph1", "sample_graph2", "sample_graph5",
      "sample_graph6", "sample_graph7A", "sample_graph8")
    for (name <- names) {
      val (edges, n, u) = fixture(name)
      val vertices = (0L until n)
      val expected = Oracle.acceptedComps(vertices, edges, u)
      val acc = Scc.accepted(spark, edgesDf(edges), vertsDf(vertices, u), Scc.FullGraph)
      val got = acc.filter(col("accepted")).select("comp").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(got == expected, s"fixture $name")
    }
  }

  test("accepted SCCs, induced-U (reference engine) semantics") {
    for (name <- Seq("sample_graph", "sample_graph5", "sample_graph8")) {
      val (edges, n, u) = fixture(name)
      val vertices = (0L until n)
      val expected = Oracle.acceptedCompsInduced(vertices, edges, u)
      val acc = Scc.accepted(spark, edgesDf(edges), vertsDf(vertices, u), Scc.InducedU)
      val got = acc.filter(col("accepted")).select("comp").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(got == expected, s"fixture $name")
    }
  }

  test("semantic gap regression: SCC of G[U] inside a larger SCC of G") {
    // 0→1→2→0 is an SCC of G; U={0,1}: G[U] has 0↔? no — use explicit pair:
    // G: 0↔1 via 2 (0→1, 1→2, 2→0) plus direct 1→0. U = {0,1}.
    // G[U] SCC {0,1} (0→1,1→0). Full-G SCC is {0,1,2} ⊄ U ⇒ oracle rejects;
    // induced engine accepts iff no U vertex outside points in (none).
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L))
    val vertices = Seq(0L, 1L, 2L)
    val u = Set(0L, 1L)
    assert(Oracle.acceptedComps(vertices, edges, u) == Set.empty[Long])
    assert(Oracle.acceptedCompsInduced(vertices, edges, u) == Set(0L))
    val full = Scc.accepted(spark, edgesDf(edges), vertsDf(vertices, u), Scc.FullGraph)
    assert(full.filter(col("accepted")).count() == 0)
    val ind = Scc.accepted(spark, edgesDf(edges), vertsDf(vertices, u), Scc.InducedU)
    assert(ind.filter(col("accepted")).select("comp").distinct()
      .collect().map(_.getLong(0)).toSet == Set(0L))
  }

  test("answer extraction is ascending members of min accepted comp") {
    val (edges, n, u) = fixture("sample_graph")
    val acc = Scc.accepted(spark, edgesDf(edges), vertsDf(0L until n, u), Scc.FullGraph)
    val ans = Scc.answer(acc).collect().map(_.getLong(0)).toSeq
    val expected = Oracle.acceptedComps(0L until n, edges, u)
    if (expected.isEmpty) assert(ans.isEmpty)
    else {
      val comp = Oracle.tarjan(0L until n, edges)
      val chosen = expected.min
      assert(ans == comp.collect { case (v, c) if c == chosen => v }.toSeq.sorted)
    }
  }

  /** Jobs of one whole-graph local solve on the `linkgraph` benchmark's
    * graph (6,000 vertices): one Tarjan over the whole graph in one task,
    * with or without the caller's promise that every edge stays within the
    * vertices (the kernel keeps only edges between vertex records, so the
    * route needs no semi-join). Routed by the row count of the deduplicated
    * `src`-partitioned edge checkpoint, it took 2 jobs. When the local
    * solve ran the round machinery with every vertex on pivot 0 (the
    * live-edge table's two broadcast joins, the small-pivot set,
    * semi-joined records, the solve and an anti-join of the live state),
    * the same run took 13 jobs, 24 before checkpoints were planned without
    * AQE.
    */
  test("whole-graph local solve on the benchmark graph runs at most 3 jobs") {
    val spec = GraphSpec(numCycles = 1000, maxCycleLen = 6, extraArcsPerVertex = 2.4, seed = 42L)
    val edges = GraphGen.edges(spark, spec).persist()
    val want = Oracle.tarjan(0L until spec.numVertices,
      edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    for (within <- Seq(true, false)) {
      val (run, jobs) = jobsOf(Scc.components(spark, edges, GraphGen.vertices(spark, spec),
        edgesWithinVertices = within))
      val rounds = run.metrics.size
      val got = run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      run.release()
      assert(rounds == 1 && got == want, s"edgesWithinVertices = $within")
      assert(jobs.map(_._1) == Vector("graft scc local-solve"), s"edgesWithinVertices = $within: $jobs")
    }
    edges.unpersist()
  }

  /** SCCs are a property of the edges between vertices: a cycle closed
    * only through an id outside `vertices` merges nothing. The one-task
    * route reads every edge (no semi-join) and its Tarjan keeps only those
    * between vertex records; the distributed path semi-joins the edges
    * first; threshold 1 overflows the attempt into the distributed path. */
  test("a cycle closed only through an id outside the vertices merges no SCCs") {
    val edges = Seq((0L, 1L), (1L, 99L), (99L, 0L), (2L, 3L), (3L, 2L), (3L, 98L), (98L, 4L),
      (4L, 3L), (-5L, 2L), (2L, -5L))
    val vertices = 0L to 5L
    val expected = Oracle.tarjan(vertices,
      edges.filter { case (a, b) => vertices.contains(a) && vertices.contains(b) })
    assert(expected(0L) != expected(1L) && expected(3L) != expected(4L))
    for (threshold <- Seq(250000L, 1L, 0L)) {
      val run = Scc.components(spark, edgesDf(edges), vertsDf(vertices),
        localSolveEdgeThreshold = threshold)
      val got = run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      run.release()
      assert(got == expected, s"threshold $threshold")
    }
  }

  /** Over the cap (threshold 1) the attempt stops at its second edge
    * record and emits nothing, and the distributed path then runs exactly
    * as it runs alone (threshold 0). The graph is one cycle with a tail the
    * pre-trim peels, so round 0 settles everything: in a later round,
    * threshold 1 routes partitions with at most one edge to a per-group
    * Tarjan, which threshold 0 never runs. */
  test("scc over the one-task cap runs one attempt job, then the distributed path's jobs") {
    val edges = (0L until 30L).map(i => (i, (i + 1) % 30)) ++ Seq((3L, 17L), (21L, 8L)) ++
      (30L until 36L).map(i => (i, i - 30))
    val vertices = 0L until 36L
    def at(threshold: Long): (Map[Long, Long], Vector[(String, Int)]) = {
      val (run, jobs) = jobsOf(Scc.components(spark, edgesDf(edges), vertsDf(vertices),
        localSolveEdgeThreshold = threshold))
      val got = run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      run.release()
      (got, jobs.map(j => (j._1, j._2.size)))
    }
    val (over, overJobs) = at(1L)
    val (dist, distJobs) = at(0L)
    assert(over == Oracle.tarjan(vertices, edges) && over == dist)
    assert(overJobs == ("graft scc local-solve", 1) +: distJobs, s"$overJobs vs $distJobs")
  }

  /** Stages per BFS step on the distributed path the benchmark never
    * reaches (threshold 0; 7 rounds, 106 steps on this graph): a step's
    * checkpoint plans without AQE, so its exchanges run as stages of one
    * job. With AQE on in these loops each exchange was a query-stage job
    * of its own: 11 to 15 stages per step, 1,426 in all.
    */
  test("distributed BFS steps run at most 4 stages each") {
    val spec = GraphSpec(numCycles = 40, maxCycleLen = 8, extraArcsPerVertex = 0.3, seed = 7L)
    val (run, jobs) = jobsOf(Scc.components(spark, GraphGen.edges(spark, spec),
      GraphGen.vertices(spark, spec), localSolveEdgeThreshold = 0))
    val rounds = run.metrics.size
    run.release()
    val perStep = jobs.collect { case (l, st) if l != null && l.startsWith("graft scc_bfs_") => l -> st.size }
      .groupBy(_._1).map { case (l, js) => l -> js.map(_._2).sum }
    assert(rounds > 1 && perStep.nonEmpty, s"$rounds rounds, steps $perStep")
    assert(perStep.values.forall(_ <= 4), s"stages per step: $perStep")
  }

  /** (jobs, stages) per `graft scc …` label of one call: `setup`, each
    * `round <r>`, and every `scc_bfs_*` step summed under "steps". */
  private def sccJobs(jobs: Vector[(String, Seq[String])]): Map[String, (Int, Int)] =
    jobs.collect {
      case (l, st) if l != null && l.startsWith("graft scc_bfs_") => ("steps", st.size)
      case (l, st) if l != null && l.startsWith("graft scc ") => (l.stripPrefix("graft scc "), st.size)
    }.groupBy(_._1).map { case (l, js) => l -> (js.size, js.map(_._2).sum) }

  private def assertWithin(got: Map[String, (Int, Int)], bound: Map[String, (Int, Int)]): Unit = {
    assert(got.keySet == bound.keySet, s"labels $got vs $bound")
    for ((l, (j, s)) <- got)
      assert(j <= bound(l)._1 && s <= bound(l)._2, s"$l: $j jobs / $s stages > ${bound(l)}; all: $got")
  }

  /** Jobs and stages per phase on the distributed path (threshold 0). The
    * bounds are the counts since a trim sweep broadcasts its removed set
    * once: on the seeded graph the pre-trim's two sweeps and round 3's one
    * each broadcast it twice before, setup (13, 19) and round 3 (26, 33).
    * Before `components` became named phases, with the dst edge copy
    * persisted by a prefetch thread and the degree frame broadcast by a job
    * of its own, they were (jobs, stages): on the seeded graph (7 rounds,
    * 106 steps) setup (17, 25), rounds 0–6 (10, 12), (27, 33), (27, 33),
    * (28, 35), (24, 29), (24, 29), (24, 29), steps (106, 318); on the
    * 80-vertex two-cycle graph setup (10, 15), round 0 (10, 12), round 1
    * (24, 29), steps (81, 246); killed after round 0 with snapshots, setup
    * (10, 15), round 0 (13, 15), steps (46, 131), and resumed, setup
    * (13, 21), round 1 (26, 31), steps (45, 125). Until the BFS stopped
    * writing per-step snapshots that no resume reads (resume is per round),
    * the killed and resumed runs' steps were (46, 87) and (45, 85).
    */
  test("distributed path: jobs and stages per phase stay within their budget") {
    val spec = GraphSpec(numCycles = 40, maxCycleLen = 8, extraArcsPerVertex = 0.3, seed = 7L)
    val (run, jobs) = jobsOf(Scc.components(spark, GraphGen.edges(spark, spec),
      GraphGen.vertices(spark, spec), localSolveEdgeThreshold = 0))
    assert(run.metrics.size == 7 && run.metrics.map(_.bfsSteps).sum == 106, run.metrics.toString)
    run.release()
    assertWithin(sccJobs(jobs), Map("setup" -> (11, 17), "round 0" -> (9, 12),
      "round 1" -> (25, 31), "round 2" -> (25, 31), "round 3" -> (25, 32),
      "round 4" -> (22, 27), "round 5" -> (22, 27), "round 6" -> (22, 27),
      "steps" -> (106, 212)))

    val edges = (0L until 40L).map(i => (i, (i + 1) % 40)) ++
      (40L until 80L).map(i => (i, if (i == 79) 40L else i + 1)) :+ (7L, 44L)
    val (run2, jobs2) = jobsOf(Scc.components(spark, edgesDf(edges), vertsDf(0L until 80L),
      localSolveEdgeThreshold = 0))
    run2.release()
    assertWithin(sccJobs(jobs2), Map("setup" -> (6, 10), "round 0" -> (9, 12),
      "round 1" -> (22, 27), "steps" -> (81, 162)))

    val dir = java.nio.file.Files.createTempDirectory("scc_jobs_").toString
    val (_, killed) = jobsOf(intercept[IllegalArgumentException] {
      Scc.components(spark, edgesDf(edges), vertsDf(0L until 80L), maxOuter = 1,
        localSolveEdgeThreshold = 0, snapshotDir = Some(dir))
    })
    assertWithin(sccJobs(killed), Map("setup" -> (6, 10), "round 0" -> (11, 14),
      "steps" -> (41, 82)))
    val (run3, resumed) = jobsOf(Scc.components(spark, edgesDf(edges), vertsDf(0L until 80L),
      localSolveEdgeThreshold = 0, snapshotDir = Some(dir)))
    run3.release()
    assertWithin(sccJobs(resumed), Map("setup" -> (10, 16), "round 1" -> (25, 31),
      "steps" -> (40, 80)))
  }

  /** Random graphs, seeded, against Tarjan and the acceptance oracles. Each
    * case mixes hub stars (one vertex holding most of the rows), a long
    * chain over shuffled ids closed into a cycle or not, self-loops and
    * duplicated edges in both directions, any of which may be empty, split
    * over 1, 4 or 8 input partitions; thresholds 0 and 1 run the trim,
    * pivot and BFS phases, the default the whole-graph local solve.
    */
  test("components and accepted equal the oracles on seeded random graphs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Shrink, Test}
    import org.scalacheck.rng.Seed

    final case class Case(n: Int, edges: Vector[(Long, Long)], u: Set[Long], parts: Int)
    def vertex(n: Int): Gen[Long] = Gen.choose(0L, n - 1L)
    def star(n: Int): Gen[Vector[(Long, Long)]] = for {
      hub <- vertex(n)
      k <- Gen.choose(0, 25)
      spokes <- Gen.listOfN(k, Gen.zip(vertex(n), Gen.oneOf(0, 1, 2)))
    } yield spokes.toVector.flatMap {
      case (v, 0) => Vector((v, hub))
      case (v, 1) => Vector((hub, v))
      case (v, _) => Vector((v, hub), (hub, v))
    }
    val caseGen = for {
      n <- Gen.choose(1, 50)
      stars <- Gen.listOfN(2, star(n))
      chainLen <- Gen.choose(0, n)
      closed <- Gen.prob(0.5)
      keys <- Gen.listOfN(n, Gen.long)
      loops <- Gen.listOf(vertex(n).map(v => (v, v)))
      dups <- Gen.listOfN(5, Gen.zip(vertex(n), vertex(n)))
      inU <- Gen.listOfN(n, Gen.prob(0.7))
      parts <- Gen.oneOf(1, 4, 8)
    } yield {
      val chain = (0L until n.toLong).sortBy(i => keys(i.toInt)).take(chainLen)
      val links = chain.zip(chain.drop(1)) ++
        (if (closed && chain.size > 1) Seq((chain.last, chain.head)) else Nil)
      val u = (0L until n.toLong).filter(i => inU(i.toInt)).toSet
      Case(n, stars.flatten.toVector ++ links ++ loops ++ dups ++ dups.map(_.swap), u, parts)
    }
    implicit val shrinkCase: Shrink[Case] = Shrink { c =>
      Shrink.shrinkContainer[Vector, (Long, Long)].shrink(c.edges).map(es => c.copy(edges = es))
    }
    val seen = scala.collection.mutable.Set.empty[Int]
    def check(c: Case): Boolean = {
      seen += c.parts
      val vertices = 0L until c.n
      val e = edgesDf(c.edges).repartition(c.parts)
      val expected = Oracle.tarjan(vertices, c.edges)
      val comps = Seq(0L, 1L, 250000L).forall { threshold =>
        val run = Scc.components(spark, e, vertsDf(vertices).repartition(c.parts),
          localSolveEdgeThreshold = threshold)
        val got = run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        run.release()
        got == expected
      }
      def accepted(mode: Scc.SccMode): Set[Long] = {
        val run = Scc.acceptedRun(spark, e, vertsDf(vertices, c.u), mode)
        val got = run.accepted.filter(col("accepted")).select("comp").distinct()
          .collect().map(_.getLong(0)).toSet
        run.release()
        got
      }
      comps && accepted(Scc.FullGraph) == Oracle.acceptedComps(vertices, c.edges, c.u) &&
        accepted(Scc.InducedU) == Oracle.acceptedCompsInduced(vertices, c.edges, c.u)
    }
    val prop = Prop.forAll(caseGen)(check)
    val params = Test.Parameters.default.withMinSuccessfulTests(6).withWorkers(1)
      .withInitialSeed(Seed(20261022L))
    val result = Test.check(params, prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(seen == Set(1, 4, 8), s"partition counts drawn: $seen")

    // no edges at all, and no vertices either, at every partition count
    for (p <- Seq(1, 4, 8); n <- Seq(0, 5))
      assert(check(Case(n, Vector.empty, Set(0L, 1L), p)), s"$n vertices, no edges, $p partitions")
  }

  test("generated graph (seeded): decomposition matches Tarjan") {
    val spec = GraphSpec(numCycles = 40, maxCycleLen = 8, extraArcsPerVertex = 0.3, seed = 7L)
    val edges = GraphGen.edges(spark, spec).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val vertices = (0L until spec.numVertices)
    val expected = Oracle.tarjan(vertices, edges)
    // threshold=12 forces mixed routing: big merged components run the
    // distributed FW-BW loop, small cycles route to local Tarjan.
    for (threshold <- Seq(250000L, 12L)) {
      val run4 = Scc.components(spark, GraphGen.edges(spark, spec),
        GraphGen.vertices(spark, spec), localSolveEdgeThreshold = threshold)
      val got = run4.components
      val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotMap == expected, s"threshold=$threshold")
    }
  }

  test("determinism: same result at different parallelism (repartitioned input)") {
    val spec = GraphSpec(numCycles = 20, maxCycleLen = 6, extraArcsPerVertex = 0.4, seed = 3L)
    val e = GraphGen.edges(spark, spec)
    val v = GraphGen.vertices(spark, spec)
    val run5 = Scc.components(spark, e.repartition(2), v.repartition(2))
    val a = run5.components
    val run6 = Scc.components(spark, e.repartition(13), v.repartition(7))
    val b = run6.components
    assert(a.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      b.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("mid_tests-recipe graph (~40k edges): decomposition and acceptance match oracles") {
    // FIXTURES.md §3: the reference's generate.py:76-153 construction at the
    // published parameter shape, sized to the mid_tests regime (the four
    // published graphs are 37k-86k edges / ~47k nodes).
    val spec = GraphFixtures.MidTestSpec(numCycles = 1000, lenLo = 16, lenHi = 33)
    val (eDf, n) = GraphFixtures.midTestEdges(spark, spec)
    val edges = eDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.size > 30000 && edges.size < 60000, s"edge count ${edges.size}")
    val vertices = 0L until n
    val expected = Oracle.tarjan(vertices, edges)
    val run7 = Scc.components(spark, eDf,
      GraphFixtures.midTestVertices(spark, spec, n).select("id"))
    val got = run7.components
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)

    // the reference's U recipe (generate.py:146-147): members of ~half the
    // nontrivial SCCs ∪ a random 1/20 of vertices — the SCC half comes from
    // the oracle, exactly like generate.py derives it from networkx
    val nontrivial = expected.groupBy(_._2).filter(_._2.size >= 2).keys.toSeq.sorted
    val sccU = nontrivial.zipWithIndex.collect { case (c, i) if i % 2 == 0 => c }.toSet
    val u = vertices.filter(v => v % 20 == 0 || sccU(expected(v))).toSet
    val expectedAcc = Oracle.acceptedComps(vertices, edges, u)
    val acc = Scc.accepted(spark, eDf, vertsDf(vertices, u), Scc.FullGraph)
    val gotAcc = acc.collect().collect { case r if r.getBoolean(2) => r.getLong(1) }.toSet
    assert(gotAcc == expectedAcc)
  }

  test("skewed hub graph takes the salted pivot-set path and stays correct") {
    // TWO disconnected stars with bidirectional spokes: each hub's in/out
    // degree exceeds hubDegreeThreshold, and each star is one SCC. Round 0
    // (single-pivot, boolean hit-flag aggregation — salting bypassed by
    // design) extracts the star holding the degree-product pivot; round 1
    // then runs the OTHER star through the multi-pivot pivot-set branch,
    // which with hubDegreeThreshold=100 is the salted
    // saltedDirectionalCollectSet build — the path this test pins.
    // localSolveEdgeThreshold=0 forces the distributed BFS throughout.
    val n = 1500L
    val edges = (1L until n).flatMap(i => Seq((0L, i), (i, 0L))) ++
      (1L until n).flatMap(i => Seq((5000L, 5000L + i), (5000L + i, 5000L)))
    val vertices = (0L until n) ++ (5000L until (5000L + n))
    val run9 = Scc.components(spark, edgesDf(edges), vertsDf(vertices),
      localSolveEdgeThreshold = 0, hubDegreeThreshold = 100)
    val got = run9.components
    val metrics = run9.metrics
    val comps = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 2 * n &&
      (0L until n).forall(i => comps(i) == 0L) &&
      (5000L until (5000L + n)).forall(i => comps(i) == 5000L))
    // both stars must have gone through a BFS (not been trimmed away)
    assert(metrics.count(_.bfsSteps > 0) >= 2, s"metrics=$metrics")
  }

  test("Spark-native GraphFile.read == parseLocal, end-to-end through the engine") {
    val text = scala.io.Source.fromResource("graphs/sample_graph8").mkString
    val (edges, n, u) = GraphFixtures.parseLocal(text)
    val tmp = java.nio.file.Files.createTempFile("graph_", ".txt")
    java.nio.file.Files.writeString(tmp, text)
    val g = graft.sources.GraphFile.read(spark, tmp.toString)
    assert(g.numNodes == n)
    assert(g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      edges.sorted)
    assert(g.vertices.filter(col("isU")).collect().map(_.getLong(0)).toSet == u)
    assert(g.vertices.count() == n)
    // the distributed reader's output drives the engine to the Tarjan answer
    val run10 = Scc.components(spark, g.edges, g.vertices.select("id"))
    val got = run10.components
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Oracle.tarjan(0L until n, edges))
  }

  test("GraphFile.read rejects a missing or malformed header, naming the file") {
    for ((text, found) <- Seq(
        ("0 1\n1 0\n", "no '%' line"),
        ("% 2\n0 1\n1 0\n", "'% 2'"),
        ("% two 2\n0 1\n1 0\n", "'% two 2'"))) {
      val tmp = java.nio.file.Files.createTempFile("graph_bad_", ".txt")
      java.nio.file.Files.writeString(tmp, text)
      val e = intercept[IllegalArgumentException](graft.sources.GraphFile.read(spark, tmp.toString))
      assert(e.getMessage.contains(tmp.toString) && e.getMessage.contains("% <num_edges> <num_nodes>") &&
        e.getMessage.contains(found), e.getMessage)
    }
  }

  test("SccCli prints the reference binary's answer on sample_graph (induced)") {
    // known-good cross-check: the reference standalone binary prints {0,1,4}
    // on samples/sample_graph (verify skill, round-1 cross-validation)
    val text = scala.io.Source.fromResource("graphs/sample_graph").mkString
    val tmp = java.nio.file.Files.createTempFile("graph_", ".txt")
    java.nio.file.Files.writeString(tmp, text)
    val out = SccCli.run(spark, tmp.toString, Scc.InducedU)
    assert(out == Seq("accepted SCCs: 1", "SCC:", "0", "1", "4"), out.toString)
  }

  test("adaptive trim cap: stragglers left untrimmed are still classified exactly") {
    // 6-cycle + two pendant sources feeding it. With capFraction=0.9 and
    // no size floor, the pre-trim caps IMMEDIATELY (2 dead of 8 < 0.9·8),
    // so the pendants ride into the BFS flagged-but-live: round 0 extracts
    // the cycle (single-pivot path), the recolored pendant remainder
    // is finished by the round-1 trim (2 dead of 2 ≥ 0.9·2 → cap inactive).
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (6L, 0L), (7L, 3L))
    val verts = 0L to 7L
    val expected = Oracle.tarjan(verts, edges)
    val run = Scc.components(spark, edgesDf(edges), vertsDf(verts),
      localSolveEdgeThreshold = 0,
      trimCapFraction = 0.9, trimCapMinRemaining = 0L)
    assert(run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == expected)
    // the cap really did defer the pendants out of the pre-trim: nothing
    // was trimmed before round 0, and a later round removed them
    assert(run.metrics.head.trimmed == 0, run.metrics.toString)
    assert(run.metrics.exists(m => m.round > 0 && m.trimmed == 2), run.metrics.toString)
    run.release()
  }

  test("release() drops every cached block the run created; assignedCount exact") {
    // attribution by RDD id — a global block COUNT races Spark's
    // ContextCleaner, which asynchronously unpersists unreferenced frames
    // from earlier tests in the shared session
    def ids = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 3L))
    val verts = 0L to 4L
    val before = ids.toSet
    val run = Scc.components(spark, edgesDf(edges), vertsDf(verts),
      localSolveEdgeThreshold = 0) // distributed path = maximal arena usage
    // the tallied count equals the real union count without a prior scan
    assert(run.assignedCount == verts.size)
    assert(run.components.count() == run.assignedCount)
    val created = ids.toSet -- before
    assert(created.nonEmpty, "SccRun should hold cached fragment blocks before release")
    run.release()
    val leaked = created.intersect(ids.toSet)
    assert(leaked.isEmpty, s"blocks remaining after release: $leaked")
  }

  test("acceptedRun release() drops the acceptance frame's cached blocks") {
    def ids = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 3L))
    val verts = (0L to 4L).map(id => (id, true))
    import spark.implicits._
    val before = ids.toSet
    val run = Scc.acceptedRun(spark,
      edges.toDF("src", "dst"), verts.toDF("id", "isU"))
    // {0,1,2} accepted; {3,4} killed by the U-edge 2→3 from another comp
    assert(run.accepted.filter(org.apache.spark.sql.functions.col("accepted")).count() == 3)
    assert(run.accepted.count() == 5)
    val created = ids.toSet -- before
    assert(created.nonEmpty, "acceptedRun should hold cached blocks before release")
    run.release()
    val leaked = created.intersect(ids.toSet)
    assert(leaked.isEmpty, s"blocks remaining after acceptedRun release: $leaked")
  }

  test("fragment compaction: chain-of-SCCs graph keeps the result plan narrow") {
    // 16 mutual pairs chained by arcs — many FW-BW rounds, each appending
    // fragments; threshold 2 forces compaction nearly every round
    val k = 16
    val edges = (0 until k).flatMap { i =>
      val a = 2L * i; val b = a + 1
      Seq((a, b), (b, a)) ++ (if (i < k - 1) Seq((b, a + 2)) else Nil)
    }
    val vertices = 0L until (2L * k)
    val expected = Oracle.tarjan(vertices, edges)
    val run = Scc.components(spark, edgesDf(edges), vertsDf(vertices),
      localSolveEdgeThreshold = 0, fragmentCompactionThreshold = 2)
    assert(run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == expected)
    // the result union stays O(threshold + compactions) wide — without
    // compaction this graph yields well over 10 fragment leaves
    val leaves = run.components.queryExecution.logical.collectLeaves().size
    assert(leaves <= 8, s"result plan has $leaves leaves — compaction didn't bound it")
    run.release()
  }

  test("fragment compaction: peel-heavy path graph compacts inside the pre-trim") {
    // a 60-vertex path peels 2 endpoints per trim sweep → ~30 sweeps, all
    // singleton fragments appended before round 0
    val edges = (0L until 59L).map(i => (i, i + 1))
    val vertices = 0L to 59L
    val expected = Oracle.tarjan(vertices, edges)
    val run = Scc.components(spark, edgesDf(edges), vertsDf(vertices),
      maxTrimSweeps = 100, localSolveEdgeThreshold = 0,
      fragmentCompactionThreshold = 2)
    assert(run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == expected)
    val leaves = run.components.queryExecution.logical.collectLeaves().size
    assert(leaves <= 4, s"result plan has $leaves leaves — pre-trim compaction didn't run")
    run.release()
  }

  test("resume + compaction: identity-tracked snapshot parts survive a restart") {
    val edges = (0L until 40L).map(i => (i, (i + 1) % 40)) ++
      (40L until 80L).map(i => (i, if (i == 79) 40L else i + 1)) :+ (7L, 44L)
    val vertices = 0L until 80L
    val e = edgesDf(edges)
    val v = vertsDf(vertices)
    val dir = java.nio.file.Files.createTempDirectory("scc_resume_compact_").toString
    intercept[IllegalArgumentException] {
      Scc.components(spark, e, v, maxOuter = 1, localSolveEdgeThreshold = 0,
        snapshotDir = Some(dir), fragmentCompactionThreshold = 1)
    }
    val run = Scc.components(spark, e, v, localSolveEdgeThreshold = 0,
      snapshotDir = Some(dir), fragmentCompactionThreshold = 1)
    val expected = Oracle.tarjan(vertices, edges)
    assert(run.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == expected)
    assert(run.metrics.head.round > 0, run.metrics.toString)
  }

  test("kill-between-rounds resume: snapshot manifest restores the outer loop") {
    // two cycles joined by an arc need two FW-BW rounds when nothing routes
    // to the local solver: round 0 finds the pivot's SCC, round 1 the rest.
    val edges = (0L until 40L).map(i => (i, (i + 1) % 40)) ++
      (40L until 80L).map(i => (i, if (i == 79) 40L else i + 1)) :+ (7L, 44L)
    val vertices = 0L until 80L
    val e = edgesDf(edges)
    val v = vertsDf(vertices)
    val dir = java.nio.file.Files.createTempDirectory("scc_resume_").toString

    // "kill" after round 0: maxOuter=1 leaves live vertices -> require fails,
    // but round 0's snapshot + manifest are already durable
    intercept[IllegalArgumentException] {
      Scc.components(spark, e, v, maxOuter = 1,
        localSolveEdgeThreshold = 0, snapshotDir = Some(dir))
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "scc.manifest.jsonl")))

    // restart with the same snapshotDir: resumes after round 0 and completes
    val run11 = Scc.components(spark, e, v,
      localSolveEdgeThreshold = 0, snapshotDir = Some(dir))
    val resumed = run11.components
    val resumedMetrics = run11.metrics
    val expected = Oracle.tarjan(vertices, edges)
    assert(resumed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    // and it genuinely resumed (first recorded round is > 0), not restarted
    assert(resumedMetrics.head.round > 0, resumedMetrics.toString)
    // only the round-level state is durable: the BFS steps inside a round
    // leave nothing behind, since resume never restarts mid-round
    val bfsEntries = new java.io.File(dir).list().filter(_.startsWith("scc_bfs_"))
    assert(bfsEntries.isEmpty, bfsEntries.mkString(", "))
  }

  test("corrupt round manifest fails resume loudly, never a silent restart") {
    val edges = (0L until 40L).map(i => (i, (i + 1) % 40)) ++
      (40L until 80L).map(i => (i, if (i == 79) 40L else i + 1)) :+ (7L, 44L)
    val vertices = 0L until 80L
    val e = edgesDf(edges)
    val v = vertsDf(vertices)
    val dir = java.nio.file.Files.createTempDirectory("scc_resume_bad_").toString
    intercept[IllegalArgumentException] {
      Scc.components(spark, e, v, maxOuter = 1,
        localSolveEdgeThreshold = 0, snapshotDir = Some(dir))
    }
    val manifest = java.nio.file.Paths.get(dir, "scc.manifest.jsonl")
    // A torn FINAL line (crash mid-append) is the artifact resume exists
    // to recover from: tolerated AND truncated off, so the resumed run
    // leaves a clean manifest behind.
    java.nio.file.Files.writeString(manifest, "{\"round\":1,\"liveCou",
      java.nio.file.StandardOpenOption.APPEND)
    val run = Scc.components(spark, e, v,
      localSolveEdgeThreshold = 0, snapshotDir = Some(dir))
    assert(run.assignedCount == v.count())
    run.release()
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.readAllLines(manifest).asScala
      .forall(l => !l.endsWith("liveCou")),
      "torn line should have been truncated off the manifest")
    // A NON-final unparseable line is real corruption (or a version-skewed
    // manifest): resuming must throw — silently skipping the bad line
    // would redo rounds against durable state later rounds already saw.
    val valid = java.nio.file.Files.readAllLines(manifest).asScala.head
    java.nio.file.Files.writeString(manifest, s"garbage line\n$valid\n",
      java.nio.file.StandardOpenOption.APPEND)
    assertThrows[IllegalStateException] {
      Scc.components(spark, e, v,
        localSolveEdgeThreshold = 0, snapshotDir = Some(dir))
    }
  }
}
