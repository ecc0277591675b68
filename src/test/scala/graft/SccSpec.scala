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
    * the round-0 `le`-skip active (liveEdges0 > 1 on any nontrivial graph,
    * so round 0 runs straight off the original edge partitionings).
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
    val spec = graft.sources.MidTestSpec(numCycles = 1000, lenLo = 16, lenHi = 33)
    val (eDf, n) = GraphGen.midTestEdges(spark, spec)
    val edges = eDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.size > 30000 && edges.size < 60000, s"edge count ${edges.size}")
    val vertices = 0L until n
    val expected = Oracle.tarjan(vertices, edges)
    val run7 = Scc.components(spark, eDf,
      GraphGen.midTestVertices(spark, spec, n).select("id"))
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
    val (edges, n, u) = graft.sources.GraphFile.parseLocal(text)
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
    // the cycle (slim single-pivot path), the recolored pendant remainder
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
