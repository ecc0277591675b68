package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.{Checkpoint, CountIf, Max}
import org.apache.spark.sql.functions._

import graft.plans.{CheckpointArena, JobLabel, Jsonl, Superstep}

/** Result handle for [[Scc.components]]:
  *   - [[release]]: unpersist every cached block backing [[components]]
  *     once the caller has consumed it (the reference frees everything per
  *     `routine` run, scc_runner.cu:44; without this, repeated
  *     decompositions accumulate storage blocks until eviction).
  *     [[components]] must not be used afterwards — checkpoint lineage is
  *     truncated and cannot recompute. Idempotent.
  *   - [[assignedCount]]: exact row count of [[components]], tallied from
  *     the counts that rode each fragment's materialization action —
  *     consumers needing the total (the bench, sanity gates) read it
  *     without re-scanning the fragment union, and `components()` itself
  *     asserts it equals the input vertex count before returning.
  */
final class SccRun(
    val components: DataFrame,
    val metrics: Vector[Scc.RoundMetrics],
    val assignedCount: Long,
    releaseFn: () => Unit) {
  def release(): Unit = releaseFn()
}

/** Result handle for [[Scc.acceptedRun]]: the eagerly-materialized
  * (id, comp, accepted) frame plus [[release]] for its cached blocks —
  * same contract as [[SccRun]] (a long-lived session stacking acceptance
  * queries without releasing accumulates checkpoint blocks). Idempotent.
  */
final class SccAcceptedRun(val accepted: DataFrame, releaseFn: () => Unit) {
  def release(): Unit = releaseFn()
}

/** Strongly connected components via Forward-Backward-Trim with pivot
  * coloring — the reference's core algorithm
  * (`/root/reference/main.cpp:165-205`, `cuda/scc_operations.cu`), rebuilt
  * as declarative DataFrame supersteps.
  *
  * Differences from the reference, all deliberate (SURVEY.md §2.1, §4):
  *   - **Deterministic pivots, canonical labels**: the reference elects
  *     pivots by a GPU last-writer-wins race (`scc_operations.cu:163-166`);
  *     here every pivot election is deterministic (degree-product argmax
  *     with min-id ties in round 0, `min(id)` per recolor group after) and
  *     every emitted component id is the canonical min-member id
  *     regardless of which member seeded the reach — the recolor's
  *     per-group `min(id)` is what gets emitted, so runs are reproducible
  *     across cluster sizes.
  *   - **Degree-product pivot + deferred WCC refinement**: the reference
  *     starts from one arbitrary global pivot and serializes disconnected
  *     components (fine on a GPU where a round is microseconds,
  *     catastrophic when a round is a Spark job). We pick the round-0
  *     pivot by max live in×out degree (inside the giant SCC w.h.p. —
  *     the standard parallel-SCC pivot heuristic, Hong et al. PPoPP'13),
  *     and from round 1 on refine the partition map with WCC labels of
  *     the live REMAINDER whenever it is too big to local-solve: every
  *     weak component then proceeds concurrently, at a WCC cost
  *     proportional to the remainder instead of the whole input (a full
  *     up-front WCC was measured at 1/3 of SCC convergence wall on the
  *     giant-component bench graph while buying nothing there).
  *   - **Trim-2** (north-star extension): mutual pairs whose only live
  *     in-edges (or only live out-edges) are each other are closed as size-2
  *     SCCs before pivoting, on top of the reference's trim-1
  *     (`cuda/scc_operations.cu:89-127`).
  *   - fw and bw reachability run in the same superstep DAG — the shape the
  *     reference reaches for with two CUDA streams + a bit-OR merge in
  *     v6/v7 (`cuda/sccv6_optreach.cu:270-293`) — and in ONE exchange per
  *     step: both frontiers' hits union with a direction flag into a
  *     single per-target aggregation and a single state-rewrite join.
  *   - **Packed status, boolean hits for one pivot**: the BFS state carries
  *     its four reach flags bit-packed in one int (the reference's packed
  *     status byte, `utils/is_checked.cu:22-46`), and a round whose live
  *     rows share one pivot — round 0, 80-95% of all work on web-shaped
  *     graphs — aggregates two boolean hit flags per target instead of
  *     pivot-set arrays. Pivots are re-elected only when a trim removed
  *     vertices, and a round builds its live-edge table only when one of
  *     its phases reads it.
  *
  * Semantics note (SURVEY.md §5.3): `components` decomposes whatever
  * (vertices, edges) it is given. The reference *engine* computes SCCs of
  * the U-induced subgraph while its own oracle (`misc/verify.py:42-53`)
  * computes SCCs of the full graph and filters; [[Scc.accepted]] exposes
  * both as [[SccMode]].
  */
object Scc {

  sealed trait SccMode
  /** Oracle semantics (misc/verify.py): SCCs of the full graph, then filter
    * S⊆U ∧ |S|≥2 ∧ prec(S)∩U=∅. The stated problem (README.md:49-57). */
  case object FullGraph extends SccMode
  /** Engine semantics (file2graph.cpp:96-101,162): SCCs of G[U], then kill
    * components receiving an edge from a U vertex outside them. */
  case object InducedU extends SccMode

  final case class RoundMetrics(
      round: Int, localSolved: Long, trimmed: Long, pairTrimmed: Long, bfsSteps: Int,
      sccRows: Long, liveRows: Long)

  private def roundStart(round: Int): RoundMetrics = RoundMetrics(round, 0L, 0L, 0L, 0, 0L, 0L)

  /** Finished (id, comp) fragments. `pending` holds materialized frames and
    * lazy filters over the checkpoints in `backing`; `compacted` holds
    * self-contained id-partitioned frames with their row counts. The
    * answer is one lazy union over both — never re-materialized per round,
    * which would be O(V · rounds) writes. `assigned` is the exact row total,
    * tallied from the counts that rode each fragment's materialization (the
    * round-2 bench spent ~14% of its wall re-counting cached fragments).
    */
  private final case class Fragments(
      pending: Vector[DataFrame] = Vector.empty,
      backing: Vector[DataFrame] = Vector.empty,
      compacted: Vector[(DataFrame, Long)] = Vector.empty,
      assigned: Long = 0L) {

    def add(part: DataFrame, rows: Long, backers: DataFrame*): Fragments =
      copy(pending = pending :+ part, backing = backing ++ backers, assigned = assigned + rows)

    def all: Vector[DataFrame] = compacted.map(_._1) ++ pending

    /** Fragment compaction (VERDICT r4 #8), run after every trim sweep and
      * every round: a chain-of-SCCs graph legitimately runs many rounds and
      * sweeps, each appending a fragment — O(rounds + sweeps) plan width —
      * and each lazy trim fragment pins the O(remaining) survivor frame it
      * filters. Once more than `threshold` fragments are pending they union
      * into ONE id-partitioned checkpoint and their backers are released.
      * The newest compacted frames no larger than the new one fold into it,
      * so sizes at least double down the list: O(log V) compacted frames,
      * each row re-shuffled O(log V) times. The checkpoint's ridden count
      * must equal the tallied rows it replaces.
      */
    def compact(arena: CheckpointArena, threshold: Int): Fragments =
      if (pending.size <= threshold) this
      else {
        var keep = compacted
        var rows = assigned - compacted.map(_._2).sum
        while (keep.nonEmpty && keep.last._2 <= rows) {
          rows += keep.last._2
          keep = keep.init
        }
        val merged = compacted.drop(keep.size).map(_._1) ++ pending
        val Checkpoint(frame, _, cnt, _) = arena.checkpoint(
          merged.reduce(_.unionByName(_)).repartition(col("id")))
        require(cnt == rows,
          s"compacted fragment rows $cnt != pending tally $rows — assignment bug")
        (merged ++ backing).foreach(arena.release)
        graft.Log.v(s"scc: compacted ${merged.size} fragments into one frame ($cnt rows)")
        Fragments(compacted = keep :+ (frame -> cnt), assigned = assigned)
      }
  }

  /** The decomposition between two phases; every phase takes one and
    * returns the next.
    *   - `live`: the (id, pivot) rows not yet assigned, an arena checkpoint
    *     (a trim's oc/ic/dead counters ride along unused; no pivot before
    *     [[Decomposition.electPivot]]); `liveCount` its exact row count.
    *   - `onePivot`: every live row carries the same pivot (round 0 until a
    *     WCC refinement or recolor), so a BFS hit is membership.
    *   - `idPart`: `live` is known hash(id)-partitioned.
    *   - `trimDone`: trim-1 would be a no-op on `live` — the global trim
    *     reached its fixpoint (edges never cross partitions, and local
    *     solve removes whole partitions) or its adaptive cap, which leaves
    *     the trickle to later rounds on purpose. A recolor clears it.
    *   - `le`: the round's partition-internal edge table (pivot, src, dst)
    *     over the rows live when it was built, made only when a phase reads
    *     it; `leCount` the live-edge count when known (trim counters or
    *     `le`).
    *   - `salted`: a hub's full-graph degree exceeds `hubDegreeThreshold`.
    *   - `reached`: the converged BFS state, from reach to retire.
    *   - `frags`: the finished fragments; `tally` this round's metrics,
    *     `done` the finished rounds'.
    */
  private final case class SccState(
      live: DataFrame,
      liveCount: Long,
      onePivot: Boolean,
      idPart: Boolean,
      trimDone: Boolean,
      salted: Boolean,
      frags: Fragments,
      tally: RoundMetrics,
      done: Vector[RoundMetrics] = Vector.empty,
      le: Option[DataFrame] = None,
      leCount: Option[Long] = None,
      reached: Option[DataFrame] = None) {
    def round: Int = tally.round
  }

  /** Initial flagged degree frame for [[Decomposition.trimFixpoint]]: verts
    * ⟕ one-pass [[Degrees.counts]], `dead` = in- or out-degree 0. Callers
    * checkpoint it riding `CountIf("dead")`, so the row/dead counts cost no
    * extra action. Extra `verts` columns (e.g. `pivot`) ride along
    * unchanged. The join is hash-built on the degree frame and
    * co-partitioned by `id`: unhinted, the planner broadcasts the degree
    * frame in a job of its own before the checkpoint's.
    */
  private def trimDegreesPlan(edges: DataFrame, verts: DataFrame): DataFrame = {
    val carry = verts.columns.filter(_ != "id").toSeq
    verts
      .join(Degrees.counts(edges).hint("shuffle_hash"), Seq("id"), "left")
      .select((col("id") +: carry.map(col)) ++ Seq(
        coalesce(col("oc"), lit(0L)).as("oc"),
        coalesce(col("ic"), lit(0L)).as("ic")): _*)
      .withColumn("dead", col("oc") <= 0 || col("ic") <= 0)
  }

  /** Outer-loop durability (north_rule "resumable from checkpoint with
    * per-partition lineage"): every finished (id, comp) fragment is written
    * to parquet exactly once (one file per partition = per-partition
    * lineage), the live (id, pivot) state once per round, plus one manifest
    * line per round. A restarted [[components]] call with the same
    * `snapshotDir` reads the newest manifest and re-enters the outer loop
    * after the last completed round — pre-trim, WCC and all completed
    * rounds are never recomputed. (The reference's analog, the whole
    * `routine`, restarts from scratch: scc_runner.cu:29-48.)
    */
  private final class Snapshots(spark: SparkSession, dir: String) {
    private val manifest = java.nio.file.Paths.get(dir, "scc.manifest.jsonl")
    // Fragments are tracked by IDENTITY, not by list position: compaction
    // replaces many fragments with one new frame, so the current fragment
    // list is not append-only — each manifest line records the file indices
    // of the round's CURRENT list, and only never-written frames cost a
    // parquet write.
    private val fileIdx = new java.util.IdentityHashMap[DataFrame, Integer]()
    private var nextIdx = 0

    def writeRound(round: Int, live: DataFrame, liveCount: Long,
        parts: Seq[DataFrame]): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      parts.foreach { p =>
        if (!fileIdx.containsKey(p)) {
          p.write.mode("overwrite").parquet(s"$dir/scc.part_$nextIdx")
          fileIdx.put(p, nextIdx)
          nextIdx += 1
        }
      }
      val idxs = parts.map(fileIdx.get(_).intValue)
      val livePath = s"$dir/scc.live_$round"
      live.write.mode("overwrite").parquet(livePath)
      java.nio.file.Files.writeString(manifest,
        s"""{"round":$round,"liveCount":$liveCount,"parts":[${idxs.mkString(",")}],"live":${Jsonl.jstr(livePath)}}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }

    /** Newest durable round, if any: (live, fragments, round, liveCount).
      * A torn final manifest line is truncated off, any other unparseable
      * one throws (see [[Jsonl.readLog]]). */
    def resume(): Option[(DataFrame, Seq[DataFrame], Int, Long)] =
      Jsonl.readLog(manifest, "SCC round manifest")(roundOf).lastOption.map {
        case (r, lc, ids, lp) =>
          val parts = ids.map { i =>
            val df = spark.read.parquet(s"$dir/scc.part_$i")
            fileIdx.put(df, i)
            df
          }
          nextIdx = (ids :+ -1).max + 1
          (spark.read.parquet(lp), parts, r, lc)
      }
  }

  /** A round manifest line: (round, liveCount, part file indices, live path). */
  private[graft] def roundOf(l: Jsonl.Obj): (Int, Long, Seq[Int], String) =
    (l.int("round"), l.long("liveCount"), l.ints("parts"), l.str("live"))

  /** Edge layout of the distributed path: only edges internal to the
    * vertex set matter for SCCs. Self-loops and duplicates are dropped, and
    * the rest is ONE hash(src) checkpoint. The dedup folds into the src
    * repartition (hash(src) co-locates equal (src,dst) pairs, so the
    * distinct aggregation adds no exchange), and the defensive endpoint
    * semi-joins are skipped when the caller guarantees closure
    * (`edgesWithinVertices` — generated graphs, `% m n` files whose ids are
    * dense by format). A checkpoint, not a persist: a persisted plan is
    * cached through AQE, whose exchange runs as a query-stage job of its
    * own. The hash(dst) copy is [[Decomposition.eByDst]].
    */
  private def layoutEdges(arena: CheckpointArena, edges: DataFrame, verts: DataFrame,
      edgesWithinVertices: Boolean): Checkpoint = {
    val base = edges.select("src", "dst").filter(col("src") =!= col("dst"))
    val clean =
      if (edgesWithinVertices) base
      else base
        .join(verts.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(verts.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    arena.checkpoint(clean.repartition(col("src")).distinct())
  }

  /** Full SCC decomposition. Returns (id, comp) for every vertex, with
    * comp = min member id (canonical), plus per-round metrics.
    *
    * Hybrid execution (see [[LocalGraph]]): one capped attempt first reads
    * every non-loop edge in one task and stops past
    * `localSolveEdgeThreshold` edge records. A graph that fits is solved by
    * one array Tarjan in that job, which keeps only the edges between
    * vertex records, so it needs neither the edge layout's semi-joins nor
    * its dedup, whatever `edgesWithinVertices` says. Otherwise every
    * round, partitions whose internal edge count fits one task are
    * finished by a per-group sequential Tarjan in a single shuffle, so
    * only partitions too big for any single machine pay the superstep
    * loop. At 100 TB that means the giant component runs distributed FW-BW
    * while the million-small-component tail costs O(1) jobs total. Set
    * the threshold to 0 to force the pure distributed path, with no
    * attempt (used by tests to cover it); the WCC refinement of a
    * remainder always runs WCC's superstep path.
    *
    * Per-round job budget (the sandbox superstep-latency floor is the
    * binding constraint; see BASELINE.md): the live partition-internal edge
    * table is materialized at most ONCE per round and shared by WCC
    * refinement, local-solve, trim-1 and trim-2; trim sweeps decrement
    * degree counters instead of re-joining edges; convergence counts ride
    * checkpoint accumulators; the relabel flows into the BFS harness's own
    * state0 checkpoint; the recolor checkpoint serves both the finished
    * fragment and the done count.
    *
    * When `snapshotDir` is set the outer loop is durable and resumable
    * (see [[Snapshots]]); a fresh call with the same directory continues
    * after the last completed round, so a directory belongs to one input.
    * Like `PageRank.run` and `Wcc.run`, a graph solved in one task writes
    * no round manifest there.
    */
  def components(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      maxOuter: Int = 100,
      maxTrimSweeps: Int = 20,
      localSolveEdgeThreshold: Long = LocalGraph.EdgeThreshold,
      hubDegreeThreshold: Long = 2000000,
      snapshotDir: Option[String] = None,
      edgesWithinVertices: Boolean = false,
      trimCapFraction: Double = 0.001,
      trimCapMinRemaining: Long = 1000000L,
      fragmentCompactionThreshold: Int = 64): SccRun = {
    val arena = new CheckpointArena
    val verts = vertices.select("id")
    val solved = {
      import spark.implicits._
      LocalGraph.attempt(arena, "scc",
        LocalGraph.records(edges.select("src", "dst").filter(col("src") =!= col("dst")), Some(verts)),
        localSolveEdgeThreshold, Seq("id", "comp"))(LocalGraph.sccRows)
    }
    solved.map { ck =>
      // one row per vertex record by construction: the one fragment
      graft.Log.v(s"scc: whole-graph local solve of ${ck.rows} vertices")
      arena.closeExcept(ck.df)
      new SccRun(ck.df, Vector(roundStart(0).copy(localSolved = ck.rows)), ck.rows,
        () => arena.closeExcept())
    }.getOrElse {
      val (d, start) = JobLabel(spark, "scc", "setup") {
        val eBySrc = layoutEdges(arena, edges, verts, edgesWithinVertices)
        graft.Log.v(s"scc: edges materialized (${eBySrc.rows})")
        val d = new Decomposition(spark, arena, verts, eBySrc.df, maxTrimSweeps,
          localSolveEdgeThreshold, hubDegreeThreshold, snapshotDir, trimCapFraction,
          trimCapMinRemaining, fragmentCompactionThreshold)
        (d, d.resumed().getOrElse(d.electPivot(d.preTrim())))
      }
      // every vertex is now either in a finished fragment or live
      val expectedTotal = start.frags.assigned + start.liveCount
      val end = Iterator.iterate(start)(d.nextRound)
        .find(s => s.liveCount == 0 || s.round >= maxOuter).get
      require(end.liveCount == 0, s"SCC did not converge in $maxOuter rounds (${end.liveCount} live)")
      // Exactness guarantee for assignedCount: every vertex ended up in
      // exactly one fragment, with all counts ridden on materialization
      // actions — a union re-count would scan the same cached blocks to
      // learn the same number.
      require(end.frags.assigned == expectedTotal,
        s"fragment tally ${end.frags.assigned} != vertex total $expectedTotal — assignment bug")

      // The parts are already materialized; the result is their lazy union —
      // re-checkpointing it here would be one more full O(V) pass for nothing.
      val parts = end.frags.all
      val result =
        if (parts.isEmpty) verts.select(col("id"), col("id").as("comp")).limit(0)
        else parts.reduce(_.unionByName(_))
      arena.closeExcept(parts ++ end.frags.backing: _*)
      new SccRun(result, end.done, end.frags.assigned, () => arena.closeExcept())
    }
  }

  /** The phases of one distributed [[Scc.components]] call over its
    * hash(src) edge checkpoint `eBySrc`: setup runs the global trim and
    * elects the round-0 pivot; each round then refines its partitions by WCC,
    * local-solves the small ones, runs trim-1 and trim-2, reaches forward
    * and backward from every pivot and retires the settled SCCs,
    * recoloring the rest. Each phase takes the [[SccState]] the previous
    * one returned and returns the next; the class holds only the call's
    * parameters, its arena and the edge layout.
    */
  private final class Decomposition(
      spark: SparkSession,
      arena: CheckpointArena,
      verts: DataFrame,
      eBySrc: DataFrame,
      maxTrimSweeps: Int,
      localSolveEdgeThreshold: Long,
      hubDegreeThreshold: Long,
      snapshotDir: Option[String],
      trimCapFraction: Double,
      trimCapMinRemaining: Long,
      fragmentCompactionThreshold: Int) {
    import spark.implicits._

    private val snaps = snapshotDir.map(new Snapshots(spark, _))

    /** The hash(dst) edge copy the backward BFS hop (and a pre-trim sweep
      * too big to broadcast) joins on: ONE arena checkpoint, built the
      * first time a phase reads it — [[reach]] forces it before its
      * superstep loop, so no BFS step pays the full-table exchange — and
      * never on a run that needs no BFS.
      */
    private lazy val eByDst: DataFrame = arena.checkpoint(eBySrc.repartition(col("dst"))).df

    /** Skew gate: the BFS pivot-set aggregation switches to the two-level
      * salted build ([[Salting.saltedDirectionalCollectSet]]) when a
      * FULL-graph degree exceeds the threshold — full-graph, because the
      * BFS aggregates hits over the full edge tables and masks dead targets
      * only at the state join, so a trimmed-away hub still bounds fan-in
      * (ADVICE r3). */
    private def hubs(maxOutDeg: Long, maxInDeg: Long): Boolean = {
      val hot = maxOutDeg > hubDegreeThreshold || maxInDeg > hubDegreeThreshold
      if (hot)
        graft.Log.v(s"scc: hub degree ${math.max(maxInDeg, maxOutDeg)} > " +
          s"$hubDegreeThreshold — salted pivot-set aggregation on")
      hot
    }

    /** Durable restart: completed fragments come back as parquet scans (no
      * arena backing needed; one count over all fragment files, which reads
      * only their parquet footers, seeds the tally), the live state is
      * re-materialized id-partitioned, and the loop re-enters after the
      * newest durable round. Pre-trim and WCC are never recomputed;
      * per-round trims run, and the full-graph degree maxima cost one
      * aggregation. */
    def resumed(): Option[SccState] = snaps.flatMap(_.resume()).map { case (liveDf, parts, r, lc) =>
      graft.Log.v(s"scc: resuming after round $r (live=$lc, parts=${parts.size})")
      val salted = lc > 0 && {
        val m = Degrees.counts(eBySrc)
          .agg(coalesce(max("oc"), lit(0L)), coalesce(max("ic"), lit(0L))).head()
        hubs(m.getLong(0), m.getLong(1))
      }
      SccState(arena.checkpoint(liveDf.repartition(col("id"))).df, lc,
        onePivot = false, idPart = true, trimDone = false, salted,
        Fragments(pending = parts.toVector,
          assigned = if (parts.isEmpty) 0L else parts.map(_.select()).reduce(_.union(_)).count()),
        roundStart(r + 1))
    }

    /** Round -1: GLOBAL trim-1 before anything else (main.cpp:172 does the
      * same) — degree-0 peeling needs no partition map and shrinks the
      * first FW-BW round. ONE action builds the full-graph degree frame
      * with the one-pass explode aggregation ([[Degrees.counts]]), and the
      * full-graph max degrees that feed the salting gate ride it (VERDICT
      * r4 #6). Returns the survivors with their live degree counters and
      * no pivot yet. */
    def preTrim(): SccState = {
      val init = arena.checkpoint(trimDegreesPlan(eBySrc, verts),
        CountIf("dead"), Max("oc"), Max("ic"))
      val s0 = SccState(verts, init.rows, onePivot = true, idPart = false, trimDone = false,
        hubs(init.rides(1), init.rides(2)), Fragments(), roundStart(0))
      val s = trimFixpoint(s0, init, eBySrc, eByDst)
      graft.Log.v(s"scc: global pre-trim removed ${s.frags.assigned} vertices" +
        (if (s.trimDone) "" else " (maxTrimSweeps cap hit)"))
      s
    }

    /** Round-0 pivot: the live vertex maximizing live-degree product
      * (in×out), ties to min id — the standard FW-BW pivot heuristic (Hong
      * et al., PPoPP'13): it lands inside the giant SCC with high
      * probability, so round 0 extracts the giant component directly. The
      * WCC pre-partition is DEFERRED to the post-giant remainder (see
      * [[refineByWcc]]): on web-shaped graphs the giant weak component is
      * most of the graph, and a full-graph WCC bought nothing that one
      * FW-BW round doesn't — measured 138 s of a 418 s convergence at the
      * 15.3M-edge bench point. The trim survivors still carry their live
      * oc/ic counters, so the argmax is one small aggregation, and sum(oc)
      * in the same pass IS the live-subgraph edge count (each oc counts
      * out-edges to live endpoints). The degree product is ordered in
      * decimal(38,0) so extreme hub products can't overflow Long.
      */
    def electPivot(s: SccState): SccState =
      if (s.liveCount == 0) s
      else {
        val pivotRow = s.live
          .agg(max(struct(
              (col("oc").cast("decimal(19,0)") * col("ic")).as("p"),
              (-col("id")).as("negId"))),
            sum(col("oc")))
          .head()
        val pivot = -pivotRow.getStruct(0).getLong(1)
        val edgeCount = if (pivotRow.isNullAt(1)) 0L else pivotRow.getLong(1)
        graft.Log.v(s"scc: round-0 pivot $pivot by degree product ($edgeCount live edges)")
        // (the select keeps the trim frame's hash(id) partitioning)
        val seeded = arena.checkpoint(s.live.select(col("id"), lit(pivot).as("pivot")))
        arena.release(s.live)
        s.copy(live = seeded.df, liveCount = seeded.rows, leCount = Some(edgeCount))
      }

    /** One FW-BW round, its jobs labelled `graft scc round <r>`. */
    def nextRound(s: SccState): SccState = JobLabel(spark, "scc", s"round ${s.round}") {
      val s1 = trim2(trim1(localSolve(refineByWcc(s))))
      closeRound(if (s1.liveCount > 0) retire(reach(s1)) else s1)
    }

    /** The round's partition-internal live edge table (pivot, src, dst),
      * materialized ONCE and shared by WCC refinement, local solve, trim-1
      * and trim-2 (at 100 TB each re-join is a full O(E) shuffle). Phases
      * call it only when they read the table, so
      * the common giant-component round 0 — one pivot, trims at their
      * fixpoint, a remainder too big to local-solve — never builds it: the
      * BFS reads the original edge partitionings directly, masking dead
      * targets at the state join.
      */
    private def liveEdges(s: SccState): SccState =
      if (s.le.isDefined) s
      else {
        val lp = s.live.select(col("id"), col("pivot"))
        val ck = arena.checkpoint(
          eBySrc
            .join(lp.withColumnRenamed("id", "src").withColumnRenamed("pivot", "srcP"), Seq("src"))
            .join(lp.withColumnRenamed("id", "dst").withColumnRenamed("pivot", "dstP"), Seq("dst"))
            .filter(col("srcP") === col("dstP"))
            .select(col("srcP").as("pivot"), col("src"), col("dst")))
        s.copy(le = Some(ck.df), leCount = Some(ck.rows))
      }

    /** Deferred WCC partition refinement (rounds ≥ 1): a recolor can leave
      * one partition holding MANY weak components (all of "neither" after
      * the giant SCC is cut out), which pure FW-BW then processes one pivot
      * at a time — the serialization the reference suffers from its single
      * global pivot. Refining the partition map with WCC labels of the
      * partition-INTERNAL live subgraph gives every weak component its own
      * pivot, at a cost proportional to the REMAINDER (the round-1
      * remainder of a web-shaped graph is the ~1% that isn't the giant
      * component). Skipped while the remainder fits one local-solve task —
      * Tarjan finishes it cheaper than WCC would. Labels refine (never
      * merge) partitions: le edges satisfy srcP === dstP, so a weak
      * component of le stays inside one partition, and each label set is
      * still a union of SCCs.
      */
    private def refineByWcc(s0: SccState): SccState =
      if (s0.round == 0) s0
      else {
        val s = liveEdges(s0)
        val le = s.le.get
        if (s.leCount.get <= localSolveEdgeThreshold) s
        else {
          // one WCC row per live id: its label is the row's new pivot. The
          // superstep path directly: the remainder is known not to fit one task
          val wccRun = Wcc.run(spark, le.select("src", "dst"), s.live.select("id"),
            maxIter = 50, snapshotDir = None, localSolveEdgeThreshold = 0L)
          val live = arena.checkpoint(
            wccRun.components.select(col("id"), col("comp").as("pivot"))
              .repartition(col("id"))).df
          wccRun.release()
          arena.release(s.live)
          // relabel le rather than rebuilding it from eBySrc: srcP === dstP
          // and labels refine partitions, so src's new pivot == dst's.
          val relabelled = arena.checkpoint(
            le.select("src", "dst")
              .join(live.select(col("id").as("src"), col("pivot")), Seq("src"))
              .select(col("pivot"), col("src"), col("dst"))).df
          arena.release(le)
          graft.Log.v(s"scc round ${s.round}: WCC-refined remainder " +
            s"(${s.liveCount} rows, ${s.leCount.get} edges) in ${wccRun.metrics.size} supersteps")
          s.copy(live = live, onePivot = false, idPart = true, le = Some(relabelled))
        }
      }

    /** Local-solve routing: partitions small enough for one task are
      * finished right here by a per-group Tarjan (one shuffle on pivot).
      * A round with one pivot and a known live-edge count above the
      * threshold has nothing to route. */
    private def localSolve(s0: SccState): SccState =
      if (localSolveEdgeThreshold <= 0 ||
          s0.onePivot && s0.leCount.exists(_ > localSolveEdgeThreshold)) s0
      else {
        val s = liveEdges(s0)
        val le = s.le.get
        val groupEdgeCounts = le.groupBy("pivot").agg(count(lit(1)).as("ec"))
        val smallPivots = arena.checkpoint(
          s.live.select("pivot").distinct()
            .join(groupEdgeCounts, Seq("pivot"), "left")
            .filter(coalesce(col("ec"), lit(0L)) <= localSolveEdgeThreshold)
            .select("pivot")).df
        val recs = LocalGraph.records(le.join(smallPivots, Seq("pivot"), "left_semi"),
          Some(s.live.join(smallPivots, Seq("pivot"), "left_semi")), group = Some("pivot"))
        val Checkpoint(solved, _, solvedCnt, _) = arena.checkpoint(
          recs.as[(Long, Int, Long, Long)]
            .groupByKey(_._1)
            .flatMapGroups((_, it) =>
              LocalGraph.sccRows(LocalGraph.Graph(it.map(r => (r._2, r._3, r._4)))))
            .toDF("id", "comp"))
        graft.Log.v(s"scc round ${s.round}: local-solved $solvedCnt rows")
        val out =
          if (solvedCnt == 0) {
            arena.release(solved)
            s
          } else {
            // le keeps the solved partitions' edges: every later reader
            // joins it with the live rows, which no longer include them
            val live = arena.checkpoint(s.live.join(smallPivots, Seq("pivot"), "left_anti"))
            arena.release(s.live)
            s.copy(live = live.df, liveCount = live.rows, idPart = false,
              frags = s.frags.add(solved, solvedCnt))
          }
        arena.release(smallPivots)
        out.copy(tally = out.tally.copy(localSolved = solvedCnt))
      }

    /** Trim-1 fixpoint within each partition: peel vertices with no live
      * in- or out-edges inside it — singleton SCCs (main.cpp:54-63) — with
      * the same degree-decrement loop as the global pre-trim. Skipped while
      * `trimDone`. */
    private def trim1(s0: SccState): SccState =
      if (s0.trimDone || s0.liveCount == 0) s0
      else {
        val s = liveEdges(s0)
        val le = s.le.get
        val init = arena.checkpoint(trimDegreesPlan(le, s.live.select("id", "pivot")),
          CountIf("dead"))
        val t = trimFixpoint(s, init, le, le)
        t.copy(tally = t.tally.copy(trimmed = s.liveCount - t.liveCount))
      }

    /** Degree-decrement trim-1 fixpoint (`trimming_kernel`/`trimming`,
      * main.cpp:54-63, cuda/scc_operations.cu:89-127) in incremental form:
      * in/out-degrees come pre-aggregated in `init` (a [[trimDegreesPlan]]
      * checkpoint of `s.live` riding `CountIf("dead")` first — ONE pass
      * over ONE edge copy); each sweep removes the dead vertices (in- or
      * out-degree 0 ⇒ singleton SCC) and only decrements the counters of
      * their neighbors — O(removed·degree) shuffle per sweep instead of a
      * full edges⨝live re-join. ONE Spark action per sweep (the counter
      * update, whose dead-count rides the checkpoint accumulator; the
      * removed set is a lazy filter).
      *
      * `edges` is scanned once per sweep; `edgesByDst` (same rows,
      * dst-partitioned) is BY-NAME and only forced by the rare huge sweep
      * (> 5M removed at once) whose decrement can't broadcast. Removed
      * vertices become (id, comp = id) fragments — LAZY filters over the
      * sweep's already-materialized degree frame, which backs them until
      * the next compaction (one driver action per sweep, not two).
      *
      * Adaptive sweep cap (the measured serial floor of the sf0.1 bench run
      * was this loop — 29% of wall, mostly tail sweeps removing a trickle):
      * each sweep costs a full edge-table pass + an O(remaining) state
      * rewrite regardless of how little it removes, so once a sweep would
      * remove < `trimCapFraction` (default 0.1%) of the remaining vertices
      * the loop stops and leaves the stragglers flagged-but-live — trim is
      * an accelerator, not a correctness requirement; FW-BW classifies the
      * leftovers as trivial SCCs in later rounds at O(leftover) cost. Only
      * active above `trimCapMinRemaining` (default 1M) remaining vertices
      * so small graphs and every fixture test still reach the exact
      * fixpoint; the knobs exist so the cap path itself is unit-testable at
      * fixture size.
      *
      * Returns `s` with the survivors (schema = `s.live` ++ oc/ic/dead,
      * id-partitioned) as its live frame and `trimDone` = the fixpoint was
      * reached or the loop adaptively capped; false only when the hard
      * `maxTrimSweeps` cap interrupted real progress.
      */
    private def trimFixpoint(s: SccState, init: Checkpoint, edges: DataFrame,
        edgesByDst: => DataFrame): SccState = {
      var degs = init.df
      var remaining = init.rows
      var deadCnt = init.rides(0)
      var frags = s.frags
      val carry = degs.columns.filterNot(Set("id", "oc", "ic", "dead")).toSeq
      def proj(oc: Column, ic: Column): Seq[Column] =
        (col("id") +: carry.map(col)) ++ Seq(oc.as("oc"), ic.as("ic"))
      var sweep = 0
      var capped = false
      while (deadCnt > 0 && sweep < maxTrimSweeps && !capped) {
        graft.Log.v(s"trim sweep $sweep: dead=$deadCnt remaining=$remaining")
        if (remaining > trimCapMinRemaining && deadCnt < remaining * trimCapFraction) {
          capped = true
        } else {
          val removed = degs.filter(col("dead")).select("id")
          // Decrement counters of the removed set's neighbors. Typical
          // sweep: removed is small → ONE pass over one edge copy emits
          // each edge from both ends, keyed by the end that may have been
          // removed, and ONE broadcast semi-join keeps the rows whose key
          // was (the naive form scanned the edge table twice per sweep —
          // measured as the bulk of pre-trim wall — and a probe per end
          // broadcast the removed set twice). Huge sweep (first sweep of a
          // peel-heavy graph at scale): broadcasting `removed` would not
          // fit — fall back to two semi-joins that each reuse an existing
          // edge partitioning, shuffling only `removed`.
          val dec =
            if (deadCnt <= 5000000L) {
              edges
                .select(explode(array(
                  struct(col("src").as("key"), col("dst").as("id"),
                    lit(1L).as("dIn"), lit(0L).as("dOut")),
                  struct(col("dst").as("key"), col("src").as("id"),
                    lit(0L).as("dIn"), lit(1L).as("dOut")))).as("e"))
                .select("e.*")
                .join(broadcast(removed.select(col("id").as("key"))), Seq("key"), "left_semi")
                .groupBy("id").agg(sum("dIn").as("dIn"), sum("dOut").as("dOut"))
            } else {
              edges
                .join(removed.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
                .select(col("dst").as("id"), lit(1L).as("dIn"), lit(0L).as("dOut"))
                .unionByName(edgesByDst
                  .join(removed.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
                  .select(col("src").as("id"), lit(0L).as("dIn"), lit(1L).as("dOut")))
                .groupBy("id").agg(sum("dIn").as("dIn"), sum("dOut").as("dOut"))
            }
          val next = arena.checkpoint(
            degs.filter(!col("dead")).drop("dead")
              .join(dec.hint("shuffle_hash"), Seq("id"), "left")
              .select(proj(col("oc") - coalesce(col("dOut"), lit(0L)),
                col("ic") - coalesce(col("dIn"), lit(0L))): _*)
              .withColumn("dead", col("oc") <= 0 || col("ic") <= 0),
            CountIf("dead"))
          // degs backs this sweep's lazy fragment; `next` is materialized,
          // so a compaction here may release it
          frags = frags.add(removed.select(col("id"), col("id").as("comp")), deadCnt, degs)
            .compact(arena, fragmentCompactionThreshold)
          degs = next.df
          remaining = next.rows
          deadCnt = next.rides(0)
          sweep += 1
        }
      }
      arena.release(s.live)
      s.copy(live = degs, liveCount = remaining, idPart = true,
        trimDone = deadCnt == 0 || capped, frags = frags)
    }

    /** Trim-2 (rounds ≥ 1 only: on the full graph its mutual-pair scan
      * costs more than the pairs it removes save; on the post-giant
      * remainder it is cheap mop-up): mutual pair (a,b) where either both
      * vertices' only live in-edges, or both vertices' only live
      * out-edges, are each other => {a,b} is a size-2 SCC (north-star
      * extension). Pairs qualifying under either variant cannot overlap:
      * sharing a vertex would force its in- (resp. out-) degree above 1.
      */
    private def trim2(s0: SccState): SccState =
      if (s0.round == 0 || s0.liveCount == 0) s0
      else {
        val s = liveEdges(s0)
        val lpT = s.live.select("id")
        val le2 = arena.checkpoint(
          s.le.get
            .join(lpT.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
            .join(lpT.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
            .select("src", "dst")).df
        val mutual = le2.filter(col("src") < col("dst"))
          .join(le2.select(col("dst").as("src"), col("src").as("dst")),
            Seq("src", "dst"), "left_semi")
        val degs2 = Degrees.counts(le2)
        val Checkpoint(pairs, _, pairsCnt, _) = arena.checkpoint(
          mutual
            .join(degs2.select(col("id").as("src"), col("oc").as("aOd"),
              col("ic").as("aId")), Seq("src"))
            .join(degs2.select(col("id").as("dst"), col("oc").as("bOd"),
              col("ic").as("bId")), Seq("dst"))
            .filter((col("aId") === 1 && col("bId") === 1) ||
              (col("aOd") === 1 && col("bOd") === 1))
            .select(col("src"), col("dst")))
        arena.release(le2)
        val out =
          if (pairsCnt == 0) {
            arena.release(pairs)
            s
          } else {
            val pairMembers = pairs.select(col("src").as("id"), col("src").as("comp"))
              .unionByName(pairs.select(col("dst").as("id"), col("src").as("comp")))
            val live = arena.checkpoint(
              s.live.select("id", "pivot")
                .join(pairMembers.select("id"), Seq("id"), "left_anti"))
            arena.release(s.live)
            s.copy(live = live.df, liveCount = live.rows,
              frags = s.frags.add(pairMembers, 2 * pairsCnt, pairs))
          }
        out.copy(tally = out.tally.copy(pairTrimmed = 2 * pairsCnt))
      }

    /** fw+bw reach from each partition's pivot, restricted to the partition
      * (reach_kernel, main.cpp:65-87; both directions in one DAG = the v7
      * shape). If a trim removed vertices THIS round, each group's pivot is
      * re-elected as its min live id: the old pivot may be gone, which
      * would leave the group seedless. Otherwise the pivots (pivot0, WCC
      * labels, recolor newPivots — all live members by construction) seed
      * the reach as they are, skipping an O(live) groupBy+join (~10% of a
      * giant-component round 0's wall); canonical labels don't depend on
      * the seed, since retirement emits min member ids. The seeded state
      * flows lazily into the superstep harness's own state0 checkpoint
      * (one action instead of two), hash(id)-partitioned unless `live`
      * already is (a relabel or recolor join leaves it pivot-partitioned:
      * giant-component skew AND a step-1 re-exchange).
      *
      * BFS state = (id, pivot, st) with the four reach flags bit-packed into
      * ONE IntegerType column (1=fw, 2=bw, 4=fwNew, 8=bwNew) — the Spark
      * analog of the reference's packed status byte
      * (utils/is_checked.cu:22-46). Separate Boolean columns each burn a
      * full 8-byte UnsafeRow slot, so packing shrinks the per-step
      * checkpointed row from 7 slots to 3 (64B → 32B): state copy, cache
      * residency and allocation rate — the measured per-step cost drivers —
      * all drop ~2×.
      *
      * Rows that SETTLED (both waves arrived, nothing new: st == 3 exactly)
      * leave the iterated state before the next hop — the per-step
      * scan/rewrite then tracks the wave BOUNDARY, not the whole component
      * (the reference's kernels likewise skip visited vertices). Correct
      * because state rows influence each other only through frontier
      * expansion, which requires a new-flag bit settled rows by definition
      * lack; a row settles only AFTER its one expansion as frontier.
      * [[retire]] reconstructs the members as live − still-unsettled.
      * Converged when no row carries a new-flag bit (4|8), counted by a
      * masked count-if ride on each step's checkpoint.
      */
    private def reach(s: SccState): SccState = {
      val byDst = eByDst
      val seeded =
        if (s.tally.trimmed == 0 && s.tally.pairTrimmed == 0) {
          val base = s.live.select("id", "pivot")
          if (s.idPart) base else base.repartition(col("id"))
        } else {
          val relabel = s.live.groupBy("pivot").agg(min("id").as("newP"))
          s.live.select("id", "pivot")
            .join(relabel, Seq("pivot"))
            .select(col("id"), col("newP").as("pivot"))
            .repartition(col("id"))
        }
      val bfs0 = seeded.withColumn("st",
        when(col("id") === col("pivot"), lit(15)).otherwise(lit(0)))
      val harness = new Superstep(spark, s"scc_bfs_${s.round}", arena = arena)
      val (reached, steps) = harness.run(bfs0, Int.MaxValue, rides = Seq(CountIf("st", 12)))(
        (st, _) => hop(st.filter(col("st") =!= 3), byDst, s))(_.rides(0))
      s.copy(reached = Some(reached), tally = s.tally.copy(bfsSteps = steps.size))
    }

    /** One BFS hop: expand the fwNew/bwNew frontier by one edge step; an
      * empty hop means the whole reach is complete.
      *
      * Join shapes are chosen so the big sides never move: frontier(id) x
      * eBySrc(src) is co-partitioned; fw and bw hits are unioned with a
      * direction flag and aggregated by id in ONE exchange, then joined
      * back to the id-partitioned state once — per-step shuffle bytes are
      * O(frontier degree), and the fixed per-step cost is one shuffle stage
      * + one state-rewrite join instead of two of each (the fixed per-step
      * cost is the scaling-efficiency limiter at sandbox sizes;
      * BASELINE.md). A visited-set/frontier-piece representation was
      * measured SLOWER here: once the giant component is most of the state,
      * scanning the visited pieces each step costs what the state rewrite
      * costs, plus a per-step anti-join chain.
      */
    private def hop(st: DataFrame, byDst: DataFrame, s: SccState): DataFrame = {
      def hitRows(frontier: DataFrame, eTbl: DataFrame,
          joinOn: String, tgt: String, fwd: Boolean): DataFrame = {
        // fresh aliases per call: dataset-qualified refs to the shared
        // edge Dataset would trip DetectAmbiguousSelfJoin (the re-aliasing
        // projection is a no-op physically — it collapses into the scan)
        val e = eTbl.select(col(joinOn).as("_eFrom"), col(tgt).as("_eTo"))
        val cols =
          if (s.onePivot) Seq(col("_eTo").as("id"), lit(fwd).as("_fwd"))
          else Seq(col("_eTo").as("id"), col("pivot"), lit(fwd).as("_fwd"))
        // SHUFFLE_HASH with the FRONTIER as build side (guide §3.1):
        // unhinted, the frontier of a small checkpointed state is
        // broadcast on every hop (the state's exact statistics sit below
        // the broadcast threshold) and a big one falls back to sort-merge,
        // which re-SORTS the cached edge table on every BFS step.
        // Hash-probing a per-partition frontier map streams the edge
        // partitions unsorted; both sides stay co-partitioned, so the join
        // adds no exchange. Build size is bounded by the frontier's
        // partition slice (≤ state/numPartitions rows).
        frontier.hint("shuffle_hash").join(e, col("id") === col("_eFrom"))
          .select(cols: _*)
      }
      // one-pivot frontiers don't need the pivot column: a hit is membership
      val fCols: Seq[Column] =
        if (s.onePivot) Seq(col("id")) else Seq(col("id"), col("pivot"))
      val hits = hitRows(
        st.filter(col("st").bitwiseAND(lit(4)) =!= lit(0)).select(fCols: _*),
        eBySrc, "src", "dst", fwd = true)
        .unionByName(hitRows(
          st.filter(col("st").bitwiseAND(lit(8)) =!= lit(0)).select(fCols: _*),
          byDst, "dst", "src", fwd = false))
      val oldFw = col("st").bitwiseAND(lit(1)) =!= lit(0)
      val oldBw = col("st").bitwiseAND(lit(2)) =!= lit(0)
      def pack(hitF: Column, hitB: Column): Column =
        ((oldFw || hitF).cast("int")
          + (oldBw || hitB).cast("int") * 2
          + (!oldFw && hitF).cast("int") * 4
          + (!oldBw && hitB).cast("int") * 8).as("st")
      if (s.onePivot) {
        // One active pivot ⇒ a hit IS membership: aggregate two boolean
        // flags per target (map-side combine collapses hub fan-in) — no
        // arrays built, shuffled, or probed. Salting is moot: the partial
        // aggregation state per key is two booleans. The hit side is
        // hash-built (bounded by the frontier's targets): a sort-merge
        // fallback would re-sort the whole state every step, a broadcast
        // would rebuild every hop.
        val hitAgg = hits.groupBy("id").agg(
          max(col("_fwd")).as("hitF"), max(!col("_fwd")).as("hitB"))
        st.join(hitAgg.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), col("pivot"),
            pack(coalesce(col("hitF"), lit(false)), coalesce(col("hitB"), lit(false))))
      } else {
        // `collect_set` skips the nulls `when(dir, pivot)` produces for the
        // other direction; map-side partial collect_set still combines hub
        // targets before the shuffle
        val pivotSets =
          if (s.salted)
            Salting.saltedDirectionalCollectSet(hits, "id", "pivot", "_fwd", "fwPs", "bwPs")
          else hits.groupBy("id").agg(
            collect_set(when(col("_fwd"), col("pivot"))).as("fwPs"),
            collect_set(when(!col("_fwd"), col("pivot"))).as("bwPs"))
        st.join(pivotSets.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), col("pivot"),
            pack(
              coalesce(array_contains(col("fwPs"), col("pivot")), lit(false)),
              coalesce(array_contains(col("bwPs"), col("pivot")), lit(false))))
      }
    }

    /** Retirement + recolor (main.cpp:105-163): the settled (= done) rows
      * left the iterated state step by step, so the done fragment
      * reconstructs as live − still-unsettled, labeled min member id per
      * pivot group. Grouping by live's PRE-relabel pivot is equivalent: the
      * relabel/WCC maps are 1:1 on groups, and the canonical min-member
      * label is label-independent. The non-members (no done rows among
      * them) recolor 4-way per pivot by (fw, bw), with min-id pivots, in a
      * join that leaves `live` without a hash(id) partitioning.
      */
    private def retire(s: SccState): SccState = {
      val Checkpoint(nonMembers, _, nmCnt, _) = arena.checkpoint(
        s.reached.get.filter(col("st").bitwiseAND(lit(3)) =!= lit(3))
          .select(col("id"), col("pivot"), col("st")))
      arena.release(s.reached.get)
      val memberCnt = s.liveCount - nmCnt
      val frags =
        if (memberCnt == 0) s.frags
        else {
          val members = s.live.select("id", "pivot")
            .join(nonMembers.select("id"), Seq("id"), "left_anti")
          val minPerPivot = members.groupBy("pivot").agg(min("id").as("comp"))
          val Checkpoint(frag, _, fragCnt, _) = arena.checkpoint(
            members.join(minPerPivot, Seq("pivot")).select("id", "comp"))
          require(fragCnt == memberCnt,
            s"done-fragment rows $fragCnt != settled tally $memberCnt")
          s.frags.add(frag, memberCnt)
        }
      arena.release(s.live)
      val reachedNm = nonMembers.select(col("id"), col("pivot"),
        (col("st").bitwiseAND(lit(1)) =!= lit(0)).as("fw"),
        (col("st").bitwiseAND(lit(2)) =!= lit(0)).as("bw"))
      val groups = reachedNm.groupBy("pivot", "fw", "bw").agg(min("id").as("newPivot"))
      val Checkpoint(live, _, liveCount, _) = arena.checkpoint(
        reachedNm.join(groups, Seq("pivot", "fw", "bw"))
          .select(col("id"), col("newPivot").as("pivot")))
      arena.release(nonMembers)
      s.copy(live = live, liveCount = liveCount, onePivot = false, idPart = false,
        trimDone = false, frags = frags, reached = None,
        tally = s.tally.copy(sccRows = memberCnt))
    }

    /** Round end: release the round's live-edge table, record its metrics,
      * compact the fragments and, with `snapshotDir`, make the round
      * durable. */
    private def closeRound(s: SccState): SccState = {
      s.le.foreach(arena.release)
      val m = s.tally.copy(liveRows = s.liveCount)
      graft.Log.v(s"scc round ${m.round}: local=${m.localSolved} trimmed=${m.trimmed} " +
        s"pair=${m.pairTrimmed} bfs=${m.bfsSteps} sccRows=${m.sccRows} live=${m.liveRows}")
      val frags = s.frags.compact(arena, fragmentCompactionThreshold)
      snaps.foreach(_.writeRound(m.round, s.live.select("id", "pivot"), s.liveCount, frags.all))
      s.copy(frags = frags, le = None, leCount = None, done = s.done :+ m,
        tally = roundStart(m.round + 1))
    }
  }

  /** [[acceptedRun]]'s result frame without the release handle — for
    * short-lived sessions (the CLI, single-query runs) where the session's
    * end reclaims the blocks anyway. Long-lived callers stacking many
    * acceptance queries should use [[acceptedRun]] and release each.
    */
  def accepted(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      mode: SccMode = FullGraph,
      edgesWithinVertices: Boolean = false): DataFrame =
    acceptedRun(spark, edges, vertices, mode, edgesWithinVertices).accepted

  /** The reference's full query (SURVEY.md §1.1): which SCCs are *accepted*
    * given subset U. The result carries (id, comp, accepted) — eagerly
    * materialized (the decomposition's own blocks are already spent and
    * released before this returns) — plus `release()` to drop its cached
    * blocks once consumed, the same contract as [[SccRun]].
    * `vertices` must carry (id, isU). `edgesWithinVertices` as in
    * [[components]] (the `% m n` file format implies it — the reference's
    * loader indexes arrays by edge endpoint without bounds checks, so
    * trusting the header matches reference behavior; InducedU re-derives
    * its own closed subset and ignores the flag). Jobs outside the
    * decomposition's own phases are labelled `graft scc accepted`.
    */
  def acceptedRun(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      mode: SccMode = FullGraph,
      edgesWithinVertices: Boolean = false): SccAcceptedRun = JobLabel(spark, "scc", "accepted") {
    val run = mode match {
      case FullGraph => components(spark, edges, vertices.select("id"),
        edgesWithinVertices = edgesWithinVertices)
      case InducedU =>
        val uVerts = vertices.filter(col("isU")).select("id")
        val uEdges = edges
          .join(uVerts.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(uVerts.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        components(spark, uEdges, uVerts)
    }
    val outArena = new CheckpointArena
    // co-partitioned by id: unhinted, the vertices are broadcast by a job of their own
    val withU = outArena.checkpoint(run.components
      .join(vertices.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("comp"), coalesce(col("isU"), lit(false)).as("isU"))).df

    val stats = withU.groupBy("comp").agg(
      count("*").as("sz"),
      (min(col("isU").cast("int")) === 1).as("allU"))

    // trim_u (main.cpp:207-222): an edge from a U vertex in another component
    // into S ⇒ prec(S)∩U ≠ ∅ ⇒ S rejected.
    val src = withU.select(col("id").as("src"), col("comp").as("srcComp"), col("isU").as("srcU"))
    val dst = withU.select(col("id").as("dst"), col("comp").as("dstComp"))
    val killed = edges.select("src", "dst")
      .join(src, Seq("src")).join(dst, Seq("dst"))
      .filter(col("srcU") && col("srcComp") =!= col("dstComp"))
      .select(col("dstComp").as("comp")).distinct()
      .withColumn("isKilled", lit(true))

    val out = outArena.checkpoint(withU
      .join(stats, Seq("comp"))
      .join(killed, Seq("comp"), "left")
      .select(
        col("id"), col("comp"),
        (col("sz") >= 2 && col("allU") && coalesce(col("isKilled"), lit(false)) === false)
          .as("accepted"))).df
    outArena.release(withU)
    run.release() // out is eagerly materialized; the decomposition's blocks are spent
    new SccAcceptedRun(out, () => outArena.closeExcept())
  }

  /** The reference's printed answer (`standalone.cpp:309-326`): members of
    * one accepted SCC in ascending order — deterministically the one with
    * the smallest component id (replacing the reference's GPU race,
    * `scc_operations.cu:409-420`). Empty result = "No SCCs found".
    */
  def answer(acceptedDf: DataFrame): DataFrame = {
    val chosen = acceptedDf.filter(col("accepted")).agg(min("comp").as("comp"))
    acceptedDf.join(chosen, Seq("comp"), "left_semi")
      .select("id").orderBy("id")
  }

  /** `count_distinct_scc` (standalone.cpp:329-344): number of accepted SCCs. */
  def countAccepted(acceptedDf: DataFrame): Long =
    acceptedDf.filter(col("accepted")).select("comp").distinct().count()
}
