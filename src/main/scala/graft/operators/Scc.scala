package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.{Checkpoint, CountIf, Max}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.{CheckpointArena, JobLabel, Superstep}

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
  *   - **Packed status, specialized round 0**: the BFS state carries its
  *     four reach flags bit-packed in one int (the reference's packed
  *     status byte, `utils/is_checked.cu:22-46`), and the single-pivot
  *     round 0 — 80-95% of all work on web-shaped graphs — aggregates two
  *     boolean hit flags per target instead of pivot-set arrays, skips
  *     pivot re-election when no trim removed vertices, and skips the
  *     round's live-edge materialization outright (no consumer needs it).
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

  /** Initial flagged degree frame for [[trimFixpoint]]: verts ⟕ one-pass
    * [[Degrees.counts]], `dead` = in- or out-degree 0. Callers checkpoint it
    * riding `CountIf("dead")`, so the row/dead counts cost no extra action.
    * Extra `verts` columns (e.g. `pivot`) ride along unchanged.
    */
  private def trimDegreesPlan(edges: DataFrame, verts: DataFrame): DataFrame = {
    val carry = verts.columns.filter(_ != "id").toSeq
    verts
      .join(Degrees.counts(edges), Seq("id"), "left")
      .select((col("id") +: carry.map(col)) ++ Seq(
        coalesce(col("oc"), lit(0L)).as("oc"),
        coalesce(col("ic"), lit(0L)).as("ic")): _*)
      .withColumn("dead", col("oc") <= 0 || col("ic") <= 0)
  }

  /** Degree-decrement trim-1 fixpoint (`trimming_kernel`/`trimming`,
    * main.cpp:54-63, cuda/scc_operations.cu:89-127) in incremental form:
    * in/out-degrees come pre-aggregated in `init` (a [[trimDegreesPlan]]
    * checkpoint riding `CountIf("dead")` first — ONE pass over ONE edge
    * copy); each sweep
    * removes the dead vertices (in- or out-degree 0 ⇒ singleton SCC) and
    * only decrements the counters of their neighbors — O(removed·degree)
    * shuffle per sweep instead of a full edges⨝live re-join. ONE Spark
    * action per sweep (the counter update, whose dead-count rides the
    * checkpoint accumulator; the removed set is a lazy filter).
    *
    * `edges` is scanned once per sweep; `edgesByDst` (same rows,
    * dst-partitioned) is BY-NAME and only forced by the rare huge sweep
    * (> 5M removed at once) whose decrement can't broadcast — every other
    * path leaves the dst copy unbuilt. Removed vertices are appended to
    * `assignedParts`
    * as (id, comp = id) fragments — LAZY filters over the sweep's already-
    * materialized degree frame, which backs them instead of being
    * released: one driver action per sweep, not two. Retention is BOUNDED
    * (not just deferred): every `compactEvery` sweeps the pending
    * fragments union into one compact frame (delivered via
    * `compactedParts` so the round-level compactor never re-shuffles it)
    * and their O(remaining)
    * backers are freed, so a peel-heavy graph below `capMinRemaining` —
    * where the adaptive cap never engages and ~maxSweeps sweeps are
    * legitimate — holds at most `compactEvery` survivor frames at a time
    * instead of one per sweep.
    *
    * Adaptive sweep cap (the measured serial floor of the sf0.1 bench run
    * was this loop — 29% of wall, mostly tail sweeps removing a trickle):
    * each sweep costs a full edge-table pass + an O(remaining) state
    * rewrite regardless of how little it removes, so once a sweep would
    * remove < `capFraction` (default 0.1%) of the remaining vertices the
    * loop stops and leaves the
    * stragglers flagged-but-live — trim is an accelerator, not a
    * correctness requirement; FW-BW classifies the leftovers as trivial
    * SCCs in later rounds at O(leftover) cost (in practice the post-giant
    * local-solve mop-up). Only active above `capMinRemaining` (default 1M)
    * remaining vertices so small graphs and every fixture test still reach
    * the exact fixpoint; the knobs exist so the cap path itself is
    * unit-testable at fixture size.
    *
    * Returns (survivors frame — arena-owned, schema = verts ++ oc/ic/dead —
    * remaining row count, removed total, sweeps run, done, compacted rows).
    * `done` = the trim phase is complete (fixpoint reached or adaptively
    * capped); false only when the hard `maxSweeps` cap interrupted real
    * progress. `compacted rows` = rows this call appended to the caller's
    * `compactedParts` (already-compact frames, never re-shuffled by the
    * round-level compactor) — the caller must credit them to its
    * compacted-rows tally alongside `assigned += removed total`.
    */
  private def trimFixpoint(
      arena: CheckpointArena,
      edges: DataFrame,
      edgesByDst: => DataFrame,
      init: Checkpoint,
      maxSweeps: Int,
      assignedParts: mutable.ArrayBuffer[DataFrame],
      partBacking: mutable.ArrayBuffer[DataFrame],
      compactedParts: mutable.ArrayBuffer[DataFrame],
      capFraction: Double,
      capMinRemaining: Long): (DataFrame, Long, Long, Int, Boolean, Long) = {
    var degs = init.df
    var remaining = init.rows
    var deadCnt = init.rides(0)
    val carry = degs.columns.filterNot(Set("id", "oc", "ic", "dead")).toSeq
    def proj(oc: Column, ic: Column): Seq[Column] =
      (col("id") +: carry.map(col)) ++ Seq(oc.as("oc"), ic.as("ic"))
    var removedTotal = 0L
    var sweep = 0
    var capped = false
    // Sweep-local fragment buffers with their own compaction guard (VERDICT
    // r4): each sweep's lazy `removed` fragment pins the FULL O(remaining)
    // survivor frame it filters, and a peel-heavy graph BELOW
    // `capMinRemaining` (where the adaptive cap never engages) legitimately
    // runs many sweeps — up to maxSweeps × O(V) cached rows if retention
    // waited for the caller's round-level compaction. Every `compactEvery`
    // sweeps the pending fragments union into ONE compact (id, comp) frame
    // (rows ≤ removed-so-far, usually ≪ V) and the heavyweight backers are
    // released. Compacted frames flow to the caller's round-level
    // `compactedParts` (credited via the returned compacted-rows count), so
    // neither compactor ever re-shuffles them — routing them through
    // `assignedParts` instead would have the round-level compactor union +
    // repartition the already-settled rows a second time.
    val compactEvery = 8
    val localParts = mutable.ArrayBuffer[DataFrame]()
    val localBacking = mutable.ArrayBuffer[DataFrame]()
    val localCompacted = mutable.ArrayBuffer[DataFrame]()
    var localPendingRows = 0L
    var localCompactedRows = 0L
    def compactLocal(): Unit = if (localParts.size >= compactEvery) {
      val Checkpoint(compacted, _, cnt, _) = arena.checkpoint(
        localParts.reduce(_.unionByName(_)).repartition(col("id")))
      require(cnt == localPendingRows,
        s"trim compaction rows $cnt != pending tally $localPendingRows — trim bug")
      localBacking.foreach(arena.release)
      localParts.clear()
      localBacking.clear()
      localCompacted += compacted
      localCompactedRows += cnt
      localPendingRows = 0L
      graft.Log.v(s"trim: compacted $cnt removed rows into one frame")
    }
    while (deadCnt > 0 && sweep < maxSweeps && !capped) {
      graft.Log.v(s"trim sweep $sweep: dead=$deadCnt remaining=$remaining")
      if (remaining > capMinRemaining && deadCnt < remaining * capFraction) {
        capped = true
      } else {
      // removed rides the already-materialized degs frame: a lazy filter
      // (no extra driver action); degs itself becomes the fragment backing.
      val removed = degs.filter(col("dead")).select("id")
      localBacking += degs
      localParts += removed.select(col("id"), col("id").as("comp"))
      localPendingRows += deadCnt
      // Decrement counters of the removed set's neighbors. Typical sweep:
      // removed is small → ONE pass over one edge copy with two broadcast
      // hash probes emits both decrement directions (the naive form scanned
      // the edge table twice per sweep — measured as the bulk of pre-trim
      // wall). Huge sweep (first sweep of a peel-heavy graph at scale):
      // broadcasting `removed` would not fit — fall back to two semi-joins
      // that each reuse an existing edge partitioning, shuffling only
      // `removed`.
      val dec =
        if (deadCnt <= 5000000L) {
          val remSrc = broadcast(removed.select(col("id").as("src"), lit(1).as("_rs")))
          val remDst = broadcast(removed.select(col("id").as("dst"), lit(1).as("_rd")))
          edges
            .join(remSrc, Seq("src"), "left")
            .join(remDst, Seq("dst"), "left")
            .filter(col("_rs").isNotNull || col("_rd").isNotNull)
            .select(explode(array(
              when(col("_rs").isNotNull,
                struct(col("dst").as("id"), lit(1L).as("dIn"), lit(0L).as("dOut"))),
              when(col("_rd").isNotNull,
                struct(col("src").as("id"), lit(0L).as("dIn"), lit(1L).as("dOut")))))
              .as("e"))
            .filter(col("e").isNotNull)
            .select(col("e.id").as("id"), col("e.dIn").as("dIn"), col("e.dOut").as("dOut"))
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
      // degs NOT released: it backs this sweep's removed fragment (until
      // compactLocal materializes the fragment and frees it)
      removedTotal += deadCnt
      degs = next.df
      remaining = next.rows
      deadCnt = next.rides(0)
      sweep += 1
      // safe point: `next` is materialized, so every frame in localBacking
      // is superseded except as a fragment backer — exactly what compaction
      // removes the need for
      compactLocal()
      }
    }
    compactedParts ++= localCompacted
    assignedParts ++= localParts
    partBacking ++= localBacking
    (degs, remaining, removedTotal, sweep, deadCnt == 0 || capped, localCompactedRows)
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

    private def jstr(s: String): String = graft.plans.Jsonl.jstr(s)

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
        s"""{"round":$round,"liveCount":$liveCount,"parts":[${idxs.mkString(",")}],"live":${jstr(livePath)}}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }

    /** Newest durable round, if any: (live, fragments, round, liveCount). */
    def resume(): Option[(DataFrame, Seq[DataFrame], Int, Long)] = {
      if (!java.nio.file.Files.exists(manifest)) return None
      // live path written jstr-escaped ⇒ captured with the escaped-string
      // pattern and unescaped below (same asymmetry fix as Superstep.resume)
      val re =
        """"round":(\d+),"liveCount":(\d+),"parts":\[([0-9,]*)\],"live":"((?:[^"\\]|\\.)+)"""".r.unanchored
      // A torn FINAL line is the expected crash-mid-append artifact —
      // truncated off (WAL-style) so this resume AND every later one see a
      // clean manifest. Every OTHER parse failure means corruption or a
      // manifest from an incompatible release, where a silent skip would
      // resume from the wrong round: fail with the recovery step.
      val lines = graft.plans.Jsonl.repairTornTail(manifest,
        l => l.isBlank || re.findFirstIn(l).isDefined)
      lines
        .flatMap {
          case re(r, lc, idxs, lp) =>
            Some((r.toInt, lc.toLong, idxs, graft.plans.Jsonl.junstr(lp)))
          case l if l.isBlank => None
          case l => throw new IllegalStateException(
            s"unparseable SCC round manifest line in $manifest: $l " +
              "(corrupt, or written by an incompatible engine version — " +
              "delete the snapshot directory to restart from scratch)")
        }
        .lastOption
        .map { case (r, lc, idxs, lp) =>
          val ids = if (idxs.isEmpty) Seq.empty else idxs.split(',').toSeq.map(_.toInt)
          val parts = ids.map { i =>
            val df = spark.read.parquet(s"$dir/scc.part_$i")
            fileIdx.put(df, i)
            df
          }
          nextIdx = (ids :+ -1).max + 1
          (spark.read.parquet(lp), parts, r, lc)
        }
    }
  }

  /** Full SCC decomposition. Returns (id, comp) for every vertex, with
    * comp = min member id (canonical), plus per-round metrics.
    *
    * Hybrid execution (see [[LocalTarjan]]): every round, partitions whose
    * internal edge count fits one task (`localSolveEdgeThreshold`) are
    * finished by a per-group sequential Tarjan in a single shuffle, so only
    * partitions too big for any single machine pay the superstep loop. At
    * 100 TB that means the giant component runs distributed FW-BW while the
    * million-small-component tail costs O(1) jobs total. Set the threshold
    * to 0 to force the pure distributed path (used by tests to cover it).
    *
    * Per-round job budget (the sandbox superstep-latency floor is the
    * binding constraint; see BASELINE.md): the live partition-internal edge
    * table is materialized ONCE per round and shared by local-solve /
    * trim-1 / trim-2; trim sweeps decrement degree counters instead of
    * re-joining edges; convergence counts ride checkpoint accumulators;
    * the relabel flows into the BFS harness's own state0 checkpoint; the
    * recolor checkpoint serves both the finished fragment and the done
    * count.
    *
    * When `snapshotDir` is set the outer loop is durable and resumable
    * (see [[Snapshots]]); a fresh call with the same directory continues
    * after the last completed round.
    */
  def components(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      maxOuter: Int = 100,
      maxTrimSweeps: Int = 20,
      localSolveEdgeThreshold: Long = 250000,
      hubDegreeThreshold: Long = 2000000,
      snapshotDir: Option[String] = None,
      edgesWithinVertices: Boolean = false,
      trimCapFraction: Double = 0.001,
      trimCapMinRemaining: Long = 1000000L,
      fragmentCompactionThreshold: Int = 64): SccRun = JobLabel(spark, "scc", "setup") {
    import spark.implicits._
    val arena = new CheckpointArena

    val verts = vertices.select("id")
    // Only edges internal to the vertex set matter for SCCs. Keep BOTH
    // hash-partitionings (SURVEY.md §7.1): frontier/degree joins on `src`
    // and on `dst` then reuse an existing exchange instead of reshuffling
    // the edge table every superstep — with the partitioning-preserving
    // checkpoint (GraftShims) the per-step shuffle is O(frontier), not
    // O(edges + state).
    // Build cost BEFORE the first BFS hop is kept at ONE edge exchange: the
    // dedup folds into the src-repartition (hash(src) co-locates equal
    // (src,dst) pairs, so the distinct aggregation adds no exchange), the
    // defensive endpoint semi-joins are skipped when the caller guarantees
    // closure (`edgesWithinVertices` — generated graphs, `% m n` files
    // whose ids are dense by format), and the dst copy is built LAZILY off
    // the cached src copy: nothing before the first backward BFS hop reads
    // it, so its full-table exchange no longer sits in the edge-build +
    // pre-trim phase (the round-3 bench's only anti-scaling segment —
    // 39.9 s @8 vs 67.4 s @32 at 61M edges, shuffle-write-bound), and runs
    // whose trims finish the whole graph never pay it at all.
    // The src copy is a checkpoint, not a persist: a persisted plan is
    // cached through AQE, whose exchange runs as a query-stage job of its
    // own, and the checkpoint's row count is the edge total that routes the
    // whole-graph local solve.
    val base = edges.select("src", "dst").filter(col("src") =!= col("dst"))
    val eClean =
      if (edgesWithinVertices) base
      else base
        .join(verts.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(verts.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    val eBySrcCk = arena.checkpoint(eClean.repartition(col("src")).distinct())
    val eBySrc = eBySrcCk.df
    val numEdges = eBySrcCk.rows
    graft.Log.v(s"scc: edges materialized ($numEdges)")
    var eByDstCell: Option[DataFrame] = None
    def eByDst: DataFrame = synchronized {
      eByDstCell.getOrElse {
        val d = eBySrc.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
        eByDstCell = Some(d)
        d
      }
    }
    // Background prefetch of the dst partitioning (guide §2.6 — overlap
    // independent jobs): the first BACKWARD BFS hop forces the dst copy's
    // full-table exchange (~4.7 s of the 36 s wall at the 15.3M-edge point,
    // all of it inside BFS step 0), yet nothing between the edge
    // materialization and that hop needs it — pre-trim decrements broadcast,
    // pivot election reads the degree frame. Kicking the exchange off on a
    // daemon thread right after the src copy materializes hides it behind
    // those phases; Spark's scheduler back-fills the cores its tasks need
    // between the driver-latency gaps of the small pre-trim jobs. Safe:
    // both threads act on the SAME persisted DataFrame (synchronized cell),
    // so concurrent actions share cached blocks — worst case a partition is
    // computed twice, never wrong. The job group lets components() cancel a
    // still-running prefetch at exit (e.g. a run whose trims finish the
    // whole graph) instead of leaving a stray job burning the cluster.
    def prefetchEByDst(): Thread = {
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup("graft-scc-prefetch",
            "scc: dst edge partitioning prefetch", interruptOnCancel = true)
          eByDst.write.format("noop").mode("overwrite").save()
        } catch { case _: Throwable => () }
      }, "graft-scc-dst-prefetch")
      t.setDaemon(true)
      t.start()
      t
    }
    var prefetchThread: Option[Thread] = None

    // Finished (id, comp) fragments; each is independently materialized (or
    // a lazy filter over a materialized backing frame), the final answer is
    // one lazy union over them (never re-materialized per round — that
    // would be O(V * rounds) writes).
    val assignedParts = mutable.ArrayBuffer[DataFrame]()
    // checkpointed pieces backing lazy (id, comp) fragments — must outlive
    // the arena alongside the fragments themselves
    val partBacking = mutable.ArrayBuffer[DataFrame]()
    // COMPACTED fragment frames (each one self-contained and bounded to
    // shuffle-partition width) — see maybeCompactFragments below
    val compactedParts = mutable.ArrayBuffer[DataFrame]()
    val metrics = Vector.newBuilder[RoundMetrics]
    val snaps = snapshotDir.map(new Snapshots(spark, _))

    var live: DataFrame = null
    var liveCount = 0L
    var round = 0
    // Exact running tally of assigned (id, comp) rows — every fragment's
    // count rode its own materialization action, so the total needs no
    // re-scan of the fragment union (the round-2 bench spent ~14% of its
    // wall re-counting already-cached fragments). Checked against the
    // input vertex count before returning.
    var assigned = 0L
    var expectedTotal = 0L
    // ---- fragment compaction (VERDICT r4 #8): a chain-of-SCCs-shaped graph
    // can legitimately run many rounds/sweeps, each appending fragments, and
    // the result is their lazy union — O(rounds + sweeps) plan width. Once
    // the PENDING list exceeds the threshold, union+checkpoint it into ONE
    // id-partitioned frame (bounded to shuffle-partition width) and release
    // the lazy fragments' backing frames; compacted frames accumulate in
    // `compactedParts` and are never re-compacted (re-shuffling already-
    // settled rows every trigger would cost O(V · rounds/threshold) total),
    // so the final plan stays O(threshold + rounds/threshold) wide. The
    // exactness tally is re-asserted per compaction: the checkpoint's ridden
    // count must equal the pending fragments' tallied rows.
    var compactedRows = 0L
    def maybeCompactFragments(): Unit =
      if (assignedParts.size > fragmentCompactionThreshold) {
        val pendingRows = assigned - compactedRows
        val Checkpoint(compacted, _, cnt, _) = arena.checkpoint(
          assignedParts.reduce(_.unionByName(_)).repartition(col("id")))
        require(cnt == pendingRows,
          s"compacted fragment rows $cnt != pending tally $pendingRows — assignment bug")
        (assignedParts ++ partBacking).foreach(arena.release)
        assignedParts.clear()
        partBacking.clear()
        compactedParts += compacted
        compactedRows = assigned
        graft.Log.v(s"scc: compacted fragments into frame ${compactedParts.size} " +
          s"($cnt rows)")
      }
    // whether the global trim phase is complete (fixpoint or adaptive cap)
    // — used to skip the then-redundant round-0 trim, see below
    var preTrimDone = true
    // full-graph max out/in degree, captured from the pre-trim degree frame
    // — feeds the salting gate without re-aggregating the edge table. FULL
    // graph, not live: BFS hit aggregation joins the frontier against the
    // full edge tables and masks dead targets only afterwards at the state
    // join, so a pre-trim-removed hub is still an aggregation key with its
    // full fan-in (ADVICE r3).
    var fullMaxDegs: Option[(Long, Long)] = None
    // whether `live` is known hash(id)-partitioned (lets the BFS seed skip
    // an explicit repartition when the relabel pass is also skipped)
    var liveIdPart = false
    // whether the CURRENT round's live state is known to carry exactly one
    // pivot (the round-0 degree-product seed): the BFS hop then replaces
    // the per-target pivot-set (collect_set array) aggregation with a
    // boolean hit-flag aggregation — shuffle rows shrink to (id, dir) and
    // no arrays are built or compared. On web-shaped graphs that round
    // carries 80-95% of all BFS work. Trims/relabel preserve the property
    // (one group maps to one group); WCC refinement and recolor clear it.
    var singlePivot = false
    // the single pivot's id when known driver-side (round-0 election) —
    // lets the single-pivot BFS drop the constant pivot column from its
    // iterated state entirely; -1 when unknown (e.g. post-trim relabel)
    var singlePivotId = -1L
    // live-subgraph edge count at the round-0 seed (from the trim-fixpoint
    // degree counters; -1 = unknown)
    var liveEdges0 = -1L

    snaps.flatMap(_.resume()) match {
      case Some((liveDf, parts, r, lc)) =>
        // Durable restart: completed fragments come back as parquet scans
        // (no arena backing needed), the live state is re-materialized
        // id-partitioned, and the loop re-enters after round r. Pre-trim
        // and WCC are never recomputed.
        graft.Log.v(s"scc: resuming after round $r (live=$lc, parts=${parts.size})")
        assignedParts ++= parts
        // parquet-footer counts (metadata-only) seed the tally on resume
        assigned = parts.map(_.count()).sum
        live = arena.checkpoint(liveDf.repartition(col("id"))).df
        liveCount = lc
        liveIdPart = true
        round = r + 1
        preTrimDone = false // conservatively run per-round trims
        prefetchThread = Some(prefetchEByDst())

      case None if numEdges <= localSolveEdgeThreshold && localSolveEdgeThreshold > 0 =>
        // ---- whole-graph local solve: the ENTIRE edge set fits one task,
        // so one Tarjan over every vertex and edge finishes the job — no
        // degree pass, pre-trim, pivot, live-edge table or routing. The
        // records reach that task through a coalesce, not an exchange, and
        // its output is the one fragment: one job after the edge checkpoint.
        // The task checks that every vertex record got exactly one row.
        graft.Log.v(s"scc: $numEdges edges <= localSolveEdgeThreshold — whole-graph local solve")
        // (id, -1) marks a vertex row, (src, dst) an edge
        val recs = verts.select(col("id").as("a"), lit(-1L).as("b"))
          .unionByName(eBySrc.select(col("src").as("a"), col("dst").as("b")))
        val Checkpoint(solved, _, solvedCnt, _) = JobLabel(spark, "scc", "local-solve") {
          arena.checkpoint(recs.as[(Long, Long)].coalesce(1).mapPartitions { it =>
            val vs = mutable.ArrayBuffer[Long]()
            val es = mutable.ArrayBuffer[(Long, Long)]()
            it.foreach { case (a, b) => if (b == -1L) vs += a else es += ((a, b)) }
            val out = LocalTarjan.solve(vs.toArray, es.toArray).toArray
            require(out.length == vs.length,
              s"local solve assigned ${out.length} rows to ${vs.length} vertices — assignment bug")
            out.iterator
          }.toDF("id", "comp"))
        }
        assignedParts += solved
        assigned = solvedCnt
        metrics += RoundMetrics(round, solvedCnt, 0L, 0L, 0, 0L, 0L)
        snaps.foreach(_.writeRound(round, verts.select(col("id"), lit(0L).as("pivot")).limit(0),
          0L, assignedParts.toSeq))
        round += 1

      case None =>
        // ---- ONE action builds the full-graph degree frame with the
        // one-pass explode aggregation ([[Degrees.counts]]) — the round-3
        // phase paid a separate count job plus the dst copy's full exchange
        // here, the two terms its (8,32) anti-scaling was made of.
        // The full-graph max degrees ride the same action — no separate
        // agg job (VERDICT r4 #6) — and feed the salting gate.
        val init = arena.checkpoint(trimDegreesPlan(eBySrc, verts),
          CountIf("dead"), Max("oc"), Max("ic"))
        fullMaxDegs = Some((init.rides(1), init.rides(2)))

        // the src copy is materialized (its checkpoint) — start the
        // dst-copy exchange now, hidden behind pre-trim + pivot
        prefetchThread = Some(prefetchEByDst())
        // ---- round -1: GLOBAL trim-1 before anything else (main.cpp:172
        // does the same) — degree-0 peeling needs no partition map and
        // shrinks the first FW-BW round.
        val (degs, preRemaining, preTrimmed, preSweeps, preDone, preCompacted) =
          trimFixpoint(
            arena, eBySrc, eByDst, init, maxTrimSweeps, assignedParts, partBacking,
            compactedParts, trimCapFraction, trimCapMinRemaining)
        preTrimDone = preDone
        assigned += preTrimmed
        compactedRows += preCompacted
        graft.Log.v(s"scc: global pre-trim removed $preTrimmed in $preSweeps sweeps" +
          (if (preDone) "" else " (maxTrimSweeps cap hit)"))
        // a peel-heavy graph can exceed the fragment threshold (and retain
        // one O(V) survivor frame per sweep) inside the pre-trim alone
        maybeCompactFragments()

        // Round-0 pivot: the live vertex maximizing live-degree product
        // (in×out), ties to min id — the standard FW-BW pivot heuristic
        // (Hong et al., PPoPP'13): it lands inside the giant SCC with high
        // probability, so round 0 extracts the giant component directly.
        // The WCC pre-partition that used to run here is DEFERRED to the
        // post-giant remainder (see the in-loop refinement below): on
        // web-shaped graphs the giant weak component is most of the graph,
        // and a full-graph WCC (O(E) shuffles × its own superstep rounds)
        // bought nothing that one FW-BW round doesn't — measured 138 s of
        // a 418 s convergence at the 15.3M-edge bench point.
        // degs still carries the trim fixpoint's live oc/ic counters, so
        // the argmax is one small agg on the already-materialized frame —
        // and sum(oc) in the same pass IS the live-subgraph edge count
        // (each oc counts out-edges to live endpoints at fixpoint), which
        // lets round 0 skip building `le` entirely (see skipLe below).
        // The same one-pass agg also captures max live out/in degree for the
        // salting gate (reusing the trim counters saves two full-edge
        // aggregations per call) and orders the degree product in
        // decimal(38,0) so extreme hub-degree products can't overflow Long
        // and misorder the argmax.
        val pivotRow = degs
          .agg(max(struct(
              (col("oc").cast("decimal(19,0)") * col("ic")).as("p"),
              (-col("id")).as("negId"))),
            sum(col("oc")))
          .head()
        if (!pivotRow.isNullAt(0)) {
          val pivot0 = -pivotRow.getStruct(0).getLong(1)
          liveEdges0 = if (pivotRow.isNullAt(1)) 0L else pivotRow.getLong(1)
          graft.Log.v(s"scc: round-0 pivot $pivot0 by degree product ($liveEdges0 live edges)")
          // Fast seed: when round 0 is certain to take the slim le-skip
          // path (same predicate as skipLe below), nothing in that round
          // reads a pivot column from the live frame — the trim survivors
          // frame IS the round-0 live state (degree counters ride along
          // unused), its row count is already known, and the O(V) seed
          // re-materialization job disappears.
          val fastSeed = preTrimDone && localSolveEdgeThreshold > 0 &&
            liveEdges0 > localSolveEdgeThreshold
          if (fastSeed) {
            live = degs
            liveCount = preRemaining
          } else {
            val lc = arena.checkpoint(
              degs.select(col("id"), lit(pivot0).as("pivot")))
            live = lc.df
            liveCount = lc.rows
            arena.release(degs)
          }
          liveIdPart = true // degs is id-joined throughout trimFixpoint
          singlePivot = true
          singlePivotId = pivot0
        } else {
          live = arena.checkpoint(verts.select(col("id"), col("id").as("pivot")).limit(0)).df
          liveCount = 0L
          arena.release(degs)
        }
    }
    // every vertex is now either in an assigned fragment or live
    expectedTotal = assigned + liveCount

    // ---- skew gate: when a hub vertex exceeds the threshold, the BFS
    // pivot-set aggregation switches to the two-level salted build
    // (Salting.saltedDirectionalCollectSet). The max FULL-GRAPH degrees
    // come for free from the pre-trim degree pass — full-graph, because the
    // BFS aggregates hits over the full edge tables (dead targets masked
    // only at the state join), so a trimmed-away hub still bounds fan-in.
    // One one-pass degree aggregation runs only on the rare path that has
    // no degree frame (durable resume). Computed only when a distributed
    // BFS can happen (the whole-graph local solve leaves nothing live).
    val useSalting = liveCount > 0 && {
      val (maxOutDeg, maxInDeg) = fullMaxDegs.getOrElse {
        val r = Degrees.counts(eBySrc)
          .agg(coalesce(max("oc"), lit(0L)), coalesce(max("ic"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      val hot = maxOutDeg > hubDegreeThreshold || maxInDeg > hubDegreeThreshold
      if (hot)
        graft.Log.v(s"scc: hub degree ${math.max(maxInDeg, maxOutDeg)} > " +
          s"$hubDegreeThreshold — salted pivot-set aggregation on")
      hot
    }

    while (liveCount > 0 && round < maxOuter) JobLabel(spark, "scc", s"round $round") {
      // ---- the round's partition-internal live edge table, built ONCE and
      // reused by local-solve, trim-1 and trim-2 (the round-1 engine
      // re-joined live⨝edges separately for every consumer and every trim
      // sweep — at 100 TB each of those was a full O(E) shuffle).
      // SKIPPED in the common giant-component round 0: with one pivot, a
      // fixpointed pre-trim and a remainder too big to local-solve, every
      // le consumer is a no-op this round (the BFS reads the original edge
      // partitionings directly, masking dead targets at the state join) —
      // and the live edge count that decides "too big" is already known
      // from the trim degree counters (liveEdges0), so the whole O(E)
      // double join + cache is dead weight.
      val skipLe = round == 0 && singlePivot && preTrimDone &&
        localSolveEdgeThreshold > 0 && liveEdges0 > localSolveEdgeThreshold
      var (le, leCnt) =
        if (skipLe) (null: DataFrame, liveEdges0)
        else {
          // (constructed only here: a fast-seeded live frame carries no
          // pivot column, and fast-seed implies skipLe)
          val lp = live.select(col("id"), col("pivot"))
          val ck = arena.checkpoint(
            eBySrc
              .join(lp.withColumnRenamed("id", "src").withColumnRenamed("pivot", "srcP"), Seq("src"))
              .join(lp.withColumnRenamed("id", "dst").withColumnRenamed("pivot", "dstP"), Seq("dst"))
              .filter(col("srcP") === col("dstP"))
              .select(col("srcP").as("pivot"), col("src"), col("dst")))
          (ck.df, ck.rows)
        }

      // ---- deferred WCC partition refinement (rounds ≥ 1): a recolor can
      // leave one partition holding MANY weak components (all of "neither"
      // after the giant SCC is cut out), which pure FW-BW then processes one
      // pivot at a time — the serialization the reference suffers from its
      // single global pivot. Refining the partition map with WCC labels of
      // the partition-INTERNAL live subgraph gives every weak component its
      // own pivot, at a cost proportional to the REMAINDER, not the input
      // graph (the round-1 remainder of a web-shaped graph is the ~1% that
      // isn't the giant component). Skipped while the remainder fits one
      // local-solve task — Tarjan finishes it cheaper than WCC would.
      // Labels refine (never merge) partitions: le edges satisfy
      // srcP === dstP, so a weak component of le stays inside one partition,
      // and each label set is still a union of SCCs.
      if (round >= 1 && leCnt > localSolveEdgeThreshold) {
        val wccRun = Wcc.run(spark, le.select("src", "dst"), live.select("id"))
        val nl = arena.checkpoint(
          live.select("id").join(wccRun.components, Seq("id"))
            .select(col("id"), col("comp").as("pivot"))
            .repartition(col("id"))).df
        wccRun.release()
        arena.release(live)
        live = nl
        liveIdPart = true
        singlePivot = false
        // relabel le rather than rebuilding it from eBySrc: srcP === dstP
        // and labels refine partitions, so src's new pivot == dst's.
        val nle = arena.checkpoint(
          le.select("src", "dst")
            .join(nl.select(col("id").as("src"), col("pivot")), Seq("src"))
            .select(col("pivot"), col("src"), col("dst"))).df
        arena.release(le)
        le = nle
        graft.Log.v(s"scc round $round: WCC-refined remainder " +
          s"($liveCount rows, $leCnt edges) in ${wccRun.metrics.size} supersteps")
      }

      // logically-current view of le; narrowed as pivots retire within the
      // round (le itself stays immutable; the filters are broadcast
      // anti-joins against small materialized frames)
      var leLive = le

      // ---- local-solve routing: partitions small enough for one task are
      // finished right here by a per-group Tarjan (one shuffle on pivot).
      var localSolved = 0L
      if (localSolveEdgeThreshold > 0 && !skipLe) {
        val groupEdgeCounts = le.groupBy("pivot").agg(count(lit(1)).as("ec"))
        val smallPivots = arena.checkpoint(
          live.select("pivot").distinct()
            .join(groupEdgeCounts, Seq("pivot"), "left")
            .filter(coalesce(col("ec"), lit(0L)) <= localSolveEdgeThreshold)
            .select("pivot")).df

        // Records per group: (pivot, a, b) where b = -1 marks a vertex row.
        val vertRecs = live.join(smallPivots, Seq("pivot"), "left_semi")
          .select(col("pivot"), col("id").as("a"), lit(-1L).as("b"))
        val edgeRecs = le.join(smallPivots, Seq("pivot"), "left_semi")
          .select(col("pivot"), col("src").as("a"), col("dst").as("b"))
        val Checkpoint(solved, _, solvedCnt, _) = arena.checkpoint(
          vertRecs.unionByName(edgeRecs)
            .as[(Long, Long, Long)]
            .groupByKey(_._1)
            .flatMapGroups { (_, it) =>
              val vs = mutable.ArrayBuffer[Long]()
              val es = mutable.ArrayBuffer[(Long, Long)]()
              it.foreach { case (_, a, b) => if (b == -1L) vs += a else es += ((a, b)) }
              LocalTarjan.solve(vs.toArray, es.toArray)
            }
            .toDF("id", "comp"))
        localSolved = solvedCnt
        assigned += solvedCnt
        graft.Log.v(s"scc round $round: local-solved $localSolved rows")
        if (localSolved > 0) {
          assignedParts += solved
          val nl = arena.checkpoint(live.join(smallPivots, Seq("pivot"), "left_anti"))
          arena.release(live)
          live = nl.df
          liveCount = nl.rows
          liveIdPart = false // anti-join may have re-partitioned by pivot
          leLive = le.join(smallPivots, Seq("pivot"), "left_anti")
        } else arena.release(solved)
      }

      var trimmedTotal = 0L
      var pairTrimmed = 0L
      var bfsSteps = 0
      var sccRows = 0L
      if (liveCount > 0) {
        // ---- trim-1 fixpoint: peel vertices with no live in- or out-edges
        // within their partition — singleton SCCs (main.cpp:54-63), via the
        // same incremental degree-decrement helper as the global pre-trim.
        // Skipped in round 0 when the global trim phase completed: at
        // fixpoint it is provably a no-op (edges never cross WCC
        // partitions, so per-partition degrees equal live-graph degrees,
        // and local-solve only removes whole partitions); after an
        // adaptive cap it would only re-run the same below-threshold
        // trickle the cap deliberately left to later rounds.
        if (round > 0 || !preTrimDone) {
          val (degsR, remaining, trimmed, _, _, trimCompacted) = trimFixpoint(
            arena, leLive, leLive,
            arena.checkpoint(trimDegreesPlan(leLive, live), CountIf("dead")),
            maxTrimSweeps, assignedParts, partBacking, compactedParts,
            trimCapFraction, trimCapMinRemaining)
          trimmedTotal = trimmed
          assigned += trimmed
          compactedRows += trimCompacted
          if (trimmed > 0) {
            arena.release(live)
            live = degsR // (id, pivot) survivors; oc/ic/dead ride along unused
            liveCount = remaining
            liveIdPart = true
          } else arena.release(degsR)
        }

        // ---- trim-2 (round > 0 only: on the full graph its mutual-pair
        // scan costs more than the pairs it removes save; on the post-giant
        // remainder it is cheap mop-up): mutual pair (a,b) where either
        // both vertices' only live in-edges, or both vertices' only live
        // out-edges, are each other => {a,b} is a size-2 SCC (north-star
        // extension). Pairs qualifying under either variant cannot overlap:
        // sharing a vertex would force its in- (resp. out-) degree above 1.
        if (round > 0 && liveCount > 0) {
          val lpT = live.select("id")
          val le2 = arena.checkpoint(
            leLive
              .join(lpT.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
              .join(lpT.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
              .select("src", "dst")).df
          val mutual = le2.filter(col("src") < col("dst"))
            .join(le2.select(col("dst").as("src"), col("src").as("dst")),
              Seq("src", "dst"), "left_semi")
          val od2 = le2.groupBy(col("src").as("id")).agg(count(lit(1)).as("od"))
          val id2 = le2.groupBy(col("dst").as("id")).agg(count(lit(1)).as("idg"))
          val degs2 = od2.join(id2, Seq("id"), "full")
            .select(col("id"), coalesce(col("od"), lit(0L)).as("od"),
              coalesce(col("idg"), lit(0L)).as("idg"))
          val Checkpoint(pairs, _, pairsCnt, _) = arena.checkpoint(
            mutual
              .join(degs2.select(col("id").as("src"), col("od").as("aOd"),
                col("idg").as("aId")), Seq("src"))
              .join(degs2.select(col("id").as("dst"), col("od").as("bOd"),
                col("idg").as("bId")), Seq("dst"))
              .filter((col("aId") === 1 && col("bId") === 1) ||
                (col("aOd") === 1 && col("bOd") === 1))
              .select(col("src"), col("dst")))
          pairTrimmed = 2 * pairsCnt
          assigned += pairTrimmed
          if (pairsCnt > 0) {
            val pairMembers = pairs.select(col("src").as("id"), col("src").as("comp"))
              .unionByName(pairs.select(col("dst").as("id"), col("src").as("comp")))
            partBacking += pairs
            assignedParts += pairMembers
            val nl = arena.checkpoint(
              live.select("id", "pivot")
                .join(pairMembers.select("id"), Seq("id"), "left_anti"))
            arena.release(live)
            live = nl.df
            liveCount = nl.rows
          } else arena.release(pairs)
          arena.release(le2)
        }
      }

      if (liveCount > 0) {
        // ---- fw+bw reach from each partition's pivot, restricted to the
        // partition (reach_kernel, main.cpp:65-87; both directions in one
        // DAG = the v7 shape).
        // If a trim removed vertices THIS round, re-elect each group's pivot
        // as its min live id: the old pivot may be gone, which would leave
        // the group seedless. When nothing was removed since pivots were
        // elected (pivot0 / WCC label / recolor newPivot — all live members
        // by construction), the O(live) groupBy+join re-election pass is
        // skipped entirely — on a giant-component round 0 that pass was
        // ~10% of wall, and skipping it is also what lets the round-0
        // degree-product pivot actually seed the reach (canonical comp
        // labels no longer depend on the seed: emission uses newPivot).
        // The seeded state is NOT separately checkpointed — it flows lazily
        // into the superstep harness's own state0 checkpoint (one action
        // instead of two); hash(id)-partitioning is ensured here (relabel
        // join output is pivot-partitioned: giant-component skew AND a
        // step-1 re-exchange; recolor output likewise) unless the live
        // frame is already known id-partitioned.
        // BFS state = (id, pivot, st) with the four reach flags bit-packed
        // into ONE IntegerType column (1=fw, 2=bw, 4=fwNew, 8=bwNew) — the
        // Spark analog of the reference's packed status byte
        // (utils/is_checked.cu:22-46). Separate Boolean columns each burn a
        // full 8-byte UnsafeRow slot, so packing shrinks the per-step
        // checkpointed row from 7 slots to 3 (64B → 32B): state copy,
        // cache residency, and allocation rate — the measured per-step
        // cost drivers — all drop ~2×. Convergence rides the same
        // checkpoint as a masked count-if ride (`CountIf("st", 12)` below).
        // Slim single-pivot state: with exactly one pivot (known driver-
        // side) and no trim this round, the pivot column is the same value
        // on every row — drop it from the iterated state ((id, st): 2
        // UnsafeRow slots instead of 3) and re-attach it as a literal at
        // recolor. ~30% less checkpoint copy/allocation/cache in the round
        // that carries 80-95% of BFS work.
        val slim = singlePivot && trimmedTotal == 0 && pairTrimmed == 0 &&
          singlePivotId >= 0
        val bfs0 =
          if (slim) {
            // (the fast-seeded live frame may carry no pivot column — slim
            // mode never reads one; the pivot is the driver-side literal)
            val base = live.select("id")
            (if (liveIdPart) base else base.repartition(col("id")))
              .select(col("id"),
                when(col("id") === lit(singlePivotId), lit(15)).otherwise(lit(0)).as("st"))
          } else {
            val seeded =
              if (trimmedTotal == 0 && pairTrimmed == 0) {
                val base = live.select("id", "pivot")
                if (liveIdPart) base else base.repartition(col("id"))
              } else {
                val relabel = live.groupBy("pivot").agg(min("id").as("newP"))
                live.select("id", "pivot")
                  .join(relabel, Seq("pivot"))
                  .select(col("id"), col("newP").as("pivot"))
                  .repartition(col("id"))
              }
            seeded.withColumn("st",
              when(col("id") === col("pivot"), lit(15)).otherwise(lit(0)))
          }
        val harness = new Superstep(spark, s"scc_bfs_$round", snapshotDir, arena = arena)
        // One BFS hop: expand the fwNew/bwNew frontier by one edge step;
        // an empty hop means the whole reach is complete.
        val hop: DataFrame => DataFrame = { st =>
          // Frontier expansion. Join shapes chosen so the big sides never
          // move: frontier(id) x eBySrc(src) is co-partitioned; fw and bw
          // hits are unioned with a direction flag and aggregated by id in
          // ONE exchange (`collect_set` skips the nulls `when(dir, pivot)`
          // produces for the other direction — map-side partial collect_set
          // still combines hub targets before the shuffle), then joined
          // back to the id-partitioned state once — per-step shuffle bytes
          // are O(frontier degree), and the fixed per-step cost is one
          // shuffle stage + one state-rewrite join instead of two of each
          // (the fixed per-step cost is the scaling-efficiency limiter at
          // sandbox sizes; BASELINE.md). A visited-set/frontier-piece
          // representation was measured SLOWER here: once the giant
          // component is most of the state, scanning the visited pieces
          // each step costs what the state rewrite costs, plus a per-step
          // anti-join chain.
          def hitRows(frontier: DataFrame, eTbl: DataFrame,
              joinOn: String, tgt: String, fwd: Boolean): DataFrame = {
            // fresh aliases per call: dataset-qualified refs to the shared
            // edge Dataset would trip DetectAmbiguousSelfJoin (the
            // re-aliasing projection is a no-op physically — it collapses
            // into the scan)
            val e = eTbl.select(col(joinOn).as("_eFrom"), col(tgt).as("_eTo"))
            val cols =
              if (singlePivot) Seq(col("_eTo").as("id"), lit(fwd).as("_fwd"))
              else Seq(col("_eTo").as("id"), col("pivot"), lit(fwd).as("_fwd"))
            // SHUFFLE_HASH with the FRONTIER as build side (guide §3.1):
            // unhinted, the frontier of a small checkpointed state is
            // broadcast on every hop (the state's exact statistics sit below
            // the broadcast threshold) and a big one falls back to
            // sort-merge, which re-SORTS the cached edge table on every BFS
            // step. Hash-probing a per-partition frontier map streams the
            // edge partitions unsorted; both sides stay co-partitioned, so
            // the join adds no exchange. Build size is bounded by the
            // frontier's partition slice (≤ state/numPartitions rows).
            frontier.hint("shuffle_hash").join(e, col("id") === col("_eFrom"))
              .select(cols: _*)
          }
          // single-pivot frontiers don't need the pivot column at all (the
          // hit is membership); in slim mode the state doesn't carry it
          val fCols: Seq[Column] =
            if (singlePivot) Seq(col("id")) else Seq(col("id"), col("pivot"))
          val hits = hitRows(
            st.filter(col("st").bitwiseAND(lit(4)) =!= lit(0))
              .select(fCols: _*),
            eBySrc, "src", "dst", fwd = true)
            .unionByName(hitRows(
              st.filter(col("st").bitwiseAND(lit(8)) =!= lit(0))
                .select(fCols: _*),
              eByDst, "dst", "src", fwd = false))
          val oldFw = col("st").bitwiseAND(lit(1)) =!= lit(0)
          val oldBw = col("st").bitwiseAND(lit(2)) =!= lit(0)
          def pack(hitF: Column, hitB: Column): Column =
            ((oldFw || hitF).cast("int")
              + (oldBw || hitB).cast("int") * 2
              + (!oldFw && hitF).cast("int") * 4
              + (!oldBw && hitB).cast("int") * 8).as("st")
          if (singlePivot) {
            // One active pivot ⇒ a hit IS membership: aggregate two boolean
            // flags per target (map-side combine collapses hub fan-in) —
            // no arrays built, shuffled, or probed. Salting is moot: the
            // partial aggregation state per key is two booleans.
            val hitAgg = hits.groupBy("id").agg(
              max(col("_fwd")).as("hitF"), max(!col("_fwd")).as("hitB"))
            val outCols: Seq[Column] =
              if (slim) Seq(col("id")) else Seq(col("id"), col("pivot"))
            // hash-build the hit side (bounded by the frontier's targets):
            // a sort-merge fallback would re-sort the whole state every
            // step, a broadcast would rebuild every hop (see the
            // frontier-join note above)
            st.join(hitAgg.hint("shuffle_hash"), Seq("id"), "left")
              .select(outCols :+
                pack(coalesce(col("hitF"), lit(false)),
                  coalesce(col("hitB"), lit(false))): _*)
          } else {
            val pivotSets =
              if (useSalting)
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
        // In slim mode, rows that SETTLED (both waves arrived, nothing new:
        // st == 3 exactly) leave the iterated state before the next hop —
        // the per-step scan/rewrite then tracks the wave BOUNDARY, not the
        // whole component (the reference's kernels likewise skip visited
        // vertices; on the giant-SCC round most members settle mid-wave and
        // the tail steps stop re-copying them). Correct because state rows
        // influence each other only through frontier expansion, which
        // requires a new-flag bit settled rows by definition lack; a row
        // settles only AFTER its one expansion as frontier (new flags set
        // at discovery, cleared the following step). Membership is
        // reconstructed after convergence as live − still-unsettled.
        // (the settlement argument is pivot-independent, so BOTH paths
        // retire: a settled row is fully classified within its partition)
        // Converged when no row carries a new-flag bit (4|8).
        val (reachedSt, bfsMetrics) = harness.run(bfs0, Int.MaxValue,
          rides = Seq(CountIf("st", 12)))((st, _) => hop(st.filter(col("st") =!= 3)))(_.rides(0))
        bfsSteps = bfsMetrics.size

        if (slim) {
          // Final state: st ∈ {0,1,2} = non-members (never both-reached),
          // st == 3 = members settled in the last steps (not yet dropped);
          // everything dropped earlier is a member too.
          val Checkpoint(nonMembers, _, nmCnt, _) = arena.checkpoint(
            reachedSt.filter(col("st").bitwiseAND(lit(3)) =!= lit(3))
              .select(col("id"), col("st")))
          arena.release(reachedSt)
          val memberCnt = liveCount - nmCnt
          // canonical comp = min member id: one agg over the lazy
          // anti-join (live is cached; nonMembers is the small side)
          val memberIds = live.select("id")
            .join(nonMembers.select("id"), Seq("id"), "left_anti")
          val minId = memberIds.agg(min("id")).head().getLong(0)
          partBacking += live // backs the lazy members fragment
          assignedParts += memberIds.select(col("id"), lit(minId).as("comp"))
          sccRows = memberCnt
          assigned += memberCnt
          // recolor the non-members (no done rows among them by
          // construction): min-id pivot per (fw, bw) group, as ever
          val reachedNm = nonMembers.select(col("id"),
            (col("st").bitwiseAND(lit(1)) =!= lit(0)).as("fw"),
            (col("st").bitwiseAND(lit(2)) =!= lit(0)).as("bw"))
          val groupsNm = reachedNm.groupBy("fw", "bw").agg(min("id").as("newPivot"))
          val Checkpoint(nl, _, nlCnt, _) = arena.checkpoint(
            reachedNm.join(groupsNm, Seq("fw", "bw"))
              .select(col("id"), col("newPivot").as("pivot")))
          // nonMembers backs the lazy members anti-join — retained
          partBacking += nonMembers
          live = nl
          liveCount = nlCnt
        } else {
          // ---- multi-pivot retirement + recolor (main.cpp:105-163): the
          // settled (= done) rows left the iterated state per step, so the
          // done fragment reconstructs as live − still-unsettled, labeled
          // min member id per pivot group. Grouping by live's PRE-relabel
          // pivot is equivalent: the relabel/WCC maps are 1:1 on groups,
          // and the canonical min-member label is label-independent.
          val Checkpoint(nonMembers, _, nmCnt, _) = arena.checkpoint(
            reachedSt.filter(col("st").bitwiseAND(lit(3)) =!= lit(3))
              .select(col("id"), col("pivot"), col("st")))
          arena.release(reachedSt)
          val memberCnt = liveCount - nmCnt
          if (memberCnt > 0) {
            val members = live.select("id", "pivot")
              .join(nonMembers.select("id"), Seq("id"), "left_anti")
            val minPerPivot = members.groupBy("pivot").agg(min("id").as("comp"))
            val Checkpoint(frag, _, fragCnt, _) = arena.checkpoint(
              members.join(minPerPivot, Seq("pivot")).select("id", "comp"))
            require(fragCnt == memberCnt,
              s"done-fragment rows $fragCnt != settled tally $memberCnt")
            assignedParts += frag
            sccRows = memberCnt
            assigned += memberCnt
          }
          arena.release(live)
          // recolor the non-members: 4-way split per pivot by (fw, bw)
          // (no done rows among them by construction), min-id pivots
          val reachedNm = nonMembers.select(col("id"), col("pivot"),
            (col("st").bitwiseAND(lit(1)) =!= lit(0)).as("fw"),
            (col("st").bitwiseAND(lit(2)) =!= lit(0)).as("bw"))
          val groups = reachedNm.groupBy("pivot", "fw", "bw").agg(min("id").as("newPivot"))
          val Checkpoint(nl, _, nlCnt, _) = arena.checkpoint(
            reachedNm.join(groups, Seq("pivot", "fw", "bw"))
              .select(col("id"), col("newPivot").as("pivot")))
          arena.release(nonMembers)
          live = nl
          liveCount = nlCnt
        }
        liveIdPart = false // recolor join leaves non-id partitioning
        singlePivot = false
      }
      if (le != null) arena.release(le)
      graft.Log.v(s"scc round $round: local=$localSolved trimmed=$trimmedTotal " +
        s"pair=$pairTrimmed bfs=$bfsSteps sccRows=$sccRows live=$liveCount")
      metrics += RoundMetrics(round, localSolved, trimmedTotal, pairTrimmed, bfsSteps,
        sccRows, liveCount)
      maybeCompactFragments()
      snaps.foreach(_.writeRound(round, live.select("id", "pivot"), liveCount,
        (compactedParts ++ assignedParts).toSeq))
      round += 1
    }
    require(liveCount == 0, s"SCC did not converge in $maxOuter rounds ($liveCount live)")
    // Exactness guarantee for assignedCount: every vertex ended up in
    // exactly one fragment, with all counts ridden on materialization
    // actions — a union re-count would scan the same cached blocks to
    // learn the same number.
    require(assigned == expectedTotal,
      s"fragment tally $assigned != vertex total $expectedTotal — assignment bug")

    // The parts are already materialized; the result is their lazy union —
    // re-checkpointing it here would be one more full O(V) pass for nothing.
    val allParts = (compactedParts ++ assignedParts).toSeq
    val result =
      if (allParts.isEmpty) verts.select(col("id"), col("id").as("comp")).limit(0)
      else allParts.reduce(_.unionByName(_))
    // a prefetch that never got consumed (e.g. trims finished the graph)
    // must not keep running after we return, nor read the src copy's
    // blocks once they are released
    prefetchThread.filter(_.isAlive).foreach { t =>
      try spark.sparkContext.cancelJobGroup("graft-scc-prefetch")
      catch { case _: Throwable => () }
      t.join(2000)
    }
    arena.closeExcept((allParts ++ partBacking).toSeq: _*)
    eByDstCell.foreach(_.unpersist(false))
    new SccRun(result, metrics.result(), assigned, () => arena.closeExcept())
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
    * its own closed subset and ignores the flag).
    */
  def acceptedRun(
      spark: SparkSession,
      edges: DataFrame,
      vertices: DataFrame,
      mode: SccMode = FullGraph,
      edgesWithinVertices: Boolean = false): SccAcceptedRun = {
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
    val withU = run.components.join(vertices, Seq("id"), "left")
      .select(col("id"), col("comp"), coalesce(col("isU"), lit(false)).as("isU"))
      .persist(StorageLevel.MEMORY_AND_DISK)

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

    val outArena = new CheckpointArena
    val out = outArena.checkpoint(withU
      .join(stats, Seq("comp"))
      .join(killed, Seq("comp"), "left")
      .select(
        col("id"), col("comp"),
        (col("sz") >= 2 && col("allU") && coalesce(col("isKilled"), lit(false)) === false)
          .as("accepted"))).df
    withU.unpersist(false)
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
