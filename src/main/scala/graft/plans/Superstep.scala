package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.{Checkpoint, Ride}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Per-iteration bookkeeping emitted by the superstep harness — the Spark
  * analog of the reference's host-side `stop` flag + timing
  * (`/root/reference/cuda/sccv2_status.cu:35-37`, `scc_runner.cu:36-38`).
  */
final case class StepMetrics(iter: Int, changed: Long, wallMs: Long)

/** The iteration harness every graph algorithm runs on (SURVEY.md §7.1 #3).
  *
  * Responsibilities:
  *   - **Lineage control**: iterative DataFrame code doubles its logical plan
  *     every superstep unless the plan is cut; we `localCheckpoint(eager)`
  *     each iteration (the #1 failure mode of naive iterative Spark).
  *   - **Convergence**: one driver action per superstep — the checkpoint —
  *     also folds the step's convergence scalar (a changed-row count or a
  *     content signature, see [[org.apache.spark.sql.GraftShims.Ride]]),
  *     mirroring the reference's per-superstep `d_stop` memcpy — never a
  *     `collect` of state.
  *   - **Resumability** (north_rule): when `snapshotDir` is set, every
  *     `snapshotEvery` iterations the state is written as parquet (one file
  *     per partition = per-partition lineage) together with a JSON manifest
  *     line (iteration, changed count, wall ms). `resume` restarts from the
  *     newest snapshot.
  */
/** @param tinyLoop opt-in to the tiny-state shuffle-partition override
  *   (see [[Superstep.withTinyShuffle]]): right for loops whose per-step
  *   plans touch only the state and its own aggregates (PageRank, WCC,
  *   LabelProp);
  *   WRONG for loops joining large fixed-partitioning caches each step
  *   (SCC's BFS hops against the 2×-partitioned edge tables re-exchanged
  *   the edge side every hop under the override — measured 3× slower at
  *   sf0.1).
  */
final class Superstep(
    spark: SparkSession,
    name: String,
    snapshotDir: Option[String] = None,
    snapshotEvery: Int = 10,
    arena: CheckpointArena = new CheckpointArena,
    tinyLoop: Boolean = false) {

  private def manifestPath = snapshotDir.map(d => Paths.get(d, s"$name.manifest.jsonl"))

  private def jstr(s: String): String = Jsonl.jstr(s)

  /** Run `step` from `state0` until `changed` returns 0 or `maxIter`
    * supersteps have run. Each next state is checkpointed with `rides`
    * folded into the same materialization job; `changed` reads the
    * resulting [[Checkpoint]] (its row count, ridden values or the frame
    * itself) before the previous state is released. Returns the final state
    * and per-iteration metrics.
    */
  def run(state0: DataFrame, maxIter: Int, startIter: Int = 0, rides: Seq[Ride] = Nil)(
      step: (DataFrame, Int) => DataFrame)(
      changed: Checkpoint => Long): (DataFrame, Vector[StepMetrics]) = {
    val st0 = arena.checkpoint(state0)
    var state = st0.df
    val state0Rows = st0.rows
    val metrics = Vector.newBuilder[StepMetrics]
    // Size-aware AQE policy (see [[Aqe]]): on a BIG state every shuffle
    // partition is full, so AQE's per-shuffle query-stage barrier is pure
    // per-step serial-floor latency — off. On a SMALL state AQE's partition
    // coalescing collapses the fixed-partition shuffles to a handful of
    // tasks and wins big (blanket-off was measured 2.7× slower on the sf0.1
    // q_wcc while 1.2× faster on the 15.3M-edge bench graph — round 4).
    // The state0 row count rides the checkpoint materialization: free.
    val aqeOff = state0Rows >= Superstep.aqeOffMinStateRows
    def loop(): Unit = {
      var iter = startIter
      var delta = 1L
      while (delta > 0 && iter < maxIter) {
      val t0 = System.nanoTime()
      val next = arena.checkpoint(step(state, iter), rides: _*)
      delta = changed(next)
      arena.release(state)
      state = next.df
      val wallMs = (System.nanoTime() - t0) / 1000000
      metrics += StepMetrics(iter, delta, wallMs)
      graft.Log.v(s"superstep $name iter=$iter changed=$delta wallMs=$wallMs")
      snapshotDir.foreach { dir =>
        val snap = iter % snapshotEvery == 0 || delta == 0
        val snapPath = if (snap) {
          val p = s"$dir/$name.state_$iter"
          state.write.mode("overwrite").parquet(p)
          jstr(p)
        } else "null"
        val line =
          s"""{"name":${jstr(name)},"iter":$iter,"changed":$delta,"wallMs":$wallMs,"snapshot":$snapPath}\n"""
        Files.writeString(
          manifestPath.get, line,
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
      iter += 1
      }
    }
    if (aqeOff) Aqe.off(spark)(loop())
    else if (tinyLoop && state0Rows <= Superstep.tinyLoopMaxStateRows)
      Superstep.withTinyShuffle(spark, state0Rows)(loop())
    else loop()
    (state, metrics.result())
  }

  /** Newest durable snapshot, if any: (state, next iteration to run). */
  def resume(): Option[(DataFrame, Int)] =
    manifestPath.filter(Files.exists(_)).flatMap { p =>
      // the snapshot path was written jstr-escaped, so it must be captured
      // with the escaped-string pattern and UNESCAPED on the way out — the
      // old [^"]+ capture returned still-escaped text (or truncated at an
      // escaped quote) for exactly the paths the escaping protects
      val snapRe = """"iter":(\d+).*"snapshot":"((?:[^"\\]|\\.)+)"""".r.unanchored
      // No-snapshot iterations are legitimately snapshot-less; anything else
      // that fails to parse is a corrupt manifest and must fail loudly — a
      // silent skip would resume from an OLDER iteration and redo work
      // against state the newer iterations already mutated durably. The ONE
      // exception is a torn FINAL line: a crash mid-append leaves exactly
      // that artifact, it carries no more durable state than a no-snapshot
      // line, and resume already redoes the tail iterations — so crash
      // recovery (this method's whole purpose) must tolerate it.
      val noSnapRe = """"iter":\d+.*"snapshot":null""".r.unanchored
      def parses(l: String): Boolean =
        l.isBlank || snapRe.findFirstIn(l).isDefined || noSnapRe.findFirstIn(l).isDefined
      val lines = Jsonl.repairTornTail(p, parses)
      lines
        .flatMap {
          case snapRe(i, path) => Some((i.toInt, Jsonl.junstr(path)))
          case noSnapRe() => None
          case l if l.isBlank => None
          case l => throw new IllegalStateException(
            s"unparseable superstep manifest line in $p: $l " +
              "(corrupt, or written by an incompatible engine version — " +
              "delete the snapshot directory to restart from scratch)")
        }
        .lastOption
        .map { case (i, path) => (spark.read.parquet(path), i + 1) }
    }
}

object Superstep {
  /** State-size cutover for the per-loop AQE policy (see [[Superstep.run]]):
    * loops whose initial state has at least this many rows run with AQE off
    * (every shuffle partition is full — query-stage barriers are pure
    * per-step latency); smaller loops keep AQE (partition coalescing
    * collapses the fixed-partition shuffles). Row count is a proxy for
    * work-per-step; 1M rows ≈ the point where 32 shuffle partitions stop
    * being latency-bound on this box (BASELINE.md round-4 A/Bs both ways).
    */
  val aqeOffMinStateRows: Long =
    sys.env.get("GRAFT_AQE_MIN_ROWS").map(_.toLong).getOrElse(1000000L)

  /** TINY-loop cutover: below this state size the per-superstep cost is
    * pure fixed overhead, and AQE's answer (coalesce every post-shuffle
    * stage to ~1 task) still pays one query-stage JOB per exchange per
    * step — ~6 scheduled jobs per iteration on a 3-shuffle loop. Running
    * the loop AQE-OFF with the shuffle partition count derived from the
    * state size (~1 partition per 50k rows) gets the same tiny task
    * counts as one pipelined job per step. Between the two cutovers
    * (tiny .. aqeOffMin) AQE's runtime choices win (measured round 4) and
    * stay in charge.
    */
  val tinyLoopMaxStateRows: Long =
    sys.env.get("GRAFT_TINY_LOOP_MAX_ROWS").map(_.toLong).getOrElse(100000L)

  /** Run `f` with AQE off and `spark.sql.shuffle.partitions` sized to the
    * state (clamped to [2, current]); restores both settings after. */
  def withTinyShuffle[T](spark: SparkSession, stateRows: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key, "200")
    val sized = math.max(2L, math.min(prev.toLong, stateRows / 50000L + 2L))
    spark.conf.set(key, sized.toString)
    try Aqe.off(spark)(f)
    finally spark.conf.set(key, prev)
  }
}
