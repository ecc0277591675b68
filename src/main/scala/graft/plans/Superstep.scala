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
  *     every superstep unless the plan is cut; each iteration's state is
  *     materialized by [[CheckpointArena.checkpoint]] (the #1 failure mode of
  *     naive iterative Spark).
  *   - **Convergence**: one driver action per superstep — the checkpoint —
  *     also folds the step's convergence scalar (a changed-row count or a
  *     content signature, see [[org.apache.spark.sql.GraftShims.Ride]]),
  *     mirroring the reference's per-superstep `d_stop` memcpy — never a
  *     `collect` of state.
  *   - **Planning**: a step's plan executes only inside that checkpoint,
  *     which plans it without AQE and gives the next state its measured
  *     size and row count (see [[org.apache.spark.sql.GraftShims]]). Joins
  *     are picked from those true statistics; the loop sets no session
  *     conf, so concurrent callers of one session cannot see its choices.
  *   - **Resumability** (north_rule): when `snapshotDir` is set, every
  *     `snapshotEvery` iterations the state is written as parquet (one file
  *     per partition = per-partition lineage) together with a JSON manifest
  *     line (iteration, changed count, wall ms). `resume` restarts from the
  *     newest snapshot.
  */
final class Superstep(
    spark: SparkSession,
    name: String,
    snapshotDir: Option[String] = None,
    snapshotEvery: Int = 10,
    arena: CheckpointArena = new CheckpointArena) {

  private def manifestPath = snapshotDir.map(d => Paths.get(d, s"$name.manifest.jsonl"))

  private def jstr(s: String): String = Jsonl.jstr(s)

  /** Run `step` from `state0` until `changed` returns 0 or `maxIter`
    * supersteps have run. Each next state is checkpointed with `rides`
    * folded into the same materialization job; `changed` reads the
    * resulting [[Checkpoint]] (its row count, ridden values or the frame
    * itself) before the previous state is released. A `state0` that is
    * already one of the arena's checkpoints is used as it is; any other is
    * checkpointed first, under the caller's job label. Returns the final
    * state and per-iteration metrics.
    */
  def run(state0: DataFrame, maxIter: Int, startIter: Int = 0, rides: Seq[Ride] = Nil)(
      step: (DataFrame, Int) => DataFrame)(
      changed: Checkpoint => Long): (DataFrame, Vector[StepMetrics]) = {
    var state = if (arena.holds(state0)) state0 else arena.checkpoint(state0).df
    val metrics = Vector.newBuilder[StepMetrics]
    var iter = startIter
    var delta = 1L
    while (delta > 0 && iter < maxIter) {
      JobLabel(spark, name, s"step $iter") {
        val t0 = System.nanoTime()
        val compiled0 = Superstep.classesCompiled
        val next = arena.checkpoint(step(state, iter), rides: _*)
        delta = changed(next)
        arena.release(state)
        state = next.df
        val wallMs = (System.nanoTime() - t0) / 1000000
        metrics += StepMetrics(iter, delta, wallMs)
        graft.Log.v(s"superstep $name iter=$iter changed=$delta wallMs=$wallMs " +
          s"compiled=${Superstep.classesCompiled - compiled0}")
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
      }
      iter += 1
    }
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
  /** Classes Spark's code generator has compiled in this JVM so far (one per
    * miss of its compiled-class cache, see [[graft.Sessions]]). A step that
    * compiles more than a handful is thrashing that cache. */
  def classesCompiled: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
