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
  *     tenth iteration's state, the last one's and a converged one's are
  *     written as parquet (one file per partition = per-partition lineage);
  *     every iteration appends a JSON manifest line (iteration, changed
  *     count, wall ms, snapshot path or null). [[run]] resumes on its own:
  *     when the manifest names a snapshot, the loop restarts after the
  *     newest one instead of from `state0`. A directory belongs to one
  *     input; the caller checks what it can (PageRank its row count).
  */
final class Superstep(
    spark: SparkSession,
    name: String,
    snapshotDir: Option[String] = None,
    arena: CheckpointArena = new CheckpointArena) {

  private def manifestPath = snapshotDir.map(d => Paths.get(d, s"$name.manifest.jsonl"))

  /** Run `step` until `changed` returns 0 or the step about to run would
    * be iteration `maxIter`. The first state is the newest snapshot in
    * `snapshotDir`'s manifest, if it names one (the loop then continues
    * with the iteration after it), and `state0` otherwise. A first state
    * that is already one of the arena's checkpoints is used as it is; any
    * other is checkpointed with `rides`, under the caller's job label, and
    * `changed` reads that checkpoint too (its count is not used), so a
    * ridden value the next step needs comes from one reader whichever
    * state the loop starts from. Each next state is checkpointed with
    * `rides` folded into the same materialization job; `changed` reads the
    * resulting [[Checkpoint]] (its row count, ridden values or the frame
    * itself) before the previous state is released. Returns the final
    * state and per-iteration metrics.
    */
  def run(state0: => DataFrame, maxIter: Int, rides: Seq[Ride] = Nil)(
      step: (DataFrame, Int) => DataFrame)(
      changed: Checkpoint => Long): (DataFrame, Vector[StepMetrics]) = {
    val resumed = newestSnapshot()
    resumed.foreach { case (path, i) =>
      graft.Log.v(s"superstep $name: resuming after iter $i from $path")
    }
    var state = resumed.fold(state0)(r => spark.read.parquet(r._1)) match {
      case s if arena.holds(s) => s
      case s =>
        val ck = arena.checkpoint(s, rides: _*)
        changed(ck)
        ck.df
    }
    val metrics = Vector.newBuilder[StepMetrics]
    var iter = resumed.fold(0)(_._2 + 1)
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
          val snap = iter % Superstep.SnapshotEvery == 0 || delta == 0 || iter == maxIter - 1
          val snapPath = if (snap) {
            val p = s"$dir/$name.state_$iter"
            state.write.mode("overwrite").parquet(p)
            Jsonl.jstr(p)
          } else "null"
          val line =
            s"""{"name":${Jsonl.jstr(name)},"iter":$iter,"changed":$delta,"wallMs":$wallMs,"snapshot":$snapPath}\n"""
          Files.writeString(
            manifestPath.get, line,
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
      }
      iter += 1
    }
    (state, metrics.result())
  }

  /** The newest snapshot the manifest names, if any: (path, iteration).
    * Lines without one (iterations that wrote no snapshot) are skipped. */
  private def newestSnapshot(): Option[(String, Int)] = manifestPath.flatMap(p =>
    Jsonl.readLog(p, "superstep manifest")(Superstep.snapshotOf).flatten.lastOption)
}

object Superstep {
  /** Iterations between snapshots (the last and a converged one are
    * written too). */
  private val SnapshotEvery = 10

  /** A manifest line's snapshot, if it names one: (path, iteration). */
  private[graft] def snapshotOf(l: Jsonl.Obj): Option[(String, Int)] =
    l.strOrNull("snapshot").map(_ -> l.int("iter"))

  /** Classes Spark's code generator has compiled in this JVM so far (one per
    * miss of its compiled-class cache, see [[graft.Sessions]]). A step that
    * compiles more than a handful is thrashing that cache. */
  def classesCompiled: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
