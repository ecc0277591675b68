package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.BlockId

import graft.plans.Jsonl.jstr

/** Running sum of the bytes Spark's block manager holds, from
  * `SparkListenerBlockUpdated` (memory + disk size of each block's latest
  * report; an invalid storage level removes the block). This is the only
  * listener attached in untraced runs. Events arrive on the single
  * listener-bus thread; readers drain the bus first.
  */
final class BlockBytes extends SparkListener {
  private val sizes = mutable.HashMap.empty[BlockId, Long]
  private var held = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val prev = sizes.getOrElse(info.blockId, 0L)
    if (size > 0) sizes(info.blockId) = size else sizes.remove(info.blockId)
    held += size - prev
    peak = math.max(peak, held)
  }

  /** Start a new peak window at the current level. */
  def resetPeak(): Unit = synchronized { peak = held }
  def peakBytes: Long = synchronized { peak }
}

/** One traced interval. `jobs` are the [start, end] epoch-ms intervals of
  * the Spark jobs attributed to it; the task counters sum its tasks. */
final class Span(
    val id: String,
    val name: String,
    val group: String,
    val parent: String,
    val phase: String,
    val start: Long) {
  var end: Long = 0L
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskMs = 0L
  var gcMs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Attributes Spark jobs, stages and tasks to the open span.
  *
  * The caller thread carries the span id in the local property
  * [[Tracer.SpanKey]]. Spark copies local properties into threads a call
  * spawns (SparkContext's inheritable thread-local clones them at thread
  * creation; broadcast and subquery pools capture them explicitly), so jobs
  * from an operator's own helper threads land on the caller's span too.
  */
final class Tracer(runId: String) extends SparkListener {
  private val spans = mutable.LinkedHashMap.empty[String, Span]
  private val jobOpen = mutable.HashMap.empty[Int, (Span, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  def open(id: String, name: String, group: String, parent: String, phase: String): Span =
    synchronized {
      val s = new Span(id, name, group, parent, phase, System.currentTimeMillis())
      spans(id) = s
      s
    }

  def close(s: Span): Unit = synchronized { s.end = System.currentTimeMillis() }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val id = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    id.flatMap(spans.get).foreach { s =>
      jobOpen(js.jobId) = (s, js.time)
      js.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(je.jobId).foreach { case (s, t0) => s.jobs += ((t0, je.time)) }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) stageSpan.get(te.stageId).foreach { s =>
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def json: Json.V = synchronized {
    Json.Arr(spans.values.toSeq.map { s =>
      Json.Obj(
        "id" -> Json.Str(s.id), "name" -> Json.Str(s.name), "group" -> Json.Str(s.group),
        "parent" -> Json.Str(s.parent), "phase" -> Json.Str(s.phase),
        "run" -> Json.Str(runId),
        "start_ms" -> Json.Num(s.start.toDouble), "end_ms" -> Json.Num(s.end.toDouble),
        "jobs" -> Json.Arr(s.jobs.toSeq.map { case (a, b) =>
          Json.Arr(Seq(Json.Num(a.toDouble), Json.Num(b.toDouble))) }),
        "task_ms" -> Json.Num(s.taskMs.toDouble), "gc_ms" -> Json.Num(s.gcMs.toDouble),
        "tasks" -> Json.Num(s.tasks.toDouble),
        "shuffle_write_bytes" -> Json.Num(s.shuffleWriteBytes.toDouble),
        "spill_bytes" -> Json.Num(s.spillBytes.toDouble))
    })
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Minimal JSON writer for the result file run.py reads. */
object Json {
  sealed trait V
  final case class Str(s: String) extends V
  final case class Num(d: Double) extends V
  final case class Bool(b: Boolean) extends V
  final case class Arr(xs: Seq[V]) extends V
  final case class Obj(kv: (String, V)*) extends V

  def render(v: V): String = v match {
    case Str(s) => jstr(s)
    case Num(d) => if (d.isNaN || d.isInfinite) "null" else d.toString
    case Bool(b) => b.toString
    case Arr(xs) => xs.map(render).mkString("[", ",", "]")
    case Obj(kv @ _*) => kv.map { case (k, x) => jstr(k) + ":" + render(x) }.mkString("{", ",", "}")
  }
}
