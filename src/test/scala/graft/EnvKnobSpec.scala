package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Inventory guard for environment knobs: every env var the library reads
  * is listed here, so a new knob cannot land without a visible edit (and
  * the measurement that defends it).
  */
class EnvKnobSpec extends AnyFunSuite {
  private val allowed = Set(
    // harness settings (Bench, Verify)
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_PAIRS",
    "SPARK_GRAFT_BENCH_4X",
    // library knobs
    "GRAFT_VERBOSE")

  /** Every source file under src/main/scala with its text. */
  private def sources: List[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (${root.toAbsolutePath})")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(f => f -> Files.readString(f))
  }

  test("src/main/scala reads exactly the listed env knobs, each by literal name") {
    val anyRead = """sys\.env|System\.getenv""".r
    val namedRead =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\s*\(\s*"([^"]+)"""".r
    val read = sources.flatMap { case (f, src) =>
      val names = namedRead.findAllMatchIn(src).map(_.group(1)).toList
      assert(names.size == anyRead.findAllMatchIn(src).size,
        s"$f reads the environment without a literal variable name")
      names
    }.toSet
    assert(read == allowed,
      s"unlisted: ${read -- allowed}; listed but no longer read: ${allowed -- read}")
  }

  /** `Dataset.localCheckpoint` keeps the source plan's statistics and runs
    * through AQE, a query-stage job per exchange; `GraftShims.checkpoint`
    * (through `CheckpointArena`) is graft's one checkpoint.
    */
  test("src/main/scala checkpoints only through GraftShims") {
    val call = """localCheckpoint\(""".r
    val callers = sources.filter { case (f, src) =>
      f.getFileName.toString != "GraftShims.scala" && call.findFirstIn(src).isDefined
    }.map(_._1)
    assert(callers.isEmpty, s"localCheckpoint called in: ${callers.mkString(", ")}")
  }

  /** A persisted plan with an exchange is cached through AQE, a query-stage
    * job per exchange, where a `CheckpointArena` checkpoint is one job; and
    * an operator's jobs run on its caller's thread, under its phase label.
    */
  test("src/main/scala/graft/operators neither persists nor starts threads") {
    val call = """\bpersist\(|\bnew Thread\b""".r
    val callers = sources.filter { case (f, src) =>
      f.startsWith(Paths.get("src/main/scala/graft/operators")) && call.findFirstIn(src).isDefined
    }.map(_._1)
    assert(callers.isEmpty, s"persist( or new Thread in: ${callers.mkString(", ")}")
  }

  /** Manifests have one reader, `plans/Jsonl`, on Jackson's tree model: a
    * regex that reads JSON keys is a second grammar that drifts from the
    * writers (one such reader skipped entries whose path held an escaped
    * quote; another split schema names on `]}`).
    */
  test("src/main/scala reads JSON through plans/Jsonl alone") {
    // a triple-quoted literal holds no """; a plain one ends at its first unescaped "
    val regexLiteral = """("{3}(?:(?!"{3})[\s\S])*"{3,}|"(?:[^"\\\n]|\\.)*")\s*\.r\b""".r
    val keyRegexes = sources.flatMap { case (f, src) =>
      regexLiteral.findAllMatchIn(src).map(_.group(1)).filter(_.contains("\":")).map(f -> _)
    }
    assert(keyRegexes.isEmpty, s"regex literals reading JSON keys: ${keyRegexes.mkString(", ")}")
    val jackson = sources.filter { case (f, src) =>
      src.contains("com.fasterxml.jackson") && !f.endsWith(Paths.get("graft/plans/Jsonl.scala"))
    }.map(_._1)
    assert(jackson.isEmpty, s"com.fasterxml.jackson used outside plans/Jsonl: ${jackson.mkString(", ")}")
  }

  /** The library shares its caller's session, and other threads plan in it
    * concurrently: a save-set-restore of session conf races them (a run
    * restoring its saved value after another run changed it leaves the
    * session with the wrong setting). Planning choices are made per plan.
    */
  test("src/main/scala never writes session conf") {
    val write = """conf\.(?:set|unset)""".r
    val writers = sources.filter { case (_, src) => write.findFirstIn(src).isDefined }.map(_._1)
    assert(writers.isEmpty, s"session conf written in: ${writers.mkString(", ")}")
  }
}
