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
    // harness settings (Bench, BenchExtra, Verify)
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_PAIRS",
    "SPARK_GRAFT_BENCH_4X",
    // library knobs
    "GRAFT_VERBOSE", "GRAFT_AQE", "GRAFT_PAGE_SIZE", "GRAFT_CACHE_COMPRESS",
    "GRAFT_AQE_MIN_ROWS", "GRAFT_TINY_LOOP_MAX_ROWS")

  test("src/main/scala reads exactly the listed env knobs, each by literal name") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (${root.toAbsolutePath})")
    val anyRead = """sys\.env|System\.getenv""".r
    val namedRead =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\s*\(\s*"([^"]+)"""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val read = files.flatMap { f: Path =>
      val src = Files.readString(f)
      val names = namedRead.findAllMatchIn(src).map(_.group(1)).toList
      assert(names.size == anyRead.findAllMatchIn(src).size,
        s"$f reads the environment without a literal variable name")
      names
    }.toSet
    assert(read == allowed,
      s"unlisted: ${read -- allowed}; listed but no longer read: ${allowed -- read}")
  }
}
