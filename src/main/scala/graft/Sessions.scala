package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so every entry point (tests, Bench, Verify)
  * gets the same scale-oriented defaults: AQE on (runtime re-plan + skew-join
  * splitting), shuffle partitions sized to the actual core count rather than
  * the 200 default, and UTC so timestamp results match the DuckDB oracle.
  *
  * AQE serves one-shot queries only: a checkpoint plans and runs its plan
  * without it (see [[org.apache.spark.sql.GraftShims]]), so superstep loops
  * never go through AQE, and graft never changes a session's conf.
  */
object Sessions {
  /** Entries of Spark's JVM-wide compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU keyed by (thread context classloader, generated source), so
    * executor task threads compile their own copy of a driver-side class.
    * One pass cycles through more keys than 100, so at the default almost
    * every class was recompiled on every pass: a `linkgraph` benchmark run
    * compiled 916 classes, ~288 per timed pass; at this size it compiles
    * 314, ~4 per timed pass.
    *
    * Distinct keys measured in one JVM with an unbounded cache (4-core
    * box): a `linkgraph` benchmark run 320; an `sf-pipeline` run 169; the
    * 21 non-graph `SparkEntry` queries 276; the 8 graph queries 377 (445
    * after three passes); the whole test suite 2,540. The value is over
    * twice the largest because the LRU evicts per segment, before the
    * total reaches the limit. 1,000 already held the `linkgraph` set.
    *
    * Static conf: Spark reads it once per JVM, when `CodeGenerator` first
    * loads, so it takes effect only if this factory builds the session
    * before the JVM's first query.
    */
  val CodegenCacheEntries = 6000

  def local(cores: Int, shufflePartitions: Option[Int] = None): SparkSession = {
    val sp = shufflePartitions.getOrElse(cores)
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", sp.toString)
      // Tungsten page size: the derived default on a big-heap/many-core JVM
      // lands at 32 MB, and a RowBasedKeyValueBatch (hash-agg fast path)
      // allocates one full page PER TASK — pure allocation+zeroing overhead
      // on small stages (thread-dump evidence, OPTIMIZATION_r06.md). 4 MB
      // removes that fixed cost and A/B'd POSITIVE at bench scale too
      // (15.3M-edge SCC @32: walls 36.9/38.7 s vs 41.0-41.9 s, gcSec
      // ~110 vs ~230 — the 32 MB page churn was feeding the collector).
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
