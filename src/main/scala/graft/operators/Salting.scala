package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew handling for power-law graphs (north_rule: "partitioning /
  * shuffle / skew handled explicitly"; SURVEY.md §4(b)).
  *
  * Layered defense:
  *   1. AQE skew-join splitting (ON session-wide, [[graft.Sessions]])
  *      re-splits oversized sort-merge partitions in one-shot queries only:
  *      superstep steps are planned without AQE inside `GraftShims.checkpoint`
  *      and the BFS hop joins are `shuffle_hash`, so loops rely on 2 and 3.
  *   2. Map-side partial aggregation makes sum/min/count groupBys
  *      hub-tolerant without help (Spark hash aggregates combine before the
  *      shuffle), so degree counting, PageRank contribution sums, and the
  *      SCC round-0 boolean hit-flag aggregation need no salting.
  *   3. What neither fixes: set/list aggregation buffers for a key with
  *      MANY DISTINCT values. collect_set does partially aggregate (the
  *      map side dedups rows), but the reduce-side buffer for a hub key
  *      still accumulates every distinct value in one task.
  *      [[saltedDirectionalCollectSet]] splits each hub key into
  *      `saltFactor` sub-keys (salting by VALUE hash, so distinct values
  *      spread), then flattens+dedups per key.
  *
  * Live call site: [[Scc.components]]' multi-pivot BFS pivot-set
  * aggregation switches to [[saltedDirectionalCollectSet]] when the
  * graph's max degree exceeds its `hubDegreeThreshold` (SccSpec "skewed
  * hub graph" exercises the path through a two-star round-1 reach).
  */
object Salting {

  /** Skew-safe twin of `groupBy(key).agg(collect_set(when(dir, value)),
    * collect_set(when(!dir, value)))` — builds BOTH direction sets in the
    * same two-level shuffle (`collect_set` skips the nulls `when` produces
    * for the other direction): per-(key, salt) partial sets, then
    * flatten+dedup per key. One exchange instead of two; used by the SCC
    * BFS hop.
    */
  def saltedDirectionalCollectSet(
      df: DataFrame, key: String, value: String, dirCol: String,
      fwdName: String, bwdName: String, saltFactor: Int = 32): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(col(value)), lit(saltFactor)))
      .groupBy(col(key), col("_salt"))
      .agg(collect_set(when(col(dirCol), col(value))).as("_pf"),
        collect_set(when(!col(dirCol), col(value))).as("_pb"))
      .groupBy(col(key))
      .agg(array_distinct(flatten(collect_list(col("_pf")))).as(fwdName),
        array_distinct(flatten(collect_list(col("_pb")))).as(bwdName))
}
