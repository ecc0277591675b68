package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree statistics over an edge table — the building block the reference's
  * trimming pass computes implicitly per CSR row
  * (`/root/reference/cuda/scc_operations.cu:104-118`).
  */
object Degrees {

  /** (id, oc, ic): out- and in-degree of every id with an edge, in ONE
    * pass: each edge row explodes into (src, oc=1, ic=0) and (dst, oc=0,
    * ic=1) and the hash aggregation combines map-side. One scan + one
    * exchange of per-partition PARTIALS (≤ 2·distinct ids per partition),
    * vs. two directional aggregations that each exchange the edge table:
    * at 61M edges that second exchange was the largest term of Scc's
    * edge-build + pre-trim phase, the round-3 bench's only anti-scaling
    * segment (BASELINE.md round-3 size series).
    */
  def counts(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(
        struct(col("src").as("id"), lit(1L).as("oc"), lit(0L).as("ic")),
        struct(col("dst").as("id"), lit(0L).as("oc"), lit(1L).as("ic")))).as("d"))
      .groupBy(col("d.id").as("id"))
      .agg(sum("d.oc").as("oc"), sum("d.ic").as("ic"))

  /** (id, outDeg, inDeg, deg) for every vertex; zero where it has no edge. */
  def all(edges: DataFrame, vertices: DataFrame): DataFrame =
    vertices
      .select("id")
      .join(counts(edges), Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("oc"), lit(0L)).as("outDeg"),
        coalesce(col("ic"), lit(0L)).as("inDeg"),
        (coalesce(col("oc"), lit(0L)) + coalesce(col("ic"), lit(0L))).as("deg"))
}
