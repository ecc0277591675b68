package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader for the reference's whitespace graph-file format
  * (parsed at `/root/reference/utils/file2graph.cpp:19-102`):
  *
  * {{{
  * % <num_edges> <num_nodes>     // header: EDGES FIRST (file2graph.cpp:27-28)
  * <src> <dst> [ignored weight…] // edge lines, extra tokens dropped (l.49)
  * ...
  * <u_id>                        // trailing single-token lines: the U subset
  * }}}
  *
  * The reference needs edges pre-sorted for its single-pass CSR build; a
  * declarative edge DataFrame has no such requirement, so we accept any order.
  * Vertex ids are dense 0..n-1; vertices absent from any edge line still exist.
  */
object GraphFile {

  final case class Graph(edges: DataFrame, vertices: DataFrame, numNodes: Long, numEdges: Long)

  /** Spark-native parse: returns (edges(src,dst), vertices(id,isU), n, m). */
  def read(spark: SparkSession, path: String): Graph = {
    val lines = spark.read.text(path)
      .select(split(trim(col("value")), "\\s+").as("toks"))
      .filter(size(col("toks")) > 0 && col("toks").getItem(0) =!= "")

    val header = lines.filter(col("toks").getItem(0) === "%").select("toks")
      .take(1).headOption.map(_.getSeq[String](0))
    val counts = header.collect { case Seq(_, m, n, _*) => m.toLongOption.zip(n.toLongOption) }
      .flatten.filter { case (m, n) => m >= 0 && n >= 0 }
    require(counts.isDefined, s"graph file $path: expected a '% <num_edges> <num_nodes>' header, found " +
      header.fold("no '%' line")(toks => s"'${toks.mkString(" ")}'"))
    val (m, n) = counts.get

    val edges = lines
      .filter(col("toks").getItem(0) =!= "%" && size(col("toks")) >= 2)
      .select(
        col("toks").getItem(0).cast("long").as("src"),
        col("toks").getItem(1).cast("long").as("dst"))

    val uIds = lines
      .filter(col("toks").getItem(0) =!= "%" && size(col("toks")) === 1)
      .select(col("toks").getItem(0).cast("long").as("id"))
      .distinct()

    val vertices = spark
      .range(n)
      .join(uIds.withColumn("u", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("u"), lit(false)).as("isU"))

    Graph(edges, vertices, n, m)
  }
}
