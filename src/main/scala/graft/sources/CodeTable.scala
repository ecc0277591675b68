package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The north-star ingest path (BASELINE.json `input_hint`): an Iceberg-style
  * table of source-code files
  * `(repo string, path string, commit string, lang string, content string)`,
  * from which the link graph `(srcFileId, dstFileId)` is derived by parsing
  * import/include references out of `content`.
  *
  * Two halves:
  *   - [[generate]]: deterministic synthetic instance of exactly that shape
  *     (FIXTURES.md §2) whose import lines encode a [[GraphGen]] graph — pure
  *     column algebra, so the same spec produces the same table at any scale
  *     or parallelism (the 10^12-row table is just a bigger `range`).
  *   - [[extractEdges]]: the real operator — per-language regex extraction →
  *     explode → resolve each reference to its file id via a join on the
  *     unique path stem. At scale the stem→id mapping is a broadcast-or-
  *     shuffle join Catalyst picks by size; content never shuffles (only the
  *     exploded stems do).
  *
  * Per-row invariant (input_hint): `sha = sha2(content, 256)` computed at
  * ingest must survive every downstream transformation unchanged.
  */
object CodeTable {

  val schema: StructType = StructType(Seq(
    StructField("fileId", LongType, nullable = false),
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("sha", StringType, nullable = false)))

  private val langs = Seq("scala", "java", "py", "c")
  private val extOf = Map("scala" -> "scala", "java" -> "java", "py" -> "py", "c" -> "c")

  private def langOf(id: org.apache.spark.sql.Column) =
    element_at(typedLit(langs), (pmod(xxhash64(lit(7L), id), lit(4)) + 1).cast("int"))

  /** Import statement text for a referenced stem, per language. */
  private def importLine(lang: org.apache.spark.sql.Column, stem: org.apache.spark.sql.Column) =
    when(lang === "c", concat(lit("#include \""), stem, lit(".h\"")))
      .when(lang === "py", concat(lit("import "), stem))
      .otherwise(concat(lit("import pkg."), stem))

  /** Generate the synthetic table for `spec`; file i ↔ graph vertex i, and
    * file i's content imports the stem of every out-neighbor of vertex i.
    */
  def generate(spark: SparkSession, spec: GraphSpec, filesPerRepo: Int = 64): DataFrame = {
    val edges = GraphGen.edges(spark, spec)
    val adj = edges
      .groupBy(col("src").as("fileId"))
      .agg(array_sort(collect_list(format_string("f%09d", col("dst")))).as("refs"))

    // split count sized to the table (see GraphGen.slicesFor): a tiny spec
    // otherwise fans every downstream stage out to defaultParallelism tasks
    // whose fixed per-task costs dominate the whole query
    spark.range(0, spec.numVertices, 1, GraphGen.slicesFor(spark, spec.numVertices))
      .select(col("id").as("fileId"))
      .join(adj, Seq("fileId"), "left")
      .withColumn("refs", coalesce(col("refs"), array()))
      .withColumn("lang", langOf(col("fileId")))
      // integer div (Spark's `/` on longs is floating-point — exact only
      // below ~2^52; `div` holds at any fileId)
      .withColumn("repo", format_string("repo%05d", expr(s"fileId div $filesPerRepo")))
      .withColumn("path",
        concat(format_string("src/f%09d.", col("fileId")),
          element_at(typedLit(extOf), col("lang"))))
      .withColumn("commit", substring(sha2(concat(col("repo"), col("path")), 256), 1, 40))
      .withColumn("content",
        concat_ws("\n",
          concat(lit("// graft synthetic file "), col("path")),
          concat_ws("\n", transform(col("refs"), s => importLine(col("lang"), s))),
          format_string("body %016x", xxhash64(lit(11L), col("fileId")))))
      .withColumn("sha", sha2(col("content"), 256))
      .select("fileId", "repo", "path", "commit", "lang", "content", "sha")
  }

  /** Write the code table in the layout the north-star Iceberg-style source
    * uses on disk: parquet partitioned by `lang` — the natural
    * low-cardinality predicate column — so per-language queries prune whole
    * directories at planning time (PartitionFilters in the scan), and
    * parquet row-group min/max stats serve the remaining predicates
    * (PushedFilters). A real Iceberg catalog layers snapshot/manifest
    * metadata on top of exactly this file layout; the pruning and pushdown
    * behavior the engine depends on at 100 TB is the same and is gated in
    * PlanSpec. Read it back with plain `spark.read.parquet(path)`.
    */
  def writePartitioned(files: DataFrame, path: String): Unit =
    files.write.mode("overwrite").partitionBy("lang").parquet(path)

  /** Empty frame with the code-table read schema (partition column last,
    * as a partitioned read produces it) — for empty catalog scans. */
  private[sources] def schemaOnly(spark: SparkSession): DataFrame = {
    val cols = schema.fields.filter(_.name != "lang").map(f => StructField(f.name, f.dataType)) :+
      StructField("lang", StringType)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cols))
  }

  /** Regexes per language; group 1 captures the referenced stem `f\d{9,}`. */
  private val importRe = Map(
    "scala" -> "import pkg\\.(f[0-9]{9,})",
    "java" -> "import pkg\\.(f[0-9]{9,})",
    "py" -> "import (f[0-9]{9,})",
    "c" -> "#include \"(f[0-9]{9,})\\.h\"")

  /** Derive the edge table (src, dst) from import/include references.
    * `files` needs (fileId, path, lang, content). Resolution: stem of each
    * reference joins the globally-unique stem of each path.
    */
  def extractEdges(files: DataFrame): DataFrame = {
    val pattern =
      when(col("lang") === "c", lit(importRe("c")))
        .when(col("lang") === "py", lit(importRe("py")))
        .otherwise(lit(importRe("scala")))
    val refs = files
      .select(col("fileId").as("src"),
        explode(regexp_extract_all(col("content"), pattern, lit(1))).as("stem"))
    val stems = files.select(
      regexp_extract(col("path"), "(f[0-9]{9,})", 1).as("stem"),
      col("fileId").as("dst"))
    refs.join(stems, Seq("stem")).select("src", "dst").distinct()
  }
}
