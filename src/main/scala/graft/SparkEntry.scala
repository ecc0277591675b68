package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity, TextAnalysis}
import graft.operators.{Degrees, LabelProp, PageRank, Scc, Triangles, Wcc}
import graft.sources.{CodeTable, GraphSpec}
import graft.streaming.EventStream

/** Driver contract (SURVEY.md §7): one entry per implemented operator, with
  * a DuckDB-equivalent oracle where ANSI SQL can express the semantics.
  *
  * Conventions keeping the hash-compare honest:
  *   - identical column names/aliases on both sides;
  *   - deterministic ORDER BY on both sides;
  *   - double aggregates rounded (4–6 dp) on both sides;
  *   - time bucketing via integer division of epoch micros (exact in both);
  *   - booleans cast to int (engine-portable hashing).
  *
  * The shared derived graph: vertices = customers (dense 0..N-1 custkeys),
  * edges from a sparse deterministic order->customer mapping
  * (`o_orderkey % 7 = 0`, dst = (o_orderkey*17) mod N) — sparse enough for
  * recursive-CTE oracles, structured enough for nontrivial components.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // customer-count cache: derivedEdges needs |V| as a literal (the oracle
  // SQL embeds the same scalar subquery); without the cache every query
  // CONSTRUCTION paid a full-scan driver action before the timed plan ran.
  // Weak keys on the session so stopped bench sessions don't pin entries
  // (VERDICT r3 "What's wrong" #4).
  private val nCustomerCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Long]]())

  /** Derived edge table (src, dst) over customer vertices. */
  private def derivedEdges(spark: SparkSession, dir: String): DataFrame = {
    val perSession = nCustomerCache.synchronized {
      nCustomerCache.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty[String, Long])
    }
    val n = perSession.getOrElseUpdate(dir, t(spark, dir, "customer").count())
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_custkey").as("src"), ((col("o_orderkey") * 17) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  private def customerVertices(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_custkey").as("id"))

  /** Deletes the catalog table at `table`, if any: the catalog queries
    * rebuild theirs from scratch each call, so snapshot 0 is deterministic. */
  private def dropTable(table: String): Unit = {
    val dir = java.nio.file.Paths.get(table)
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
  }

  /** Rebuilds `table` holding `files` as snapshot 0, REBALANCEd before the
    * write (guide §6): AQE sizes the write partitions by bytes — one
    * partition for a small table, advisory-sized chunks at scale — so the
    * commit lands one file per lang instead of one per input partition and
    * lang, whose per-file open cost dominated every downstream read (stats
    * agg + manifest scan ran ~260 tasks for ~500 rows at 32 partitions).
    * Returns the snapshot id. */
  private[graft] def recreateTable(s: SparkSession, table: String, files: DataFrame): Int = {
    dropTable(table)
    graft.sources.TableCatalog.commitOverwrite(s, table, files.hint("rebalance"))
  }

  /** SQL fragment mirroring [[derivedEdges]] exactly. */
  private val edgesSql =
    """edges AS (
      |  SELECT DISTINCT o_custkey AS src, (o_orderkey*17) % (SELECT count(*) FROM customer) AS dst
      |  FROM orders
      |  WHERE o_orderkey % 7 = 0 AND o_custkey <> (o_orderkey*17) % (SELECT count(*) FROM customer))""".stripMargin

  /** Flagship query (driver smoke-checks rows>0 on sf0.001): full engine
    * path — synthesize the source-code table, extract import edges, run the
    * reference SCC query, summarize accepted components.
    */
  def entry(spark: SparkSession): DataFrame = {
    val spec = GraphSpec(numCycles = 64, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 42L)
    val files = CodeTable.generate(spark, spec)
    val edges = CodeTable.extractEdges(files)
    val vertices = files.select(col("fileId").as("id"),
      (pmod(xxhash64(lit(46L), col("fileId")), lit(5)) < 3).as("isU"))
    val acc = Scc.accepted(spark, edges, vertices, Scc.FullGraph)
    acc.groupBy("accepted").agg(
      countDistinct("comp").as("nComps"),
      count("*").as("nVertices"))
      .orderBy("accepted")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters / projections ----
    "q_scan_filter" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .orderBy("l_orderkey", "l_partkey", "l_quantity")),

    // ---- aggregation (TPC-H Q1 shape) ----
    "q_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- multi-join + top-k ----
    "q_join_topk" -> ((s, d) =>
      t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("n_name"))
        .limit(10)),

    // ---- window functions ----
    "q_window" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("rn"), col("event_id"))
        .orderBy("user_id", "rn")
    }),

    // ---- graph: degrees ----
    "q_degree_topk" -> ((s, d) =>
      Degrees.all(derivedEdges(s, d), customerVertices(s, d))
        .orderBy(col("deg").desc, col("id"))
        .limit(20)
        .select(col("id"), col("outDeg").as("out_deg"), col("inDeg").as("in_deg"),
          col("deg"))),

    // ---- graph: triangle count ----
    "q_triangles" -> ((s, d) =>
      Triangles.total(s, derivedEdges(s, d))),

    // ---- graph: WCC ----
    "q_wcc" -> ((s, d) =>
      Wcc.run(s, derivedEdges(s, d), customerVertices(s, d)).components
        .orderBy("id")),

    // ---- graph: SCC decomposition ----
    "q_scc" -> ((s, d) =>
      Scc.components(s, derivedEdges(s, d), customerVertices(s, d)).components
        .orderBy("id")),

    // ---- graph: the reference's accepted-SCC query (full-G semantics) ----
    "q_scc_accepted" -> ((s, d) => {
      val verts = customerVertices(s, d)
        .withColumn("isU", col("id") % 5 < 2)
      Scc.accepted(s, derivedEdges(s, d), verts, Scc.FullGraph)
        .select(col("id"), col("comp"), col("accepted").cast("int").as("accepted"))
        .orderBy("id")
    }),

    // ---- graph: PageRank, FIXED 20 iterations so the DuckDB oracle (an
    // unrolled 20-step iteration) computes the identical sequence; ranks
    // rounded to 6 dp BEFORE ranking so cross-engine float-sum order can't
    // flip the ordering ----
    "q_pagerank_topk" -> ((s, d) =>
      PageRank.run(s, derivedEdges(s, d), customerVertices(s, d),
        tol = 0.0, maxIter = 20).ranks
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("id"))
        .limit(20)),

    // ---- dedup: exact ----
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("groupId").as("group_id"),
          col("groupSize").as("group_size"),
          col("isCanonical").cast("int").as("is_canonical"))
        .orderBy("doc_id")),

    // ---- dedup: n-gram jaccard (pairs among first 20 docs) ----
    "q_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      val l = docs.select(col("doc_id").as("a"), col("sh").as("shA"))
      val r = docs.select(col("doc_id").as("b"), col("sh").as("shB"))
      l.join(r, col("a") < col("b"))
        // filter on the UNROUNDED jaccard (== shared-shingle test), matching
        // the oracle's `inter > 0`: a true jaccard in (0, 5e-7) rounds to
        // 0.000000 and would otherwise be dropped here but kept (as 0.0) by
        // the oracle — a row-count mismatch at a pure display-rounding
        // boundary
        .select(col("a"), col("b"), Dedup.jaccard(col("shA"), col("shB")).as("j"))
        .filter(col("j") > 0)
        .select(col("a"), col("b"), round(col("j"), 6).as("jaccard"))
        .orderBy("a", "b")
    }),

    // ---- dedup: MinHash LSH near-dup pairs. Output contract: all pairs
    // with exact shingle-Jaccard ≥ 0.8 (precision 1 because candidates are
    // verified with exact Jaccard; recall 1 − (1−j³)^11: miss 4e-4 at
    // j = 0.8, 6e-7 at j = 0.9 — the corpus's near-dup pairs are all
    // ≥ 0.9, so the DuckDB all-pairs oracle matches hash-exactly; 3-row
    // bands keep the band-collision noise rate at j³ for the ~0.1-jaccard
    // background pairs) ----
    "q_minhash_dups" -> ((s, d) =>
      Dedup.minhashDuplicates(t(s, d, "documents"), col("doc_id"), col("text"),
        bands = 11, rowsPerBand = 3, threshold = 0.8)
        .orderBy("a", "b")),

    // ---- dedup: SimHash near-dup pairs. maxDistance=6 → 7-chunk pigeonhole
    // bucketing with guaranteed recall 1 for d ≤ 6 (Dedup.simhashDuplicates).
    // Oracled via the signature hand-off (Verify.auxSimhashSigsPath): DuckDB
    // brute-forces hamming over the dumped signatures — the bucketed pairs
    // must equal the all-pairs answer exactly.
    "q_simhash_dups" -> ((s, d) =>
      Dedup.simhashDuplicates(t(s, d, "documents"), col("doc_id"), col("text"),
        maxDistance = 6)
        .orderBy("a", "b")),

    // ---- dedup: embedding cosine near-dup pairs (EXACT via the blocked
    // equi-join all-pairs — oracle-able; the approximate LSH variant is
    // exercised in tests on clustered fixtures where LSH is meaningful) ----
    "q_embedding_dups" -> ((s, d) =>
      Dedup.embeddingDuplicates(t(s, d, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.5)
        .orderBy("a", "b")),

    // ---- similarity: brute-force cosine top-k ----
    "q_ann_topk" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      Similarity.bruteForceTopK(embs.filter(col("vec_id") < 10), embs, 5)
        .select(col("queryId").as("query_id"), col("rank"),
          col("neighborId").as("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    // ---- similarity: LSH ANN (approximate by design; oracled via the
    // candidate hand-off, Verify.auxAnnCandidatesPath: DuckDB re-ranks the
    // dumped candidate pairs by its own exact cosine — the rerank/top-k
    // stage must reproduce the query output exactly) ----
    "q_ann_lsh" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      Similarity.lshTopK(embs.filter(col("vec_id") < 10), embs, 5,
        numPlanes = 6, probes = 6)
        .select(col("queryId").as("query_id"), col("rank"),
          col("neighborId").as("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    // ---- text analysis: token counts + ratios ----
    "q_text_stats" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextAnalysis.meanTokenLen(col("text")), 6).as("mean_token_len"))
        .orderBy("doc_id")),

    // ---- text analysis: quality score + language id + subword count —
    // all pure deterministic arithmetic/regex, fully oracled ----
    "q_text_quality" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        round(TextAnalysis.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"))
        .orderBy("doc_id")),

    // ---- text analysis: content fingerprints (xxhash64-based values are
    // engine-specific; the oracle verifies their EQUIVALENCE STRUCTURE via
    // the hand-off at Verify.auxFingerprintsPath — fingerprint groups must
    // match DuckDB's independent canonical-token-bag/sequence groups; also
    // invariant-tested in PipelineSpec) ----
    "q_text_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.rollingHash(col("text")).as("rolling_hash"))
        .orderBy("doc_id")),

    // ---- events: tumbling-window aggregation (5 min) ----
    "q_events_window" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        // exact integer bucketing: Spark's `/` is true division (double)
        .withColumn("bucket", ((col("us") - pmod(col("us"), lit(300000000L))) / 300000000L)
          .cast("long"))
        .drop("us")
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
        .orderBy("bucket", "event_type")),

    // ---- events: as-of join — each purchase matched to the user's latest
    // view at-or-before it ((ts, event_id) order; union+window plan, one
    // shuffle — see functions.AsOf) ----
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.functions.AsOf.lastBefore(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_id").as("view_event_id"), col("value").as("view_value")),
        keys = Seq("user_id"), tsCol = "ts", seqCol = "event_id",
        payload = Seq("view_event_id", "view_value"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_event_id"), lit(-1L)).as("view_event_id"),
          round(coalesce(col("view_value"), lit(0.0)), 4).as("view_value"))
        .orderBy("event_id")
    }),

    // ---- events: the SAME as-of semantics through the time-bucketed
    // carry-forward plan (functions.AsOf.lastBeforeBucketed) — the hot-key
    // scale path where one key's rows spread over (key, 1-hour bucket)
    // tasks instead of one task's sort. Oracle is the identical ASOF SQL
    // as q_asof_join: the decomposition must be exactly equivalent. ----
    "q_asof_bucketed" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      graft.functions.AsOf.lastBeforeBucketed(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "us"),
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("us"), col("event_id"),
            col("event_id").as("view_event_id"), col("value").as("view_value")),
        keys = Seq("user_id"), tsCol = "us", seqCol = "event_id",
        payload = Seq("view_event_id", "view_value"),
        bucketWidth = 3600000000L)
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_event_id"), lit(-1L)).as("view_event_id"),
          round(coalesce(col("view_value"), lit(0.0)), 4).as("view_value"))
        .orderBy("event_id")
    }),

    // ---- events: gap sessionization (batch form) ----
    "q_sessionize" -> ((s, d) =>
      EventStream.sessionizeBatch(t(s, d, "events"), gapMs = 10 * 60 * 1000)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n").as("n_events"),
          round(sum("total"), 4).as("total_value"))
        .orderBy("user_id")),

    // ---- ingest: import-edge extraction from the code table (rows-only:
    // table is synthesized Spark-side) ----
    "q_import_edges" -> ((s, _) => {
      val spec = GraphSpec(numCycles = 64, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 42L)
      val files = CodeTable.generate(s, spec)
      CodeTable.extractEdges(files)
        .join(files.select(col("fileId").as("src"), col("lang")), Seq("src"))
        .groupBy("lang").agg(count(lit(1)).as("n_edges"))
        .orderBy("lang")
    }),

    // ---- catalog: snapshot commit + manifest-pruned scan through the
    // Iceberg-style TableCatalog. The table is rebuilt from scratch each
    // call (deterministic snap-0), scanned with metadata-side partition
    // pruning to two of four languages; the oracle reads the SAME
    // snapshot's data files directly (hive-partitioned glob) — verifying
    // that the catalog's manifest-driven read returns exactly the
    // committed rows, sha invariant included.
    "q_catalog_scan" -> ((s, _) => {
      val spec = GraphSpec(numCycles = 64, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 42L)
      recreateTable(s, Verify.auxCatalogTablePath, CodeTable.generate(s, spec))
      graft.sources.TableCatalog.scan(s, Verify.auxCatalogTablePath,
        langs = Some(Seq("c", "py")))
        .select(col("fileId").as("file_id"), col("lang"), col("sha"))
        .orderBy("file_id")
    }),

    // ---- catalog: file-level column statistics (Iceberg lower_bounds /
    // upper_bounds). The commit range-partitions its input on fileId so
    // each data file carries a tight [lo, hi]; the scan hands Spark only
    // files whose bounds intersect the predicate and re-applies the
    // predicate row-level. The oracle reads EVERY data file of the same
    // snapshot with the same WHERE — so a pruning bug that drops a file
    // with matching rows (or a residual bug that leaks non-matching rows)
    // is a hash mismatch.
    "q_catalog_stats" -> ((s, _) => {
      val spec = GraphSpec(numCycles = 64, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 7L)
      dropTable(Verify.auxStatsTablePath)
      graft.sources.TableCatalog.commitOverwrite(s, Verify.auxStatsTablePath,
        CodeTable.generate(s, spec), clusterBy = Seq("fileId"), clusterParts = 8)
      graft.sources.TableCatalog.scan(s, Verify.auxStatsTablePath,
        predicates = Seq(graft.sources.TableCatalog.LongBetween("fileId", 100L, 220L)))
        .select(col("fileId").as("file_id"), col("lang"), col("sha"))
        .orderBy("file_id")
    }),

    // ---- catalog: schema evolution (Iceberg id-based column mapping).
    // snap-0 commits the base table; renameColumn(repo→repository) and
    // addColumn(stars bigint) evolve the schema; a second batch appends
    // files written under the NEW schema. The scan must reconcile both
    // file generations to the current schema by FIELD ID — old files
    // serve `repository` from their physical `repo` bytes and project
    // `stars` as null. The oracle reads ALL data files union_by_name and
    // mirrors the fid mapping with coalesce(repository, repo) — a
    // reconciliation bug (wrong mapping, missed null fill, dropped-column
    // resurrection) is a hash mismatch.
    "q_catalog_evolve" -> ((s, _) => {
      val t = Verify.auxEvolveTablePath
      val spec = GraphSpec(numCycles = 64, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 42L)
      // rebalance-before-write on both generations: see recreateTable
      recreateTable(s, t, CodeTable.generate(s, spec))
      graft.sources.TableCatalog.renameColumn(t, "repo", "repository")
      graft.sources.TableCatalog.addColumn(t, "stars", "bigint")
      val batch2 = CodeTable.generate(s,
          GraphSpec(numCycles = 48, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 11L))
        .withColumn("fileId", col("fileId") + 100000L) // disjoint ids → stable sort
        .withColumnRenamed("repo", "repository")
        .withColumn("stars", col("fileId") % 50)
      graft.sources.TableCatalog.commitAppend(s, t, batch2.hint("rebalance"))
      graft.sources.TableCatalog.scan(s, t)
        .select(col("fileId").as("file_id"), col("repository"), col("stars"),
          col("lang"), col("sha"))
        .orderBy("file_id")
    }),

    // Seeded label propagation over the import-edge graph: every 10th file
    // carries its language as a clamped seed label; 3 synchronous
    // majority-of-in-neighbors rounds (min-label tie-break) spread it along
    // imports. Deterministic, so the oracle unrolls the same recurrence.
    "q_label_prop" -> ((s, _) => {
      val spec = GraphSpec(numCycles = 64, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 42L)
      val files = CodeTable.generate(s, spec)
      val langId = when(col("lang") === "c", 0L).when(col("lang") === "py", 1L)
        .when(col("lang") === "java", 2L).otherwise(3L)
      LabelProp.run(s,
        CodeTable.extractEdges(files),
        files.select(col("fileId").as("id")),
        files.filter(col("fileId") % 10 === 0)
          .select(col("fileId").as("id"), langId.as("label")),
        iterations = 3)
        .labels
        .orderBy("id")
    }))

  /** DuckDB PageRank oracle: the 20-iteration recurrence unrolled as chained
    * CTEs (portable — needs no recursive-aggregate support), mirroring
    * [[graft.operators.PageRank.run]] term by term, with the SAME IEEE
    * operation order (all constants forced to DOUBLE so DuckDB's DECIMAL
    * literals can't change the arithmetic).
    */
  private def pagerankSql(iters: Int): String = {
    val steps = (0 until iters).map { k =>
      s"""pr${k + 1} AS MATERIALIZED (
         |  SELECT v.id,
         |    (1.0::DOUBLE - 0.85::DOUBLE)/(SELECT n FROM nn)
         |      + 0.85::DOUBLE * (coalesce(c.contrib, 0.0::DOUBLE) + d.mass/(SELECT n FROM nn)) AS rank
         |  FROM verts v
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.rank / v2.od) AS contrib
         |             FROM pr$k p JOIN verts v2 ON p.id = v2.id
         |             JOIN edges e ON e.src = p.id
         |             GROUP BY e.dst) c ON v.id = c.id
         |  CROSS JOIN (SELECT coalesce(sum(p.rank), 0.0::DOUBLE) AS mass
         |              FROM pr$k p JOIN verts v3 ON p.id = v3.id WHERE v3.od = 0) d)""".stripMargin
    }.mkString(",\n")
    // edges/nn/verts are MATERIALIZED: DuckDB would otherwise inline each
    // CTE at every one of the ~60 references and re-open the parquet files
    // each time — blowing the process fd limit on the 20-step chain.
    val edgesMat = edgesSql.replaceFirst("edges AS \\(", "edges AS MATERIALIZED (")
    s"""WITH $edgesMat,
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM customer),
       |odeg AS (SELECT src AS id, count(*) AS od FROM edges GROUP BY src),
       |verts AS MATERIALIZED (SELECT c_custkey AS id, coalesce(odeg.od, 0) AS od
       |          FROM customer LEFT JOIN odeg ON c_custkey = odeg.id),
       |pr0 AS (SELECT id, (SELECT 1.0::DOUBLE / n FROM nn) AS rank FROM verts),
       |$steps
       |SELECT id, rank FROM (SELECT id, round(rank, 6) AS rank FROM pr$iters)
       |ORDER BY rank DESC, id LIMIT 20""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_pagerank_topk" -> pagerankSql(20),

    // Catalog hand-off: q_catalog_scan commits exactly one snapshot at a
    // freshly-wiped fixed path and reads it back through the manifest; the
    // oracle reads the same snapshot's data files via a hive-partitioned
    // glob (data files live under a commit-unique data/w-<uuid>/ prefix)
    // restricted to the pruned languages — the catalog read must return
    // exactly the committed rows.
    "q_catalog_scan" ->
      s"""SELECT fileId AS file_id, lang, sha
        |FROM read_parquet('${Verify.auxCatalogTablePath}/data/w-*/lang=*/*.parquet',
        |                  hive_partitioning = true)
        |WHERE lang IN ('c', 'py')
        |ORDER BY file_id""".stripMargin,

    // Stats-pruning hand-off: DuckDB reads ALL of the snapshot's data files
    // (no pruning) and filters — the stats-pruned catalog scan must return
    // exactly these rows.
    "q_catalog_stats" ->
      s"""SELECT fileId AS file_id, lang, sha
        |FROM read_parquet('${Verify.auxStatsTablePath}/data/w-*/lang=*/*.parquet',
        |                  hive_partitioning = true)
        |WHERE fileId BETWEEN 100 AND 220
        |ORDER BY file_id""".stripMargin,

    // Schema-evolution hand-off: DuckDB reads BOTH file generations
    // union_by_name (old files surface `repo` + null `repository`/`stars`;
    // new files the inverse) and reconstructs the fid mapping as
    // coalesce(repository, repo) — the catalog scan's id-based
    // reconciliation must produce exactly these rows.
    "q_catalog_evolve" ->
      s"""SELECT fileId AS file_id, coalesce(repository, repo) AS repository,
        |  stars, lang, sha
        |FROM read_parquet('${Verify.auxEvolveTablePath}/data/w-*/lang=*/*.parquet',
        |                  hive_partitioning = true, union_by_name = true)
        |ORDER BY file_id""".stripMargin,

    // Signature hand-off (Verify.auxSimhashSigsPath): brute-force hamming
    // over the dumped per-document signatures. The query's 7-chunk
    // pigeonhole bucketing claims recall 1 for distance ≤ 6 — so its pairs
    // must equal this all-pairs answer exactly.
    "q_simhash_dups" ->
      s"""WITH sig AS (
        |  SELECT * FROM read_parquet('${Verify.auxSimhashSigsPath}/*.parquet'))
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |  bit_count(xor(l.sig, r.sig)) AS distance
        |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.sig, r.sig)) <= 6
        |ORDER BY a, b""".stripMargin,

    // Candidate hand-off (Verify.auxAnnCandidatesPath): DuckDB recomputes
    // every candidate's cosine with its own arithmetic and the WHOLE result
    // is gated on max|duck − engine| < 1e-9 — scoring independently
    // verified — then ranks on the verified engine value quantized exactly
    // as the query ranks (round 6dp, neighbor_id ties), so a true cosine
    // sitting on a cross-engine rounding boundary can't flip ranks and
    // flake the gate (ADVICE r3).
    "q_ann_lsh" ->
      s"""WITH cand AS (
        |  SELECT * FROM read_parquet('${Verify.auxAnnCandidatesPath}/*.parquet')),
        |scored AS (
        |  SELECT cand.query_id, cand.neighbor_id, cand.engine_cosine,
        |    list_dot_product(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(n.embedding::DOUBLE[], n.embedding::DOUBLE[]))) AS duck_cosine
        |  FROM cand JOIN embeddings q ON cand.query_id = q.vec_id
        |            JOIN embeddings n ON cand.neighbor_id = n.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(engine_cosine, 6) DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked
        |WHERE rank <= 5
        |  AND (SELECT coalesce(max(abs(duck_cosine - engine_cosine)), 1) FROM scored) < 1e-9
        |ORDER BY query_id, rank""".stripMargin,

    // Fingerprint hand-off (Verify.auxFingerprintsPath): the hash VALUES are
    // engine-specific, so the oracle verifies their equivalence structure —
    // fingerprint-equality groups must coincide with DuckDB's independent
    // canonical-token-bag groups (order-insensitive) and rolling_hash groups
    // with its token-sequence groups (order-sensitive). Rows violating
    // either bijection are dropped, failing the row-count compare.
    "q_text_fingerprint" ->
      s"""WITH fp AS (
        |  SELECT * FROM read_parquet('${Verify.auxFingerprintsPath}/*.parquet')),
        |keys AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS bag_key,
        |    md5(array_to_string(tk, ' ')) AS seq_key
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
        |            t -> len(t) > 0) AS tk
        |        FROM documents)),
        |fgrp AS (SELECT fingerprint AS f, min(doc_id) AS g FROM fp GROUP BY 1),
        |bgrp AS (SELECT bag_key AS k, min(doc_id) AS g FROM keys GROUP BY 1),
        |rgrp AS (SELECT rolling_hash AS f, min(doc_id) AS g FROM fp GROUP BY 1),
        |sgrp AS (SELECT seq_key AS k, min(doc_id) AS g FROM keys GROUP BY 1)
        |SELECT fp.doc_id, fp.fingerprint, fp.rolling_hash
        |FROM fp JOIN keys USING (doc_id)
        |JOIN fgrp ON fp.fingerprint = fgrp.f
        |JOIN bgrp ON keys.bag_key = bgrp.k
        |JOIN rgrp ON fp.rolling_hash = rgrp.f
        |JOIN sgrp ON keys.seq_key = sgrp.k
        |WHERE fgrp.g = bgrp.g AND rgrp.g = sgrp.g
        |ORDER BY fp.doc_id""".stripMargin,

    "q_minhash_dups" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks)-1),
        |             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents)),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b,
        |    len(list_intersect(l.sh, r.sh)) AS inter,
        |    len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS uni
        |  FROM sh l JOIN sh r
        |    ON l.doc_id < r.doc_id
        |   -- exact size prefilter: jaccard >= 0.8 (= 4/5) forces
        |   -- 5*min(|A|,|B|) >= 4*max(|A|,|B|); skips the intersect for
        |   -- the overwhelming majority of pairs without changing results
        |   AND len(l.sh) * 5 >= len(r.sh) * 4 AND len(r.sh) * 5 >= len(l.sh) * 4)
        |SELECT a, b, round(inter * 1.0 / uni, 6) AS jaccard
        |FROM pairs WHERE uni > 0 AND round(inter * 1.0 / uni, 6) >= 0.8
        |ORDER BY a, b""".stripMargin,

    "q_embedding_dups" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nn
        |  FROM embeddings)
        |SELECT a, b, cosine FROM (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    round(list_dot_product(l.e, r.e) / (l.nn * r.nn), 6) AS cosine
        |  FROM v l JOIN v r ON l.vec_id < r.vec_id)
        |WHERE cosine >= 0.5 ORDER BY a, b""".stripMargin,

    "q_text_quality" -> {
      val markerList = TextAnalysis.langMarkers.map { case (lang, ms) =>
        lang -> ms.map(m => s"'$m'").mkString("[", ",", "]")
      }
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0) AS toks,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> len(t) > 0) AS ltoks,
        |    len(regexp_replace(text, '\\s', '', 'g')) AS non_space
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    least(len(text) / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        |    CASE WHEN non_space > 0
        |      THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / non_space
        |      ELSE 0.0::DOUBLE END AS alpha_r,
        |    CASE WHEN non_space > 0
        |      THEN (len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / non_space
        |      ELSE 0.0::DOUBLE END AS punct_r,
        |    CASE WHEN len(toks) > 0
        |      THEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)
        |      ELSE 0.0::DOUBLE END AS word_len,
        |    len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]')) AS n_subwords,
        |    len(list_filter(ltoks, t -> list_contains(${markerList("de")}, t))) AS h_de,
        |    len(list_filter(ltoks, t -> list_contains(${markerList("en")}, t))) AS h_en,
        |    len(list_filter(ltoks, t -> list_contains(${markerList("es")}, t))) AS h_es,
        |    len(list_filter(ltoks, t -> list_contains(${markerList("fr")}, t))) AS h_fr,
        |    len(list_filter(ltoks, t -> list_contains(${markerList("zh")}, t))) AS h_zh
        |  FROM base)
        |SELECT doc_id,
        |  round(len_score * 0.3::DOUBLE + alpha_r * 0.3::DOUBLE
        |    + (CASE WHEN word_len >= 3 AND word_len <= 10 THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END) * 0.2::DOUBLE
        |    + (CASE WHEN punct_r < 0.2::DOUBLE THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END) * 0.2::DOUBLE, 6) AS quality,
        |  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |    WHEN h_zh = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
        |    WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |    WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |    WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |    ELSE 'de' END AS lang_guess,
        |  n_subwords,
        |  round(alpha_r, 6) AS alpha_ratio,
        |  round(punct_r, 6) AS punct_ratio
        |FROM parts ORDER BY doc_id""".stripMargin
    },

    // Verify.main persists the Spark-generated code table to this fixed
    // path before dumping queries; the oracle re-derives the edges from the
    // SAME rows with DuckDB's own regex engine.
    "q_import_edges" ->
      s"""WITH files AS (
        |  SELECT * FROM read_parquet('${Verify.auxCodeTablePath}/*.parquet')),
        |refs AS (
        |  SELECT fileId AS src,
        |    unnest(regexp_extract_all(content,
        |      CASE WHEN lang = 'c' THEN '#include "(f[0-9]{9,})\\.h"'
        |           WHEN lang = 'py' THEN 'import (f[0-9]{9,})'
        |           ELSE 'import pkg\\.(f[0-9]{9,})' END, 1)) AS stem
        |  FROM files),
        |stems AS (
        |  SELECT regexp_extract(path, '(f[0-9]{9,})', 1) AS stem, fileId AS dst
        |  FROM files),
        |e2 AS (SELECT DISTINCT src, dst FROM refs JOIN stems USING (stem))
        |SELECT f.lang, count(*) AS n_edges
        |FROM e2 JOIN files f ON e2.src = f.fileId
        |GROUP BY f.lang ORDER BY f.lang""".stripMargin,

    // LabelProp.run's recurrence unrolled: round k = count labels arriving
    // over in-edges, rank (count DESC, label ASC), coalesce(seed, winner,
    // previous). Same code-table parquet hand-off as q_import_edges.
    "q_label_prop" -> {
      val rounds = (1 to 3).map { k =>
        val p = k - 1
        s"""c$k AS (
           |  SELECT e2.dst AS id, s$p.label AS lab, count(*) AS c
           |  FROM e2 JOIN s$p ON e2.src = s$p.id
           |  WHERE s$p.label IS NOT NULL GROUP BY 1, 2),
           |w$k AS (
           |  SELECT id, lab,
           |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lab ASC) AS rn
           |  FROM c$k),
           |s$k AS (
           |  SELECT s$p.id, s$p.seed,
           |    coalesce(s$p.seed, b$k.lab, s$p.label) AS label
           |  FROM s$p LEFT JOIN (SELECT id, lab FROM w$k WHERE rn = 1) b$k
           |    ON s$p.id = b$k.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH files AS (
        |  SELECT * FROM read_parquet('${Verify.auxCodeTablePath}/*.parquet')),
        |refs AS (
        |  SELECT fileId AS src,
        |    unnest(regexp_extract_all(content,
        |      CASE WHEN lang = 'c' THEN '#include "(f[0-9]{9,})\\.h"'
        |           WHEN lang = 'py' THEN 'import (f[0-9]{9,})'
        |           ELSE 'import pkg\\.(f[0-9]{9,})' END, 1)) AS stem
        |  FROM files),
        |stems AS (
        |  SELECT regexp_extract(path, '(f[0-9]{9,})', 1) AS stem, fileId AS dst
        |  FROM files),
        |e2 AS (SELECT DISTINCT src, dst FROM refs JOIN stems USING (stem)),
        |s0 AS (
        |  SELECT f.fileId AS id,
        |    CASE WHEN f.fileId % 10 <> 0 THEN NULL
        |         WHEN f.lang = 'c' THEN 0 WHEN f.lang = 'py' THEN 1
        |         WHEN f.lang = 'java' THEN 2 ELSE 3 END AS seed,
        |    CASE WHEN f.fileId % 10 <> 0 THEN NULL
        |         WHEN f.lang = 'c' THEN 0 WHEN f.lang = 'py' THEN 1
        |         WHEN f.lang = 'java' THEN 2 ELSE 3 END AS label
        |  FROM files f),
        |$rounds
        |SELECT id, CAST(coalesce(label, -1) AS BIGINT) AS label
        |FROM s3 ORDER BY id""".stripMargin
    },

    "q_scan_filter" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_partkey, l_quantity""".stripMargin,

    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_topk" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10""".stripMargin,

    "q_window" ->
      """SELECT user_id, rn, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,

    "q_degree_topk" ->
      s"""WITH $edgesSql,
        |outd AS (SELECT src AS id, count(*) AS od FROM edges GROUP BY src),
        |ind AS (SELECT dst AS id, count(*) AS idg FROM edges GROUP BY dst)
        |SELECT c_custkey AS id,
        |  coalesce(od, 0) AS out_deg, coalesce(idg, 0) AS in_deg,
        |  coalesce(od, 0) + coalesce(idg, 0) AS deg
        |FROM customer LEFT JOIN outd ON c_custkey = outd.id
        |LEFT JOIN ind ON c_custkey = ind.id
        |ORDER BY deg DESC, id LIMIT 20""".stripMargin,

    "q_triangles" ->
      s"""WITH $edgesSql,
        |und AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
        |canon AS (SELECT DISTINCT least(a,b) AS a, greatest(a,b) AS b FROM und WHERE a <> b)
        |SELECT count(*) AS triangles
        |FROM canon e1 JOIN canon e2 ON e1.a = e2.a AND e1.b < e2.b
        |JOIN canon e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin,

    "q_wcc" ->
      s"""WITH RECURSIVE $edgesSql,
        |und AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
        |reach(id, r) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT reach.id, und.b FROM reach JOIN und ON reach.r = und.a)
        |SELECT id, min(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "q_scc" ->
      s"""WITH RECURSIVE $edgesSql,
        |reach(a, b) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT reach.a, edges.dst FROM reach JOIN edges ON reach.b = edges.src)
        |SELECT r1.a AS id, min(r1.b) AS comp
        |FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        |GROUP BY r1.a ORDER BY id""".stripMargin,

    "q_scc_accepted" ->
      s"""WITH RECURSIVE $edgesSql,
        |reach(a, b) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT reach.a, edges.dst FROM reach JOIN edges ON reach.b = edges.src),
        |comp AS (
        |  SELECT r1.a AS id, min(r1.b) AS comp
        |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a GROUP BY r1.a),
        |stats AS (
        |  SELECT comp, count(*) AS sz,
        |    min(CASE WHEN id % 5 < 2 THEN 1 ELSE 0 END) AS allu
        |  FROM comp GROUP BY comp),
        |killed AS (
        |  SELECT DISTINCT cd.comp
        |  FROM edges e JOIN comp cs ON e.src = cs.id JOIN comp cd ON e.dst = cd.id
        |  WHERE cs.id % 5 < 2 AND cs.comp <> cd.comp)
        |SELECT c.id, c.comp,
        |  CASE WHEN s.sz >= 2 AND s.allu = 1 AND k.comp IS NULL THEN 1 ELSE 0 END AS accepted
        |FROM comp c JOIN stats s USING(comp) LEFT JOIN killed k USING(comp)
        |ORDER BY c.id""".stripMargin,

    "q_dedup_exact" ->
      """WITH keyed AS (SELECT doc_id, md5(text) AS key FROM documents),
        |grp AS (SELECT key, min(doc_id) AS group_id, count(*) AS group_size
        |        FROM keyed GROUP BY key)
        |SELECT doc_id, group_id, group_size,
        |  CASE WHEN doc_id = group_id THEN 1 ELSE 0 END AS is_canonical
        |FROM keyed JOIN grp USING(key) ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks)-1),
        |             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents WHERE doc_id < 20)),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b,
        |    len(list_intersect(l.sh, r.sh)) AS inter,
        |    len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS uni
        |  FROM sh l JOIN sh r ON l.doc_id < r.doc_id)
        |SELECT a, b, round(inter * 1.0 / uni, 6) AS jaccard
        |FROM pairs WHERE uni > 0 AND inter > 0 ORDER BY a, b""".stripMargin,

    "q_ann_topk" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cosine
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0)) AS n_tokens,
        |  round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that',
        |                        'for','on','with','as','was','at','by','be','this'], t))) * 1.0 /
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0)), 6)
        |    AS stopword_ratio,
        |  round(list_sum(list_transform(
        |      list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0),
        |      t -> len(t))) * 1.0 /
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0)), 6)
        |    AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_events_window" ->
      """SELECT epoch_us(ts) // 300000000 AS bucket, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,

    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, 1 AS side,
        |         CAST(NULL AS BIGINT) AS v_id, CAST(NULL AS DOUBLE) AS v_val
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 0, event_id, value
        |  FROM events WHERE event_type = 'view'),
        |w AS (
        |  SELECT user_id, ts, event_id, side,
        |    last_value(v_id IGNORE NULLS) OVER win AS m_id,
        |    last_value(v_val IGNORE NULLS) OVER win AS m_val
        |  FROM u WINDOW win AS (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, coalesce(m_id, -1) AS view_event_id,
        |  round(coalesce(m_val, 0.0), 4) AS view_value
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    // identical contract to q_asof_join — the bucketed plan must reproduce
    // the plain as-of result exactly (ts order == unix_micros order; ties
    // broken by the shared unique event_id)
    "q_asof_bucketed" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, 1 AS side,
        |         CAST(NULL AS BIGINT) AS v_id, CAST(NULL AS DOUBLE) AS v_val
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 0, event_id, value
        |  FROM events WHERE event_type = 'view'),
        |w AS (
        |  SELECT user_id, ts, event_id, side,
        |    last_value(v_id IGNORE NULLS) OVER win AS m_id,
        |    last_value(v_val IGNORE NULLS) OVER win AS m_val
        |  FROM u WINDOW win AS (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, coalesce(m_id, -1) AS view_event_id,
        |  round(coalesce(m_val, 0.0), 4) AS view_value
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT user_id, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |sess AS (
        |  SELECT user_id, sid, count(*) AS n, sum(value) AS total
        |  FROM y GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events,
        |  round(sum(total), 4) AS total_value
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin)
}
