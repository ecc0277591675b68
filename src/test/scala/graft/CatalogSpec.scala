package graft

import org.apache.spark.sql.functions._

import graft.sources.{CodeTable, GraphSpec, TableCatalog}

/** The Iceberg-style catalog layer: snapshot commits, manifest-driven
  * partition pruning (no directory listing), and time travel. */
class CatalogSpec extends SparkTest {

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_table_").toString

  test("append commits accumulate; overwrite replaces; time travel reads both") {
    val table = freshTable()
    val a = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 1L))
    val b = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 2L))
      .withColumn("fileId", col("fileId") + 1000000L)

    val s0 = TableCatalog.commitAppend(spark, table, a)
    val s1 = TableCatalog.commitAppend(spark, table, b)
    assert(s0 == 0 && s1 == 1 && TableCatalog.currentSnapshotId(table) == 1)

    val nA = a.count()
    val nB = b.count()
    assert(TableCatalog.scan(spark, table).count() == nA + nB)
    // time travel: snapshot 0 sees only the first commit
    assert(TableCatalog.scan(spark, table, snapshotId = Some(0)).count() == nA)

    val s2 = TableCatalog.commitOverwrite(spark, table, a)
    assert(TableCatalog.scan(spark, table).count() == nA)
    // previous snapshots stay readable after overwrite
    assert(TableCatalog.scan(spark, table, snapshotId = Some(s1)).count() == nA + nB)
    assert(s2 == 2)
  }

  test("manifest-level partition pruning hands Spark only matching files") {
    val table = freshTable()
    val files = CodeTable.generate(spark,
      GraphSpec(numCycles = 16, maxCycleLen = 5, extraArcsPerVertex = 0.4, seed = 3L))
    TableCatalog.commitAppend(spark, table, files)

    val all = TableCatalog.scan(spark, table)
    val pruned = TableCatalog.scan(spark, table, langs = Some(Seq("py")))
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"pruned=${pruned.inputFiles.length} all=${all.inputFiles.length}")
    assert(pruned.inputFiles.forall(_.contains("lang=py")))
    // pruning is exact: same rows as a post-scan filter
    assert(pruned.count() == all.filter(col("lang") === "py").count())
    // empty selection keeps the schema
    val none = TableCatalog.scan(spark, table, langs = Some(Seq("zz")))
    assert(none.count() == 0 && none.columns.contains("sha"))
  }

  test("two concurrent committers: both commits survive (optimistic CAS)") {
    val table = freshTable()
    val a = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 11L))
    val b = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 12L))
      .withColumn("fileId", col("fileId") + 1000000L)
    // both race commitAppend on the same empty table: exactly one wins
    // snapshot 0, the other must rebase onto it and land as snapshot 1 —
    // a silently-dropped commit shows up as a missing row set below
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(TableCatalog.commitAppend(spark, table, a))
    val fb = Future(TableCatalog.commitAppend(spark, table, b))
    val ids = Seq(Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(ids.sorted == Seq(0, 1), s"ids=$ids")
    assert(TableCatalog.currentSnapshotId(table) == 1)
    assert(TableCatalog.scan(spark, table).count() == a.count() + b.count())
    // the rebased loser carried the winner's entries forward
    val s1 = TableCatalog.snapshot(table, 1).entries.map(_.path).toSet
    assert(TableCatalog.snapshot(table, 0).entries.map(_.path).toSet.subsetOf(s1))
  }

  test("expireSnapshots drops old manifests + their orphaned data files") {
    val table = freshTable()
    val gen = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 13L))
    TableCatalog.commitAppend(spark, table, gen)               // snap 0
    TableCatalog.commitAppend(spark, table,                    // snap 1 (carries 0)
      gen.withColumn("fileId", col("fileId") + 1000000L))
    TableCatalog.commitOverwrite(spark, table, gen)            // snap 2 (fresh files)
    val n2 = TableCatalog.scan(spark, table).count()
    val oldPaths = TableCatalog.snapshot(table, 1).entries.map(_.path)
    val deleted = TableCatalog.expireSnapshots(table, keepLast = 1)
    // snaps 0+1 referenced the same physical append files; snap 2's
    // overwrite shares none of them, so every old path must be gone
    assert(deleted == oldPaths.distinct.size)
    assert(oldPaths.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // time travel to an expired id fails cleanly; current reads unaffected
    intercept[IllegalArgumentException](TableCatalog.scan(spark, table, snapshotId = Some(0)))
    assert(TableCatalog.currentSnapshotId(table) == 2)
    assert(TableCatalog.scan(spark, table).count() == n2)
    TableCatalog.snapshot(table, 2).entries.foreach(e =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(e.path))))
  }

  test("pruned scan is ONE relation: a single parquet scan node in the plan") {
    val table = freshTable()
    TableCatalog.commitAppend(spark, table, CodeTable.generate(spark,
      GraphSpec(numCycles = 16, maxCycleLen = 5, extraArcsPerVertex = 0.4, seed = 14L)))
    val multi = TableCatalog.scan(spark, table, langs = Some(Seq("c", "py", "java")))
    val scanNodes = multi.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scanNodes.size == 1, s"expected one scan node, got ${scanNodes.size}")
    // lang recovery from the file path matches the partition the manifest
    // recorded for every row
    val langs = multi.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("c", "py", "java"))
  }

  test("file-level column stats prune the file list; scan stays exact") {
    val table = freshTable()
    val files = CodeTable.generate(spark,
      GraphSpec(numCycles = 32, maxCycleLen = 5, extraArcsPerVertex = 0.4, seed = 21L))
      // range-partition on fileId so each data file carries a TIGHT bound —
      // the precondition for bounds-based pruning to bite
      .repartitionByRange(8, col("fileId"))
    TableCatalog.commitAppend(spark, table, files)

    // manifest round-trip: entries carry parsed bounds with lo <= hi
    val entries = TableCatalog.snapshot(table, 0).entries
    assert(entries.forall(_.stats.contains("fileId")))
    entries.flatMap(_.stats.get("fileId")).foreach { b =>
      assert(b.isLong && b.lo.get.toLong <= b.hi.get.toLong)
    }

    val all = TableCatalog.scan(spark, table)
    val narrow = TableCatalog.scan(spark, table,
      predicates = Seq(TableCatalog.LongBetween("fileId", 50L, 120L)))
    assert(narrow.inputFiles.length < all.inputFiles.length,
      s"stats pruned nothing: ${narrow.inputFiles.length} of ${all.inputFiles.length}")
    // exact: pruning + residual == full scan + post-filter, row for row
    val expect = all.filter(col("fileId").between(50L, 120L))
      .select("fileId", "sha").collect().map(_.toString).sorted.toSeq
    val got = narrow.select("fileId", "sha").collect().map(_.toString).sorted.toSeq
    assert(got == expect && got.nonEmpty)

    // string-column bounds (repo) prune too, and agree with a post-filter
    val byRepo = TableCatalog.scan(spark, table,
      predicates = Seq(TableCatalog.StringBetween("repo", "repo00000", "repo00001")))
    assert(byRepo.inputFiles.length < all.inputFiles.length)
    assert(byRepo.count() ==
      all.filter(col("repo").between("repo00000", "repo00001")).count())
  }

  test("clusterBy commit tightens bounds: clustered prunes, unclustered keeps all") {
    val gen = CodeTable.generate(spark,
      GraphSpec(numCycles = 32, maxCycleLen = 5, extraArcsPerVertex = 0.4, seed = 24L))
    val pred = Seq(TableCatalog.LongBetween("fileId", 50L, 120L))

    // unclustered: residue-class partitions → every file spans ~the whole
    // fileId domain → bounds keep every file (correct, just no pruning).
    // The scatter is explicit (pmod 8) rather than round-robin: round-robin
    // deals from however many input splits the generator happens to use,
    // and from a single split the 5-row (partition, lang) files can land
    // tight-by-chance bounds that legitimately prune — the test's contract
    // is about WIDE-bounds files, so make the bounds wide deterministically.
    val flat = freshTable()
    TableCatalog.commitAppend(spark, flat, gen.repartition(8, pmod(col("fileId"), lit(8))))
    val flatAll = TableCatalog.scan(spark, flat)
    val flatSel = TableCatalog.scan(spark, flat, predicates = pred)
    assert(flatSel.inputFiles.length == flatAll.inputFiles.length)

    // clustered on fileId: tight per-file ranges → most files pruned
    val clus = freshTable()
    TableCatalog.commitAppend(spark, clus, gen.repartition(8),
      clusterBy = Seq("fileId"), clusterParts = 8)
    val clusAll = TableCatalog.scan(spark, clus)
    val clusSel = TableCatalog.scan(spark, clus, predicates = pred)
    assert(clusSel.inputFiles.length < clusAll.inputFiles.length)

    // same rows either way (and same as a plain post-filter)
    val a = flatSel.select("fileId", "sha").collect().map(_.toString).sorted.toSeq
    val b = clusSel.select("fileId", "sha").collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("stats-less files are kept: predicate scan exact without bounds") {
    val table = freshTable()
    val files = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 22L))
    // commit records NO stats (simulates pre-stats snapshots)
    TableCatalog.commitAppend(spark, table, files, statsColumns = Nil)
    assert(TableCatalog.snapshot(table, 0).entries.forall(_.stats.isEmpty))
    val all = TableCatalog.scan(spark, table)
    val filtered = TableCatalog.scan(spark, table,
      predicates = Seq(TableCatalog.LongBetween("fileId", 10L, 40L)))
    // no bounds → no file pruning, but the residual row filter MUST apply
    assert(filtered.inputFiles.length == all.inputFiles.length)
    assert(filtered.count() == all.filter(col("fileId").between(10L, 40L)).count())
    assert(filtered.count() < all.count())
  }

  test("truncated string bounds stay conservative (path > trunc width)") {
    val table = freshTable()
    val files = CodeTable.generate(spark,
      GraphSpec(numCycles = 16, maxCycleLen = 5, extraArcsPerVertex = 0.3, seed = 23L))
      .repartitionByRange(6, col("path"))
    // `path` values ("src/f000000042.py") exceed the 16-char truncation
    // width, so every recorded bound is truncated (lo) / truncated-and-
    // incremented (hi) — pruning on them must still never drop a match
    TableCatalog.commitAppend(spark, table, files, statsColumns = Seq("path"))
    val all = TableCatalog.scan(spark, table)
    // probe several ranges, including ones that straddle truncation points
    for ((lo, hi) <- Seq(
        ("src/f000000010", "src/f000000050z"),
        ("src/f0000001", "src/f0000002"),
        ("a", "zzz"))) {
      val got = TableCatalog.scan(spark, table,
        predicates = Seq(TableCatalog.StringBetween("path", lo, hi)))
      assert(got.count() == all.filter(col("path").between(lo, hi)).count(),
        s"range [$lo,$hi]")
    }
    // and at least one selective range actually prunes files
    val sel = TableCatalog.scan(spark, table,
      predicates = Seq(TableCatalog.StringBetween("path", "src/f000000010", "src/f000000050z")))
    assert(sel.inputFiles.length < all.inputFiles.length)
  }

  test("schema evolution: rename/add/drop reconcile old files by field id") {
    val table = freshTable()
    val base = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 31L))
    TableCatalog.commitAppend(spark, table, base)                       // snap 0
    TableCatalog.renameColumn(table, "repo", "repository")              // snap 1
    TableCatalog.addColumn(table, "stars", "bigint")                    // snap 2
    val batch2 = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 32L))
      .withColumn("fileId", col("fileId") + 1000000L)
      .withColumnRenamed("repo", "repository")
      .withColumn("stars", col("fileId") % 7)
    TableCatalog.commitAppend(spark, table, batch2)                     // snap 3

    val unified = TableCatalog.scan(spark, table)
    assert(unified.columns.contains("repository") && !unified.columns.contains("repo"))
    assert(unified.columns.last == "stars")
    assert(unified.count() == base.count() + batch2.count())
    // old files serve `repository` from their physical `repo` bytes (fid map)
    val oldGot = unified.filter(col("fileId") < 1000000L)
      .select("fileId", "repository").collect().map(_.toString).sorted.toSeq
    val oldWant = base.select(col("fileId"), col("repo"))
      .collect().map(_.toString).sorted.toSeq
    assert(oldGot == oldWant && oldGot.nonEmpty)
    // a later-added column projects as null for old files, real for new
    assert(unified.filter(col("fileId") < 1000000L && col("stars").isNotNull).count() == 0)
    assert(unified.filter(col("fileId") >= 1000000L &&
      (col("stars") =!= col("fileId") % 7)).count() == 0)
    // time travel respects the schema AT that snapshot
    val snap0 = TableCatalog.scan(spark, table, snapshotId = Some(0))
    assert(snap0.columns.contains("repo") && !snap0.columns.contains("stars"))

    // drop: bytes stay in the files, scans stop projecting the column
    TableCatalog.dropColumn(table, "content")                           // snap 4
    assert(!TableCatalog.scan(spark, table).columns.contains("content"))
    // re-add under the same name: FRESH fid — dropped data must not resurrect
    TableCatalog.addColumn(table, "content", "string")                  // snap 5
    val readded = TableCatalog.scan(spark, table)
    assert(readded.columns.contains("content"))
    assert(readded.filter(col("content").isNotNull).count() == 0,
      "dropped column resurrected through a re-added name")
  }

  test("stats pruning follows the field id across a rename") {
    val table = freshTable()
    val gen = CodeTable.generate(spark,
      GraphSpec(numCycles = 32, maxCycleLen = 5, extraArcsPerVertex = 0.4, seed = 25L))
    // cluster on repo so the per-file repo bounds are tight
    TableCatalog.commitAppend(spark, table, gen,
      statsColumns = Seq("fileId", "repo"), clusterBy = Seq("repo"), clusterParts = 6)
    TableCatalog.renameColumn(table, "repo", "repository")
    val all = TableCatalog.scan(spark, table)
    val sel = TableCatalog.scan(spark, table,
      predicates = Seq(TableCatalog.StringBetween("repository", "repo00000", "repo00001")))
    // the file stats were recorded under "repo"; the predicate names
    // "repository" — pruning must still bite (translated via the fid)
    assert(sel.inputFiles.length < all.inputFiles.length,
      s"rename disabled stats pruning: ${sel.inputFiles.length} of ${all.inputFiles.length}")
    assert(sel.count() ==
      all.filter(col("repository").between("repo00000", "repo00001")).count())
    assert(sel.count() > 0)
  }

  test("commit columns must match the current schema; evolution unlocks them") {
    val table = freshTable()
    val base = CodeTable.generate(spark,
      GraphSpec(numCycles = 6, maxCycleLen = 4, extraArcsPerVertex = 0.2, seed = 34L))
    TableCatalog.commitAppend(spark, table, base)
    // extra column without an addColumn first: refused
    intercept[IllegalArgumentException] {
      TableCatalog.commitAppend(spark, table, base.withColumn("stars", lit(1L)))
    }
    // after the evolution the same append commits fine
    TableCatalog.addColumn(table, "stars", "bigint")
    TableCatalog.commitAppend(spark, table,
      base.withColumn("fileId", col("fileId") + 1000000L).withColumn("stars", lit(1L)))
    assert(TableCatalog.scan(spark, table).count() == 2 * base.count())
    // invalid evolutions are refused
    intercept[IllegalArgumentException](TableCatalog.renameColumn(table, "nope", "x"))
    intercept[IllegalArgumentException](TableCatalog.renameColumn(table, "sha", "stars"))
    intercept[IllegalArgumentException](TableCatalog.dropColumn(table, "lang"))
    intercept[IllegalArgumentException](TableCatalog.addColumn(table, "sha", "string"))
    // names that would break the line-oriented schema-header parse on reload
    // (']'/'}' end the regex match early; quotes/escapes/control chars likewise)
    for (bad <- Seq("a]}", "b\"c", "d\\e", "f}g", "", "h\ni"))
      intercept[IllegalArgumentException](TableCatalog.addColumn(table, bad, "bigint"))
    intercept[IllegalArgumentException](TableCatalog.renameColumn(table, "stars", "s]"))
    // a legal evolution still works after the refusals
    TableCatalog.addColumn(table, "ok_name", "bigint")
  }

  test("a first commit with a header-breaking column name is refused, no manifest written") {
    val table = freshTable()
    val base = CodeTable.generate(spark,
      GraphSpec(numCycles = 4, maxCycleLen = 4, extraArcsPerVertex = 0.2, seed = 36L))
    // schema 0 is derived from this DataFrame: its names reach the header
    intercept[IllegalArgumentException](
      TableCatalog.commitAppend(spark, table, base.withColumn("a]}", lit(1L))))
    assert(TableCatalog.currentSnapshotId(table) == -1)
    val metaDir = java.nio.file.Paths.get(table, "metadata")
    assert(!java.nio.file.Files.exists(metaDir) ||
      !java.nio.file.Files.list(metaDir).anyMatch(_.getFileName.toString.startsWith("snap-")))
  }

  test("commit type mismatches are refused, not silently cast to null on scan") {
    val table = freshTable()
    val base = CodeTable.generate(spark,
      GraphSpec(numCycles = 6, maxCycleLen = 4, extraArcsPerVertex = 0.2, seed = 35L))
    TableCatalog.commitAppend(spark, table, base)
    // evolution type strings are canonicalized (BIGINT == bigint)
    TableCatalog.addColumn(table, "stars", "BIGINT")
    // right name, wrong type: a names-only check would let this through and
    // projectTo's cast would null every value on scan with no error anywhere
    val ex = intercept[IllegalArgumentException] {
      TableCatalog.commitAppend(spark, table,
        base.withColumn("stars", lit("4 stars")))
    }
    assert(ex.getMessage.contains("stars"), ex.getMessage)
    // the correctly-typed commit goes through
    TableCatalog.commitAppend(spark, table,
      base.withColumn("fileId", col("fileId") + 1000000L).withColumn("stars", lit(7L)))
    assert(TableCatalog.scan(spark, table).filter(col("stars") === 7L).count() ==
      base.count())
  }

  test("legacy (pre-evolution) table upgrade: schema 0 describes the carried files") {
    val table = freshTable()
    val base = CodeTable.generate(spark,
      GraphSpec(numCycles = 6, maxCycleLen = 4, extraArcsPerVertex = 0.2, seed = 36L))
    TableCatalog.commitAppend(spark, table, base)
    // Simulate a manifest written by the pre-evolution release: strip the
    // schema header line and the per-entry sid stamps from snap-0.json.
    val m = java.nio.file.Paths.get(table, "metadata", "snap-0.json")
    val legacy = java.nio.file.Files.readAllLines(m)
    assert(legacy.get(0).contains("currentSchemaId"))
    val stripped = new java.util.ArrayList[String]()
    legacy.subList(1, legacy.size).forEach(l =>
      stripped.add(l.replace(""","sid":0""", "")))
    java.nio.file.Files.write(m, stripped)
    assert(TableCatalog.snapshot(table, 0).schemas.isEmpty) // legacy confirmed
    // A first new-writer commit with a DIFFERENT shape must be refused:
    // deriving schema 0 from it would make every carried legacy file
    // unscannable (their physical columns wouldn't match the schema).
    intercept[IllegalArgumentException] {
      TableCatalog.commitAppend(spark, table,
        base.withColumnRenamed("repo", "repository"))
    }
    // The same-shape upgrade commit establishes schema 0 = the legacy shape
    // and every generation scans under it.
    TableCatalog.commitAppend(spark, table,
      base.withColumn("fileId", col("fileId") + 1000000L))
    val scanned = TableCatalog.scan(spark, table)
    assert(scanned.count() == 2 * base.count())
    assert(TableCatalog.snapshot(table, TableCatalog.currentSnapshotId(table))
      .currentSchema.exists(_.fields.map(_.name).toSet == base.columns.toSet))
    // and the established schema evolves normally from here
    TableCatalog.renameColumn(table, "repo", "repository")
    assert(TableCatalog.scan(spark, table).columns.contains("repository"))
  }

  test("removeOrphans collects abandoned commits, never live or in-flight files") {
    val table = freshTable()
    val gen = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 33L))
    TableCatalog.commitAppend(spark, table, gen)
    val live = TableCatalog.snapshot(table, 0).entries.map(_.path)
    val before = TableCatalog.scan(spark, table).count()
    // crash-simulated commit: data files written, manifest never linked
    gen.limit(10).write.partitionBy("lang").parquet(s"$table/data/w-orphan-test")
    // default age guard treats a fresh write as possibly in-flight: kept
    assert(TableCatalog.removeOrphans(table) == 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$table/data/w-orphan-test")))
    // age guard lifted (cutoff in the future): exactly the orphans go
    val n = TableCatalog.removeOrphans(table, olderThanMillis = -60000L)
    assert(n > 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$table/data/w-orphan-test")))
    assert(live.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(TableCatalog.scan(spark, table).count() == before)
    // idempotent once clean
    assert(TableCatalog.removeOrphans(table, olderThanMillis = -60000L) == 0)
  }

  test("a manifest deleted after the listing reads as no entries, not a failure") {
    val table = freshTable()
    val gen = CodeTable.generate(spark,
      GraphSpec(numCycles = 8, maxCycleLen = 4, extraArcsPerVertex = 0.3, seed = 34L))
    TableCatalog.commitAppend(spark, table, gen)
    TableCatalog.commitAppend(spark, table, gen)
    assert(TableCatalog.entriesIfPresent(table, 0).nonEmpty)
    // what a concurrent expireSnapshots does between removeOrphans' listing
    // of metadata/ and its read of each listed manifest
    java.nio.file.Files.delete(java.nio.file.Paths.get(table, "metadata", "snap-0.json"))
    assert(TableCatalog.entriesIfPresent(table, 0).isEmpty)
    assert(intercept[IllegalArgumentException](TableCatalog.snapshot(table, 0))
      .getMessage.contains("no snapshot 0"))
    // snapshot 1 carries every file of snapshot 0: nothing is orphaned
    assert(TableCatalog.removeOrphans(table, olderThanMillis = -60000L) == 0)
    assert(TableCatalog.scan(spark, table).count() == 2 * gen.count())
  }

  test("recreateTable REBALANCEs before the write: one data file per lang partition") {
    val table = freshTable()
    // q_catalog_scan's table, spread over 8 partitions as a table at scale
    // arrives: written as is, each partition would land its own file per lang
    val files = CodeTable.generate(spark,
      GraphSpec(numCycles = 64, maxCycleLen = 8, extraArcsPerVertex = 0.4, seed = 42L))
      .repartition(8)
    val id = SparkEntry.recreateTable(spark, table, files)
    val perLang = TableCatalog.snapshot(table, id).entries
      .groupBy(_.lang).map { case (lang, es) => lang -> es.size }
    assert(perLang.size == 4 && perLang.values.forall(_ == 1), s"files per lang: $perLang")
    assert(TableCatalog.scan(spark, table).count() == files.count())
  }

  test("sha256 row invariant survives the catalog round-trip") {
    val table = freshTable()
    val files = CodeTable.generate(spark,
      GraphSpec(numCycles = 6, maxCycleLen = 4, extraArcsPerVertex = 0.2, seed = 4L))
    TableCatalog.commitAppend(spark, table, files)
    val bad = TableCatalog.scan(spark, table)
      .filter(sha2(col("content"), 256) =!= col("sha"))
      .count()
    assert(bad == 0)
  }
}
