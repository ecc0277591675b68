package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Jsonl

/** Minimal Iceberg-style table format over the partitioned parquet layout
  * (the north-star input names an Iceberg source; no table-format runtime
  * ships in this environment, so the four properties the engine actually
  * depends on are implemented directly, matching the Iceberg spec's
  * structure at 1/100th the surface):
  *
  *   - **Snapshot isolation / atomic commit with OPTIMISTIC CONCURRENCY**:
  *     every commit writes its data files under a fresh `data/w-<uuid>/`
  *     prefix (never keyed by snapshot id — concurrent writers must not
  *     collide on data paths), then claims the next snapshot id by
  *     atomically creating `metadata/snap-N.json`: the manifest is written
  *     to a temp file and HARD-LINKED into place (`Files.createLink` fails
  *     with FileAlreadyExistsException if another committer won N — a true
  *     CAS on POSIX, unlike a rename whose no-replace check is TOCTOU).
  *     A loser re-reads the now-newer base snapshot, rebases its carried
  *     entry list, and retries with N+1 — Iceberg's commit protocol
  *     (spec §Metastore tables / HadoopTableOperations). BOTH commits
  *     survive. `version-hint.text` is advisory (swapped via atomic rename
  *     after the manifest exists); readers probe forward from it, so a
  *     stale or regressed hint can never hide a committed snapshot.
  *   - **Manifest-driven scan planning**: [[scan]] reads the file list from
  *     the manifest — NOT from a recursive directory listing, which at
  *     10^12-file scale is the thing that doesn't scale — and prunes
  *     partitions metadata-side before Spark ever sees a path. The pruned
  *     file set becomes ONE parquet relation (one scan node regardless of
  *     partition-value count); `lang` is recovered from the file path.
  *   - **Time travel**: [[scan]] at any retained snapshot id; reading an
  *     expired or unknown id fails with a clear error.
  *   - **File-level column statistics**: commits record per-file min/max
  *     bounds for the tracked columns (Iceberg manifests' lower_bounds /
  *     upper_bounds), computed in ONE pass over the commit's own files —
  *     bounded by commit size, never table size. [[scan]] prunes files whose
  *     bounds cannot intersect the caller's range predicates, metadata-side,
  *     before Spark plans the read. Missing bounds always KEEP the file
  *     (pruning can only ever be a subset of a correct scan), so old
  *     snapshots without stats and untracked columns degrade to no pruning,
  *     never to wrong results. String bounds are truncated Iceberg-style
  *     (lower bound truncated = still a lower bound; upper bound truncated
  *     then last char incremented = still an upper bound) and recorded only
  *     when ASCII, where Java lexicographic order coincides with Spark's
  *     binary UTF-8 ordering — non-ASCII extremes store no bound rather
  *     than risk a cross-ordering mis-prune.
  *   - **Snapshot retention**: [[expireSnapshots]] drops all but the newest
  *     `keepLast` snapshots and deletes exactly the data files referenced
  *     only by expired manifests — computed from metadata (expired ∖
  *     retained entry sets), no directory walk. [[removeOrphans]] is the
  *     complementary maintenance pass for files NO manifest references
  *     (failed/abandoned commits), age-guarded so in-flight commits survive.
  *   - **Schema evolution**: [[addColumn]]/[[renameColumn]]/[[dropColumn]]
  *     commit a new schema version through the same CAS; columns carry
  *     Iceberg-style FIELD IDS, and [[scan]] reconciles every file to the
  *     current schema by fid — renamed columns read their write-time
  *     physical name, later-added columns project as typed nulls, dropped
  *     columns disappear even though the bytes remain. Stats pruning
  *     follows the fid too, so a rename never disables pruning on old
  *     files. Plan width grows O(#schema versions among matching files),
  *     never O(#files).
  *
  * Partitioning is by `lang` (the natural low-cardinality predicate column,
  * same as [[CodeTable.writePartitioned]]); row-group min/max pushdown
  * inside each file is parquet-native and unaffected.
  *
  * Paths are local-filesystem (java.nio) — the sandbox's storage; on a real
  * deployment these operations target an object store / DFS through the
  * same create-if-absent CAS primitive.
  */
object TableCatalog {

  /** Per-file inclusive [lo, hi] bounds for one column. `None` = unbounded
    * on that side (e.g. a truncated string upper bound that could not be
    * incremented). `isLong` selects numeric vs lexicographic comparison.
    */
  final case class ColBounds(lo: Option[String], hi: Option[String], isLong: Boolean)

  /** One column of a table schema. `fid` is the Iceberg-style FIELD ID: the
    * stable identity a column keeps across renames — data files are
    * reconciled to the current schema by fid, never by name (Iceberg spec
    * §Schemas and Data Types / §Column Projection). `dtype` is the Spark
    * catalog type string (`bigint`, `string`, …).
    */
  final case class Field(fid: Int, name: String, dtype: String)

  /** One version of the table schema. Schemas are immutable; every
    * evolution commits a NEW schema with a fresh id, and each data file
    * remembers (via its manifest entry's `sid`) which schema it was written
    * under.
    */
  final case class TableSchema(id: Int, fields: Seq[Field]) {
    def byFid: Map[Int, Field] = fields.map(f => f.fid -> f).toMap
    def byName: Map[String, Field] = fields.map(f => f.name -> f).toMap
  }

  /** `schemaId` = id of the schema the file was written under; -1 for
    * entries committed before the table had schema tracking (read as the
    * table's first schema).
    */
  final case class ManifestEntry(path: String, lang: String,
      stats: Map[String, ColBounds] = Map.empty, schemaId: Int = -1)

  /** `schemas` is empty for legacy (pre-evolution) manifests: scans then
    * behave exactly as before schema tracking existed. */
  final case class Snapshot(id: Int, entries: Seq[ManifestEntry],
      schemas: Seq[TableSchema] = Nil, currentSchemaId: Int = -1) {
    def currentSchema: Option[TableSchema] = schemas.find(_.id == currentSchemaId)
    /** The schema a given entry's file was written under (legacy entries map
      * to the FIRST schema — they predate tracking, so the first recorded
      * schema is by construction the shape they were written with). */
    def schemaOf(e: ManifestEntry): Option[TableSchema] =
      if (e.schemaId >= 0) schemas.find(_.id == e.schemaId)
      else schemas.sortBy(_.id).headOption
  }

  /** Range predicate for stats-based file pruning (inclusive both ends). */
  sealed trait StatPredicate { def column: String }
  final case class LongBetween(column: String, lo: Long, hi: Long) extends StatPredicate
  final case class StringBetween(column: String, lo: String, hi: String) extends StatPredicate

  /** Columns whose per-file bounds commits record by default. */
  val defaultStatsColumns: Seq[String] = Seq("fileId", "repo")

  /** Iceberg-style string-bound truncation width (chars). */
  private val truncWidth = 16

  private def isAscii(s: String): Boolean = s.forall(_ < 128)

  /** Lower bound: a truncated prefix is still a valid lower bound. */
  private def truncLower(s: String): Option[String] =
    if (!isAscii(s)) None else Some(s.take(truncWidth))

  /** Upper bound: truncate then increment the last incrementable char so the
    * result still upper-bounds every string with the truncated prefix. */
  private def truncUpper(s: String): Option[String] =
    if (!isAscii(s)) None
    else if (s.length <= truncWidth) Some(s)
    else {
      val t = s.take(truncWidth).toCharArray
      val i = t.lastIndexWhere(_ < Char.MaxValue)
      if (i < 0) None
      else Some(new String(t, 0, i) + (t(i) + 1).toChar)
    }

  private def metaDir(table: String): Path = Paths.get(table, "metadata")
  private def hintFile(table: String): Path = metaDir(table).resolve("version-hint.text")
  private def manifestFile(table: String, id: Int): Path =
    metaDir(table).resolve(s"snap-$id.json")

  private def jstr(s: String): String = Jsonl.jstr(s)

  private def jOptStr(v: Option[String]): String = v.fold("null")(jstr)

  private def entryLine(e: ManifestEntry): String = {
    val sid = if (e.schemaId >= 0) s""","sid":${e.schemaId}""" else ""
    val stats =
      if (e.stats.isEmpty) ""
      else e.stats.toSeq.sortBy(_._1).map { case (c, b) =>
        s"""{"col":${jstr(c)},"type":"${if (b.isLong) "long" else "string"}",""" +
          s""""lo":${jOptStr(b.lo)},"hi":${jOptStr(b.hi)}}"""
      }.mkString(""","stats":[""", ",", "]")
    s"""{"path":${jstr(e.path)},"lang":${jstr(e.lang)}$sid$stats}"""
  }

  /** Manifest HEADER line (first line when the table tracks schemas): the
    * full schema history plus the current schema id. Self-contained per
    * manifest — a snapshot read never needs a second metadata file, and
    * retention can delete old manifests without orphaning schema info.
    * Size is O(#schema versions × #columns): schema evolutions are rare,
    * human-initiated events, so this stays tiny even at 10^12 data files.
    */
  private def headerLine(schemas: Seq[TableSchema], currentSchemaId: Int): String = {
    val ss = schemas.sortBy(_.id).map { s =>
      val fs = s.fields.map(f =>
        s"""{"fid":${f.fid},"name":${jstr(f.name)},"type":${jstr(f.dtype)}}""")
        .mkString("[", ",", "]")
      s"""{"id":${s.id},"fields":$fs}"""
    }.mkString("[", ",", "]")
    s"""{"currentSchemaId":$currentSchemaId,"schemas":$ss}"""
  }

  /** A manifest header line: (schemas, current schema id). */
  private[graft] def headerOf(l: Jsonl.Obj): (Seq[TableSchema], Int) =
    (l.objs("schemas").map(s => TableSchema(s.int("id"),
      s.objs("fields").map(f => Field(f.int("fid"), f.str("name"), f.str("type"))))),
      l.int("currentSchemaId"))

  /** A manifest entry line; `sid` and `stats` are optional. */
  private[graft] def entryOf(l: Jsonl.Obj): ManifestEntry =
    ManifestEntry(l.str("path"), l.str("lang"),
      if (!l.has("stats")) Map.empty
      else l.objs("stats").map(b => b.str("col") -> ColBounds(b.strOrNull("lo"),
        b.strOrNull("hi"), isLong = b.str("type", "long", "string") == "long")).toMap,
      if (l.has("sid")) l.int("sid") else -1)

  /** Manifest file names: `snap-<id>.json`. */
  private val snapName = """snap-(\d+)\.json""".r

  /** Commit-time schema enforcement: names AND types. A names-only check
    * would let a type-mismatched commit through, and [[projectTo]]'s cast
    * on scan would then null the bad values SILENTLY (Spark casts are
    * lenient) — the one failure mode worse than rejecting the commit. */
  private def requireSchemaMatch(files: DataFrame, cur: TableSchema): Unit = {
    val have = files.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    require(have.keySet == cur.fields.map(_.name).toSet,
      s"commit columns ${have.keySet.toSeq.sorted.mkString(",")} must match the " +
        s"table's current schema ${cur.fields.map(_.name).sorted.mkString(",")} " +
        "(evolve the schema first — addColumn/renameColumn/dropColumn)")
    val mismatched = cur.fields.collect {
      case f if normType(f.dtype) != have(f.name) =>
        s"${f.name}: commit ${have(f.name)} vs schema ${normType(f.dtype)}"
    }
    require(mismatched.isEmpty,
      s"commit column types must match the table's current schema — " +
        mismatched.mkString("; "))
  }

  /** Canonical catalog type string ("BIGINT" and "bigint" are one type). */
  private def normType(dtype: String): String =
    org.apache.spark.sql.types.DataType.fromDDL(dtype).catalogString

  /** Current snapshot id, or -1 for an empty/nonexistent table.
    *
    * The hint is a fast-path HINT, not the truth: a committer that created
    * `snap-N.json` but hasn't swapped the hint yet (or whose slower rival
    * regressed it) must still be visible, so we probe forward from the
    * hinted id until the first missing manifest — O(1 + commits since the
    * hint was written), never a directory listing.
    */
  def currentSnapshotId(table: String): Int = {
    val hinted =
      if (Files.exists(hintFile(table)))
        new String(Files.readAllBytes(hintFile(table)), StandardCharsets.UTF_8).trim.toInt
      else -1
    var id = hinted
    while (Files.exists(manifestFile(table, id + 1))) id += 1
    // Hint-gap fallback (ADVICE r4): a racing older committer can regress
    // the hint by more than one id; if retention then deleted the hinted
    // manifest AND its successor, the forward probe stops inside the
    // expired gap and misses the newer committed snapshots. The MISSING-hint
    // case needs the same rescue: with no hint and snap-0 expired, the probe
    // lands on -1 and the table would read as empty — worse, the next commit
    // would CAS-claim snap-0 and its rows would be permanently shadowed by
    // the forward probe stopping at the old gap. Recover with ONE bounded
    // listing of the METADATA dir (a handful of snap-N.json files — never
    // the data tree); a genuinely-empty table (id == -1, no snap-0) takes
    // the fallback too and short-circuits on the isDirectory test inside.
    if (!Files.exists(manifestFile(table, math.max(id, 0)))) {
      val dir = metaDir(table)
      id =
        if (!Files.isDirectory(dir)) -1
        else Using.resource(Files.list(dir))(_.iterator().asScala
          .flatMap(p => snapName.unapplySeq(p.getFileName.toString).map(_.head.toInt))
          .foldLeft(-1)(math.max))
    }
    id
  }

  def snapshot(table: String, id: Int): Snapshot =
    snapshotIfPresent(table, id).getOrElse(throw new IllegalArgumentException(
      s"table $table has no snapshot $id (expired or never committed)"))

  /** Entries of manifest `id`, or Nil when the manifest does not exist —
    * including when a concurrent [[expireSnapshots]] deletes it between a
    * caller's directory listing and this read. */
  private[graft] def entriesIfPresent(table: String, id: Int): Seq[ManifestEntry] =
    snapshotIfPresent(table, id).fold(Seq.empty[ManifestEntry])(_.entries)

  private def snapshotIfPresent(table: String, id: Int): Option[Snapshot] = {
    val f = manifestFile(table, id)
    val lines =
      try Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty)
      catch { case _: java.nio.file.NoSuchFileException => return None }
    // an entry line has no header keys: a manifest without a header is a
    // legacy one, entries only
    val header = lines.headOption.flatMap(Jsonl.read(_)(headerOf))
    val (schemas, curSchema) = header.getOrElse((Nil, -1))
    Some(Snapshot(id, lines.drop(header.size).map(l => Jsonl.read(l)(entryOf).getOrElse(
      // a manifest line this reader can't parse means missing FILES, not a
      // smaller table — fail loudly, never silently scan a subset
      throw new IllegalStateException(s"unparsable manifest entry in $f: $l"))),
      schemas, curSchema))
  }

  /** Append `files` (CodeTable schema) as a new snapshot: new data files
    * under a fresh write prefix, manifest = base entries + new, CAS-claimed
    * id (see object doc). Returns the new snapshot id.
    *
    * `clusterBy` is the Iceberg sort-order analog: range-partition the
    * commit's rows on the given columns before writing, so each data file
    * covers a narrow value range and the recorded bounds become TIGHT —
    * stats pruning then drops most files for a selective range predicate.
    * Without clustering, bounds are still correct but typically span the
    * whole domain (every file keeps every predicate), so stats pruning
    * degrades to no-op. One extra range exchange per commit, amortized
    * over every future pruned scan.
    */
  def commitAppend(spark: SparkSession, table: String, files: DataFrame,
      statsColumns: Seq[String] = defaultStatsColumns,
      clusterBy: Seq[String] = Nil, clusterParts: Int = 0): Int =
    commit(spark, table, files, keepPrevious = true, statsColumns, clusterBy,
      clusterParts)

  /** Replace the table contents as a new snapshot (previous snapshots stay
    * readable — time travel — until [[expireSnapshots]] removes them). */
  def commitOverwrite(spark: SparkSession, table: String, files: DataFrame,
      statsColumns: Seq[String] = defaultStatsColumns,
      clusterBy: Seq[String] = Nil, clusterParts: Int = 0): Int =
    commit(spark, table, files, keepPrevious = false, statsColumns, clusterBy,
      clusterParts)

  private def commit(
      spark: SparkSession, table: String, files: DataFrame,
      keepPrevious: Boolean, statsColumns: Seq[String],
      clusterBy: Seq[String], clusterParts: Int): Int = {
    // Fail fast on a schema mismatch BEFORE the expensive data write (the
    // in-loop check below remains the authoritative one — this pre-check
    // just avoids leaking a full commit's worth of orphan files on the
    // common mistake).
    val preId = currentSnapshotId(table)
    if (preId >= 0) snapshot(table, preId).currentSchema.foreach(
      requireSchemaMatch(files, _))
    // Data files first, under a commit-unique prefix: the expensive part
    // runs outside the commit race, and a failed/abandoned commit leaves
    // only unreferenced files (collected by [[removeOrphans]]), never a
    // corrupt table — Iceberg's write-then-commit order.
    val dataDir = Paths.get(table, "data", s"w-${java.util.UUID.randomUUID()}")
    // explicit partition count when given: an AQE session otherwise
    // coalesces a small range exchange down to one partition, collapsing
    // the per-file ranges the clustering exists to create
    val toWrite =
      if (clusterBy.isEmpty) files
      else if (clusterParts > 0)
        files.repartitionByRange(clusterParts, clusterBy.map(col): _*)
      else files.repartitionByRange(clusterBy.map(col): _*)
    toWrite.write.partitionBy("lang").parquet(dataDir.toString)
    // enumerate exactly the files this write produced (bounded by this
    // commit's size, not table size)
    // per-file column bounds for the tracked columns: ONE aggregation over
    // exactly the files this commit wrote (grouped by input_file_name) —
    // the analog of Iceberg writers accumulating bounds as they write.
    // #rows collected = #files in this commit, never table size.
    val statCols = statsColumns.filter(files.columns.contains)
    statCols.foreach { c =>
      val dt = files.schema(c).dataType
      require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.StringType,
        s"stats column $c must be long or string, got $dt")
    }
    val statsByPath: Map[String, Map[String, ColBounds]] =
      if (statCols.isEmpty) Map.empty
      else {
        val aggs = statCols.flatMap(c =>
          Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c")))
        spark.read.parquet(dataDir.toString)
          .groupBy(input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            // hadoop Path, not java.net.URI: input_file_name() is a Hadoop
            // URI whose raw spaces would throw URISyntaxException AFTER the
            // full data write. Keyed absolute+normalized to match the
            // lookup below — the old raw-getPath key silently missed every
            // file of a RELATIVE table path, recording no stats at all
            // (pruning no-op, clustering cost paid for nothing, no error).
            val p = java.nio.file.Paths.get(
              new org.apache.hadoop.fs.Path(r.getAs[String]("file")).toUri.getPath)
              .toAbsolutePath.normalize.toString
            val bounds = statCols.flatMap { c =>
              (Option(r.getAs[Any](s"lo_$c")), Option(r.getAs[Any](s"hi_$c"))) match {
                case (Some(lo), Some(hi)) =>
                  val b =
                    if (files.schema(c).dataType == org.apache.spark.sql.types.LongType)
                      ColBounds(Some(lo.toString), Some(hi.toString), isLong = true)
                    else
                      ColBounds(truncLower(lo.toString), truncUpper(hi.toString),
                        isLong = false)
                  if (b.lo.isEmpty && b.hi.isEmpty) None else Some(c -> b)
                case _ => None
              }
            }.toMap
            p -> bounds
          }.toMap
      }
    val written = Using.resource(Files.walk(dataDir))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map { p =>
        val lang = p.getParent.getFileName.toString.stripPrefix("lang=")
        // stats lookup by the same absolute+normalized key the collect
        // above recorded (entry paths keep the caller's table-path form)
        ManifestEntry(p.toString, lang,
          statsByPath.getOrElse(p.toAbsolutePath.normalize.toString, Map.empty))
      }
      .toSeq).sortBy(_.path)
    Files.createDirectories(metaDir(table))

    // CAS retry loop: claim prev+1 by atomically linking the manifest into
    // place; on a lost race, rebase on the winner's snapshot and retry.
    var attempts = 0
    var committed = -1
    while (committed < 0) {
      attempts += 1
      require(attempts <= 1000, s"commit to $table lost the CAS race 1000 times")
      val prev = currentSnapshotId(table)
      val next = prev + 1
      val prevSnap = if (prev >= 0) Some(snapshot(table, prev)) else None
      // Schema tracking: carry the table's schema history forward; a table
      // without one yet (new, or committed by a pre-evolution writer) gets
      // schema 0 derived from this commit's DataFrame, fids by position.
      // Recomputed INSIDE the loop: a rebase may reveal a schema evolution
      // committed by the racing writer, and this commit's columns must
      // match the schema current at the id it actually claims.
      val (schemas, curId) = prevSnap match {
        case Some(s) if s.schemas.nonEmpty => (s.schemas, s.currentSchemaId)
        case _ =>
          // Schema 0 must describe the files it will be READ with. For a
          // brand-new table that is this commit's own DataFrame; for a
          // legacy (pre-evolution) table whose entries are CARRIED forward,
          // it is the legacy files' shape — schemaOf maps them to the first
          // schema at scan time — derived from one carried file's parquet
          // footer plus the path-recovered lang partition column (one
          // bounded footer read, once per legacy upgrade). Deriving from
          // the incoming DataFrame instead would make every carried file
          // unscannable if the shapes differ; with this, a mismatched
          // incoming commit fails the schema require below.
          val legacyCarried =
            if (keepPrevious) prevSnap.map(_.entries).getOrElse(Seq.empty)
            else Seq.empty
          val fields0 =
            if (legacyCarried.isEmpty)
              files.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
            else
              spark.read.parquet(legacyCarried.head.path).schema.fields.toSeq
                .map(f => f.name -> f.dataType.catalogString) :+ ("lang" -> "string")
          // the header written below must reload to these same names
          fields0.foreach { case (nm, _) => validateColName(nm) }
          (Seq(TableSchema(0, fields0.zipWithIndex.map {
            case ((nm, tp), i) => Field(i + 1, nm, tp)
          })), 0)
      }
      val cur = schemas.find(_.id == curId).getOrElse(throw new IllegalStateException(
        s"table $table: current schema id $curId not in manifest"))
      requireSchemaMatch(files, cur)
      val stamped = written.map(_.copy(schemaId = curId))
      val carried =
        if (keepPrevious) prevSnap.map(_.entries).getOrElse(Seq.empty) else Seq.empty
      val tmp = metaDir(table).resolve(s"snap-$next.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp,
        (headerLine(schemas, curId) +: (carried ++ stamped).map(entryLine))
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      try {
        // commit point: hard-link is create-if-absent-atomic on POSIX —
        // exactly one committer can materialize snap-N.json
        Files.createLink(manifestFile(table, next), tmp)
        committed = next
      } catch {
        case _: FileAlreadyExistsException => // lost the race: rebase, retry
      } finally Files.deleteIfExists(tmp)
    }
    writeHint(table, committed)
    committed
  }

  /** Advisory fast-path hint swap (readers probe forward, so a racing older
    * committer overwriting this with a smaller id is harmless). */
  private def writeHint(table: String, id: Int): Unit = {
    val tmp = metaDir(table).resolve(s"version-hint.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, hintFile(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- schema evolution (Iceberg spec §Schema Evolution) ----------------
  //
  // Each operation is a METADATA-ONLY commit: same entries, a new schema
  // appended to the history, claimed through the same manifest CAS as a
  // data commit — so an evolution races safely against concurrent appends
  // (one of them rebases and retries). Columns keep their identity across
  // renames via the field id; a dropped-then-re-added name gets a FRESH
  // fid, so data written under the dropped column never resurrects.

  /** Column names are outside input that every later manifest header
    * carries. Refuse quotes, backslashes, control characters and the JSON
    * delimiters `]` and `}` at evolution time: such a name reads back
    * through [[Jsonl.read]], but manifests holding it would be misread by
    * earlier releases, whose header reader split on those characters. */
  private def validateColName(name: String): Unit =
    require(name.nonEmpty &&
      !name.exists(c => c < ' ' || c == '"' || c == '\\' || c == ']' || c == '}'),
      s"invalid column name '$name': must be non-empty and contain no " +
        "control characters, '\"', '\\\\', ']' or '}'")

  /** Add a nullable column (existing files read it as null). `dtype` is a
    * Spark catalog type string (`bigint`, `string`, `double`, …). */
  def addColumn(table: String, name: String, dtype: String): Int = {
    val dt = normType(dtype) // validate eagerly AND canonicalize ("BIGINT"→"bigint")
    validateColName(name)
    evolveSchema(table) { (schemas, cur) =>
      require(name != "lang", "lang is the partition column and cannot be evolved")
      require(!cur.fields.exists(_.name == name), s"column $name already exists")
      // fid allocation scans ALL schemas ever, never just the current one:
      // re-adding a dropped name must mint a new identity
      val fid = schemas.flatMap(_.fields.map(_.fid)).max + 1
      cur.fields :+ Field(fid, name, dt)
    }
  }

  /** Rename a column; files written under the old name keep serving it
    * (mapped by fid). */
  def renameColumn(table: String, from: String, to: String): Int = {
    validateColName(to)
    evolveSchema(table) { (_, cur) =>
      require(from != "lang" && to != "lang",
        "lang is the partition column and cannot be evolved")
      require(cur.fields.exists(_.name == from), s"no column $from to rename")
      require(!cur.fields.exists(_.name == to), s"column $to already exists")
      cur.fields.map(f => if (f.name == from) f.copy(name = to) else f)
    }
  }

  /** Drop a column. The bytes stay in old data files; scans stop projecting
    * them, and new commits must not include the column. */
  def dropColumn(table: String, name: String): Int =
    evolveSchema(table) { (_, cur) =>
      require(name != "lang", "lang is the partition column and cannot be evolved")
      require(cur.fields.exists(_.name == name), s"no column $name to drop")
      require(cur.fields.size > 1, "cannot drop the last column")
      cur.fields.filterNot(_.name == name)
    }

  private def evolveSchema(table: String)(
      xform: (Seq[TableSchema], TableSchema) => Seq[Field]): Int = {
    var attempts = 0
    var committed = -1
    while (committed < 0) {
      attempts += 1
      require(attempts <= 1000, s"schema evolution on $table lost the CAS race 1000 times")
      val prev = currentSnapshotId(table)
      require(prev >= 0, s"cannot evolve schema of $table: no snapshots (commit data first)")
      val snap = snapshot(table, prev)
      require(snap.schemas.nonEmpty,
        s"table $table has no schema metadata (written by a pre-evolution " +
          "version); append once with the current writer to establish schema 0")
      val cur = snap.currentSchema.getOrElse(throw new IllegalStateException(
        s"table $table: current schema id ${snap.currentSchemaId} not in manifest"))
      val newId = snap.schemas.map(_.id).max + 1
      val schemas = snap.schemas :+ TableSchema(newId, xform(snap.schemas, cur))
      val next = prev + 1
      val tmp = metaDir(table).resolve(s"snap-$next.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp,
        (headerLine(schemas, newId) +: snap.entries.map(entryLine))
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      try {
        Files.createLink(manifestFile(table, next), tmp)
        committed = next
      } catch {
        case _: FileAlreadyExistsException => // lost the race: rebase, retry
      } finally Files.deleteIfExists(tmp)
    }
    writeHint(table, committed)
    committed
  }

  /** Drop all snapshots except the newest `keepLast`, deleting the data
    * files that only expired snapshots reference. Metadata-driven: the
    * delete set is (∪ expired entries) ∖ (∪ retained entries) — no
    * directory walk. Time travel to an expired id then fails cleanly
    * ([[snapshot]]'s require); current reads are unaffected.
    * Returns the number of data files deleted.
    */
  def expireSnapshots(table: String, keepLast: Int): Int = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val current = currentSnapshotId(table)
    if (current < 0) return 0
    val ids = (0 to current).filter(id => Files.exists(manifestFile(table, id)))
    val (expired, retained) = ids.partition(_ <= current - keepLast)
    if (expired.isEmpty) return 0
    val keepPaths = retained.flatMap(id => snapshot(table, id).entries.map(_.path)).toSet
    val dropPaths = expired.flatMap(id => snapshot(table, id).entries.map(_.path))
      .distinct.filterNot(keepPaths)
    dropPaths.foreach { p =>
      val path = Paths.get(p)
      Files.deleteIfExists(path)
      // tidy now-empty lang=/w-<uuid> dirs (best-effort; ignore non-empty)
      try {
        Files.deleteIfExists(path.getParent)
        Files.deleteIfExists(path.getParent.getParent)
      } catch { case _: java.nio.file.DirectoryNotEmptyException => }
    }
    expired.foreach(id => Files.deleteIfExists(manifestFile(table, id)))
    dropPaths.size
  }

  /** True iff the file's recorded bounds show it CANNOT contain a row
    * matching `p`. `statName` is the column name the file's stats were
    * recorded under (differs from `p.column` across a rename — translated
    * by fid in [[scan]]). Missing stats / missing column / type mismatch ⇒
    * might match (keep): pruning is only ever a subset of a correct scan.
    * Truncated string bounds stay conservative by construction (a truncated
    * lower bound is ≤ every true value; a truncated-then-incremented upper
    * bound is ≥ every true value).
    */
  private def cannotMatch(
      stats: Map[String, ColBounds], p: StatPredicate, statName: String): Boolean =
    stats.get(statName).exists { b =>
      p match {
        case LongBetween(_, lo, hi) if b.isLong =>
          b.lo.exists(_.toLong > hi) || b.hi.exists(_.toLong < lo)
        case StringBetween(_, lo, hi) if !b.isLong =>
          b.lo.exists(_ > hi) || b.hi.exists(_ < lo)
        case _ => false
      }
    }

  /** Scan a snapshot (default: current), pruning partitions from the
    * manifest BEFORE Spark plans the read: only matching files are handed
    * to the reader, so the scan's file set is O(matching partitions)
    * regardless of table size — no directory listing anywhere.
    * `langs = None` reads everything.
    *
    * `predicates` prunes further on the per-file column bounds the commit
    * recorded (Iceberg's lower_bounds/upper_bounds): a file is dropped only
    * when its bounds PROVE no row can satisfy every predicate. The
    * predicates are also re-applied as Spark filters on the result, so the
    * scan is exact whether or not any file carries stats — stats only
    * shrink the file list.
    *
    * ONE parquet relation over the pruned file list (one scan node in the
    * plan however many partition values match — a per-value union plan
    * would grow O(#values)); `lang` is not stored in the data files
    * (partitionBy strips it) and is recovered from each row's file path,
    * which is exactly the partition directory the manifest recorded.
    */
  def scan(
      spark: SparkSession, table: String,
      langs: Option[Seq[String]] = None,
      snapshotId: Option[Int] = None,
      predicates: Seq[StatPredicate] = Nil): DataFrame = {
    val id = snapshotId.getOrElse(currentSnapshotId(table))
    require(id >= 0, s"table $table has no snapshots")
    val snap = snapshot(table, id)
    val langPruned = langs match {
      case Some(ls) => snap.entries.filter(e => ls.contains(e.lang))
      case None => snap.entries
    }
    // Stats lookup under the name the file's commit RECORDED: a predicate
    // on a since-renamed column still prunes old files — the current name
    // maps to the fid, the fid to the file-schema name. No mapping (legacy
    // / untracked) falls back to the current name.
    def recordedName(e: ManifestEntry, column: String): String =
      (for {
        cur <- snap.currentSchema
        f <- cur.byName.get(column)
        fs <- snap.schemaOf(e)
        pf <- fs.byFid.get(f.fid)
      } yield pf.name).getOrElse(column)
    val pruned = langPruned.filterNot(e =>
      predicates.exists(p => cannotMatch(e.stats, p, recordedName(e, p.column))))
    val residual = predicates.map {
      case LongBetween(c, lo, hi) => col(c).between(lo, hi)
      case StringBetween(c, lo, hi) => col(c).between(lo, hi)
    }.reduceOption(_ && _)
    val base = snap.currentSchema match {
      case None => // legacy table (no schema tracking): original single-relation read
        if (pruned.isEmpty) CodeTable.schemaOnly(spark)
        else readFiles(spark, pruned.map(_.path))
      case Some(cur) =>
        // Schema reconciliation: ONE relation per distinct write-schema
        // among the matching files (plan width O(#schema evolutions) —
        // rare human events — never O(#files) or O(#partition values)),
        // each projected to the current schema by fid: renamed columns
        // read their physical name, later-added columns fill with null.
        val groups = pruned.groupBy(e => snap.schemaOf(e).map(_.id).getOrElse(-1))
        if (groups.isEmpty) emptyOfSchema(spark, cur)
        else groups.toSeq.sortBy(_._1).map { case (sid, es) =>
          projectTo(readFiles(spark, es.map(_.path)), cur,
            snap.schemas.find(_.id == sid))
        }.reduce(_ union _)
    }
    // stats pruning only shrinks the FILE list; the row-level predicate must
    // still run (a kept file may contain non-matching rows) — this is what
    // makes the scan exact whether or not any file carries bounds.
    residual.fold(base)(base.where)
  }

  private def readFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)
      .withColumn("lang", regexp_extract(input_file_name(), "lang=([^/]+)/", 1))

  /** Project a file group (read under its write-time physical schema) to
    * the table's current schema, mapping columns by FIELD ID. `lang` is the
    * path-recovered partition column and maps to itself (evolution ops
    * refuse to touch it). A fid with no physical source (column added after
    * these files were written) projects as typed null.
    */
  private def projectTo(
      df: DataFrame, cur: TableSchema, fileSchema: Option[TableSchema]): DataFrame = {
    val physByFid = fileSchema.getOrElse(cur).byFid
    val cols = cur.fields.map { f =>
      val dt = org.apache.spark.sql.types.DataType.fromDDL(f.dtype)
      if (f.name == "lang") col("lang")
      else physByFid.get(f.fid) match {
        case Some(pf) => col(pf.name).cast(dt).as(f.name)
        case None => lit(null).cast(dt).as(f.name)
      }
    }
    df.select(cols: _*)
  }

  private def emptyOfSchema(spark: SparkSession, cur: TableSchema): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(cur.fields.map(f =>
        org.apache.spark.sql.types.StructField(
          f.name, org.apache.spark.sql.types.DataType.fromDDL(f.dtype)))))

  /** Delete data files referenced by NO manifest — the one leak the
    * write-then-commit order allows: a failed/abandoned committer's
    * `data/w-<uuid>/` files are invisible to every reader and were never
    * collected ([[expireSnapshots]] only deletes expired-manifest
    * references). Maintenance, not a read path: it takes the one full
    * `data/` listing orphan collection inherently requires (Iceberg's
    * deleteOrphanFiles does the same), and only touches files older than
    * `olderThanMillis`, so a commit IN FLIGHT (data written, manifest not
    * yet linked) is never collected — Iceberg's orphan GC uses the same
    * age guard. Per write-prefix: a `w-<uuid>/` tree with zero referenced
    * files is removed whole (markers included); a live tree only loses
    * unreferenced `*.parquet` stragglers (e.g. from a task retry), never
    * its markers. Returns the number of files deleted.
    */
  def removeOrphans(table: String, olderThanMillis: Long = 24L * 3600 * 1000): Int = {
    val dataDir = Paths.get(table, "data")
    if (!Files.isDirectory(dataDir)) return 0
    val md = metaDir(table)
    val ids =
      if (!Files.isDirectory(md)) Seq.empty[Int]
      else Using.resource(Files.list(md))(_.iterator().asScala
        .flatMap(p => snapName.unapplySeq(p.getFileName.toString).map(_.head.toInt))
        .toSeq)
    // a concurrent expireSnapshots may delete a manifest between the
    // listing above and this read; its references were either re-carried
    // by a newer snapshot or expired — skip it, don't fail the pass
    val referenced = ids.flatMap(entriesIfPresent(table, _)).map(e =>
      Paths.get(e.path).toAbsolutePath.normalize.toString).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val all = Using.resource(Files.walk(dataDir))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq) // materialize before mutating
    val byPrefix = all.groupBy { p =>
      // group by the w-<uuid> commit prefix (files directly under data/
      // group by themselves — not produced by this writer, handled per-file)
      val rel = dataDir.relativize(p)
      if (rel.getNameCount > 1) dataDir.resolve(rel.getName(0)) else p
    }
    var deleted = 0
    byPrefix.foreach { case (_, files) =>
      val (live, rest) = files.partition(p =>
        referenced.contains(p.toAbsolutePath.normalize.toString))
      val victims =
        if (live.isEmpty) rest // fully-orphaned commit: take markers too
        else rest.filter(_.toString.endsWith(".parquet"))
      victims.filter(p => Files.getLastModifiedTime(p).toMillis < cutoff).foreach { p =>
        if (Files.deleteIfExists(p)) deleted += 1
        // tidy now-empty lang=/w-<uuid> dirs (best-effort; ignore non-empty)
        try {
          var d = p.getParent
          while (d != null && d != dataDir && Files.deleteIfExists(d)) d = d.getParent
        } catch { case _: java.nio.file.DirectoryNotEmptyException => }
      }
    }
    deleted
  }
}
