package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.{CodeTable, GraphGen, GraphSpec}

class CodeTableSpec extends SparkTest {
  val spec = GraphSpec(numCycles = 20, maxCycleLen = 8, extraArcsPerVertex = 0.5, seed = 13L)

  test("extractEdges reproduces exactly the generator's edge list") {
    val files = CodeTable.generate(spark, spec)
    val expected = GraphGen.edges(spark, spec)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = CodeTable.extractEdges(files)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("sha256 per-row invariant survives the pipeline") {
    val files = CodeTable.generate(spark, spec)
    // pipeline: extract edges, join results back — content must be unchanged
    val afterPipeline = files
      .join(CodeTable.extractEdges(files).groupBy(col("src").as("fileId"))
        .agg(count("*").as("outDeg")), Seq("fileId"), "left")
    val violations = afterPipeline
      .filter(sha2(col("content"), 256) =!= col("sha")).count()
    assert(violations == 0)
  }

  test("schema matches the input_hint shape and ids are dense") {
    val files = CodeTable.generate(spark, spec)
    assert(Seq("fileId", "repo", "path", "commit", "lang", "content", "sha")
      .forall(files.columns.contains))
    val n = files.count()
    assert(files.agg(min("fileId"), max("fileId")).head() ==
      org.apache.spark.sql.Row(0L, n - 1))
    assert(files.select("path").distinct().count() == n)
    assert(files.filter(length(col("commit")) =!= 40).count() == 0)
  }
}

class TextAnalysisSpec extends SparkTest {
  import org.apache.spark.sql.DataFrame
  def one(text: String): DataFrame = {
    val s = spark; import s.implicits._
    Seq(text).toDF("text")
  }

  // The round-6 native TextProfile kernel must be value-identical to the
  // original higher-order-function column algebra it replaced (the DuckDB
  // oracles pin these exact values). These are the pre-round-6 forms,
  // kept verbatim as the in-repo reference implementation.
  object OldForms {
    import org.apache.spark.sql.Column
    def tokens(text: Column): Column =
      filter(split(trim(text), "\\s+"), t => length(t) > 0)
    def tokenCount(text: Column): Column = size(tokens(text))
    def subwordCount(text: Column): Column =
      size(regexp_extract_all(lower(text), lit("[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]"), lit(0)))
    def alphaRatio(text: Column): Column = {
      val nonSpace = length(regexp_replace(text, "\\s", ""))
      val alpha = length(regexp_replace(text, "[^A-Za-z]", ""))
      when(nonSpace > 0, alpha.cast("double") / nonSpace).otherwise(0.0)
    }
    def punctRatio(text: Column): Column = {
      val nonSpace = length(regexp_replace(text, "\\s", ""))
      val punct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
      when(nonSpace > 0, punct.cast("double") / nonSpace).otherwise(0.0)
    }
    def stopwordRatio(text: Column): Column = {
      val toks = tokens(lower(text))
      val hits = filter(toks, t => array_contains(typedLit(TextAnalysis.stopwords), t))
      when(size(toks) > 0, size(hits).cast("double") / size(toks)).otherwise(0.0)
    }
    def meanTokenLen(text: Column): Column = {
      val toks = tokens(text)
      when(size(toks) > 0,
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
        .otherwise(0.0)
    }
    def qualityScore(text: Column): Column = {
      val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
      val wordLen = meanTokenLen(text)
      val wordLenScore = when(wordLen >= 3 && wordLen <= 10, 1.0).otherwise(0.5)
      val punctScore = when(punctRatio(text) < 0.2, 1.0).otherwise(0.3)
      round(
        (lenScore * 0.3 + alphaRatio(text) * 0.3 + wordLenScore * 0.2 + punctScore * 0.2),
        6)
    }
    def langId(text: Column): Column = {
      val toks = tokens(lower(text))
      val scores = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
        struct(
          size(filter(toks, t => array_contains(typedLit(markers), t))).as("hits"),
          lit(lang).as("lang"))
      }
      val best = array_max(array(scores: _*))
      when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
    }
    def fingerprint(text: Column): Column =
      xxhash64(concat_ws(" ", array_sort(array_distinct(tokens(lower(text))))))
    def rollingHash(text: Column): Column =
      aggregate(
        tokens(lower(text)),
        lit(0L),
        (acc, t) => pmod(shiftleft(acc, 5) - acc + pmod(xxhash64(t), lit(1L << 30)),
          lit(1L << 56)))
  }

  test("native TextProfile kernel is value-identical to the HOF column forms") {
    val s = spark; import s.implicits._
    val tricky = Seq(
      "", " ", "\t\n\f\r", "a", "a b  c", "  leading", "trailing  ",
      "the the THE tHe", "punct!!! ... ??? ~`@#$%^&*()_+-=[]{}|;':\",./<>?",
      "digits 123 4567890 mix3d t0kens", "le la les des est que une dans",
      "el perro y la casa de los gatos es una", "的 是 了 在 我 有",
      "中文没有空格的长句子测试", "MiXeD CaSe ÜÑÎÇØDÉ tëxt", "İstanbul DİYARBAKIR",
      "ΣΊΣΥΦΟΣ ΟΔΥΣΣΕΎΣ", "emoji 😀😀 test 🎉", "tab\tseparated\ttokens",
      "verylongtokenwithoutanyspacesatallllllllllllll",
      "a-b-c a.b.c a_b_c", "1 22 333 4444 55555",
      "wort wörter straße STRASSE", "der die das und ist nicht ein mit")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .unionByName(tricky.toDF("text"))
    val t = col("text")
    val cmp = docs.select(
      (TextAnalysis.tokenCount(t) <=> OldForms.tokenCount(t)).as("c1"),
      (TextAnalysis.subwordCount(t) <=> OldForms.subwordCount(t)).as("c2"),
      (TextAnalysis.alphaRatio(t) <=> OldForms.alphaRatio(t)).as("c3"),
      (TextAnalysis.punctRatio(t) <=> OldForms.punctRatio(t)).as("c4"),
      (TextAnalysis.stopwordRatio(t) <=> OldForms.stopwordRatio(t)).as("c5"),
      (TextAnalysis.meanTokenLen(t) <=> OldForms.meanTokenLen(t)).as("c6"),
      (TextAnalysis.qualityScore(t) <=> OldForms.qualityScore(t)).as("c7"),
      (TextAnalysis.langId(t) <=> OldForms.langId(t)).as("c8"),
      (TextAnalysis.fingerprint(t) <=> OldForms.fingerprint(t)).as("c9"),
      (TextAnalysis.rollingHash(t) <=> OldForms.rollingHash(t)).as("c10"),
      t)
    val bad = cmp.filter(!col("c1") || !col("c2") || !col("c3") || !col("c4") ||
      !col("c5") || !col("c6") || !col("c7") || !col("c8") || !col("c9") || !col("c10"))
    val rows = bad.collect()
    assert(rows.isEmpty, s"kernel/HOF divergence on: ${rows.take(5).mkString("; ")}")
  }

  test("tokenCount") {
    assert(one("a b  c").select(TextAnalysis.tokenCount(col("text"))).head().getInt(0) == 3)
    assert(one("   ").select(TextAnalysis.tokenCount(col("text"))).head().getInt(0) == 0)
    assert(one("").select(TextAnalysis.tokenCount(col("text"))).head().getInt(0) == 0)
  }

  test("ratios and quality score are in range and deterministic") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(
        TextAnalysis.alphaRatio(col("text")).as("ar"),
        TextAnalysis.punctRatio(col("text")).as("pr"),
        TextAnalysis.stopwordRatio(col("text")).as("sr"),
        TextAnalysis.qualityScore(col("text")).as("q"))
    val bad = df.filter(
      col("ar") < 0 || col("ar") > 1 || col("pr") < 0 || col("pr") > 1 ||
        col("sr") < 0 || col("sr") > 1 || col("q") < 0 || col("q") > 1).count()
    assert(bad == 0)
  }

  test("langId picks the language with most marker hits") {
    assert(one("the cat and the dog of the house")
      .select(TextAnalysis.langId(col("text"))).head().getString(0) == "en")
    assert(one("el perro y la casa de los gatos es una")
      .select(TextAnalysis.langId(col("text"))).head().getString(0) == "es")
    assert(one("xyzzy plugh")
      .select(TextAnalysis.langId(col("text"))).head().getString(0) == "und")
  }

  test("fingerprint is order-insensitive; rollingHash is order-sensitive") {
    val s = spark; import s.implicits._
    val df = Seq(("a b c", "c b a"), ("a b c", "a b d")).toDF("t1", "t2")
    val r = df.select(
      (TextAnalysis.fingerprint(col("t1")) === TextAnalysis.fingerprint(col("t2"))).as("fpEq"),
      (TextAnalysis.rollingHash(col("t1")) === TextAnalysis.rollingHash(col("t2"))).as("rhEq"))
      .collect()
    assert(r(0).getBoolean(0) && !r(0).getBoolean(1)) // permutation: fp equal, rh not
    assert(!r(1).getBoolean(0) && !r(1).getBoolean(1)) // different: both differ
  }
}

class DedupSpec extends SparkTest {
  def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val docs = docsDf(Seq(1L -> "hello world", 2L -> "hello world", 3L -> "other text",
      4L -> "hello world"))
    val r = Dedup.exact(docs, col("doc_id"), col("text"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) == ((1L, 3L, true)) && r(2L) == ((1L, 3L, false)) &&
      r(4L) == ((1L, 3L, false)) && r(3L)._3)
  }

  test("minhash LSH finds near-duplicates and skips dissimilar docs") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val different = (1 to 40).map(i => s"other$i").mkString(" ")
    val docs = docsDf(Seq(1L -> base, 2L -> nearDup, 3L -> different))
    val pairs = Dedup.minhashDuplicates(docs, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash jaccard estimates match exact jaccard on candidates") {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (6 to 35).map(i => s"w$i").mkString(" ")
    val docs = docsDf(Seq(1L -> a, 2L -> b))
    val got = Dedup.minhashDuplicates(docs, col("doc_id"), col("text"), threshold = 0.0)
    // reported jaccard is the exact shingle jaccard (verification step)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val exact = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(Dedup.jaccard(col("x.sh"), col("y.sh"))).head().getDouble(0)
    got.collect().foreach(r => assert(math.abs(r.getDouble(2) - exact) < 1e-6))
  }

  test("simhash hamming ~ text similarity; bucketing finds close pairs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val close = (1 to 59).map(i => s"tok$i").mkString(" ") + " tokNEW"
    val far = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val docs = docsDf(Seq(1L -> base, 2L -> close, 3L -> far))
    val sigs = docs.select(Dedup.simhash(col("text")).as("s")).collect().map(_.getLong(0))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(1)) < java.lang.Long.bitCount(sigs(0) ^ sigs(2)))
    val pairs = Dedup.simhashDuplicates(docs, col("doc_id"), col("text"), maxDistance = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)))
  }

  test("embedding near-dup finds the planted close pair") {
    val s = spark; import s.implicits._
    val v1 = Array.tabulate(8)(i => 1.0f / (i + 1))
    val v2 = v1.updated(7, v1(7) + 0.01f) // nearly identical
    val v3 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val embs = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDuplicates(embs, col("vec_id"), col("embedding"), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("blocked exact embedding dedup == brute-force crossJoin, plan has no Cartesian") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val embs = (0 until 60).map(i => (i.toLong, Array.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingDuplicates(embs, col("vec_id"), col("embedding"),
      threshold = 0.3, blocks = 4)
    // independent brute force (the quadratic baseline the blocked join replaces)
    val v = embs.select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("norm", Similarity.l2norm(col("v")))
    val brute = v.select(col("id").as("a"), col("v").as("va"), col("norm").as("na"))
      .crossJoin(v.select(col("id").as("b"), col("v").as("vb"), col("norm").as("nb")))
      .filter(col("a") < col("b"))
      .withColumn("cosine",
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= 0.3)
      .select("a", "b", "cosine")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      brute.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "blocked all-pairs must be an equi-join")
  }

  test("LSH embedding dedup finds every clustered near-dup (exact verify)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    // clustered corpus: the regime LSH is FOR (uniform-random vectors have
    // no near-dups to find); 15 clusters x 8 members, intra-cluster cosine
    // ~0.999
    val bases = Array.fill(15)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 15; i <- 0 until 8) yield
      ((c * 8 + i).toLong,
        bases(c).map(b => b + (rnd.nextGaussian() * 0.03).toFloat))
    val embs = rows.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingDuplicates(embs, col("vec_id"), col("embedding"), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingDuplicatesLsh(embs, col("vec_id"), col("embedding"), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain near-dups")
    assert(lsh == exact, s"missed=${(exact -- lsh).size} extra=${(lsh -- exact).size}")
  }

  test("simhash bucketing is COMPLETE at d=6, incl. pairs spread over >1 16-bit chunk") {
    val s = spark; import s.implicits._
    // graded perturbations of one base doc give signature pairs at many
    // hamming distances; completeness = bucketed pairs == brute-force pairs
    val baseToks = (1 to 80).map(i => s"tok$i")
    val docs = docsDf((0 until 30).map { k =>
      k.toLong -> baseToks.zipWithIndex.map { case (t, i) =>
        if (i < k) s"sub${k}_$i" else t
      }.mkString(" ")
    })
    val d = 6
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= d
    } yield (a, b)).toSet
    val got = Dedup.simhashDuplicates(docs, col("doc_id"), col("text"), maxDistance = d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"missed=${(brute -- got).size} extra=${(got -- brute).size}")
    // regression guard for the old fixed-4-chunk scheme: some found pair
    // must have distance > 3 with its differing bits spread across at
    // least 2 of the four 16-bit quarters (the old code missed those
    // whenever all four quarters differed; any >3-distance multi-quarter
    // pair exercises the generalized chunking)
    val spread = brute.exists { case (a, b) =>
      val x = sigs(a) ^ sigs(b)
      java.lang.Long.bitCount(x) > 3 &&
        (0 until 4).count(q => ((x >>> (16 * q)) & 0xFFFFL) != 0L) >= 2
    }
    assert(spread, "fixture lacks a >3-distance multi-chunk pair; strengthen it")
  }

  test("multi-table simhash (blocks > d+1) is COMPLETE at d=10 vs brute force") {
    val s = spark; import s.implicits._
    // heavier graded perturbations so planted pairs land around hamming 10
    val baseToks = (1 to 60).map(i => s"tok$i")
    val docs = docsDf((0 until 40).map { k =>
      k.toLong -> baseToks.zipWithIndex.map { case (t, i) =>
        if (i < 2 * k) s"mut${k}_$i" else t
      }.mkString(" ")
    })
    val d = 10
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= d
    } yield (a, b)).toSet
    // the fixture must exercise the multi-table pigeonhole beyond the
    // trivial all-identical case: some pair at distance in (6, 10]
    assert(brute.exists { case (a, b) =>
      val h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)); h > 6 && h <= 10
    }, "fixture lacks a distance-(6,10] pair; strengthen it")
    // B=12, r=2: C(12,2)=66 tables with ~10-bit keys — the d>6 scale path
    val got = Dedup.simhashDuplicates(docs, col("doc_id"), col("text"),
      maxDistance = d, blocks = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"missed=${(brute -- got).size} extra=${(got -- brute).size}")
    // recall is 1 for ANY valid (B, r): a second geometry agrees
    val got14 = Dedup.simhashDuplicates(docs, col("doc_id"), col("text"),
      maxDistance = d, blocks = 14)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got14 == brute)
    // the DEFAULT (blocks unset) auto-picks the scale path at d≥7 — a d=10
    // caller gets the 66-table/10-bit-key geometry without reading any doc
    val gotAuto = Dedup.simhashDuplicates(docs, col("doc_id"), col("text"),
      maxDistance = d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAuto == brute)
  }

  test("simhashAutoBlocks: d+1 below 7, multi-table (guaranteed ≥9-bit keys) above") {
    // unchanged for the d ≤ 6 regime (r=1 keys already ≥ 9 bits)
    for (d <- 0 to 6) assert(Dedup.simhashAutoBlocks(d) == d + 1, s"d=$d")
    // documented picks for the scale regime
    assert(Dedup.simhashAutoBlocks(7) == 9)   // C(9,2)=36 tables, 14-bit keys
    assert(Dedup.simhashAutoBlocks(10) == 12) // C(12,2)=66 tables, 10-bit keys
    assert(Dedup.simhashAutoBlocks(15) == 18) // C(18,3)=816 tables, 9-bit keys
    // every pick is a valid geometry: B > d, guaranteed key ≥ 9 bits,
    // table count inside the 4096 guard
    for (d <- 0 to 15) {
      val b = Dedup.simhashAutoBlocks(d)
      val r = b - d
      assert(b > d && b <= 32 && r * (64 / b) >= 9, s"d=$d b=$b")
      val tables = (1 to r).foldLeft(1L)((acc, i) => acc * (b - i + 1) / i)
      assert(tables <= 4096, s"d=$d b=$b tables=$tables")
    }
  }
}

class SimilaritySpec extends SparkTest {
  lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force top-k matches driver-side computation") {
    val queries = embs.filter(col("vec_id") < 3)
    val got = Similarity.bruteForceTopK(queries, embs, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

    // independent driver-side oracle
    val all = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na * nb > 0) d / (na * nb) else 0.0
    }
    for (q <- Seq(0L, 1L, 2L)) {
      val expected = all.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, BigDecimal(cos(all(q), v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val gotQ = (1 to 5).map(rank => got((q, rank)))
      assert(gotQ == expected, s"query $q")
    }
  }

  test("LSH top-k has high recall on clustered embeddings") {
    // Uniform-random vectors (the testdata embeddings) are the known
    // adversarial case for any LSH — all cosines are near-ties. Real
    // embedding spaces are clustered; synthesize 20 clusters of 20 vectors
    // (base + small deterministic noise) and require the buckets to find
    // same-cluster neighbors.
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    val bases = Array.fill(20)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 20; i <- 0 until 20) yield {
      val noise = Array.fill(16)((rnd.nextGaussian() * 0.05).toFloat)
      ((c * 20 + i).toLong, bases(c).zip(noise).map { case (b, n) => b + n })
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val queries = clustered.filter(col("vec_id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(queries, clustered, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(queries, clustered, 10, numPlanes = 8, probes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.8, s"recall=$recall")
  }
}

class MultimodalSpec extends SparkTest {
  test("PPM codec round-trips and resizes real pixels") {
    val px = Array.tabulate(10 * 6 * 3)(i => ((i * 7) % 256).toByte)
    val img = Multimodal.Ppm.Image(10, 6, px)
    val back = Multimodal.Ppm.decode(Multimodal.Ppm.encode(img))
    assert(back.width == 10 && back.height == 6 && back.pixels.sameElements(px))
    // comments + extra whitespace in the header must parse
    val commented = "P6\n# a comment\n 10  6\n255\n".getBytes("US-ASCII") ++ px
    val back2 = Multimodal.Ppm.decode(commented)
    assert(back2.width == 10 && back2.pixels.sameElements(px))
    val small = Multimodal.Ppm.resize(img, 5)
    assert(small.width == 5 && small.height == 3 && small.pixels.length == 5 * 3 * 3)
    // nearest-neighbor: every output pixel exists somewhere in the source
    assert(small.pixels.toSet.subsetOf(px.toSet))
  }

  test("truncated P6 raster is rejected, never zero-padded into black pixels") {
    val px = Array.tabulate(10 * 6 * 3)(i => ((i * 7) % 256).toByte)
    val full = Multimodal.Ppm.encode(Multimodal.Ppm.Image(10, 6, px))
    // header claims 10x6 but half the raster is missing: copyOfRange would
    // silently fabricate a black bottom half for downstream features/dedup
    val truncated = full.take(full.length - 10 * 3 * 3)
    val ex = intercept[IllegalArgumentException](Multimodal.Ppm.decode(truncated))
    assert(ex.getMessage.contains("truncated"), ex.getMessage)
  }

  test("zero-frame video: sampleFrames emits no rows instead of crashing the task") {
    val s = spark; import s.implicits._
    val empty = Multimodal.Avi.encode(
      Multimodal.Avi.Video(4, 4, 10, Vector.empty))
    assert(Multimodal.Avi.decode(empty).frames.isEmpty) // valid empty movi
    val decoded = Seq(
      Multimodal.DecodedAsset(1L, "video", 4, 4, 0, empty)).toDS()
    assert(Multimodal.sampleFrames(decoded, k = 4).count() == 0)
  }

  test("VectorDot: mismatched vector lengths yield null, not a partial dot") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 1.0f, 1.0f)), // equal dims
      (2L, Array(1.0f, 2.0f), Array(1.0f, 1.0f, 1.0f))        // corrupt short row
    ).toDF("id", "a", "b")
      .select(col("id"), Similarity.dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(df(1L).contains(6.0))
    assert(df(2L).isEmpty, s"short row produced a plausible-but-wrong ${df(2L)}")
  }

  test("WAV codec round-trips PCM16 and survives unknown chunks") {
    val samples = Array.tabulate(400)(i => (math.sin(i * 0.1) * 9000).toShort)
    val bytes = Multimodal.Wav.encode(Multimodal.Wav.Audio(1, 8000, samples))
    val back = Multimodal.Wav.decode(bytes)
    assert(back.channels == 1 && back.sampleRate == 8000 &&
      back.samples.sameElements(samples))
    // splice an unknown chunk between fmt and data: chunk walk must skip it
    val junk = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      Array[Byte](9, 9, 9, 9)
    val spliced = bytes.take(36) ++ junk ++ bytes.drop(36)
    // fix RIFF size
    val riffLen = spliced.length - 8
    spliced(4) = riffLen.toByte; spliced(5) = (riffLen >> 8).toByte
    spliced(6) = (riffLen >> 16).toByte; spliced(7) = (riffLen >> 24).toByte
    assert(Multimodal.Wav.decode(spliced).samples.sameElements(samples))
  }

  test("AVI codec: round-trip with row padding; junk chunks skipped") {
    // w=21 → row 63 bytes → stride 64: exercises the 4-byte row alignment
    val w = 21; val h = 14
    val frames = Vector.tabulate(5)(t =>
      Array.tabulate(w * h * 3)(i => ((i * 3 + t * 11) % 256).toByte))
    val bytes = Multimodal.Avi.encode(Multimodal.Avi.Video(w, h, 10, frames))
    val v = Multimodal.Avi.decode(bytes)
    assert(v.width == w && v.height == h && v.fps == 10 && v.frames.length == 5)
    assert(v.frames.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // container walk skips unknown chunks (idx1/JUNK appear in real files):
    // splice a JUNK chunk between hdrl and movi and fix the RIFF size
    val hdrlLen = 8 + java.nio.ByteBuffer.wrap(bytes, 16, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val at = 12 + hdrlLen
    val junk = "JUNK".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 9, 9, 9, 9)
    val spliced = bytes.take(at) ++ junk ++ bytes.drop(at)
    val riffLen = spliced.length - 8
    spliced(4) = riffLen.toByte; spliced(5) = (riffLen >> 8).toByte
    spliced(6) = (riffLen >> 16).toByte; spliced(7) = (riffLen >> 24).toByte
    val v2 = Multimodal.Avi.decode(spliced)
    assert(v2.frames.length == 5 && v2.frames.head.sameElements(frames.head))
  }

  test("AVI chunk ids follow VfW: DIB frames '00db', MJPG frames '00dc'") {
    def chunkIds(bytes: Array[Byte]): Set[String] = {
      // collect every frame-chunk fourcc in the byte stream
      (0 until bytes.length - 4).collect {
        case i if bytes(i) == '0' && bytes(i + 1) == '0' &&
          (bytes(i + 3) == 'b' || bytes(i + 3) == 'c') && bytes(i + 2) == 'd' =>
          new String(bytes.slice(i, i + 4), "US-ASCII")
      }.toSet
    }
    val w = 8; val h = 8
    val frames = Vector.tabulate(2)(t => Array.tabulate(w * h * 3)(i => (i + t).toByte))
    val dib = Multimodal.Avi.encode(Multimodal.Avi.Video(w, h, 5, frames))
    assert(chunkIds(dib) == Set("00db"), s"DIB stream chunks: ${chunkIds(dib)}")
    val mjpg = Multimodal.Avi.encodeMjpeg(Multimodal.Avi.Video(w, h, 5, frames))
    assert(chunkIds(mjpg) == Set("00dc"), s"MJPG stream chunks: ${chunkIds(mjpg)}")
    // a frame chunk arriving before any strf is a structural error with a
    // structural message, not a codec error
    val noStrf = dib.indexOfSlice("strf".getBytes("US-ASCII"))
    val broken = dib.clone()
    broken(noStrf) = 'J'; broken(noStrf + 1) = 'U'
    broken(noStrf + 2) = 'N'; broken(noStrf + 3) = 'K'
    val e = intercept[IllegalArgumentException](Multimodal.Avi.decode(broken))
    assert(e.getMessage.contains("strf"), e.getMessage)
  }

  test("AVI MJPG: JDK-imageio frames decode to header dims, pixels close") {
    val w = 32; val h = 24
    // smooth gray gradient — JPEG-friendly, so the lossy round-trip error
    // stays small and the assertion is meaningful
    val frames = Vector.tabulate(3)(t =>
      Array.tabulate(w * h * 3)(i => (((i / 3) / w + t * 40) % 200 + 20).toByte))
    val bytes = Multimodal.Avi.encodeMjpeg(Multimodal.Avi.Video(w, h, 10, frames))
    val v = Multimodal.Avi.decode(bytes)
    assert(v.width == w && v.height == h && v.frames.length == 3)
    val meanAbsErr = v.frames.zip(frames).map { case (a, b) =>
      a.zip(b).map { case (x, y) => math.abs((x & 0xff) - (y & 0xff)) }.sum.toDouble / a.length
    }
    assert(meanAbsErr.forall(_ < 8.0), meanAbsErr.toString)
    // unknown codecs are rejected with a clear message, not garbage pixels
    val bogus = bytes.clone()
    // strf's biCompression sits 16 bytes into the strf payload; patch it
    val strfAt = {
      val s = new String(bogus, "US-ASCII"); s.indexOf("strf")
    }
    bogus(strfAt + 8 + 16) = 0x58 // 'X…' fourcc
    val e = intercept[IllegalArgumentException](Multimodal.Avi.decode(bogus))
    assert(e.getMessage.contains("unsupported video codec"))
  }

  test("decode/features/frames/resize over mixed assets — all real codecs") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    val dec = Multimodal.decode(assets)
    val d = dec.collect()
    assert(d.length == 30)
    assert(d.filter(_.kind == "image").forall(a =>
      a.width >= 64 && a.height >= 64 && a.frames == 1))
    assert(d.filter(_.kind == "audio").forall(a =>
      a.width == 8000 && a.height == 1 && a.frames >= 1600))
    assert(d.filter(_.kind == "video").forall(a => a.frames >= 1))

    val feats = Multimodal.features(dec).collect()
    assert(feats.forall(f => f.features.length == 16 &&
      math.abs(f.features.sum - 1.0f) < 1e-3))
    // sine audio: |amplitude| means are roughly uniform across time bins —
    // no bin should hold more than half the mass
    assert(feats.filter(_.kind == "audio").forall(_.features.max < 0.5f))

    // video metadata comes from the real demuxer: frames = 2 + id%12
    assert(d.filter(_.kind == "video").forall(a => a.frames == 2 + (a.assetId % 12)))

    val frames = Multimodal.sampleFrames(dec, 3)
    val perAsset = frames.groupBy("assetId").count().collect()
    assert(perAsset.nonEmpty && perAsset.forall(_.getLong(1) <= 3))
    // sampled frames are REAL decoded pixels re-encoded as P6: each one
    // re-decodes to the video's frame dimensions
    val byId = d.filter(_.kind == "video").map(a => a.assetId -> a).toMap
    frames.collect().foreach { r =>
      val img = Multimodal.Ppm.decode(r.getAs[Array[Byte]]("frameBytes"))
      val src = byId(r.getLong(0))
      assert(img.width == src.width && img.height == src.height)
    }

    val resized = Multimodal.resize(dec, 32).collect()
    val images = resized.filter(_.kind == "image")
    assert(images.forall(a => math.max(a.width, a.height) <= 32))
    // resized payload is a valid PPM that re-decodes to the new dimensions
    assert(images.forall { a =>
      val img = Multimodal.Ppm.decode(a.bytes)
      img.width == a.width && img.height == a.height
    })
  }

  test("standalone JPEG/PNG: sniffed decode, round-trips, pipeline composition") {
    val s = spark; import s.implicits._
    val w = 48; val h = 36
    // smooth gradient — JPEG-friendly so the lossy bound is meaningful
    val px = Array.tabulate(w * h * 3)(i => (((i / 3) % w * 4) % 200 + 20).toByte)
    val src = Multimodal.Ppm.Image(w, h, px)

    // PNG is lossless: exact pixel round-trip through imageio
    val png = Multimodal.StillImage.encode(src, "png")
    assert(Multimodal.StillImage.format(png).contains("png"))
    val backPng = Multimodal.StillImage.decodeAny(png)
    assert(backPng.width == w && backPng.height == h)
    assert(backPng.pixels.sameElements(px))

    // JPEG is lossy: dims exact, pixels close
    val jpg = Multimodal.StillImage.encode(src, "jpg")
    assert(Multimodal.StillImage.format(jpg).contains("jpeg"))
    val backJpg = Multimodal.StillImage.decodeAny(jpg)
    assert(backJpg.width == w && backJpg.height == h)
    val meanAbsErr = backJpg.pixels.zip(px)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.sum.toDouble / px.length
    assert(meanAbsErr < 8.0, meanAbsErr.toString)

    // P6 sniffs as ppm; garbage is refused with a clear message
    assert(Multimodal.StillImage.format(Multimodal.Ppm.encode(src)).contains("ppm"))
    val e = intercept[IllegalArgumentException](
      Multimodal.StillImage.decodeAny(Array[Byte](1, 2, 3, 4)))
    assert(e.getMessage.contains("unrecognized image format"))

    // one image column mixing all three formats flows through the SAME
    // decode/features/resize operators (the Spark-side plumbing is format-
    // agnostic via the sniff)
    val mixed = Seq(
      Multimodal.Asset(0L, "image", Multimodal.Ppm.encode(src), "synth://ppm"),
      Multimodal.Asset(1L, "image", jpg, "synth://jpg"),
      Multimodal.Asset(2L, "image", png, "synth://png")).toDS()
    val dec = Multimodal.decode(mixed).collect()
    assert(dec.length == 3 && dec.forall(a => a.width == w && a.height == h && a.frames == 1))
    val feats = Multimodal.features(Multimodal.decode(mixed)).collect()
    assert(feats.length == 3 &&
      feats.forall(f => math.abs(f.features.sum - 1.0f) < 1e-3))
    // PNG and P6 encode identical pixels → identical histograms; JPEG close
    val byId = feats.map(f => f.assetId -> f.features).toMap
    assert(byId(0L).sameElements(byId(2L)))
    assert(byId(0L).zip(byId(1L)).map { case (a, b) => math.abs(a - b) }.max < 0.05f)
    // resize normalizes every format to P6 at the new dims
    val rz = Multimodal.resize(Multimodal.decode(mixed), 24).collect()
    assert(rz.forall { a =>
      val img = Multimodal.Ppm.decode(a.bytes)
      math.max(img.width, img.height) <= 24 && img.width == a.width
    })
  }
}

class AsOfSpec extends SparkTest {
  test("lastBefore: inclusive as-of semantics, ties by seq, no-match nulls") {
    val s = spark; import s.implicits._
    val left = Seq((10L, 1L, 5L), (11L, 1L, 2L), (12L, 2L, 7L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, 1L, 3L, 100.0), (2L, 1L, 5L, 200.0),
      (3L, 2L, 9L, 300.0), (4L, 2L, 7L, 400.0))
      .toDF("rid", "user_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("rid").as("event_id"),
        col("rid").as("r_id"), col("value"))
    val got = graft.functions.AsOf.lastBefore(left, right,
      keys = Seq("user_id"), tsCol = "ts", seqCol = "event_id",
      payload = Seq("r_id", "value"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(4))))).toMap
    assert(got == Map(
      10L -> Some((2L, 200.0)), // right (ts=5, seq=2) <= left (ts=5, seq=10): inclusive
      11L -> None,              // earliest right for user 1 is ts=3 > 2
      12L -> Some((4L, 400.0))  // (ts=7, seq=4) <= (ts=7, seq=12); ts=9 excluded
    ))
  }

  private def asOfResult(df: org.apache.spark.sql.DataFrame) =
    df.select("event_id", "r_id", "value").collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap

  test("lastBeforeBucketed == lastBefore for every bucket width (incl. negative ts)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    // dense ts collisions + negative timestamps + keys with no right rows
    val left = (0 until 300).map(i =>
      (i.toLong, (rnd.nextInt(6) + 1).toLong, (rnd.nextInt(60) - 30).toLong))
      .toDF("event_id", "user_id", "ts")
    val right = (0 until 200).map(i =>
      (1000L + i, (rnd.nextInt(5) + 1).toLong, (rnd.nextInt(60) - 30).toLong,
        rnd.nextInt(1000).toDouble))
      .toDF("r_id", "user_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("r_id").as("event_id"),
        col("r_id"), col("value"))
    val base = asOfResult(graft.functions.AsOf.lastBefore(left, right,
      Seq("user_id"), "ts", "event_id", Seq("r_id", "value")))
    assert(base.values.exists(_.isDefined) && base.values.exists(_.isEmpty))
    for (w <- Seq(1L, 7L, 1000L)) {
      val bucketed = asOfResult(graft.functions.AsOf.lastBeforeBucketed(left, right,
        Seq("user_id"), "ts", "event_id", Seq("r_id", "value"), bucketWidth = w))
      assert(bucketed == base, s"bucketWidth=$w diverged from lastBefore")
    }
  }

  test("hot key: 10^6 right rows under ONE user stay correct on both paths") {
    // the single-key fixture VERDICT r3 asked for: every right row lands in
    // one window partition — lastBefore degrades to one task's sort (the
    // documented ceiling), lastBeforeBucketed spreads it over ts buckets
    val n = 1000000L
    val right = spark.range(n).select(
      lit(1L).as("user_id"), (col("id") * 2).as("ts"),
      (col("id") + 10000000L).as("event_id"), col("id").as("r_id"),
      (col("id") % 97).cast("double").as("value"))
    // left seqs ABOVE every right seq so the single exact-ts tie (ts=0)
    // resolves inclusively toward the right row
    val left = spark.range(1000).select(
      (col("id") + 50000000L).as("event_id"), lit(1L).as("user_id"),
      (col("id") * 1999L).as("ts"))
    // closed form: right ts are the even numbers 2k, so the match for left
    // ts is r_id = floor(ts / 2)
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select("ts", "r_id").collect()
      assert(rows.length == 1000)
      rows.foreach(r => assert(r.getLong(1) == r.getLong(0) / 2,
        s"ts=${r.getLong(0)} matched r_id=${r.getLong(1)}"))
    }
    check(graft.functions.AsOf.lastBefore(left, right,
      Seq("user_id"), "ts", "event_id", Seq("r_id", "value")))
    check(graft.functions.AsOf.lastBeforeBucketed(left, right,
      Seq("user_id"), "ts", "event_id", Seq("r_id", "value"), bucketWidth = 100000L))
  }
}

class SuperstepResumeSpec extends SparkTest {
  test("resume restarts from the last snapshot and converges identically") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val state0 = (0L until 50L).map(v => (v, v)).toDF("id", "value")

    def step(st: org.apache.spark.sql.DataFrame, i: Int) =
      st.select(col("id"), greatest(col("value") - 7, lit(0L)).as("value"))

    def changed(ck: org.apache.spark.sql.GraftShims.Checkpoint) =
      ck.df.filter(col("value") > 0).count()

    // run 1: stop after 3 iterations (simulated failure)
    val h1 = new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1)
    h1.run(state0, maxIter = 3)(step)(changed)

    // run 2: resume and finish
    val h2 = new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1)
    val Some((resumed, startIter)) = h2.resume()
    assert(startIter == 3)
    val (fin, _) = h2.run(resumed, maxIter = 100, startIter = startIter)(step)(changed)

    // oracle: full uninterrupted run
    val h3 = new graft.plans.Superstep(spark, "toy2", None)
    val (finFull, _) = h3.run(state0, maxIter = 100)(step)(changed)
    assert(fin.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      finFull.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("corrupt manifest line fails resume loudly; snapshot-less lines don't") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_resume_bad").toString
    val state0 = (0L until 10L).map(v => (v, v)).toDF("id", "value")
    def step(st: org.apache.spark.sql.DataFrame, i: Int) =
      st.select(col("id"), greatest(col("value") - 3, lit(0L)).as("value"))
    def changed(ck: org.apache.spark.sql.GraftShims.Checkpoint) =
      ck.df.filter(col("value") > 0).count()

    val h = new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1)
    h.run(state0, maxIter = 2)(step)(changed)
    val manifest = java.nio.file.Paths.get(dir, "toy.manifest.jsonl")

    // A snapshot-less metrics line (snapshotEvery not hit) and blank lines
    // are tolerated: resume still lands on the newest real snapshot.
    java.nio.file.Files.writeString(manifest,
      "\n{\"name\":\"toy\",\"iter\":7,\"changed\":3,\"wallMs\":1,\"snapshot\":null}\n",
      java.nio.file.StandardOpenOption.APPEND)
    val h2 = new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1)
    val Some((_, startIter)) = h2.resume()
    assert(startIter == 2)

    // A torn FINAL line is the crash-mid-append artifact resume exists to
    // recover from: tolerated, resume lands on the previous intact snapshot.
    java.nio.file.Files.writeString(manifest, "{\"name\":\"toy\",\"iter\":9,\"chan",
      java.nio.file.StandardOpenOption.APPEND)
    val h3 = new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1)
    val Some((_, startIter3)) = h3.resume()
    assert(startIter3 == 2)

    // Any other unparseable line (non-final — real corruption or a
    // version-skewed manifest) → loud failure, never a silent resume from
    // an older iteration.
    java.nio.file.Files.writeString(manifest,
      "not json at all\n{\"name\":\"toy\",\"iter\":8,\"changed\":1,\"wallMs\":1,\"snapshot\":null}\n",
      java.nio.file.StandardOpenOption.APPEND)
    val h4 = new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1)
    assertThrows[IllegalStateException](h4.resume())
  }

  test("resume sweeps a stale manifest repair temp file") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_resume_tmp").toString
    val state0 = (0L until 10L).map(v => (v, v)).toDF("id", "value")
    val h = new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1)
    h.run(state0, maxIter = 2)((st, _) => st)(_.rows)
    // left by a repair killed between its temp write and the atomic move
    val stale = java.nio.file.Paths.get(dir, "toy.manifest.jsonl.repair-x")
    java.nio.file.Files.writeString(stale, "partial")
    val Some((_, startIter)) =
      new graft.plans.Superstep(spark, "toy", Some(dir), snapshotEvery = 1).resume()
    assert(startIter == 2)
    assert(!java.nio.file.Files.exists(stale))
  }
}
