package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Sessions, SparkEntry}
import graft.operators.{Degrees, LabelProp, PageRank, Scc, Triangles, Wcc}
import graft.sources.{CodeTable, GraphGen, GraphSpec}

/** One benchmark run of one workload in one JVM: set-up (repeated), a
  * warm-up pass whose outputs are checked, then a closed loop of timed
  * passes. Writes `result.json` into `--out`; `run.py` turns it into the
  * metrics line. See perfbench/README.md for the protocol.
  */
object Main {

  /** One operation of a pass: a call into one layer's public function. With
    * a [[Verifier]] (the warm-up pass) it also hands its output to a check. */
  final case class Op(name: String, group: String,
      body: (SparkSession, Option[Verifier]) => Unit)

  /** Outcome of one checked operation. */
  final case class Check(op: String, ok: Boolean, detail: String)

  /** Collects output checks and the time they take, which the pass takes
    * out of its walls: checks sit outside every timed region and set-up. */
  final class Verifier(val dir: Path, inject: Option[String]) {
    val checks = mutable.ArrayBuffer.empty[Check]
    var nanos = 0L
    /** `--inject`: the named operation's output is made wrong on purpose. */
    def corrupt(op: String): Boolean = inject.contains(op)
    def apply(op: String)(check: => Check): Unit = {
      val t0 = System.nanoTime()
      checks += (try check catch {
        case e: Throwable => Check(op, ok = false, s"check threw $e")
      })
      nanos += System.nanoTime() - t0
    }
  }

  trait Workload {
    /** Materialize the inputs in a fresh session (one set-up repetition). */
    def inputs(spark: SparkSession, traced: (String, String) => (=> Unit) => Unit): Unit
    def ops: IndexedSeq[Op]
    def order(rng: Random): IndexedSeq[Op]
    /** Counts the ops read from their result handles, by per-layer metric name. */
    val handles: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
      mutable.LinkedHashMap.empty
    def record(k: String, v: Double): Unit =
      handles.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    /** After the checked pass: files the DuckDB check needs besides outputs. */
    def handOff(spark: SparkSession, dir: Path): Unit = ()
    def sizes: Seq[(String, Double)]
  }

  // ---------------------------------------------------------------- linkgraph

  final class LinkGraph(spec: GraphSpec) extends Workload {
    private var edges: DataFrame = _
    private var vertices: DataFrame = _
    private var numEdges = 0L

    def inputs(spark: SparkSession, traced: (String, String) => (=> Unit) => Unit): Unit = {
      traced("graphgen", "sources.GraphGen") {
        edges = GraphGen.edges(spark, spec).persist(StorageLevel.MEMORY_AND_DISK)
        numEdges = edges.count()
        vertices = GraphGen.vertices(spark, spec)
      }
    }

    /** The collected edge list the sequential oracles read, once per run. */
    private lazy val collected: (Int, Array[Int], Array[Int]) = {
      val rows = edges.select("src", "dst").collect()
      (spec.numVertices.toInt, rows.map(_.getLong(0).toInt), rows.map(_.getLong(1).toInt))
    }

    private def labels(df: DataFrame, n: Int): Array[Long] = {
      val out = Array.fill(n)(-1L)
      df.select("id", "comp").collect().foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
      out
    }

    private def sameLabels(v: Verifier, op: String, df: DataFrame,
        oracle: (Int, Array[Int], Array[Int]) => Array[Int]): Unit = v(op) {
      val (n, src, dst) = collected
      val got = labels(df, n)
      if (v.corrupt(op)) got(0) += 1
      val want = oracle(n, src, dst)
      val wrong = (0 until n).count(i => got(i) != want(i).toLong)
      Check(op, wrong == 0, s"$wrong of $n vertices differ from the sequential oracle")
    }

    val ops: IndexedSeq[Op] = IndexedSeq(
      Op("scc", "operators.Scc", (spark, v) => {
        val r = Scc.components(spark, edges, vertices, edgesWithinVertices = true)
        v.foreach(sameLabels(_, "scc", r.components,
          (n, src, dst) => Oracles.sccMinMember(n, Oracles.csr(n, src, dst))))
        r.release()
        record("operators.Scc.rounds", r.metrics.size)
        record("operators.Scc.bfs_steps", r.metrics.map(_.bfsSteps).sum)
        record("operators.Scc.trimmed", r.metrics.map(m => m.trimmed + m.pairTrimmed).sum)
      }),
      Op("pagerank", "operators.PageRank", (spark, v) => {
        val r = PageRank.run(spark, edges, vertices, tol = 0.0, maxIter = PageRankIters)
        v.foreach(_("pagerank") {
          val (n, src, dst) = collected
          val got = Array.fill(n)(Double.NaN)
          r.ranks.collect().foreach(x => got(x.getLong(0).toInt) = x.getDouble(1))
          if (v.get.corrupt("pagerank")) got(0) += 1e-6
          val want = Oracles.pagerank(n, src, dst, 0.85, PageRankIters)
          val err = (0 until n).map(i => math.abs(got(i) - want(i))).max
          // ranks are ~1/n; only the summation order differs from the oracle
          Check("pagerank", !err.isNaN && err <= 1e-10,
            f"max |rank - oracle| = $err%.3e (bound 1e-10)")
        })
        r.release()
        record("operators.PageRank.step_ms", median(r.metrics.map(_.wallMs.toDouble)))
      }),
      Op("wcc", "operators.Wcc", (spark, v) => {
        val r = Wcc.run(spark, edges, vertices)
        v.foreach(sameLabels(_, "wcc", r.components, Oracles.wccMinMember))
        r.release()
        record("operators.Wcc.iters", r.metrics.size)
      }),
      Op("triangles", "operators.Triangles", (spark, v) => {
        val got = Triangles.total(spark, edges).collect()(0).getLong(0)
        v.foreach(_("triangles") {
          val (n, src, dst) = collected
          val want = Oracles.triangles(n, src, dst)
          val shown = if (v.get.corrupt("triangles")) got + 1 else got
          Check("triangles", shown == want, s"engine $shown, oracle $want")
        })
      }),
      Op("degrees", "operators.Degrees", (spark, v) => {
        val df = Degrees.all(edges, vertices)
        df.write.format("noop").mode("overwrite").save()
        v.foreach(_("degrees") {
          val (n, src, dst) = collected
          val want = Array.fill(n)((0L, 0L))
          src.foreach(i => want(i) = (want(i)._1 + 1, want(i)._2))
          dst.foreach(i => want(i) = (want(i)._1, want(i)._2 + 1))
          val got = df.select("id", "outDeg", "inDeg", "deg").collect()
            .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2)), r.getLong(3)))
          if (v.get.corrupt("degrees")) got(0) = got(0)._1 -> (got(0)._2._1 -> -1L)
          val wrong = got.count { case (i, (d, sum)) => d != want(i) || sum != d._1 + d._2 }
          Check("degrees", got.length == n && wrong == 0,
            s"${got.length} rows for $n vertices, $wrong differ from the edge-list counts")
        })
      }),
      Op("labelprop", "operators.LabelProp", (spark, v) => {
        val seeds = vertices.filter(col("id") % 10 === 0)
          .select(col("id"), (col("id") % 4).as("label"))
        val r = LabelProp.run(spark, edges, vertices.select("id"), seeds,
          iterations = LabelPropIters)
        r.labels.write.format("noop").mode("overwrite").save()
        v.foreach(sameLabels(_, "labelprop", r.labels.withColumnRenamed("label", "comp"),
          (n, src, dst) => Oracles.labelProp(n, src, dst, seed = i => if (i % 10 == 0) i % 4 else -1,
            rounds = LabelPropIters)))
        r.release()
      }),
      Op("codetable", "sources.CodeTable", (spark, v) => {
        val df = CodeTable.extractEdges(CodeTable.generate(spark, spec))
        df.write.format("noop").mode("overwrite").save()
        v.foreach(_("codetable") {
          val (_, src, dst) = collected
          val want = src.indices.map(i => (src(i).toLong, dst(i).toLong)).toSet
          val got = df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
          val shown = if (v.get.corrupt("codetable")) got.drop(1) else got
          Check("codetable", shown.length == want.size && shown.toSet == want,
            s"${shown.length} import edges extracted, ${want.size} in the encoded graph")
        })
      }))

    // the pass order is fixed; the seed drives the graph instead
    def order(rng: Random): IndexedSeq[Op] = ops

    def sizes: Seq[(String, Double)] =
      Seq("vertices" -> spec.numVertices.toDouble, "edges" -> numEdges.toDouble)
  }

  // ---------------------------------------------------------------------- sf

  /** Span group of each `sf-pipeline` query: the module whose public
    * function it calls. One or two queries of each pipeline layer. */
  val queryGroup: Map[String, String] = Map(
    "q_agg" -> "entry.sql",
    "q_minhash_dups" -> "functions.Dedup",
    "q_ann_lsh" -> "functions.Similarity",
    "q_text_quality" -> "functions.TextAnalysis",
    "q_asof_bucketed" -> "functions.AsOf",
    "q_sessionize" -> "streaming.EventStream",
    "q_catalog_scan" -> "sources.TableCatalog")

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  final class Sf(dataDir: String, names: Seq[String]) extends Workload {
    private var rows = 0L

    def inputs(spark: SparkSession, traced: (String, String) => (=> Unit) => Unit): Unit =
      rows = tables.map(t => spark.read.parquet(s"$dataDir/$t.parquet").count()).sum

    /** Timed passes write to the noop sink, as `graft.Bench` does; the
      * checked pass writes the output for the DuckDB check instead. */
    val ops: IndexedSeq[Op] = names.sorted.map { q =>
      Op(q, queryGroup(q), (spark, v) => {
        val df = SparkEntry.queries(q)(spark, dataDir)
        v match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(ver) =>
            (if (ver.corrupt(q)) df.union(df.limit(1)) else df)
              .coalesce(1).write.mode("overwrite").parquet(ver.dir.resolve(q).toString)
        }
      })
    }.toIndexedSeq

    // the tables are fixed; the seed shuffles the query order of each pass
    def order(rng: Random): IndexedSeq[Op] = rng.shuffle(ops)

    def sizes: Seq[(String, Double)] = Seq("rows" -> rows.toDouble)

    /** The oracle SQL the DuckDB check runs, and the one hand-off file it
      * reads besides the outputs (`q_ann_lsh`'s candidates, written as
      * `graft.Verify` writes them); the comparison itself runs in run.py. */
    override def handOff(spark: SparkSession, dir: Path): Unit = {
      val needs = names.toSet
      if (needs("q_ann_lsh")) {
        val embs = spark.read.parquet(s"$dataDir/embeddings.parquet")
        graft.functions.Similarity.lshScored(embs.filter(col("vec_id") < 10), embs,
            numPlanes = 6, probes = 6)
          .select(col("queryId").as("query_id"), col("neighborId").as("neighbor_id"),
            col("cosine").as("engine_cosine"))
          .coalesce(1).write.mode("overwrite").parquet(graft.Verify.auxAnnCandidatesPath)
      }
      val sql = SparkEntry.oracleSql.filter { case (k, _) => needs(k) }
      Files.writeString(dir.resolve("oracle_sql.json"),
        Json.render(Json.Obj(sql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Str(v) }: _*)))
    }
  }

  // --------------------------------------------------------------------- run

  /** Iterations per call on `linkgraph`: enough for every step of the
    * superstep loop to recur, few enough that a pass stays short (run.py). */
  val PageRankIters = 4
  val LabelPropIters = 2

  /** Set-up repetitions per run; `setup_s` takes their median. */
  val Setups = 3
  /** Untraced/traced pass pairs in a traced run, at least. */
  val TracedPairs = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this process, and seconds the host took from the
    * machine's CPUs (`steal` of /proc/stat, in 1/100 s, summed over CPUs). */
  private def cpuAndSteal(): (Double, Double) = {
    val steal = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8)
    (os.getProcessCpuTime / 1e9, steal.toDouble / 100)
  }

  /** Point `graft.Verify`'s fixed hand-off and catalog paths into this run's
    * directory, so the catalog queries commit their tables inside the
    * benchmark checkout. The paths are static final fields of the Verify
    * module, written once here before anything reads them. */
  private def redirectAuxPaths(dir: Path): Unit = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    val unsafe = f.get(null).asInstanceOf[sun.misc.Unsafe]
    val v = graft.Verify
    v.getClass.getDeclaredFields.filter(_.getName.startsWith("aux")).foreach { field =>
      field.setAccessible(true)
      val old = field.get(null).asInstanceOf[String]
      unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field),
        dir.resolve(Paths.get(old).getFileName).toString)
    }
    require(graft.Verify.auxCatalogTablePath.startsWith(dir.toString))
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(argv); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = Paths.get(a("out"))
    val cores = a("cores").toInt
    val passes = a.getOrElse("passes", "1").toInt
    val inject = a.get("inject")
    Files.createDirectories(out)
    redirectAuxPaths(Files.createDirectories(out.resolve("aux")))

    // --queries narrows sf-pipeline to some of its queries (tests)
    val only = a.get("queries").map(_.split(",").toSet)
    val w: Workload = workload match {
      case "linkgraph" =>
        new LinkGraph(GraphSpec(numCycles = a("cycles").toLong, maxCycleLen = 6,
          extraArcsPerVertex = 2.4, seed = seed))
      case "sf-pipeline" =>
        new Sf(a("data"), queryGroup.keys.filter(q => only.forall(_(q))).toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ops = w.ops

    val tracer = if (trace) Some(new Tracer(s"$workload-$seed")) else None
    val blocks = new BlockBytes
    var spark: SparkSession = null
    var spanSeq = 0
    var tracing = false

    /** Runs `body` inside a span when tracing; the span id rides the
      * calling thread's local properties so the listener can attribute jobs. */
    def span[T](name: String, group: String, parent: String, phase: String)(body: => T): T =
      tracer.filter(_ => tracing) match {
        case None => body
        case Some(t) =>
          spanSeq += 1
          val id = s"$phase-$spanSeq-$name"
          val s = t.open(id, name, group, parent, phase)
          val sc = spark.sparkContext
          val prev = sc.getLocalProperty(Tracer.SpanKey)
          sc.setLocalProperty(Tracer.SpanKey, id)
          try body
          finally { sc.setLocalProperty(Tracer.SpanKey, prev); t.close(s) }
      }
    def openSession(): Unit = {
      spark = Sessions.local(cores)
      spark.sparkContext.setLogLevel("ERROR")
      spark.sparkContext.addSparkListener(blocks)
      tracer.foreach(spark.sparkContext.addSparkListener)
      tracing = trace
    }
    /** Attaches or detaches the tracer between passes (the bus is drained). */
    def setTracing(on: Boolean): Unit = for (t <- tracer if on != tracing) {
      if (on) spark.sparkContext.addSparkListener(t)
      else spark.sparkContext.removeSparkListener(t)
      tracing = on
    }

    final case class Pass(wall: Double, opWalls: Seq[(String, Double)],
        opCpus: Seq[(String, Double)], failed: Seq[String],
        peakMb: Double, cpuS: Double, stealS: Double)
    var passNo = 0
    /** One pass over the workload's operations, in the seed's order. Walls
      * and CPU times leave out the verifier's wall; a thrown operation
      * counts as failed. An operation's CPU time is the whole process's
      * (task threads, collector and JIT included) while it runs. */
    def pass(rng: Random, phase: String, verifier: Option[Verifier] = None): Pass = {
      passNo += 1
      val passId = s"$phase-pass-$passNo"
      val order = w.order(rng)
      GraftShims.drainListenerBus(spark.sparkContext)
      blocks.resetPeak()
      val checkNanos0 = verifier.map(_.nanos).getOrElse(0L)
      val (cpu0, steal0) = cpuAndSteal()
      val t0 = System.nanoTime()
      val opWalls, opCpus = mutable.ArrayBuffer.empty[(String, Double)]
      val failed = mutable.ArrayBuffer.empty[String]
      val s = tracer.filter(_ => tracing).map(_.open(passId, s"pass-$passNo", "pass", "run", phase))
      order.foreach { op =>
        val c0 = verifier.map(_.nanos).getOrElse(0L)
        val u1 = os.getProcessCpuTime
        val t1 = System.nanoTime()
        try span(op.name, op.group, passId, phase)(op.body(spark, verifier))
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            failed += op.name
        }
        val checkS = (verifier.map(_.nanos).getOrElse(0L) - c0) / 1e9
        opWalls += op.name -> (secondsSince(t1) - checkS)
        opCpus += op.name -> ((os.getProcessCpuTime - u1) / 1e9 - checkS)
      }
      val wall = secondsSince(t0) - (verifier.map(_.nanos).getOrElse(0L) - checkNanos0) / 1e9
      val (cpu1, steal1) = cpuAndSteal()
      for (t <- tracer; x <- s) t.close(x)
      GraftShims.drainListenerBus(spark.sparkContext)
      System.err.println(f"[perfbench] $passId%-16s $wall%8.3f s, cpu ${cpu1 - cpu0}%.3f s  " +
        opWalls.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      Pass(wall, opWalls.toSeq, opCpus.toSeq, failed.toSeq, blocks.peakBytes / 1e6,
        cpu1 - cpu0, steal1 - steal0)
    }

    val rng = new Random(seed)
    try {
      // -------- set-up, repeated: fresh session + inputs
      val setupWalls = (1 to Setups).map { k =>
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        openSession()
        span(s"setup-$k", "setup", "run", "setup")(w.inputs(spark, (n, g) =>
          body => span(n, g, s"setup-$k", "setup")(body)))
        val wall = secondsSince(t0)
        System.err.println(f"[perfbench] setup-$k%-10s $wall%8.3f s")
        wall
      }
      // -------- warm-up: one pass whose outputs are checked (check time
      // excluded from its wall), then the hand-offs for the DuckDB check
      val verifier = new Verifier(Files.createDirectories(out.resolve("check")), inject)
      val warm = pass(rng, "warmup", Some(verifier))
      val h0 = System.nanoTime()
      try w.handOff(spark, verifier.dir)
      catch { case e: Throwable => verifier.checks += Check("hand-off", ok = false, s"threw $e") }
      System.err.println(f"[perfbench] checks and hand-offs ${(verifier.nanos + System.nanoTime() - h0) / 1e9}%.3f s")
      w.handles.clear()

      // -------- timed closed loop: at least `passes` passes, then more while
      // `--seconds` lasts. A traced run instead alternates untraced and traced
      // passes in pairs, in the order untraced-traced, traced-untraced, ...,
      // so that on average both sides of a pair sit at the same point of the
      // JIT ramp; its tracing overhead is the median traced / untraced wall
      // ratio of the pairs
      val t0 = System.nanoTime()
      val untraced, timed = mutable.ArrayBuffer.empty[Pass]
      if (trace) {
        var k = 0
        while (k < TracedPairs || secondsSince(t0) < seconds) {
          (if (k % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { on =>
            setTracing(on)
            if (on) timed += pass(rng, "timed") else untraced += pass(rng, "untraced")
          }
          k += 1
        }
      } else {
        while (timed.size < passes || secondsSince(t0) < seconds) timed += pass(rng, "timed")
      }
      val handles = w.handles.map { case (k, v) => k -> median(v.toSeq) }.toSeq
      tracing = false
      GraftShims.drainListenerBus(spark.sparkContext)

      def passJson(p: Pass) = Json.Obj(
        "wall" -> Json.Num(p.wall),
        "ops" -> Json.Obj(p.opWalls.map { case (k, v) => k -> Json.Num(v) }: _*),
        "ops_cpu" -> Json.Obj(p.opCpus.map { case (k, v) => k -> Json.Num(v) }: _*),
        "failed" -> Json.Arr(p.failed.map(Json.Str)),
        "peak_mb" -> Json.Num(p.peakMb),
        "cpu_s" -> Json.Num(p.cpuS),
        "steal_s" -> Json.Num(p.stealS))
      val result = Json.Obj(
        "workload" -> Json.Str(workload),
        "seed" -> Json.Num(seed.toDouble),
        "cores" -> Json.Num(cores.toDouble),
        "jvm_start_s" -> Json.Num(jvmStartS),
        "setup_walls" -> Json.Arr(setupWalls.map(Json.Num)),
        "warmup" -> passJson(warm),
        "untraced" -> Json.Arr(untraced.toSeq.map(passJson)),
        "passes" -> Json.Arr(timed.toSeq.map(passJson)),
        "groups" -> Json.Obj(ops.map(o => o.name -> Json.Str(o.group)): _*),
        "handles" -> Json.Obj(handles.map { case (k, v) => k -> Json.Num(v) }: _*),
        "sizes" -> Json.Obj(w.sizes.map { case (k, v) => k -> Json.Num(v) }: _*),
        "checks" -> Json.Arr(verifier.checks.toSeq.map(c => Json.Obj("op" -> Json.Str(c.op),
          "ok" -> Json.Bool(c.ok), "detail" -> Json.Str(c.detail)))),
        "check_dir" -> Json.Str(verifier.dir.toString),
        "spans" -> tracer.map(_.json).getOrElse(Json.Arr(Nil)))
      Files.writeString(out.resolve("result.json"), Json.render(result))
    } finally {
      if (spark != null) spark.stop()
    }
  }
}
