package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.GraftShims.{Checkpoint, Ride}
import org.apache.spark.sql.functions._

import graft.plans.{CheckpointArena, JobLabel}

/** Executor-side solve of a whole graph that fits one task — the "local
  * phase" of the hybrid design: distributed supersteps are for graphs too
  * big for one machine, and any graph (or, in SCC, any partition) whose
  * edge rows fit comfortably in one task is finished by a sequential
  * kernel in one pass instead of one Spark job per superstep. This is the
  * standard production structure for distributed SCC (FW-BW for the giant
  * component, sequential Tarjan for the long tail of small ones — Slota et
  * al., "BFS and Coloring-Based Parallel Algorithms for Strongly Connected
  * Components", IPDPS'14), applied here to WCC, PageRank, label
  * propagation and triangle counting as well.
  *
  * One `coalesce(1)` task reads typed records (`records`): an edge, a
  * vertex or a seed label each. It maps every id by binary search into a
  * sorted, distinct `Long` id array and builds compressed adjacency arrays
  * over those dense indexes (dense-key arrays instead of hash tables, as in
  * "Accelerating Joins and Aggregations on the Oracle In-Memory Database",
  * ICDE 2018). Five kernels run on them: an iterative Tarjan, union-find,
  * PageRank power iteration, the synchronous label-propagation recurrence
  * and a sorted merge intersection that counts triangles (HERO, SIGMOD
  * 2024).
  *
  * Routing is the solve itself ([[attempt]]): the task reads the records,
  * edge records first, and stops at edge record `threshold + 1`. A graph
  * that fits costs its operator one job, `graft <op> local-solve`, which
  * runs the kernel and checkpoints its rows; one that does not costs that
  * job and then the operator's distributed path. The cap counts the edge
  * records the task reads, after the operator's own filter (self-loops
  * dropped for SCC, WCC and triangles), not distinct edges, and no vertex
  * records: a vertex-heavy, edge-light input lands in one task too.
  */
object LocalGraph {

  /** Edge records up to which an operator solves the whole graph in one
    * task (each operator's default; `Scc.components` takes it as a
    * parameter). */
  val EdgeThreshold: Long = 250000L

  private[graft] val VertexRec = 0
  private[graft] val EdgeRec = 1
  private val SeedRec = 2
  /** A vertex row whose id is null: a vertex that no edge or seed names. */
  private val NullVertexRec = 3
  /** An edge row whose dst is null: it counts in its source's out-degree
    * and reaches no vertex. */
  private val NullDstRec = 4

  /** One task's input as (kind, a, b) records: edge a→b from each `edges`
    * row (src, dst), vertex `a` from each `vertices` row (id) and seed
    * label b of vertex a from each `seeds` row (id, label), in that order,
    * so that a task reading them meets every edge record before the
    * others. A `group` column of every input leads each record, for a
    * solve per group.
    *
    * Nulls mean what they mean to the distributed joins, where a null key
    * matches nothing: a null vertex id is a vertex of its own that comes
    * out with a null id, an edge with a null src carries nothing, one with
    * a null dst still counts in its source's out-degree, and a seed with a
    * null id or label is no seed. */
  def records(edges: DataFrame, vertices: Option[DataFrame], seeds: Option[DataFrame] = None,
      group: Option[String] = None): DataFrame = {
    def rec(df: DataFrame, kind: Column, a: Column, b: Column): DataFrame =
      df.select(group.map(col).toSeq ++
        Seq(kind.as("k"), coalesce(a, lit(0L)).as("a"), coalesce(b, lit(0L)).as("b")): _*)
    def long(c: String): Column = col(c).cast("long")
    val es = rec(edges.filter(long("src").isNotNull),
      when(long("dst").isNull, NullDstRec).otherwise(EdgeRec), long("src"), long("dst"))
    val vs = vertices.map(rec(_, when(long("id").isNull, NullVertexRec).otherwise(VertexRec),
      long("id"), lit(0L)))
    val ss = seeds.map(df => rec(df.filter(long("id").isNotNull && long("label").isNotNull),
      lit(SeedRec), long("id"), long("label")))
    (Seq(es) ++ vs ++ ss).reduce(_.unionByName(_))
  }

  /** One capped attempt at a one-task solve, in one job labelled
    * `graft <op> local-solve`: a `coalesce(1)` task reads `recs` into a
    * [[Graph]] and stops at edge record `threshold + 1` ([[Graph.read]]).
    * If the edges fit, `kernel` runs and its rows are checkpointed as
    * columns `cols`, riding `rides`. If they do not, the task emits no row
    * and counts the overflow in an accumulator of that job's result task,
    * which Spark applies exactly once per partition (see
    * [[org.apache.spark.sql.GraftShims.checkpoint]]); the empty checkpoint
    * is released, and None tells the caller to run its distributed path. A
    * threshold of 0 or less starts no job and returns None. The records
    * reach the task through a coalesce, not an exchange. */
  def attempt[T: Encoder](arena: CheckpointArena, op: String, recs: DataFrame, threshold: Long,
      cols: Seq[String], rides: Ride*)(kernel: Graph => Iterator[T]): Option[Checkpoint] =
    if (threshold <= 0) None
    else {
      val spark = recs.sparkSession
      import spark.implicits._
      val overflow = spark.sparkContext.longAccumulator(s"graft.$op.overflow")
      val ck = JobLabel(spark, op, "local-solve") {
        arena.checkpoint(recs.as[(Int, Long, Long)].coalesce(1)
          .mapPartitions { it =>
            Graph.read(it, threshold) match {
              case Some(g) => kernel(g)
              case None => overflow.add(1L); Iterator.empty
            }
          }.toDF(cols: _*), rides: _*)
      }
      if (overflow.value == 0L) Some(ck)
      else {
        graft.Log.v(s"$op: more than $threshold edge records — distributed path")
        arena.release(ck.df)
        None
      }
    }

  /** Compressed adjacency over dense indexes: the neighbours of `v` are
    * `adj(off(v) until off(v + 1))`, in record order. */
  final class Csr(val off: Array[Int], val adj: Array[Int])

  object Csr {
    /** Counting sort of the pairs (from(i), to(i)) by `from`, stable. */
    def apply(n: Int, from: Array[Int], to: Array[Int]): Csr = {
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < from.length) { off(from(i) + 1) += 1; i += 1 }
      i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val pos = java.util.Arrays.copyOf(off, n)
      val adj = new Array[Int](from.length)
      i = 0
      while (i < from.length) { adj(pos(from(i))) = to(i); pos(from(i)) += 1; i += 1 }
      new Csr(off, adj)
    }
  }

  /** One task's graph over `size` dense indexes. `ids` holds every vertex
    * id and edge endpoint, sorted and distinct, so index order is id order;
    * the indexes past it stand for null ids, one per null-id vertex record
    * and one per null dst, so that no two of them meet. `vertices` is the
    * index of each vertex record (an id repeated in the vertex input
    * repeats here, as it repeats in the distributed state); `src` and `dst`
    * every edge record; `seedAt`/`seedLabel` the seed records whose id is
    * a vertex.
    */
  final class Graph(
      val ids: Array[Long],
      val size: Int,
      val vertices: Array[Int],
      val src: Array[Int],
      val dst: Array[Int],
      val seedAt: Array[Int],
      val seedLabel: Array[Long]) {
    /** The id of index `v`; None for a null id. */
    def id(v: Int): Option[Long] = if (v < ids.length) Some(ids(v)) else None
    lazy val in: Csr = Csr(size, dst, src)
    /** Vertex records per index: 0 for an id only an edge names. */
    lazy val mult: Array[Int] = {
      val m = new Array[Int](size)
      vertices.foreach(v => m(v) += 1)
      m
    }
  }

  object Graph {
    /** The graph of every record of `recs`. */
    def apply(recs: Iterator[(Int, Long, Long)]): Graph = read(recs, Long.MaxValue).get

    /** The graph of `recs` if they hold at most `cap` edge records (an edge
      * with a null dst is one too); None as soon as edge record `cap + 1`
      * is read, the last record consumed. */
    def read(recs: Iterator[(Int, Long, Long)], cap: Long): Option[Graph] = {
      val vs = new scala.collection.mutable.ArrayBuilder.ofLong
      val es = new scala.collection.mutable.ArrayBuilder.ofLong
      val ed = new scala.collection.mutable.ArrayBuilder.ofLong
      val ss = new scala.collection.mutable.ArrayBuilder.ofLong
      val sl = new scala.collection.mutable.ArrayBuilder.ofLong
      val nullDstSrc = new scala.collection.mutable.ArrayBuilder.ofLong
      var nullVertices = 0
      var edgeRecs = 0L
      while (edgeRecs <= cap && recs.hasNext) {
        val (k, a, b) = recs.next()
        if (k == VertexRec) vs += a
        else if (k == EdgeRec) { es += a; ed += b; edgeRecs += 1 }
        else if (k == SeedRec) { ss += a; sl += b }
        else if (k == NullVertexRec) nullVertices += 1
        else { nullDstSrc += a; edgeRecs += 1 }
      }
      if (edgeRecs > cap) None
      else {
        val (v, s, d, ns) = (vs.result(), es.result(), ed.result(), nullDstSrc.result())
        val all = Array.concat(v, s, d, ns)
        java.util.Arrays.sort(all)
        var n = 0
        var i = 0
        while (i < all.length) {
          if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
          i += 1
        }
        val ids = java.util.Arrays.copyOf(all, n)
        val size = n + nullVertices + ns.length
        def index(xs: Array[Long]): Array[Int] = xs.map(java.util.Arrays.binarySearch(ids, _))
        val vIdx = Array.concat(index(v), Array.range(n, n + nullVertices))
        val isVertex = new Array[Boolean](size)
        vIdx.foreach(isVertex(_) = true)
        // a seed whose id is no vertex is dropped, as the vertex ⟕ seeds join drops it
        val sIdx = index(ss.result())
        val keep = sIdx.indices.filter(j => sIdx(j) >= 0 && isVertex(sIdx(j))).toArray
        val labels = sl.result()
        Some(new Graph(ids, size, vIdx, Array.concat(index(s), index(ns)),
          Array.concat(index(d), Array.range(n + nullVertices, size)), keep.map(sIdx), keep.map(labels)))
      }
    }
  }

  // ------------------------------------------------------------- kernels

  /** Iterative Tarjan over the edges between vertex records (explicit call
    * stack: a partition can be one long chain); an edge that names an id
    * outside the vertices closes no cycle, as the distributed path's
    * endpoint semi-joins drop it. Returns each index's SCC labelled by its
    * minimum member index, which is the minimum member id. */
  def scc(g: Graph): Array[Int] = {
    val n = g.size
    val mult = g.mult
    val within = g.src.indices.filter(e => mult(g.src(e)) > 0 && mult(g.dst(e)) > 0).toArray
    val out = Csr(n, within.map(g.src(_)), within.map(g.dst(_)))
    val order = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    val comp = new Array[Int](n)
    var sp = 0
    var cp = 0
    var counter = 0
    def enter(v: Int): Unit = {
      order(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      callV(cp) = v; callE(cp) = out.off(v); cp += 1
    }
    var root = 0
    while (root < n) {
      if (order(root) < 0) {
        enter(root)
        while (cp > 0) {
          val v = callV(cp - 1)
          val e = callE(cp - 1)
          if (e < out.off(v + 1)) {
            callE(cp - 1) = e + 1
            val w = out.adj(e)
            if (order(w) < 0) enter(w)
            else if (onStack(w) && order(w) < low(v)) low(v) = order(w)
          } else {
            cp -= 1
            if (cp > 0 && low(v) < low(callV(cp - 1))) low(callV(cp - 1)) = low(v)
            if (low(v) == order(v)) {
              // pop v's component; its minimum index labels every member
              var k = sp
              var min = Int.MaxValue
              while ({ k -= 1; if (stack(k) < min) min = stack(k); stack(k) != v }) ()
              var j = k
              while (j < sp) { comp(stack(j)) = min; onStack(stack(j)) = false; j += 1 }
              sp = k
            }
          }
        }
      }
      root += 1
    }
    comp
  }

  /** (id, comp) per vertex record: its SCC's minimum member id. */
  def sccRows(g: Graph): Iterator[(Option[Long], Option[Long])] = {
    val comp = scc(g)
    g.vertices.iterator.map(v => (g.id(v), g.id(comp(v))))
  }

  /** Union-find over every edge (a self-loop is a no-op): each index
    * labelled by the minimum index of its weak component, so an id that
    * only an edge names joins components and may be their label. */
  def wcc(g: Graph): Array[Int] = {
    val parent = Array.tabulate(g.size)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < g.src.length) {
      val a = find(g.src(e))
      val b = find(g.dst(e))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 1
    }
    Array.tabulate(g.size)(find)
  }

  /** (id, comp) per vertex record: its weak component's minimum id. */
  def wccRows(g: Graph): Iterator[(Option[Long], Option[Long])] = {
    val comp = wcc(g)
    g.vertices.iterator.map(v => (g.id(v), g.id(comp(v))))
  }

  /** PageRank power iteration with the distributed update, term for term:
    * `rank' = (1-α)/n + α·(contrib + dangling/n)` over the n vertex
    * records, contributions `rank(u)/outDeg(u)` pulled along in-edges.
    * Out-degrees count every edge record (duplicates, self-loops and edges
    * to ids outside the vertices); an edge from such an id carries nothing,
    * and the mass an edge carries to one is lost. Iterates until no rank
    * moves by more than `tol` or `maxIter` iterations ran, calling
    * `step(changed, wallMs)` after each. Returns each index's rank. */
  def pageRank(g: Graph, alpha: Double, tol: Double, maxIter: Int,
      step: (Long, Long) => Unit): Array[Double] = {
    val in = g.in
    val mult = g.mult
    val outDeg = new Array[Int](g.size)
    g.src.foreach(s => outDeg(s) += 1)
    val n = g.vertices.length.toDouble
    val base = (1.0 - alpha) / n
    def dangling(rank: Array[Double]): Double = {
      var m = 0.0
      g.vertices.foreach(v => if (outDeg(v) == 0) m += rank(v))
      m
    }
    var rank = Array.tabulate(g.size)(v => if (mult(v) > 0) 1.0 / n else 0.0)
    var mass = dangling(rank)
    val share = new Array[Double](g.size)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val t0 = System.nanoTime()
      var v = 0
      while (v < g.size) {
        share(v) = if (mult(v) > 0 && outDeg(v) > 0) rank(v) / outDeg(v) * mult(v) else 0.0
        v += 1
      }
      val next = new Array[Double](g.size)
      v = 0
      while (v < g.size) {
        if (mult(v) > 0) {
          var contrib = 0.0
          var e = in.off(v)
          while (e < in.off(v + 1)) { contrib += share(in.adj(e)); e += 1 }
          next(v) = base + alpha * (contrib + mass / n)
        }
        v += 1
      }
      changed = g.vertices.count(v => math.abs(next(v) - rank(v)) > tol).toLong
      rank = next
      mass = dangling(rank)
      step(changed, (System.nanoTime() - t0) / 1000000)
      iter += 1
    }
    rank
  }

  /** Synchronous seeded label propagation, `LabelProp`'s recurrence: each
    * round every unseeded vertex takes the most frequent label among its
    * labelled in-neighbours' previous labels (every edge record is a vote;
    * ties go to the smallest label) and keeps its label when no vote
    * arrives; a seeded vertex keeps its minimum seed label. Returns each
    * vertex record's (id, label), -1 where no label arrived. */
  def labelPropRows(g: Graph, rounds: Int): Iterator[(Option[Long], Long)] = {
    val in = g.in
    val mult = g.mult
    val seeded = new Array[Boolean](g.size)
    val seed = new Array[Long](g.size)
    for (j <- g.seedAt.indices) {
      val v = g.seedAt(j)
      if (!seeded(v) || g.seedLabel(j) < seed(v)) seed(v) = g.seedLabel(j)
      seeded(v) = true
    }
    var has = seeded.clone()
    var label = seed.clone()
    var votes = new Array[Long](16)
    for (_ <- 0 until rounds) {
      val nextHas = seeded.clone()
      val next = seed.clone()
      var v = 0
      while (v < g.size) {
        if (mult(v) > 0 && !seeded(v)) {
          // every labelled in-neighbour votes once per vertex record it has
          var k = 0
          var e = in.off(v)
          while (e < in.off(v + 1)) {
            val u = in.adj(e)
            var r = if (has(u)) mult(u) else 0
            while (r > 0) {
              if (k == votes.length) votes = java.util.Arrays.copyOf(votes, 2 * k)
              votes(k) = label(u); k += 1; r -= 1
            }
            e += 1
          }
          if (k == 0) { nextHas(v) = has(v); next(v) = label(v) }
          else {
            java.util.Arrays.sort(votes, 0, k)
            // the longest run of equal votes; the first (smallest) wins ties
            var best = votes(0)
            var bestRun = 0
            var i = 0
            while (i < k) {
              var j = i
              while (j < k && votes(j) == votes(i)) j += 1
              if (j - i > bestRun) { bestRun = j - i; best = votes(i) }
              i = j
            }
            nextHas(v) = true; next(v) = best
          }
        }
        v += 1
      }
      has = nextHas
      label = next
    }
    g.vertices.iterator.map(v => (g.id(v), if (has(v)) label(v) else -1L))
  }

  /** Triangles of the undirected simple graph over `g`'s edges (self-loops
    * dropped, duplicated and reversed edges collapsed), counted as
    * [[Triangles]] counts them: each edge is oriented from its (degree,
    * id)-smaller endpoint to the larger, N⁺(v) is v's ascending list of
    * higher-ranked neighbours, and the count is Σ_{u→v} |N⁺(u) ∩ N⁺(v)|,
    * one sorted merge intersection per oriented edge. */
  def triangles(g: Graph): Long = {
    // every non-loop edge as (smaller index, larger index) packed in one
    // Long, sorted, so that repeats and reversals sit side by side
    val keys = new Array[Long](g.src.length)
    var m = 0
    for (e <- g.src.indices if g.src(e) != g.dst(e)) {
      keys(m) = math.min(g.src(e), g.dst(e)).toLong << 32 | math.max(g.src(e), g.dst(e))
      m += 1
    }
    java.util.Arrays.sort(keys, 0, m)
    var k = 0
    for (e <- 0 until m if k == 0 || keys(k - 1) != keys(e)) { keys(k) = keys(e); k += 1 }
    val deg = new Array[Int](g.size)
    for (i <- 0 until k) { deg((keys(i) >>> 32).toInt) += 1; deg(keys(i).toInt) += 1 }
    val (from, to) = (new Array[Int](k), new Array[Int](k))
    for (i <- 0 until k) {
      val (a, b) = ((keys(i) >>> 32).toInt, keys(i).toInt)
      val up = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
      from(i) = if (up) a else b
      to(i) = if (up) b else a
    }
    val nUp = Csr(g.size, from, to)
    for (v <- 0 until g.size) java.util.Arrays.sort(nUp.adj, nUp.off(v), nUp.off(v + 1))
    var total = 0L
    for (v <- 0 until g.size; i <- nUp.off(v) until nUp.off(v + 1)) {
      val w = nUp.adj(i)
      var x = nUp.off(v)
      var y = nUp.off(w)
      while (x < nUp.off(v + 1) && y < nUp.off(w + 1)) {
        if (nUp.adj(x) < nUp.adj(y)) x += 1
        else if (nUp.adj(x) > nUp.adj(y)) y += 1
        else { total += 1; x += 1; y += 1 }
      }
    }
    total
  }
}
