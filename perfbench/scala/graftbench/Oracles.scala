package graftbench

import scala.collection.mutable

/** Sequential oracles over a collected edge list with dense vertex ids
  * `0 until n`. Written against plain arrays so they stay independent of
  * the engine's own local solvers.
  */
object Oracles {

  /** Compressed adjacency: neighbours of `v` are `adj(off(v) until off(v + 1))`. */
  final case class Csr(off: Array[Int], adj: Array[Int])

  def csr(n: Int, src: Array[Int], dst: Array[Int]): Csr = {
    val off = new Array[Int](n + 1)
    src.foreach(s => off(s + 1) += 1)
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val pos = off.clone()
    val adj = new Array[Int](src.length)
    i = 0
    while (i < src.length) { adj(pos(src(i))) = dst(i); pos(src(i)) += 1; i += 1 }
    Csr(off, adj)
  }

  /** Iterative Tarjan; returns each vertex's SCC labelled by its min member. */
  def sccMinMember(n: Int, g: Csr): Array[Int] = {
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    val comp = new Array[Int](n)
    var sp = 0
    var cp = 0
    var counter = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      callV(cp) = v; callE(cp) = g.off(v); cp += 1
    }
    var r = 0
    while (r < n) {
      if (index(r) < 0) {
        visit(r)
        while (cp > 0) {
          val v = callV(cp - 1)
          val e = callE(cp - 1)
          if (e < g.off(v + 1)) {
            callE(cp - 1) = e + 1
            val w = g.adj(e)
            if (index(w) < 0) visit(w)
            else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            cp -= 1
            if (cp > 0) { val u = callV(cp - 1); low(u) = math.min(low(u), low(v)) }
            if (low(v) == index(v)) {
              var k = sp
              var mn = Int.MaxValue
              while ({ k -= 1; mn = math.min(mn, stack(k)); stack(k) != v }) ()
              var j = k
              while (j < sp) { comp(stack(j)) = mn; onStack(stack(j)) = false; j += 1 }
              sp = k
            }
          }
        }
      }
      r += 1
    }
    comp
  }

  /** Weak components by union-find; each vertex labelled by its min member. */
  def wccMinMember(n: Int, src: Array[Int], dst: Array[Int]): Array[Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < src.length) {
      val a = find(src(i))
      val b = find(dst(i))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 1
    }
    Array.tabulate(n)(find)
  }

  /** Power iteration with the engine's update: dangling mass is spread
    * evenly, `rank' = (1 - alpha)/n + alpha * (contrib + dangling/n)`. */
  def pagerank(n: Int, src: Array[Int], dst: Array[Int], alpha: Double, iters: Int)
      : Array[Double] = {
    val outDeg = new Array[Int](n)
    src.foreach(s => outDeg(s) += 1)
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val contrib = new Array[Double](n)
      var i = 0
      while (i < src.length) { contrib(dst(i)) += rank(src(i)) / outDeg(src(i)); i += 1 }
      var dangling = 0.0
      i = 0
      while (i < n) { if (outDeg(i) == 0) dangling += rank(i); i += 1 }
      rank = Array.tabulate(n)(v => (1.0 - alpha) / n + alpha * (contrib(v) + dangling / n))
    }
    rank
  }

  /** Seeded synchronous label propagation, `LabelProp`'s recurrence: each
    * round a vertex takes the most frequent label among its labelled
    * in-neighbours (ties to the smallest), seeds stay clamped, and a vertex
    * no label reaches keeps its previous label. Labels are >= 0; -1 is none. */
  def labelProp(n: Int, src: Array[Int], dst: Array[Int], seed: Int => Int, rounds: Int)
      : Array[Int] = {
    val in = csr(n, dst, src)
    var label = Array.tabulate(n)(seed)
    for (_ <- 0 until rounds) {
      val prev = label
      label = Array.tabulate(n) { v =>
        if (seed(v) >= 0) seed(v)
        else {
          val counts = mutable.HashMap.empty[Int, Int]
          var e = in.off(v)
          while (e < in.off(v + 1)) {
            val l = prev(in.adj(e))
            if (l >= 0) counts(l) = counts.getOrElse(l, 0) + 1
            e += 1
          }
          if (counts.isEmpty) prev(v)
          else counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    label
  }

  /** Undirected triangle count: canonical edges (a < b) deduplicated, then
    * for every edge (a, b) the sorted higher-neighbour lists of a and b are
    * intersected by merge, so each triangle a < b < c is counted once. */
  def triangles(n: Int, src: Array[Int], dst: Array[Int]): Long = {
    val keys = src.indices.iterator
      .filter(i => src(i) != dst(i))
      .map { i =>
        val a = math.min(src(i), dst(i)).toLong
        val b = math.max(src(i), dst(i)).toLong
        a * n + b
      }.toArray
    java.util.Arrays.sort(keys)
    val uniq = keys.indices.filter(i => i == 0 || keys(i) != keys(i - 1)).map(keys)
    val lo = uniq.map(k => (k / n).toInt).toArray
    val hi = uniq.map(k => (k % n).toInt).toArray
    // keys are sorted by (a, b), so each higher-neighbour list is sorted
    val g = csr(n, lo, hi)
    var count = 0L
    var e = 0
    while (e < lo.length) {
      var p = g.off(lo(e)); val pEnd = g.off(lo(e) + 1)
      var q = g.off(hi(e)); val qEnd = g.off(hi(e) + 1)
      while (p < pEnd && q < qEnd) {
        val x = g.adj(p); val y = g.adj(q)
        if (x == y) { count += 1; p += 1; q += 1 }
        else if (x < y) p += 1
        else q += 1
      }
      e += 1
    }
    count
  }
}
