package graft

import scala.collection.mutable

/** Driver-side exact graph oracles for tests (SURVEY.md §5): iterative
  * Tarjan SCC (the north-star's "Tarjan single-node oracle"), union-find
  * WCC, power-iteration PageRank, brute-force triangles, and the reference
  * oracle's acceptance filter (`/root/reference/misc/verify.py:38-53`).
  * Single-node, exact, never used in the engine itself.
  */
object Oracle {

  /** Tarjan SCC, iterative (no recursion — fixtures can be deep chains).
    * Returns id -> canonical component id (min member id).
    */
  def tarjan(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val vs = vertices.distinct
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toArray }
    val index = mutable.Map[Long, Int]()
    val low = mutable.Map[Long, Int]()
    val onStack = mutable.Set[Long]()
    val stack = mutable.Stack[Long]()
    var counter = 0
    val compOf = mutable.Map[Long, Long]()

    for (root <- vs if !index.contains(root)) {
      // explicit DFS stack of (vertex, next-child-cursor)
      val work = mutable.Stack[(Long, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.pop()
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack += v
        }
        val children = adj.getOrElse(v, Array.empty)
        var i = ci
        var descended = false
        while (i < children.length && !descended) {
          val w = children(i)
          if (!index.contains(w)) {
            work.push((v, i + 1)); work.push((w, 0)); descended = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!descended) {
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer[Long]()
            var w = -1L
            while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
            val comp = members.min
            members.foreach(compOf(_) = comp)
          }
          if (work.nonEmpty) {
            val (p, _) = work.top
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    compOf.toMap
  }

  /** verify.py:38-53 acceptance: components (of the FULL graph) that are
    * nontrivial, entirely inside U, and have no U vertex in prec(S).
    */
  def acceptedComps(
      vertices: Seq[Long], edges: Seq[(Long, Long)], u: Set[Long]): Set[Long] = {
    val comp = tarjan(vertices, edges)
    // grouped one-pass form: the per-component rescan of comp+edges was
    // O(C·(V+E)) and dominated oracle time on many-component fixtures
    val membersByComp = comp.groupBy(_._2).map { case (c, m) => c -> m.keySet }
    val killed = edges.collect {
      case (s, d) if u(s) && comp.contains(d) && comp.get(s) != comp.get(d) => comp(d)
    }.toSet
    membersByComp.collect {
      case (c, ms) if ms.size >= 2 && ms.subsetOf(u) && !killed(c) => c
    }.toSet
  }

  /** Reference-engine semantics: SCCs of G[U], killed when any U vertex
    * outside the component has an edge into it (main.cpp:207-222).
    */
  def acceptedCompsInduced(
      vertices: Seq[Long], edges: Seq[(Long, Long)], u: Set[Long]): Set[Long] = {
    val uVerts = vertices.filter(u)
    val uEdges = edges.filter { case (s, d) => u(s) && u(d) }
    val comp = tarjan(uVerts, uEdges)
    // same grouped one-pass form as acceptedComps
    val membersByComp = comp.groupBy(_._2).map { case (c, m) => c -> m.keySet }
    val killed = edges.collect {
      case (s, d) if u(s) && comp.contains(d) && comp.get(s) != comp.get(d) => comp(d)
    }.toSet
    membersByComp.collect {
      case (c, ms) if ms.size >= 2 && !killed(c) => c
    }.toSet
  }

  /** Union-find WCC: id -> min member id of its weak component. An edge
    * endpoint outside `vertices` still joins components, and may be the
    * min member. */
  def wcc(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]() ++
      (vertices ++ edges.flatMap(e => Seq(e._1, e._2))).map(v => v -> v)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  /** Power iteration PageRank with dangling redistribution. Every edge
    * counts in its source's out-degree; an edge from an id outside
    * `vertices` contributes nothing. An id repeated in `vertices` is that
    * many vertices sharing one rank: each counts in n and in the dangling
    * mass, and each sends the rank along the id's out-edges. */
  def pagerank(
      vertices: Seq[Long], edges: Seq[(Long, Long)],
      alpha: Double = 0.85, tol: Double = 1e-6, maxIter: Int = 200): Map[Long, Double] = {
    val n = vertices.size
    val mult = vertices.groupBy(identity).map { case (v, vs) => v -> vs.size }
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val in = edges.groupBy(_._2)
    var rank = vertices.map(_ -> 1.0 / n).toMap
    var delta = 1.0
    var it = 0
    while (delta > tol && it < maxIter) {
      val dangling = vertices.collect { case v if !out.contains(v) => rank(v) }.sum
      val next = vertices.map { v =>
        val contrib = in.getOrElse(v, Seq.empty)
          .collect { case (s, _) if rank.contains(s) => rank(s) / out(s) * mult(s) }.sum
        v -> ((1 - alpha) / n + alpha * (contrib + dangling / n))
      }.toMap
      delta = vertices.map(v => math.abs(next(v) - rank(v))).max
      rank = next
      it += 1
    }
    rank
  }

  /** Seeded synchronous label propagation, `rounds` rounds: a seeded
    * vertex keeps its smallest seed label; any other vertex takes the label
    * most of its in-edges from labelled vertices carry (each edge one vote,
    * ties to the smallest label), and keeps its label when no vote arrives.
    * Seeds and votes from ids outside `vertices` are ignored; an id
    * repeated in `vertices` votes once per repeat. Returns id -> label, -1
    * for a vertex no label reached.
    */
  def labelProp(vertices: Seq[Long], edges: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
      rounds: Int): Map[Long, Long] = {
    val mult = vertices.groupBy(identity).map { case (v, vs) => v -> vs.size }
    val vs = mult.keySet
    val clamp = seeds.filter(s => vs(s._1)).groupBy(_._1).map { case (v, ls) => v -> ls.map(_._2).min }
    val voters = edges.filter(e => vs(e._1) && vs(e._2)).groupBy(_._2)
      .map { case (d, es) => d -> es.map(_._1) }
    var label: Map[Long, Option[Long]] = vs.map(v => v -> clamp.get(v)).toMap
    for (_ <- 0 until rounds) {
      label = vs.map { v =>
        val votes = voters.getOrElse(v, Nil).flatMap(u => label(u).toSeq.flatMap(Seq.fill(mult(u))(_)))
        v -> (clamp.get(v) match {
          case Some(l) => Some(l)
          case None if votes.isEmpty => label(v)
          case None =>
            val tally = votes.groupBy(identity).map { case (l, ls) => l -> ls.size }
            val most = tally.values.max
            Some(tally.collect { case (l, c) if c == most => l }.min)
        })
      }.toMap
    }
    label.map { case (v, l) => v -> l.getOrElse(-1L) }
  }

  /** Brute-force triangle count over the undirected simple graph. */
  def triangles(edges: Seq[(Long, Long)]): Long = {
    val und = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq((math.min(a, b), math.max(a, b))) }.toSet
    val nbrs = (und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    var cnt = 0L
    for ((a, b) <- und) {
      cnt += nbrs(a).count(c => c > b && nbrs(b)(c))
    }
    cnt
  }
}
