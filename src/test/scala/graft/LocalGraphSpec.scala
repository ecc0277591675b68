package graft

import graft.operators.LocalGraph

/** The one-task attempt stops reading as soon as the edges overflow its
  * cap, so a graph too big for one task costs the attempt at most
  * `cap + 1` edge records, and [[LocalGraph.records]] puts every edge
  * record first so that no vertex record is read before them. */
class LocalGraphSpec extends SparkTest {
  private final class Counting(recs: Seq[(Int, Long, Long)]) extends Iterator[(Int, Long, Long)] {
    private val it = recs.iterator
    var read = 0
    override def hasNext: Boolean = it.hasNext
    override def next(): (Int, Long, Long) = { read += 1; it.next() }
  }

  test("graph construction stops reading at edge record cap + 1") {
    val edges = (0L until 10L).map(i => (LocalGraph.EdgeRec, i, (i + 1) % 10))
    val vertices = (0L until 10L).map(i => (LocalGraph.VertexRec, i, 0L))
    for (cap <- Seq(0L, 1L, 3L, 9L)) {
      val it = new Counting(edges ++ vertices)
      assert(LocalGraph.Graph.read(it, cap).isEmpty, s"cap $cap")
      assert(it.read == cap + 1, s"cap $cap: read ${it.read} records")
    }
    for (cap <- Seq(10L, 11L, Long.MaxValue)) {
      val it = new Counting(edges ++ vertices)
      val g = LocalGraph.Graph.read(it, cap)
      assert(it.read == 20 && g.exists(g => g.src.length == 10 && g.vertices.length == 10), s"cap $cap")
    }
  }

  test("records put every edge record before the vertex and seed records") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 6L)).toDF("src", "dst")
    val kinds = LocalGraph.records(edges, Some((0L until 8L).toDF("id")),
      Some(Seq((1L, 7L)).toDF("id", "label"))).coalesce(1).as[(Int, Long, Long)].collect().map(_._1)
    assert(kinds.length == 14 && kinds.take(5).forall(_ == LocalGraph.EdgeRec) &&
      !kinds.drop(5).contains(LocalGraph.EdgeRec), kinds.mkString(","))
  }
}
