package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed

/** Seeded random graphs for the operator properties. Each case mixes hub
  * stars (one vertex holding most of the rows), a long chain over shuffled
  * ids, self-loops, duplicated edges in both directions and edges with an
  * endpoint outside the vertices `0 until n` (negative or past the end) —
  * any of which may be empty, so isolated vertices are common — split over
  * 1, 4 or 8 input partitions. Seeds (for label propagation) label random
  * ids in and outside the vertices with 0–3, some ids more than once. Some
  * cases repeat vertex ids, and some hold null ids, endpoints and labels.
  */
object GraphCases {

  /** The id a null id reads back as, and stands for in the oracles. */
  val NullId: Long = Long.MaxValue

  final case class Case(n: Int, edges: Vector[(Long, Long)], seeds: Vector[(Long, Long)],
      parts: Int, repeated: Vector[Long] = Vector.empty, nulls: Boolean = false) {

    /** One id per vertex row: `0 until n`, then each repeated id again. */
    def vertices: Seq[Long] = (0L until n.toLong) ++ repeated

    /** (edges over `parts` partitions, vertices, seeds). With `nulls`, one
      * more vertex row with a null id, edges 0→null, null→0 and null→null,
      * and seeds (null, 1) and (0, null). */
    def frames(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
      import spark.implicits._
      def opt(rows: Seq[(Long, Long)]) = rows.map { case (a, b) => (Option(a), Option(b)) }
      val (nv, ne, ns) =
        if (!nulls) (Nil, Nil, Nil)
        else (Seq(None), Seq((Some(0L), None), (None, Some(0L)), (None, None)),
          Seq((None, Some(1L)), (Some(0L), None)))
      ((opt(edges) ++ ne).toDF("src", "dst").repartition(parts),
        (vertices.map(Option(_)) ++ nv).toDF("id"),
        (opt(seeds) ++ ns).toDF("id", "label"))
    }

    /** The vertices as the oracles take them: the null id as [[NullId]]. */
    def oracleVertices: Seq[Long] = vertices ++ (if (nulls) Seq(NullId) else Nil)

    /** The edges as the oracles take them: each null endpoint as an id of
      * its own outside the vertices (a null seed is no seed: `seeds`). */
    def oracleEdges: Seq[(Long, Long)] =
      edges ++ (if (nulls) Seq((0L, NullId - 1), (NullId - 2, 0L), (NullId - 3, NullId - 4)) else Nil)
  }

  /** Column `i` of `r`, [[NullId]] where it is null. */
  def long(r: Row, i: Int): Long = if (r.isNullAt(i)) NullId else r.getLong(i)

  /** `got` holds one row per vertex row of `c` (a repeated id repeats) and
    * each row's value is `same` as the oracle's `want` for its id. */
  def matches[V](c: Case, got: Seq[(Long, V)], want: Map[Long, V])(
      same: (V, V) => Boolean = (a: V, b: V) => a == b): Boolean =
    got.map(_._1).sorted == c.oracleVertices.sorted &&
      got.forall { case (id, x) => want.get(id).exists(same(x, _)) }

  private def vertex(n: Int): Gen[Long] = Gen.choose(0L, n - 1L)
  private def outside(n: Int): Gen[Long] =
    Gen.oneOf(Gen.choose(-3L, -1L), Gen.choose(n.toLong, n + 2L))

  private def star(n: Int, maxSpokes: Int): Gen[Vector[(Long, Long)]] = for {
    hub <- vertex(n)
    k <- Gen.choose(0, maxSpokes)
    spokes <- Gen.listOfN(k, Gen.zip(vertex(n), Gen.prob(0.5)))
  } yield spokes.map { case (v, in) => if (in) (v, hub) else (hub, v) }.toVector

  def gen(maxN: Int, maxSpokes: Int): Gen[Case] = for {
    n <- Gen.choose(1, maxN)
    stars <- Gen.listOfN(3, star(n, maxSpokes))
    chainLen <- Gen.choose(0, n)
    keys <- Gen.listOfN(n, Gen.long)
    loops <- Gen.listOf(vertex(n).map(v => (v, v)))
    dups <- Gen.listOf(Gen.zip(vertex(n), vertex(n)))
    strays <- Gen.listOfN(4, Gen.zip(vertex(n), outside(n), Gen.prob(0.5)))
    seeds <- Gen.listOf(Gen.zip(Gen.frequency(9 -> vertex(n), 1 -> outside(n)), Gen.choose(0L, 3L)))
    parts <- Gen.oneOf(1, 4, 8)
    repeated <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.listOfN(3, vertex(n)))
    nulls <- Gen.prob(0.25)
  } yield {
    val chain = (0L until n.toLong).sortBy(i => keys(i.toInt)).take(chainLen)
    val links = chain.zip(chain.drop(1))
    val out = strays.map { case (v, o, in) => if (in) (o, v) else (v, o) }
    Case(n, stars.flatten.toVector ++ links ++ loops ++ dups ++ dups.map(_.swap) ++ out,
      seeds.toVector, parts, repeated.toVector, nulls)
  }

  implicit val shrinkCase: Shrink[Case] = Shrink { c =>
    Shrink.shrinkContainer[Vector, (Long, Long)].shrink(c.edges).map(es => c.copy(edges = es))
  }

  /** `prop` holds on 20 drawn cases (drawing each partition count, and
    * cases with repeated vertex ids and with nulls), on an edgeless graph
    * and on a small graph with repeated ids and nulls at every partition
    * count. */
  def check(seed: Long, maxN: Int, maxSpokes: Int)(prop: Case => Boolean): Unit = {
    val seen = scala.collection.mutable.Set.empty[Int]
    var (repeats, nulls) = (false, false)
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withWorkers(1)
        .withInitialSeed(Seed(seed)),
      Prop.forAll(gen(maxN, maxSpokes)) { c =>
        seen += c.parts
        repeats ||= c.repeated.nonEmpty
        nulls ||= c.nulls
        prop(c)
      })
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(seen == Set(1, 4, 8), s"partition counts drawn: $seen")
    assert(repeats && nulls, s"drew repeated ids: $repeats, nulls: $nulls")
    for (p <- Seq(1, 4, 8)) {
      assert(prop(Case(5, Vector.empty, Vector((0L, 2L), (0L, 1L)), p)), s"no edges, $p partitions")
      val small = Case(6, Vector((0L, 1L), (1L, 2L), (2L, 0L), (3L, 3L), (2L, 4L), (2L, 4L), (4L, 9L)),
        Vector((0L, 2L), (0L, 1L), (3L, 5L)), p, repeated = Vector(1L, 1L, 2L), nulls = true)
      assert(prop(small), s"repeated ids and nulls, $p partitions")
    }
  }
}
