package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic multi-component graph: vertices 0..59, a chain inside
    * each residue class mod 6 with some edges withheld as the "new"
    * batch — including edges that BRIDGE two old components (the case
    * where incremental maintenance must actually merge clusters, not
    * just extend one). */
  private def graph() = {
    val all = (0 until 54).map(i => (i.toLong, (i + 6).toLong)) // chains mod 6
    val bridges = Seq((1L, 2L), (3L, 4L)) // merge components 1∪2 and 3∪4
    val extra = Seq((48L, 54L), (55L, 55L)) // tail extension + self-loop
    (all, bridges ++ extra)
  }

  private def collectLabels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The engine's labels for a graph, checked against the union-find. */
  private def check(name: String, vs: Seq[Long], es: Seq[(Long, Long)]): Unit = {
    val got = collectLabels(Components.connectedComponents(vs.toDF("id"), es.toDF("src", "dst")))
    val want = UnionFind.labels(vs, es)
    assert(got == want, s"$name: ${got.toSeq.diff(want.toSeq).take(10)} differ from union-find")
  }

  test("incrementalComponents over prior labels equals full re-clustering") {
    val (oldEdges, newEdges) = graph()
    val vertices = (0L to 59L).toDF("id")
    val prior = Components.connectedComponents(vertices, oldEdges.toDF("src", "dst"))
    val incremental = collectLabels(
      Components.incrementalComponents(prior, newEdges.toDF("src", "dst")))

    // min-label semantics make both labelings canonical (label = min
    // member id), so the comparison is exact equality, not isomorphism
    assert(incremental == UnionFind.labels(0L to 59L, oldEdges ++ newEdges),
      "incremental labels diverge from full re-clustering")
    // the bridge edges really did merge old components
    assert(incremental(1L) == incremental(2L) && incremental(1L) == incremental(8L))
    assert(incremental(3L) == incremental(4L))
    assert(incremental(0L) != incremental(1L), "unbridged components must stay apart")
  }

  test("incrementalComponents with empty new batch is the identity") {
    val (oldEdges, _) = graph()
    val vertices = (0L to 59L).toDF("id")
    val prior = Components.connectedComponents(vertices, oldEdges.toDF("src", "dst"))
    val same = Components.incrementalComponents(prior,
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(same.exceptAll(prior).isEmpty && prior.exceptAll(same).isEmpty)
  }

  test("incrementalComponents admits brand-new vertices from the edge batch") {
    val prior = Seq((10L, 10L), (11L, 10L)).toDF("id", "label")
    val out = Components.incrementalComponents(prior,
      Seq((11L, 100L), (200L, 201L)).toDF("src", "dst"))
    val m = collectLabels(out)
    assert(m(100L) == 10L, "new vertex must join the old cluster through the bridge")
    assert(m(200L) == 200L && m(201L) == 200L, "disjoint new pair forms its own cluster")
    assert(m.keySet == Set(10L, 11L, 100L, 200L, 201L))
  }

  test("connectedComponents equals union-find on cliques, chains and leaf pairs") {
    // clique (the near-dup group shape): one level resolves it
    check("clique", 1L to 5L, (1L to 5L).combinations(2).map(c => (c(0), c(1))).toSeq)
    // the shape that BREAKS a bare min-neighbor pass: 3's neighbors are
    // {1,2}, so 1 and 2 both root their own trees and only the residual
    // contracted edge (1,2) merges them
    check("leaf-pair", Seq(1L, 2L, 3L), Seq((2L, 3L), (1L, 3L)))
    // a long chain: pointer doubling must walk log(depth) rounds
    check("chain", 1L to 12L, (1L until 12L).map(i => (i, i + 1)))
    // isolated vertices + multiple components + reversed edge orientation
    check("mixed", 1L to 10L, Seq((7L, 2L), (2L, 9L), (5L, 4L), (10L, 10L)))
    check("no edges", 1L to 3L, Nil)
    // deterministic pseudo-random graph (LCG — no Math.random in tests
    // either, same reproducibility discipline as the mains)
    var s = 42L
    def nxt(n: Long): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; s % n }
    check("random", 1L to 60L,
      (1 to 80).map(_ => (nxt(60) + 1, nxt(60) + 1)).filter(p => p._1 != p._2))
  }

  test("connectedComponents: a 64-vertex path is one component") {
    check("path64", 1L to 64L, (1L until 64L).map(i => (i, i + 1)))
  }

  test("connectedComponents: a 120-vertex zig-zag-id path is one component") {
    // ids alternate 1000+i, i+1 along the path: every small id is a
    // level-0 root, so the residual level carries a 60-vertex path
    val ids = (0 until 120).map(i => if (i % 2 == 0) 1000L + i else i + 1L)
    check("zigzag120", ids, ids.zip(ids.tail))
  }

  test("property: connectedComponents equals union-find on random graph families") {
    type G = (Seq[Long], Seq[(Long, Long)])
    /** Shuffles the ids 1..n of a graph, so tree and path shapes do not
      * follow id order. */
    def relabel(n: Int, es: Seq[(Int, Int)]): Gen[G] =
      Gen.listOfN(n, Gen.choose(0, Int.MaxValue)).map { keys =>
        val id = (1 to n).sortBy(i => (keys(i - 1), i)).zipWithIndex
          .map { case (v, k) => v -> (k + 1L) }.toMap
        ((1L to n).toSeq, es.map { case (a, b) => (id(a), id(b)) })
      }
    val families: Seq[(String, Gen[G])] = Seq(
      "random" -> (for {
        n <- Gen.choose(2, 40)
        es <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, n.toLong), Gen.choose(1L, n.toLong)))
      } yield ((1L to n).toSeq, es)),
      "shuffled path" -> Gen.choose(2, 80).flatMap(n =>
        relabel(n, (1 until n).map(i => (i, i + 1)))),
      "random tree" -> Gen.choose(2, 60).flatMap(n =>
        Gen.sequence[List[Int], Int]((2 to n).map(i => Gen.choose(1, i - 1)))
          .flatMap(ps => relabel(n, (2 to n).zip(ps)))),
      "star" -> Gen.choose(2, 30).flatMap(n =>
        relabel(n, (2 to n).map(i => (1, i)))),
      "clique" -> Gen.choose(2, 8).flatMap(n =>
        relabel(n, (1 to n).combinations(2).map(c => (c(0), c(1))).toSeq)))
    for (((family, gen), f) <- families.zipWithIndex) {
      // 12 seeded graphs per family, in disjoint id ranges, checked as one
      // edge set: components never cross graphs
      val graphs = (0 until 12).map(k =>
        gen.apply(Gen.Parameters.default, Seed(1000L * f + k)).get)
      val offset = (k: Int) => 100000L * k
      check(family,
        graphs.zipWithIndex.flatMap { case ((vs, _), k) => vs.map(_ + offset(k)) },
        graphs.zipWithIndex.flatMap { case ((_, es), k) =>
          es.map { case (a, b) => (a + offset(k), b + offset(k)) } })
    }
  }

  test("loopWidth sizes every pointer-doubling loop by one rule") {
    // (rows, cores, session width) -> width: tiny graphs get one task,
    // small ones one per ~512 rows up to two waves per core (17 112 is
    // the er_batch forest at seed 42), huge ones ~2M rows per partition
    // up to the session width
    val points = Seq(
      (100L, 4, 4) -> 1, (3000L, 4, 4) -> 6, (17112L, 4, 4) -> 8,
      (100000000L, 4, 4) -> 8,
      (100000000L, 16, 64) -> 51, (1000000000L, 16, 64) -> 64)
    for (((rows, cores, session), want) <- points)
      assert(Components.loopWidth(rows, cores, session) == want,
        s"rows=$rows cores=$cores session=$session")
  }
}
