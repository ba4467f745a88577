package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Triangles

/** The degree-oriented wedge join must count exactly — every triangle
  * found once, every corner credited once — on graphs chosen to stress
  * the orientation: complete graphs (maximum overlap), triangle-free
  * graphs, duplicate/reversed/self-loop edge noise, and a hub pattern
  * where naive wedge enumeration at the hub would dominate. */
class TrianglesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def count(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Triangles.perNodeCounts(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("K4: four triangles, each node on three of them") {
    val k4 = for { i <- 0L to 3L; j <- 0L to 3L if i < j } yield (i, j)
    assert(count(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("square plus one diagonal: two triangles sharing the diagonal") {
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
    assert(count(sq) == Map(0L -> 2L, 2L -> 2L, 1L -> 1L, 3L -> 1L))
  }

  test("triangle-free graphs come back empty") {
    assert(count(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))).isEmpty) // C4
    assert(count(Seq((0L, 1L), (0L, 2L), (0L, 3L))).isEmpty)          // star
    assert(count(Seq.empty).isEmpty)
  }

  test("self-loops, duplicates, and reversed edges do not change the count") {
    val noisy = Seq((0L, 1L), (1L, 0L), (0L, 1L), (1L, 2L), (0L, 2L),
      (2L, 2L), (1L, 1L))
    assert(count(noisy) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("perNodeStats: degrees, zero-triangle nodes, and exact coefficients") {
    // square plus one diagonal: 0 and 2 have degree 3 (coeff 2/6+... wait:
    // each sits on 2 triangles of its C(3,2)=3 neighbor pairs -> 2/3);
    // 1 and 3 have degree 2 and sit on 1 of their 1 neighbor pair -> 1.0;
    // an appended pendant path keeps 4 (degree 2, no triangles, coeff 0)
    // and excludes the degree-1 leaf 5 entirely
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L),
      (2L, 4L), (0L, 4L), (4L, 5L))
    val got = graft.operators.Triangles.perNodeStats(sq.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) == ((4L, 3L, 0.5)))       // 3 of C(4,2)=6 pairs closed
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((4L, 3L, 0.5)))
    assert(got(3L) == ((2L, 1L, 1.0)))
    assert(got(4L) == ((3L, 1L, 1.0 / 3.0))) // pendant edge adds degree only
    assert(!got.contains(5L))                // degree-1: coefficient undefined
  }

  test("hub: high-degree center with one closing edge yields exactly one triangle") {
    // node 0 connects to 1..20; only (1,2) closes. Degree orientation
    // points both hub edges of the triangle INTO the hub (its (deg, id)
    // key is maximal), so the apex is node 1, not the hub — the wedge
    // join never enumerates the hub's C(20,2) neighbor pairs.
    val hub = (1L to 20L).map(i => (0L, i)) :+ (1L, 2L)
    assert(count(hub) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  test("perNodeCounts and perNodeStats leave no cache entry in the session") {
    spark.catalog.clearCache() // the session is shared with earlier suites
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("a", "b")
    Triangles.perNodeCounts(e, "a", "b").collect()
    assert(cacheManager.isEmpty)
    Triangles.perNodeStats(e, "a", "b").collect()
    assert(cacheManager.isEmpty)
  }
}
