package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness

class BfsSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  // 1->2->3->4 chain, 1->5 shortcut, 5->4 (so 1~>4 has a 2-hop path),
  // 6 isolated.
  private def g: GraphFrame = GraphFrame(
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f"))
      .toDF("id", "name"),
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (5L, 4L)).toDF("src", "dst"))

  test("bfs returns only the minimal-level paths") {
    // 1 ~> 4: 2-hop via 5 beats 3-hop via 2,3.
    val paths = g.bfs(col("id") === 1L, col("id") === 4L)
    assert(paths.columns.toSeq == Seq("from", "e0", "v1", "e1", "to"))
    val rows = paths.select(col("from.id"), col("v1.id"), col("to.id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 5L, 4L)))
  }

  test("bfs level 0: a from-vertex matching the to-predicate") {
    val paths = g.bfs(col("id") <= 2L, col("name") === "b")
    assert(paths.columns.toSeq == Seq("from", "to"))
    val rows = paths.select(col("from.id"), col("to.id"))
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq((2L, 2L)))
  }

  test("bfs returns all shortest paths when several exist at level L") {
    // Add 2->4: now 1~>4 has two 2-hop paths (via 2 and via 5).
    val g2 = GraphFrame(g.vertices,
      g.edges.unionByName(Seq((2L, 4L)).toDF("src", "dst")))
    val rows = g2.bfs(col("id") === 1L, col("id") === 4L)
      .select(col("v1.id")).as[Long].collect().sorted.toSeq
    assert(rows == Seq(2L, 5L))
  }

  test("bfs unreachable and depth-capped searches return empty") {
    assert(g.bfs(col("id") === 1L, col("id") === 6L).count() == 0)
    assert(g.bfs(col("id") === 4L, col("id") === 1L).count() == 0)
    assert(g.bfs(col("id") === 1L, col("id") === 4L, maxPathLength = 1)
      .count() == 0)
  }

  test("bfs edgeFilter restricts the traversable edges") {
    // Block the 1->5 shortcut: the shortest 1~>4 path becomes the 3-hop
    // chain via 2 and 3.
    val paths = g.bfs(col("id") === 1L, col("id") === 4L,
      edgeFilter = Some(!(col("src") === 1L && col("dst") === 5L)))
    assert(paths.columns.toSeq ==
      Seq("from", "e0", "v1", "e1", "v2", "e2", "to"))
    val rows = paths.select(col("v1.id"), col("v2.id"))
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq((2L, 3L)))
  }

  test("bfs vertex attributes ride the structs") {
    val r = g.bfs(col("name") === "a", col("name") === "c")
      .select(col("from.name"), col("v1.name"), col("to.name"))
      .as[(String, String, String)].collect().toSeq
    assert(r == Seq(("a", "b", "c")))
  }

  test("bfs keeps only the level its result reads: a 3-hop search grows persistent RDDs by at most 1") {
    // Blocking the 1->5 shortcut makes 1 ~> 4 the 3-hop chain via 2 and 3.
    // Ids, not sizes: the cleaner may drop earlier suites' RDDs meanwhile.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val paths = g.bfs(col("id") === 1L, col("id") === 4L,
      edgeFilter = Some(!(col("src") === 1L && col("dst") === 5L)))
    assert(paths.select(col("to.id")).as[Long].collect().toSeq == Seq(4L))
    val grown = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(grown.size <= 1, s"a 3-hop search left ${grown.size} more persistent RDDs")
  }
}
