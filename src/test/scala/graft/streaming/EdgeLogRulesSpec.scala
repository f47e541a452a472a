package graft.streaming

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.graph.GraphFrame

/** The undirected-pair and edge-log rules the CDC maintenance loops share:
  * an undirected edge is its loop-free `(least, greatest)` pair
  * (`GraphFrame.canonicalPairs`), and the current graph is the log minus
  * its tombstones (`GraphFrame.withoutPairs`) — the predicate the loops
  * read with and compaction writes with. Also pins the same-batch
  * remove + re-add rule the WCC and triangle CDC loops document.
  */
class EdgeLogRulesSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  // Both orientations of {1,2}, a duplicate (2,3), a self-loop (3,3).
  private val logRows = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L),
    (3L, 3L), (3L, 4L), (4L, 5L))

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("src", "dst").as[(Long, Long)].collect().toSeq.sorted

  test("canonicalPairs: one loop-free (least, greatest) row per undirected edge") {
    val pairs = GraphFrame.canonicalPairs(logRows.toDF("src", "dst"))
    assert(pairs.columns.toSeq == Seq("src", "dst"))
    assert(sorted(pairs) == Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
  }

  test("withoutPairs drops both orientations and every copy of a listed " +
      "pair, keeps the rest as it is, and is what compaction writes") {
    val log = logRows.toDF("src", "dst")
    val tombs = GraphFrame.canonicalPairs(Seq((2L, 1L), (5L, 4L)).toDF("src", "dst"))
    val kept = GraphFrame.withoutPairs(log, tombs)
    // Duplicates, the self-loop and the stored orientation survive.
    assert(sorted(kept) == Seq((2L, 3L), (2L, 3L), (3L, 3L), (3L, 4L)))
    // The caller's hint reaches the join.
    val hinted = GraphFrame.withoutPairs(log, broadcast(tombs))
    assert(hinted.queryExecution.optimizedPlan.collect {
      case j: Join => j.hint.rightHint.isDefined
    } == Seq(true))
    assert(sorted(hinted) == sorted(kept))

    Streams.initWccCdcTables(spark, "elr_labels", "elr_edges", "elr_tombs")
    log.write.mode("overwrite").saveAsTable("elr_edges")
    tombs.write.mode("overwrite").saveAsTable("elr_tombs")
    Streams.compactCdcEdgeLog(spark, "elr_edges", "elr_tombs")
    spark.catalog.refreshTable("elr_edges")
    spark.catalog.refreshTable("elr_tombs")
    assert(sorted(spark.table("elr_edges")) == sorted(kept))
    assert(spark.table("elr_tombs").count() == 0L)
  }

  test("streamingWccMaintainCdc: a same-batch remove and re-add of one " +
      "edge nets to present") {
    implicit val sqlCtx = spark.sqlContext
    Streams.initWccCdcTables(spark, "elr_wcc_labels", "elr_wcc_edges",
      "elr_wcc_tombs")
    val input = MemoryStream[(Long, Long, String)]
    val q = Streams.streamingWccMaintainCdc(
      input.toDF().toDF("src", "dst", "op"), "elr_wcc_labels",
      "elr_wcc_edges", "elr_wcc_tombs").start()
    def labels: Map[Long, Long] = {
      spark.catalog.refreshTable("elr_wcc_labels")
      spark.table("elr_wcc_labels").as[(Long, Long)].collect().toMap
    }
    def tombs: Seq[(Long, Long)] = {
      spark.catalog.refreshTable("elr_wcc_tombs")
      sorted(spark.table("elr_wcc_tombs"))
    }
    try {
      input.addData((1L, 2L, "add"), (2L, 3L, "add"), (3L, 4L, "add"))
      q.processAllAvailable()
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
      // {2,3} removed and re-added (reversed) in one batch stays; the
      // plain takedown of {3,4} in the same batch still splits 4 off.
      input.addData((2L, 3L, "remove"), (3L, 2L, "add"), (4L, 3L, "remove"))
      q.processAllAvailable()
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
      assert(tombs == Seq((3L, 4L)))
    } finally q.stop()
  }

  test("streamingTriangleMaintainCdc: a same-batch remove and re-add of " +
      "one edge nets to present without growing the adjacency log") {
    implicit val sqlCtx = spark.sqlContext
    Streams.initTriangleCdcTables(spark, "elr_tri_counts", "elr_tri_adj",
      "elr_tri_tombs")
    val input = MemoryStream[(Long, Long, String)]
    val q = Streams.streamingTriangleMaintainCdc(
      input.toDF().toDF("src", "dst", "op"), "elr_tri_counts",
      "elr_tri_adj", "elr_tri_tombs").start()
    def counts: Map[Long, Long] = {
      spark.catalog.refreshTable("elr_tri_counts")
      spark.table("elr_tri_counts").as[(Long, Long)].collect().toMap
    }
    def table(name: String): Seq[(Long, Long)] = {
      spark.catalog.refreshTable(name)
      sorted(spark.table(name))
    }
    try {
      input.addData((1L, 2L, "add"), (2L, 3L, "add"), (3L, 1L, "add"))
      q.processAllAvailable()
      assert(counts == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      val adj = table("elr_tri_adj")
      assert(adj.size == 6)
      input.addData((1L, 2L, "remove"), (2L, 1L, "add"))
      q.processAllAvailable()
      assert(counts == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      assert(table("elr_tri_adj") == adj, "a re-add must not append a second copy")
      assert(table("elr_tri_tombs").isEmpty)
    } finally q.stop()
  }
}
