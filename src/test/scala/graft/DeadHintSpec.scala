package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanCapture
import org.scalatest.funsuite.AnyFunSuite

import graft.algorithms.{ConnectedComponents, TriangleCount}
import graft.graph.GraphFrame
import graft.streaming.Streams

/** A join hint on a frame that reaches no join does nothing: Spark drops it
  * and logs "... is not part of a join relation". The incremental and CDC
  * composes must plan without one.
  */
class DeadHintSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  test("incremental and CDC composes log no dropped join hint") {
    val rnd = new scala.util.Random(8)
    val all = (1 to 120).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .toDF("src", "dst")
    val bucket = pmod(col("src") + col("dst") * 7, lit(6))
    val base = all.filter(bucket =!= 0).localCheckpoint()
    val added = all.filter(bucket === 0)
    val removed = base.filter(bucket === 1)

    val (_, dropped) = PlanCapture.droppedHints {
      val prevTri = GraphFrame.fromEdges(base).triangleCount.run()
        .select(col("id"), col("triangles"))
      TriangleCount.incremental(prevTri, base, added).count()
      TriangleCount.incrementalWithDeletions(prevTri, base, added, removed).count()
      val prevWcc = GraphFrame.fromEdges(base).connectedComponents.run().components
      ConnectedComponents.incrementalWithDeletions(prevWcc, base, added, removed).count()

      implicit val sqlCtx = spark.sqlContext
      val batch = Seq((1L, 2L, "add"), (2L, 3L, "add"), (3L, 1L, "add"), (2L, 3L, "remove"))
      Streams.initWccCdcTables(spark, "dh_wcc_labels", "dh_wcc_edges", "dh_wcc_tombs")
      val wccIn = MemoryStream[(Long, Long, String)]
      val wcc = Streams.streamingWccMaintainCdc(wccIn.toDF().toDF("src", "dst", "op"),
        "dh_wcc_labels", "dh_wcc_edges", "dh_wcc_tombs").start()
      try { wccIn.addData(batch: _*); wcc.processAllAvailable() } finally wcc.stop()
      Streams.initTriangleCdcTables(spark, "dh_tri_counts", "dh_tri_adj", "dh_tri_tombs")
      val triIn = MemoryStream[(Long, Long, String)]
      val tri = Streams.streamingTriangleMaintainCdc(triIn.toDF().toDF("src", "dst", "op"),
        "dh_tri_counts", "dh_tri_adj", "dh_tri_tombs").start()
      try { triIn.addData(batch: _*); tri.processAllAvailable() } finally tri.stop()
    }
    assert(dropped.isEmpty, s"${dropped.size} dropped join hints:\n${dropped.distinct.mkString("\n")}")
  }
}
