package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.graph.GraphFrame

/** No loop leaves checkpoint blocks behind: after a run, the only new
  * persistent RDDs are those behind the frame it returned, which the
  * caller still reads. Every loop runs distributed on the `RoundJobsSpec`
  * graph, and the returned frame is read back in full, so a checkpoint
  * released before its last reader fails the test too.
  */
class LoopReleaseSpec extends AnyFunSuite with SparkTestHarness {

  // 256 vertices, 1024 edges, power-law in-degrees (the RoundJobsSpec graph).
  private lazy val edges: DataFrame = {
    val nV = 256L
    val u = pmod(xxhash64(col("id"), lit(2)), lit(1000000L)).cast("double") / lit(1e6)
    spark.range(1024)
      .select(pmod(xxhash64(col("id"), lit(1)), lit(nV)).as("src"),
        (pow(u, 4.0) * nV).cast("long").as("dst"))
      .localCheckpoint(true)
  }
  private lazy val graph: GraphFrame = GraphFrame.fromEdges(edges)

  /** The RDD ids behind a frame's checkpoint leaves. */
  private def behind(df: DataFrame): Set[Int] =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed
      .collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** Ids, not sizes: the cleaner may drop earlier suites' RDDs meanwhile. */
  private def assertNoLeak(label: String)(run: => DataFrame): Unit = {
    graph // the input's own checkpoint is not the loop's
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = run
    result.collect() // every block the result reads is still there
    val grown = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(grown.subsetOf(behind(result)),
      s"$label left ${(grown -- behind(result)).size} persistent RDDs beyond its result")
  }

  private def noLeak(label: String)(run: => DataFrame): Unit =
    test(s"$label leaves only its result")(assertNoLeak(label)(run))

  noLeak("wcc")(graph.connectedComponents.smallGraphThreshold(0).run().components)
  noLeak("mis")(graph.maximalIndependentSet.smallGraphThreshold(0).run().vertices)
  noLeak("pagerank")(graph.pageRank.resetProbability(0.15).tolerance(0.0)
    .maxIterations(4).run().ranks)
  noLeak("kcore")(graph.kCore.smallGraphThreshold(0).run().vertices)
  noLeak("hits")(graph.hits.iterations(3).run())
  noLeak("katz")(graph.katz.iterations(3).run())
  noLeak("hyperball")(graph.hyperBall.radius(3).registers())
  noLeak("distributed scc")(StronglyConnectedComponents.run(edges, smallGraphThreshold = 0))
  noLeak("ktruss")(KTruss.run(edges, k = 3, maxRounds = 4))
  noLeak("ktruss re-enumerate")(KTruss.runReenumerate(edges, k = 3, maxRounds = 4))
  noLeak("bfs")(graph.bfs(col("id") === 1L, col("id") === 0L))
}
