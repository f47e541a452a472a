package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{checkpointing, JobCounter}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.graph.GraphFrame

/** Job accounting for the iterative loops: a lazy checkpoint is built from
  * a static plan and runs nothing, and every distributed round of WCC,
  * MIS, k-core, shortest paths and fixed-iteration PageRank is exactly ONE
  * Spark job (its termination or materializing count), on top of a fixed
  * per-run constant for set-up and result assembly. Each algorithm's
  * result is checked against its driver-side twin or an in-test oracle,
  * the same equivalences RandomGraphSpec pins on small random graphs.
  *
  * The per-run constants are stated for this fixed graph at 4 shuffle
  * partitions; they count the adaptive jobs of the eager steps outside the
  * loop (set-up aggregates, the final result checkpoints), never a round.
  */
class RoundJobsSpec extends AnyFunSuite with SparkTestHarness {

  // 256 vertices, 1024 edges, power-law in-degrees: enough rounds for
  // every loop, small enough to keep each round a few stages of tiny tasks.
  private lazy val edgeRows: Array[(Long, Long)] = {
    val nV = 256L
    val u = pmod(xxhash64(col("id"), lit(2)), lit(1000000L)).cast("double") / lit(1e6)
    spark.range(1024)
      .select(pmod(xxhash64(col("id"), lit(1)), lit(nV)).as("src"),
        (pow(u, 4.0) * nV).cast("long").as("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }
  private lazy val graph: GraphFrame = {
    import spark.implicits._
    GraphFrame.fromEdges(edgeRows.toSeq.toDF("src", "dst").localCheckpoint(true))
  }

  private def jobs[T](body: => T): (T, Int) = JobCounter(spark.sparkContext)(body)

  private def longMap(df: DataFrame, value: String): Map[Long, Long] =
    df.select(col("id"), col(value)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a lazy checkpoint schedules no job; the round's one count runs it") {
    val byKey = graph.edges.repartition(4, col("src"))
    val degrees = graph.edges.groupBy("dst").count()
    val ((declared, plain), built) = jobs {
      (checkpointing.localCheckpointHashPartitioned(byKey, Seq("src"), 4, eager = false),
        checkpointing.localCheckpointNoStats(degrees, eager = false))
    }
    assert(built == 0, "building lazy checkpoints over two shuffles ran jobs")
    val (counts, counted) = jobs(checkpointing.roundCounts(declared, plain))
    assert(counted == 1, "both checkpoints and their shuffles must run in ONE job")
    assert(counts == Seq(edgeRows.length.toLong, edgeRows.map(_._2).distinct.length.toLong))
    // Materialized by that job: reading the blocks needs no shuffle again.
    val (again, reread) = jobs(checkpointing.roundCounts(declared, plain))
    assert(again == counts && reread == 1)
    Seq(declared, plain).foreach(checkpointing.release)
  }

  test("wcc: one job per distributed round, plus 17 per run") {
    val (res, n) = jobs(graph.connectedComponents.smallGraphThreshold(0).run())
    assert(res.iterations >= 3)
    // 1 first edge count; 16 for the back pass and the two eager result
    // checkpoints (min-label relabel).
    assert(n == res.iterations + 17, s"${res.iterations} rounds ran $n jobs")
    val driver = graph.connectedComponents.run() // union-find cut-over
    assert(longMap(res.components, "component") == longMap(driver.components, "component"))
  }

  test("mis: one job per distributed round, plus 1 per run") {
    val (res, n) = jobs(graph.maximalIndependentSet.smallGraphThreshold(0).run())
    assert(res.iterations >= 3)
    // 1: the eager union of the member deltas.
    assert(n == res.iterations + 1, s"${res.iterations} rounds ran $n jobs")
    val replay = graph.maximalIndependentSet.run() // exact driver replay
    assert(res.vertices.collect().map(_.getLong(0)).toSet ==
      replay.vertices.collect().map(_.getLong(0)).toSet)
  }

  test("kcore: one job per distributed round, plus 0 per run") {
    val (res, n) = jobs(graph.kCore.smallGraphThreshold(0).run())
    assert(res.iterations >= 3)
    // The symmetrized edges, the degree seed and Pregel's edge and state
    // checkpoints are all lazy: the first round's job runs them.
    assert(n == res.iterations, s"${res.iterations} rounds ran $n jobs")
    val peel = graph.kCore.run() // driver peel
    assert(longMap(res.vertices, "kcore") == longMap(peel.vertices, "kcore"))
  }

  test("sssp: one job per distributed round, plus 0 per run") {
    val landmarks = Seq(0L, 1L, 2L)
    val (res, n) = jobs(graph.shortestPaths(landmarks).toLandmarks()
      .smallGraphThreshold(0).run())
    assert(res.iterations >= 3)
    assert(n == res.iterations, s"${res.iterations} rounds ran $n jobs")
    val bfs = graph.shortestPaths(landmarks).toLandmarks().run() // driver BFS
    def dists(df: DataFrame) = df.collect().map(r => r.getAs[Long]("id") ->
      landmarks.map(l => r.getAs[Int](s"dist_$l"))).toMap
    assert(dists(res.vertices) == dists(bfs.vertices))
  }

  test("pagerank (fixed iterations): one job per round, plus 1 per run") {
    def run(iters: Int) = jobs(graph.pageRank.resetProbability(0.15).tolerance(0.0)
      .maxIterations(iters).run())
    val (r3, n3) = run(3)
    val (r6, n6) = run(6)
    assert(r3.iterations == 3 && r6.iterations == 6)
    // 1: broadcasting the out-degree frame into the vertex preparation's
    // join, which runs when the initial state's checkpoint is built.
    assert(n3 == 3 + 1 && n6 == 6 + 1, s"3 rounds ran $n3 jobs, 6 rounds ran $n6")
    // Oracle: the same delta recurrence as a power iteration, normalized.
    val ids = (edgeRows.map(_._1) ++ edgeRows.map(_._2)).distinct.sorted
    val outDeg = edgeRows.groupBy(_._1).map { case (v, es) => v -> es.length }
    var delta = ids.map(_ -> 0.15).toMap
    val pr = scala.collection.mutable.Map(delta.toSeq: _*)
    for (_ <- 1 to 6) {
      val sums = edgeRows.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (s, _) => delta(s) / outDeg(s) }.sum }
      delta = ids.map(v => v -> 0.85 * sums.getOrElse(v, 0.0)).toMap
      ids.foreach(v => pr(v) += delta(v))
    }
    val total = pr.values.sum
    val got = r6.ranks.select("id", "pagerank").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach { v =>
      val want = pr(v) / total
      assert(math.abs(got(v) - want) <= 1e-9 * math.max(1.0, want), s"vertex $v")
    }
  }
}
