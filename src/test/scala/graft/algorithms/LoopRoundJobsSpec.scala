package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.JobCounter
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness

/** Job accounting for the distributed SCC loops, which moved onto the loop
  * driver from adaptive per-round counts: every round of the forward
  * fixpoint, the backward fixpoint and the outer peel is exactly ONE Spark
  * job, in the `RoundJobsSpec` style.
  */
class LoopRoundJobsSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  private def jobs[T](body: => T): Int = JobCounter(spark.sparkContext)(body)._2.jobs

  private def frame(es: Seq[(Long, Long)]): DataFrame = es.toDF("src", "dst")

  /** The FW-BW rounds `runDistributed` runs on `es`, replayed on the
    * driver: (outer peel rounds, forward rounds, backward rounds).
    */
  private def sccRounds(es: Seq[(Long, Long)]): (Int, Int, Int) = {
    var edges = es.distinct.filter { case (s, d) => s != d }
    var remaining = edges.flatMap { case (s, d) => Seq(s, d) }.toSet
    var (outer, fwd, bwd) = (0, 0, 0)
    while (remaining.nonEmpty) {
      outer += 1
      var color = remaining.map(v => v -> v).toMap
      var changed = true
      while (changed) {
        fwd += 1
        val in = edges.groupBy(_._2).map { case (d, in) => d -> in.map(e => color(e._1)).max }
        val next = color.map { case (v, c) => v -> math.max(c, in.getOrElse(v, Long.MinValue)) }
        changed = next != color
        color = next
      }
      var reached = color.filter { case (v, c) => v == c }.toSet
      changed = true
      while (changed) {
        bwd += 1
        val added = edges.collect { case (s, d)
            if color(s) == color(d) && reached((d, color(d))) => (s, color(s)) }.toSet -- reached
        changed = added.nonEmpty
        reached ++= added
      }
      val peeled = reached.map(_._1)
      remaining --= peeled
      edges = edges.filterNot { case (s, d) => peeled(s) || peeled(d) }
    }
    (outer, fwd, bwd)
  }

  private def assertSccJobs(label: String, es: Seq[(Long, Long)]): (Int, Int, Int) = {
    val rounds @ (outer, fwd, bwd) = sccRounds(es)
    val n = jobs(StronglyConnectedComponents.runDistributed(frame(es)))
    // Round 0 of the outer peel counts the vertices.
    assert(n == 1 + outer + fwd + bwd, s"$label: rounds $rounds ran $n jobs")
    rounds
  }

  test("scc: each extra forward, backward or peel round adds exactly 1 job") {
    // A 2-cycle {20, 21} with an out-chain of k increasing ids: the chain
    // takes k forward rounds to inherit color 21 and peels as singletons
    // in a second outer round.
    def tail(k: Int) = Seq((20L, 21L), (21L, 20L), (21L, 1L)) ++
      (1 until k).map(i => (i.toLong, i + 1L))
    // A directed cycle with chords from its largest id: the color spreads
    // in one round, the backward walk takes the cycle's length.
    def chorded(l: Int) = (0 until l).map(i => (i.toLong, ((i + 1) % l).toLong)) ++
      (0 until l - 2).map(i => ((l - 1).toLong, i.toLong))
    val (o3, f3, b3) = assertSccJobs("tail 3", tail(3))
    val (o5, f5, b5) = assertSccJobs("tail 5", tail(5))
    assert(f5 - f3 == 2 && o5 == o3 && b5 == b3, "tail: only forward rounds differ")
    val (o4, f4, b4) = assertSccJobs("chorded 4", chorded(4))
    val (o6, f6, b6) = assertSccJobs("chorded 6", chorded(6))
    assert(b6 - b4 == 2 && o6 == o4 && f6 == f4, "chorded: only backward rounds differ")
    // A decreasing chain peels its head each outer round.
    val (oc, _, _) = assertSccJobs("chain", (1 until 5).map(i => ((i + 1).toLong, i.toLong)))
    assert(oc == 5)
    assertSccJobs("mixed", tail(4) ++ chorded(5).map { case (s, d) => (s + 30, d + 30) } ++
      Seq((33L, 2L), (3L, 31L)))
  }

  test("scc: a fixpoint cut by its round cap fails, naming the loop") {
    // Color 21 takes five forward rounds to reach the end of the tail; the
    // cap allows 3.
    val es = Seq((20L, 21L), (21L, 20L), (21L, 1L)) ++ (1 until 5).map(i => (i.toLong, i + 1L))
    val e = intercept[IllegalArgumentException](
      StronglyConnectedComponents.runDistributed(frame(es), maxFixpointIter = 3))
    assert(e.getMessage.contains("scc: forward fixpoint exceeded 3 rounds"), e.getMessage)
  }
}
