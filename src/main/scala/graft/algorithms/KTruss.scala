package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing.Step

import graft.graph.GraphFrame

/** k-truss: the maximal subgraph in which every edge closes at least k-2
  * triangles — the EDGE-centric cohesion ladder next to k-core's
  * vertex-centric one (beyond the reference's algorithm set; standard for
  * mining tightly-knit communities out of noisy corpus graphs, where
  * k-core is fooled by hub-and-spoke noise but a truss demands actual
  * triangle density).
  *
  * Two peeling strategies, identical results:
  *
  *   - [[KTruss.run]] (default, INCREMENTAL): one full degree-oriented
  *     Schank-Wagner triangle enumeration seeds per-edge supports, then
  *     each round only enumerates the triangles INCIDENT TO THE REMOVED
  *     EDGES (expanding from each removed edge's lower-degree endpoint)
  *     and decrements the surviving edges they touched. Per-round cost is
  *     proportional to the removal frontier's wedge volume, not the whole
  *     graph's O(m^1.5) — the difference between a shallow cap and a deep
  *     fixpoint peel being affordable at scale.
  *   - [[KTruss.runReenumerate]]: re-enumerates all triangles on the
  *     survivors every round (the round-9 formulation, kept as the
  *     reference implementation and ScaleBench comparison arm).
  *
  * A triangle with two or three removed edges is enumerated once per
  * removed edge it contains, so the lost-triangle set is DEDUPLICATED on
  * the canonical vertex triple before decrementing — each surviving edge
  * loses exactly one support per distinct dead triangle, which keeps the
  * decremented counts equal to a from-scratch recount (the Round10 spec
  * pins the two strategies equal to fixpoint).
  *
  * Removal cascades — dropping an edge can starve a neighbor edge's last
  * triangle — so the loop runs to fixpoint or `maxRounds`, whichever
  * first; a capped run is DETERMINISTIC (early stop only fires when a
  * round removes nothing, in which case further rounds are identity).
  *
  * Returns the canonical surviving edges `[src, dst, support]` (src < dst;
  * support measured in the final round's input graph). State is the edge
  * support table itself.
  */
class KTruss(graph: GraphFrame) {
  private var k = 4
  private var maxRoundsV = 10

  def k(value: Int): KTruss = { k = value; this }
  def maxRounds(value: Int): KTruss = { maxRoundsV = value; this }

  def run(): DataFrame = KTruss.run(graph.edges, k, maxRoundsV)
}

object KTruss {
  private val checkpointing = org.apache.spark.sql.graft.checkpointing

  /** Per-round lineage truncation. The counted leaf is load-bearing: a
    * plain `localCheckpoint` inherits the optimizer's estimated
    * sizeInBytes, whose bit-length compounds geometrically across peel
    * rounds until stats estimation (BigInteger products) dwarfs the actual
    * work — a deep fixpoint peel then hangs in PLANNING, not execution.
    * An exact count does not compound (see `checkpointing`). Eager, so the
    * enumeration joins plan adaptively: as lazy static rounds the peels
    * ran 3.3x slower at `ScaleBench 262144 1048576 ktruss` (SCALE_RECORD.md).
    * The loop driver records the counts, so a round runs no counting job.
    */
  private def counted(df: DataFrame): (DataFrame, Long) = checkpointing.localCheckpointCounted(df)
  private def ckpt(df: DataFrame): DataFrame = counted(df)._1

  /** Canonical undirected simple edges `[a, b]`, a < b. */
  private def canonical(edges: DataFrame): DataFrame =
    GraphFrame.canonicalPairs(edges)
      .select(col(GraphFrame.SRC).as("a"), col(GraphFrame.DST).as("b"))

  /** Per-edge triangle support of the canonical graph `cur` — one full
    * degree-oriented Schank-Wagner enumeration (wedges expand only from
    * the (degree, id)-smaller endpoint, so wedge volume is O(m^1.5)
    * regardless of skew). Returns `[a, b, support]` covering EVERY edge of
    * `cur` (zero-support edges included) with its row count, and the
    * oriented-edge checkpoint it read, the caller's to release.
    */
  private def triangleSupport(cur: DataFrame): (DataFrame, Long, DataFrame) = {
    val sym = cur.select(col("a").as("u"), col("b").as("v"))
      .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u").as("__kt_v")).agg(count(lit(1)).as("__kt_d"))
    val oriented = sym
      .join(deg, col("u") === col("__kt_v"))
      .select(col("u"), col("v"), struct(col("__kt_d"), col("u")).as("ru"))
      .join(deg, col("v") === col("__kt_v"))
      .select(col("u"), col("v"), col("ru"), struct(col("__kt_d"), col("v")).as("rv"))
      .filter(col("ru") < col("rv"))
      .select(col("u"), col("v"), col("rv"))
      .transform(ckpt)
    val tris = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.rv") < col("e2.rv"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .join(oriented.as("e3"), col("y") === col("e3.u") && col("z") === col("e3.v"))
      .select("x", "y", "z")
    // Credit each triangle to its three CANONICAL edges.
    val credits = tris.select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .unionAll(tris.select(least(col("x"), col("z")).as("a"), greatest(col("x"), col("z")).as("b")))
      .unionAll(tris.select(least(col("y"), col("z")).as("a"), greatest(col("y"), col("z")).as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    val (out, n) = counted(cur.join(credits, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support")))
    (out, n, oriented)
  }

  /** The surviving edges `[src, dst, support]` of a support table. */
  private def result(supported: DataFrame): DataFrame =
    supported.select(col("a").as(GraphFrame.SRC), col("b").as(GraphFrame.DST), col("support"))

  /** Incremental-support peel (default). Rounds run on the loop driver
    * (`checkpointing.loop`), which releases them. The state is `sup` with
    * its split into removed edges and survivors, whose counts the split's
    * checkpoints hold; round 0 splits the seed enumeration.
    */
  def run(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // Loop invariant: `sup` holds the support of every edge of the current
    // graph, measured IN the current graph.
    def split(sup: DataFrame, scratch: Seq[DataFrame]): Step[(DataFrame, DataFrame, DataFrame)] = {
      val (removed, removedCount) = counted(sup.filter(col("support") < k - 2).select("a", "b"))
      val (survivors, survivorCount) = counted(sup.filter(col("support") >= k - 2))
      Step((sup, removed, survivors), Nil, scratch, counted = Seq(removedCount, survivorCount))
    }
    val cur0 = canonical(edges).transform(ckpt)
    val (sup0, _, oriented0) = triangleSupport(cur0)
    val peeled = checkpointing.loop(split(sup0, Seq(cur0, oriented0)), maxRounds - 1, "ktruss") {
      case ((sup, removed, survivors), previous) =>
        val Seq(removedCount, survivorCount) = previous.counts
        if (removedCount > survivorCount) {
          // MASS peel (most of the graph died this round — e.g. a sparse
          // graph's first round): the removal frontier's wedge volume
          // exceeds a fresh enumeration on the (smaller) survivor set, so
          // incremental decrementing LOSES here — ScaleBench
          // ktruss-inc-deep-skew measured 104 s frontier vs 44 s recount
          // at 8.4 M edges peeling to 1512. Recount from scratch and let
          // later (gradual) rounds take the incremental path.
          val surEdges = survivors.select("a", "b").transform(ckpt)
          val (next, _, oriented) = triangleSupport(surEdges)
          split(next, Seq(surEdges, oriented))
        } else {
          // Triangles of the PRE-removal graph touching >= 1 removed edge:
          // expand each removed edge from its (degree, id)-smaller endpoint
          // over the pre-removal adjacency, close against the pre-removal
          // edge set, then dedupe on the canonical vertex triple.
          val curEdges = sup.select("a", "b")
          val sym = curEdges.select(col("a").as("u"), col("b").as("v"))
            .unionAll(curEdges.select(col("b").as("u"), col("a").as("v")))
          val deg = sym.groupBy(col("u").as("__kt_v"))
            .agg(count(lit(1)).as("__kt_d"))
          val flip = removed
            .join(deg, col("a") === col("__kt_v"))
            .select(col("a"), col("b"), struct(col("__kt_d"), col("a")).as("ra"))
            .join(deg, col("b") === col("__kt_v"))
            .select(col("a"), col("b"), col("ra"),
              struct(col("__kt_d"), col("b")).as("rb"))
            .select(when(col("ra") <= col("rb"), col("a")).otherwise(col("b")).as("p"),
              when(col("ra") <= col("rb"), col("b")).otherwise(col("a")).as("q"))
          val cands = flip.join(sym, col("p") === col("u"))
            .select(col("p"), col("q"), col("v").as("c"))
            .filter(col("c") =!= col("q"))
          val closed = cands.join(
            curEdges.select(col("a").as("ca"), col("b").as("cb")),
            least(col("q"), col("c")) === col("ca") &&
              greatest(col("q"), col("c")) === col("cb"))
            .select(col("p"), col("q"), col("c"))
          val tri = closed.select(
            least(col("p"), col("q"), col("c")).as("x"),
            (col("p") + col("q") + col("c")
              - least(col("p"), col("q"), col("c"))
              - greatest(col("p"), col("q"), col("c"))).as("y"),
            greatest(col("p"), col("q"), col("c")).as("z"))
            .distinct()
          val losses = tri.select(col("x").as("a"), col("y").as("b"))
            .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
            .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
            .groupBy("a", "b").agg(count(lit(1)).as("loss"))
          split(survivors.join(losses, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("support") - coalesce(col("loss"), lit(0L))).as("support"))
            .transform(ckpt), Nil)
        }
    }(_.counts.head == 0)
    result(peeled.keep(_._3))
  }

  /** Full re-enumeration peel: recomputes every edge's support from
    * scratch each round. Same results as [[run]]; per-round cost is the
    * whole graph's triangle enumeration — the comparison arm for the
    * ScaleBench deep-fixpoint row. The state is the surviving edges and
    * the support table they were cut from; a round's count is the edges it
    * removed, and the peel is stable when it removed none. Round 0
    * enumerates the canonical edges.
    */
  def runReenumerate(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    def enumerate(cur: DataFrame, scratch: Seq[DataFrame]): Step[(DataFrame, DataFrame)] = {
      val (supported, n, oriented) = triangleSupport(cur)
      val (next, kept) = counted(supported.filter(col("support") >= k - 2).select("a", "b"))
      Step((next, supported), Nil, scratch :+ oriented, counted = Seq(n - kept))
    }
    val cur0 = canonical(edges).transform(ckpt)
    val peeled = checkpointing.loop(enumerate(cur0, Seq(cur0)), maxRounds - 1, "ktruss") {
      case ((cur, _), _) => enumerate(cur, Nil)
    }(_.counts.head == 0)
    result(peeled.keep(_._2).filter(col("support") >= k - 2))
  }
}
