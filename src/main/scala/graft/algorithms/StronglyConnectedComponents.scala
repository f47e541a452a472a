package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graft.checkpointing
import org.apache.spark.sql.graft.checkpointing.Step

/** Distributed strongly connected components — the Orzan/FW-BW COLORING
  * scheme, the standard data-parallel SCC (Tarjan's stack is inherently
  * sequential):
  *
  * repeat on the unassigned subgraph:
  *   1. FORWARD: propagate `color = max reachable-ancestor id` along edge
  *      direction to a fixpoint (monotone max — converges in DAG-depth
  *      rounds, each one src-keyed join + map-side max like a Pregel
  *      superstep).
  *   2. BACKWARD: from each color ROOT (vertex whose color is its own id),
  *      walk REVERSE edges restricted to the root's color class, to a
  *      fixpoint. The root's color class ∩ backward-reachable set is
  *      EXACTLY the root's SCC (classic FW-BW invariant: same color ⇒
  *      forward-reachable from the root).
  *   3. Assign those vertices their root as `scc_id`, peel them (and
  *      their edges) off, recolor the rest next round.
  *
  * Every round peels at least every root's SCC, so the outer loop
  * terminates; color classes split the remaining graph so later rounds
  * shrink fast (O(log) expected rounds on random structure). All loop
  * frames cut lineage with stats-free local checkpoints; both inner
  * fixpoints are capped loudly — a truncated propagation would silently
  * merge SCCs, so running past the cap throws instead.
  *
  * Output: `[id, scc_id]` with `scc_id = max vertex id of the SCC` (the
  * root's id — a canonical, engine-replayable representative).
  */
object StronglyConnectedComponents {

  /** Every loop frame is a lazy stats-free checkpoint. */
  private def ckpt(df: DataFrame): DataFrame = checkpointing.localCheckpointNoStats(df, eager = false)

  /** Hybrid entry point, matching every other iterative algorithm here:
    * at or below `smallGraphThreshold` edges the graph is collected and
    * decomposed with an ITERATIVE driver Tarjan (exact, one pass, no
    * per-round scheduling latency — the FW-BW loop's many small jobs cost
    * ~40x more than the work below ~10^5 edges); above it, the
    * distributed FW-BW peel. Identical results by construction
    * (equivalence spec on random digraphs); same canonical
    * `scc_id = max member`.
    */
  def run(edges: DataFrame, maxFixpointIter: Int = 200,
      smallGraphThreshold: Long = 100000L): DataFrame = {
    val e0 = edges.select(col("src").cast(LongType), col("dst").cast(LongType))
      .filter(col("src") =!= col("dst")).distinct()
    if (e0.count() <= smallGraphThreshold) runOnDriver(e0)
    else runDistributed(e0, maxFixpointIter)
  }

  /** Iterative (explicit-stack) Tarjan on collected edges. */
  private def runOnDriver(e0: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    val edgeArr = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edgeArr.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val verts = (edgeArr.map(_._1) ++ edgeArr.map(_._2)).distinct
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStack = scala.collection.mutable.HashSet.empty[Long]
    val stack = scala.collection.mutable.ArrayDeque.empty[Long]
    val sccOf = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    for (root <- verts if !index.contains(root)) {
      // frames: (vertex, iterator over its out-neighbours)
      val work = scala.collection.mutable.ArrayDeque(
        (root, adj.getOrElse(root, Array.empty[Long]).iterator))
      index(root) = counter; low(root) = counter; counter += 1
      stack.prepend(root); onStack += root
      while (work.nonEmpty) {
        val (v, it) = work.head
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.prepend(w); onStack += w
            work.prepend((w, adj.getOrElse(w, Array.empty[Long]).iterator))
          } else if (onStack(w)) {
            low(v) = math.min(low(v), index(w))
          }
        } else {
          work.removeHead()
          work.headOption.foreach { case (p, _) =>
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.Buffer.empty[Long]
            var done = false
            while (!done) {
              val w = stack.removeHead(); onStack -= w
              members += w
              done = w == v
            }
            val rep = members.max
            members.foreach(m => sccOf(m) = rep)
          }
        }
      }
    }
    import spark.implicits._
    sccOf.toSeq.toDF("id", "scc_id")
  }

  /** Expects edges ALREADY canonicalized (cast, self-loop-free,
    * distinct) — [[run]] does that once; re-deduping here would pay a
    * second full-graph shuffle per invocation.
    */
  private[algorithms] def runDistributed(e0: DataFrame,
      maxFixpointIter: Int = 200): DataFrame = {
    // All three loops run on the loop driver (`checkpointing.loop`, which
    // states the round rule).
    val parts = checkpointing.shufflePartitions(e0.sparkSession)
    val edges0 = ckpt(e0)
    // Endpoints derive from the CHECKPOINTED edges with one generate — the
    // union form re-ran e0's (arbitrarily expensive) lineage once per
    // endpoint side.
    val remaining0 = ckpt(
      edges0.select(explode(array(col("src"), col("dst"))).as("id")).distinct())
    val assigned0 = ckpt(remaining0.select(col("id"), col("id").as("scc_id")).limit(0))

    // Round 0 counts the vertices; the state is (remaining edges,
    // remaining vertices, assigned `[id, scc_id]`).
    val init = Step((edges0, remaining0, assigned0), Seq(remaining0))
    checkpointing.loop(init, 10000, "scc: outer peel") {
      case ((remEdges, remaining, assigned), _) =>
        val colors = forward(remEdges, remaining, maxFixpointIter)
        // Reverse edges restricted to same-color endpoints — checkpointed
        // once per outer round: the backward fixpoint scans it every round,
        // and re-deriving the double color join per step would multiply the
        // round's most expensive plan by the walk depth.
        val sameColor = ckpt(remEdges
          .join(colors.select(col("id").as("src"), col("color").as("src_color")), Seq("src"))
          .join(colors.select(col("id").as("dst"), col("color").as("dst_color")), Seq("dst"))
          .filter(col("src_color") === col("dst_color"))
          .select(col("src"), col("dst"), col("src_color").as("ecolor")))
        val reached = backward(sameColor,
          ckpt(colors.filter(col("id") === col("color")).select("id", "color")),
          maxFixpointIter, parts)
        // Peel: reached(id, color) is the union of the roots' SCCs.
        val sccs = reached.select(col("id"), col("color").as("scc_id"))
        val nextRemaining = ckpt(remaining.join(sccs, Seq("id"), "left_anti"))
        val nextEdges = ckpt(remEdges
          .join(sccs.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(sccs.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select("src", "dst"))
        // A union's partitions are its inputs' together: coalescing keeps the
        // assigned frame, which every round counts, at the shuffle width.
        val nextAssigned = ckpt(assigned.unionAll(sccs).coalesce(parts))
        Step((nextEdges, nextRemaining, nextAssigned),
          Seq(nextRemaining, nextEdges, nextAssigned),
          scratch = Seq(colors, sameColor, reached))
    }(_.counts.head == 0).converged.keep(_._3)
  }

  /** FORWARD max-color fixpoint: `[id, color, chg]`, `color` the largest
    * id that reaches `id`. The changed flag is computed IN the round's
    * projection and counted off the checkpoint: colors only ever grow, so
    * "changed" is "in_color won", and no join against the previous round
    * is needed to diff them.
    */
  private def forward(remEdges: DataFrame, remaining: DataFrame, maxRounds: Int): DataFrame = {
    val init = ckpt(remaining.select(col("id"), col("id").as("color")))
    checkpointing.loop(Step(init, Nil), maxRounds, "scc: forward fixpoint") { (colors, _) =>
      val pushed = remEdges.join(colors, remEdges("src") === colors("id"))
        .groupBy(col("dst").as("id")).agg(max("color").as("in_color"))
      val inColor = coalesce(col("in_color"), lit(Long.MinValue))
      val next = ckpt(colors.join(pushed, Seq("id"), "left")
        .select(col("id"), greatest(col("color"), inColor).as("color"),
          (inColor > col("color")).as("chg")))
      Step(next, Seq(next.filter(col("chg"))))
    }(_.counts.head == 0).converged.state
  }

  /** BACKWARD walk from the color roots over same-color reverse edges, to
    * a fixpoint: `[id, color, fresh]`. The root's color class ∩ its
    * backward-reachable set is exactly the root's SCC. A round keeps the
    * rows it reached before and flags the ones it adds, so its one count
    * is the rows it added; coalescing the union to `parts` keeps the state
    * from widening by one shuffle width per round.
    */
  private def backward(sameColor: DataFrame, roots: DataFrame, maxRounds: Int,
      parts: Int): DataFrame =
    checkpointing.loop(Step(roots, Nil), maxRounds, "scc: backward fixpoint") { (reached, _) =>
      val known = reached.select("id", "color")
      val added = sameColor
        .join(known, sameColor("dst") === known("id") && sameColor("ecolor") === known("color"))
        .select(col("src").as("id"), col("ecolor").as("color")).distinct()
        .join(known, Seq("id", "color"), "left_anti")
      val next = ckpt(known.withColumn("fresh", lit(false))
        .unionAll(added.withColumn("fresh", lit(true))).coalesce(parts))
      Step(next, Seq(next.filter(col("fresh"))))
    }(_.counts.head == 0).converged.state
}
