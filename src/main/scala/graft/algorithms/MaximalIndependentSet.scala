package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.apache.spark.sql.graft.checkpointing.{RoundStat, Step}

import graft.graph.GraphFrame

/** `rounds`: one [[RoundStat]] per distributed round, its counts the
  * remaining edges, the remaining vertices and the round's new members.
  */
case class MISResult(vertices: DataFrame, iterations: Int, rounds: Seq[RoundStat])

/** Maximal independent set via Ghaffari's probability-based nomination
  * (Ghaffari 2016), ported from the reference's bespoke loop
  * (`/root/reference/src/algorithm/subgraph/maximal_independent_set.rs:74-399`).
  *
  * Per round, over the symmetrized simple graph: each active vertex draws a
  * nomination with its current probability `p`; the effective degree
  * `d(v) = Σ p(u)` over neighbours decides whether `p` halves or doubles;
  * a nominated vertex with no nominated neighbour joins the set, and it and
  * its neighbours leave the active graph (two anti-joins contract the edge
  * set). Vertices isolated in the active graph join immediately; when no
  * edges remain, the pairwise non-adjacent survivors join in one sweep.
  *
  * Improvements over the reference:
  *   - Nomination draws are HASH-based — `xxhash64(id, seed, iteration)`
  *     mapped to [0,1) — instead of the reference's unseedable `random()`
  *     (`maximal_independent_set.rs:102-104`). A draw is a pure function of
  *     (id, seed, iteration): reproducible across runs, partitionings and
  *     cluster layouts, and safe under task retry/recompute — which is what
  *     lets every per-round frame be LAZILY checkpointed (no eager "freeze
  *     the randomness" materializations).
  *   - One Spark job per round on the loop driver (`checkpointing.loop`,
  *     which states the round rule), not ~9 eager checkpoints and counts.
  */
class MaximalIndependentSet(graph: GraphFrame) {
  private var seed = 42L
  private var smallThresholdOpt: Option[Long] = None
  // Builder setter wins; otherwise the session default (spark.graft.smallGraphThreshold).
  private def smallThreshold: Long = smallThresholdOpt.getOrElse(
    graft.GraftConf.smallGraphThreshold(graph.vertices.sparkSession))

  def setSeed(s: Long): this.type = { seed = s; this }

  /** Edge-count threshold below which the rounds are SIMULATED on the
    * driver — exactly, not approximated: the nomination draws are pure
    * functions of (id, seed, iteration) and probabilities stay dyadic, so
    * the driver replay makes every branch decision bit-identically to the
    * distributed loop and returns the SAME set (equivalence-tested on
    * random graphs). 0 disables the hybrid path.
    */
  def smallGraphThreshold(n: Long): this.type = { smallThresholdOpt = Some(n); this }

  private val SRC = GraphFrame.SRC
  private val DST = GraphFrame.DST
  private val ID = GraphFrame.ID

  /** Driver replay of the distributed rounds over a CSR adjacency of the
    * symmetrized deduped edge set (dangling-endpoint edges skipped — the
    * distributed path's inner joins induce the subgraph on declared
    * vertices the same way). Returns (members, rounds).
    */
  private def simulateOnDriver(
      vertexIds: Array[Long], srcs: Array[Long], dsts: Array[Long],
      p0: Array[Double] = null, startIter: Int = 0): (Array[Long], Int) = {
    val n = vertexIds.length
    if (n == 0) return (Array.emptyLongArray, startIter)
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx.update(vertexIds(i), i); i += 1 }
    val m = srcs.length
    val deg = new Array[Int](n)
    i = 0
    while (i < m) {
      val s = idx.getOrElse(srcs(i), -1)
      if (s >= 0 && idx.contains(dsts(i))) deg(s) += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val s = idx.getOrElse(srcs(i), -1)
      val t = if (s >= 0) idx.getOrElse(dsts(i), -1) else -1
      if (s >= 0 && t >= 0) { nbr(fill(s)) = t; fill(s) += 1 }
      i += 1
    }
    val active = new Array[Boolean](n)
    val inSet = new Array[Boolean](n)
    val p = new Array[Double](n)
    val effDeg = new Array[Double](n) // NaN-free: only read when hasNbr
    val hasNbr = new Array[Boolean](n)
    val nom = new Array[Boolean](n)
    java.util.Arrays.fill(active, true)
    if (p0 == null) java.util.Arrays.fill(p, 0.5)
    else System.arraycopy(p0, 0, p, 0, n)
    var iter = startIter
    var converged = false
    while (!converged) {
      // Effective degree over ACTIVE neighbours (start-of-round state);
      // dyadic p keeps the sum exact in double regardless of order, so the
      // replay matches the distributed Σ bit-for-bit.
      var v = 0
      while (v < n) {
        if (active(v)) {
          var d = 0.0
          var has = false
          var j = off(v)
          while (j < off(v + 1)) {
            val u = nbr(j)
            if (active(u)) { d += p(u); has = true }
            j += 1
          }
          effDeg(v) = d
          hasNbr(v) = has
        }
        v += 1
      }
      // Isolated actives join immediately; the rest draw nominations with
      // the SAME portable hash the distributed loop uses.
      v = 0
      while (v < n) {
        if (active(v)) {
          if (!hasNbr(v)) { inSet(v) = true; active(v) = false }
          else {
            val u = graft.functions.PortableHashes
              .portableHash60(s"${vertexIds(v)}:$seed:$iter").toDouble / 1.152921504606846976e18
            nom(v) = u <= p(v)
          }
        }
        v += 1
      }
      // Nominated with no nominated (active) neighbour joins; it and its
      // neighbours leave. p advances for every surviving active FIRST —
      // the distributed loop computes probs before the anti-join removal.
      v = 0
      while (v < n) {
        if (active(v)) {
          p(v) =
            if (effDeg(v) >= 2.0) p(v) / 2.0
            else if (p(v) * 2.0 <= 0.5) p(v) * 2.0
            else 0.5
        }
        v += 1
      }
      val joined = new scala.collection.mutable.ArrayBuffer[Int]()
      v = 0
      while (v < n) {
        if (active(v) && nom(v)) {
          var anyNbrNom = false
          var j = off(v)
          while (j < off(v + 1) && !anyNbrNom) {
            val u = nbr(j)
            if (active(u) && nom(u)) anyNbrNom = true
            j += 1
          }
          if (!anyNbrNom) joined += v
        }
        v += 1
      }
      joined.foreach { v0 =>
        inSet(v0) = true
        var j = off(v0)
        while (j < off(v0 + 1)) { active(nbr(j)) = false; j += 1 }
      }
      joined.foreach(v0 => active(v0) = false)
      java.util.Arrays.fill(nom, false)
      iter += 1
      // Converged when no active-active edge remains: survivors sweep in.
      var edgesLeft = false
      v = 0
      while (v < n && !edgesLeft) {
        if (active(v)) {
          var j = off(v)
          while (j < off(v + 1) && !edgesLeft) {
            if (active(nbr(j))) edgesLeft = true
            j += 1
          }
        }
        v += 1
      }
      if (!edgesLeft) {
        v = 0
        while (v < n) { if (active(v)) inSet(v) = true; v += 1 }
        converged = true
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    i = 0
    while (i < n) { if (inSet(i)) out += vertexIds(i); i += 1 }
    (out.toArray, iter)
  }

  /** A `[src, dst]` frame collected as its two id columns. */
  private def collectEdges(edges: DataFrame): (Array[Long], Array[Long]) = {
    val rows = edges.collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  def run(): MISResult = {
    val release = checkpointing.release _
    val spark = graph.vertices.sparkSession
    import spark.implicits._
    val numParts = checkpointing.shufflePartitions(spark)
    def ckpt(df: DataFrame, keys: Seq[String]): DataFrame =
      checkpointing.localCheckpointHashPartitioned(df, keys, numParts, eager = false)

    // Dedup matters here: duplicate edges would inflate effective degrees.
    // The dedup rides the dst-repartition (clustering-subset rule: equal
    // (src,dst) pairs share a dst), and the checkpoint DECLARES the
    // hash(dst) layout + sort — the loop's per-round edges⋈state joins then
    // plan with no edge-side exchange and no sort (the same co-partitioning
    // contract as WCC/k-core, mirroring the reference's hash-partitioned
    // pre-sorted spill files, hash_partitioned.rs:77-361). Lazy: the
    // threshold count (or the first round's combined count) materializes it.
    val edges0 = ckpt(
      GraphFrame.symmetrizeEdges(graph.edges.select(SRC, DST), doDistinct = false)
        .repartition(numParts, col(DST))
        .dropDuplicates(SRC, DST),
      Seq(DST))

    // Subcritical graphs: replay the EXACT rounds on the driver — same
    // draws, same branch decisions, same set as the distributed loop (see
    // simulateOnDriver), so the hybrid cutover never changes the result.
    if (smallThreshold > 0 && edges0.count() <= 2 * smallThreshold &&
        graph.vertices.count() <= smallThreshold) {
      val (srcs, dsts) = collectEdges(edges0)
      val vids = graph.vertices.select(col(ID)).collect().map(_.getLong(0))
      val (members, rounds) = simulateOnDriver(vids, srcs, dsts)
      release(edges0)
      return MISResult(members.sorted.toSeq.toDF(ID), iterations = rounds, rounds = Nil)
    }

    // Active vertices with their selection probability (Ghaffari seeds 1/2),
    // hash(id)-declared: state⋈msgs and the removal anti-join stay
    // exchange-free on the state side every round.
    val vertices0 = ckpt(
      graph.vertices.select(col(ID), lit(0.5).as("p"))
        .repartition(numParts, col(ID)),
      Seq(ID))
    // Per-round member frames (`[id]`) — disjoint by construction (a
    // selected or removed vertex never re-enters the active set), so the
    // result is their plain union at the end. Maintaining a full
    // vertex×flag frame instead would cost an extra |V|-row join +
    // checkpoint EVERY round for information the small member deltas
    // already carry.
    var memberParts = Vector.empty[DataFrame]

    // The mid-loop hybrid cutover (the WCC discipline): the contraction
    // shrinks the active graph geometrically, so tail rounds pay full
    // per-round scheduling for little data. Once the remainder fits, the
    // loop stops and the driver replay finishes it (below).
    def cutover(eLeft: Long, vLeft: Long): Boolean =
      smallThreshold > 0 && eLeft <= 2 * smallThreshold && vLeft <= smallThreshold
    // Rounds on the loop driver (checkpointing.loop); the state is
    // (edges, verticesLeft).
    val looped = checkpointing.loop(Step((edges0, vertices0), Nil), Int.MaxValue, "mis") {
      case ((edges, verticesLeft), previous) =>
        val iteration = previous.round
        // ---- nominate with p_t ----
        // Draw u(id) = portableHash60("id:seed:iter") / 2^60 ∈ [0,1):
        // deterministic per (id, iteration) — recomputes can never redraw —
        // AND engine-portable (md5-based, see PortableHashes), so the whole
        // loop is replicable in plain SQL: the g10/g10b driver gates unroll
        // these exact rounds in DuckDB. p stays a power of two and degree
        // sums stay dyadic-exact, so every comparison is bit-identical
        // across engines. Nomination depends only on (draw, p) — NOT on the
        // effective degree — which is what lets one edge pass aggregate both
        // messages below.
        val draw = conv(substring(md5(concat_ws(":", col(ID), lit(seed), lit(iteration))), 1, 15), 16, 10)
          .cast("long").cast("double") / lit(1.152921504606846976e18)
        val state = verticesLeft.withColumn("nom", draw <= col("p"))

        // ---- ONE edge traversal for both per-neighbour messages ----
        // d(v) = Σ p(u) and "any neighbour nominated" share the same
        // edges⋈state join and the same groupBy(src) shuffle; aggregating
        // them together halves the per-round edge traffic (all per-round
        // frames are LAZY checkpoints, materialized in the round's single
        // combined count below). The join itself is exchange-AND-sort-free:
        // edges declare hash(dst), state declares hash(id). The explicit
        // src-repartition before the aggregate pins the shuffle at numParts
        // (AQE won't coalesce a user repartition), making the declared
        // layout on the checkpoint true by construction.
        val msgs = ckpt(
          edges
            .join(state.select(col(ID).as("__mis_nbr"), col("p").as("__mis_nbr_p"),
                col("nom").as("__mis_nbr_nom")),
              col(DST) === col("__mis_nbr"), "inner")
            .select(col(SRC), col("__mis_nbr_p"), col("__mis_nbr_nom"))
            .repartition(numParts, col(SRC))
            .groupBy(col(SRC)).agg(
              sum(col("__mis_nbr_p")).as("__mis_deg"),
              bool_or(col("__mis_nbr_nom")).as("__mis_has_nbr_nom")),
          Seq(SRC))

        // ---- isolated actives: no active neighbours, absent from msgs ----
        // (id and src hash identically: no exchange on either side)
        val isolated = state
          .join(msgs, col(ID) === col(SRC), "left_anti")
          .select(col(ID))

        // ---- advance p -> p_{t+1}; select joiners ----
        val probs = ckpt(
          state
            .join(msgs, col(ID) === col(SRC), "inner")
            .select(col(ID),
              when(col("__mis_deg") >= 2.0, col("p") / 2.0)
                .when(col("p") * 2.0 <= 0.5, col("p") * 2.0)
                .otherwise(0.5).as("p"),
              col("nom"), col("__mis_has_nbr_nom")),
          Seq(ID))

        // ---- nominated with no nominated neighbour => joins the MIS ----
        val joinedMis = ckpt(
          probs
            .filter(col("nom") && !col("__mis_has_nbr_nom"))
            .select(col(ID)),
          Seq(ID))

        // The symmetrized edge set makes one direction sufficient: every
        // neighbour u of a joined v is the source of edge (u, v).
        val neighborsOfMis = edges
          .join(joinedMis.select(col(ID).as("__mis_j")), col(DST) === col("__mis_j"), "inner")
          .select(col(SRC).as(ID))

        // No distinct on either union: `removed` only ever feeds anti-joins
        // (existence semantics — duplicate keys change nothing), and
        // `isolated` ∪ `joinedMis` is duplicate-free by construction (each
        // side dedup'd at its source; isolated vertices have no edges while
        // joined ones do, so the sides are disjoint).
        // NoStats: these truncate per ROUND — a plain localCheckpoint's
        // inherited size estimate compounds geometrically across rounds
        // (checkpointing.localCheckpointNoStats).
        val removed =
          checkpointing.localCheckpointNoStats(neighborsOfMis.union(joinedMis), eager = false)
        val newMembers =
          checkpointing.localCheckpointNoStats(isolated.union(joinedMis), eager = false)
        memberParts :+= newMembers

        val removedKeys = removed.select(col(ID).as("__mis_rem_v"))
        val nextVertices = ckpt(
          probs
            .join(removedKeys, col(ID) === col("__mis_rem_v"), "left_anti")
            .select(col(ID), col("p")),
          Seq(ID))

        // Contract: dst-anti first (exchange-free on the hash(dst) edges),
        // then src-anti (one edge shuffle, pinned at numParts), then restore
        // the dst layout FOR FREE by swapping the columns — the edge set is
        // symmetric and removal is endpoint-symmetric, so the mirror IS the
        // contracted set, and the mirror of a hash(src)-partitioned frame is
        // hash(dst)-partitioned by construction. No repartition.
        val nextEdges = ckpt(
          edges
            .join(removedKeys, col(DST) === col("__mis_rem_v"), "left_anti")
            .repartition(numParts, col(SRC))
            .join(removedKeys, col(SRC) === col("__mis_rem_v"), "left_anti")
            .select(col(DST).as(SRC), col(SRC).as(DST)),
          Seq(DST))

        // The round's one job counts the loop-carried frames and the round's
        // member delta.
        Step((nextEdges, nextVertices), Seq(nextEdges, nextVertices, newMembers),
          scratch = Seq(msgs, probs, joinedMis, removed))
    } { r => r.counts(0) == 0 || cutover(r.counts(0), r.counts(1)) }
    val (edges, verticesLeft) = looped.state
    val Seq(eLeft, vLeft, _) = looped.last.counts
    var iteration = looped.iterations
    if (eLeft == 0) {
      // Survivors are pairwise non-adjacent: sweep them all in.
      if (vLeft > 0) memberParts :+= verticesLeft.select(col(ID))
    } else {
      // Finish with the driver replay, CONTINUING the exact simulation from
      // the current (p, iteration) state, so the result is still
      // bit-identical to running the rounds distributed.
      val vRows = verticesLeft.collect()
      val (srcs, dsts) = collectEdges(edges)
      val (members, rounds) = simulateOnDriver(vRows.map(_.getLong(0)), srcs, dsts,
        vRows.map(_.getDouble(1)), iteration)
      memberParts :+= members.sorted.toSeq.toDF(ID)
      iteration = rounds
    }

    // One action assembles the result; then every remaining checkpoint
    // (including the member deltas and the final survivors' frame) is
    // released.
    val result = memberParts.reduce(_ union _).localCheckpoint(true)
    memberParts.foreach(release)
    release(verticesLeft)
    release(edges)
    MISResult(result, iteration, looped.rounds)
  }
}
