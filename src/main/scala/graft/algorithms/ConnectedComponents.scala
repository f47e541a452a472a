package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.apache.spark.sql.graft.checkpointing.{RoundStat, Step}

import graft.functions.FiniteAxpb
import graft.functions.FiniteAxpb.finite_axpb
import graft.graph.GraphFrame

/** `rounds`: one [[RoundStat]] per counted round, its count the
  * contracted edge set (round 0: the symmetrized input).
  */
case class ConnectedComponentsResult(components: DataFrame, iterations: Int,
    rounds: Seq[RoundStat])

/** Weakly connected components via randomized contraction (Bögeholz et al.,
  * ICDE 2020), NOT Pregel — ports the reference's bespoke dataflow loop
  * (`/root/reference/src/algorithm/connectivity/connected_components.rs:40-396`).
  *
  * Forward pass: per iteration draw an affine GF(2^64) hash `(a, b)` (seeded
  * driver RNG, `a != 0`), compute per-source representatives
  * `rep(v) = least(axpb(a,v,b), min over nbrs of axpb(a,u,b))`, relabel both
  * edge endpoints to their reps (dropping the self-loops the contraction
  * creates, inside the join condition), dedup, repeat until no edges remain.
  * Back pass: unwind the hash chain in reverse, composing the affine maps on
  * the driver with the scalar kernel so the distributed and host evaluations
  * stay bit-identical. Finally isolated vertices become their own component
  * and (optionally) each component is relabeled to its minimum member id.
  *
  * Expected O(log n) iterations. Each round's frames are checkpointed with
  * declared hash-partitioning AND sort order (the Spark analogue of the
  * reference's hash-partitioned pre-sorted parquet spill,
  * `hash_partitioned.rs:146-361`), so the per-round joins plan without
  * edge-side exchanges or sorts. Rounds run on the loop driver
  * (`checkpointing.loop`, which states the round rule).
  */
class ConnectedComponents(graph: GraphFrame) {
  private var useLabelsAsComponents = true
  private var seed = 42L
  private var smallThresholdOpt: Option[Long] = None
  // Builder setter wins; otherwise the session default (spark.graft.smallGraphThreshold).
  private def smallThreshold: Long = smallThresholdOpt.getOrElse(
    graft.GraftConf.smallGraphThreshold(graph.vertices.sparkSession))

  /** When true (default) relabel components to the min original vertex id. */
  def labelsAsComponents(b: Boolean): this.type = { useLabelsAsComponents = b; this }
  def setSeed(s: Long): this.type = { seed = s; this }

  /** Edge-count threshold below which the contraction finishes on the
    * driver with a union-find (identical output, none of the per-iteration
    * distributed-plan latency). 0 disables the hybrid path. Applies only in
    * min-label mode — raw mode's labels are defined by the hash chain.
    */
  def smallGraphThreshold(n: Long): this.type = { smallThresholdOpt = Some(n); this }

  private val SRC = GraphFrame.SRC
  private val DST = GraphFrame.DST
  private val ID = GraphFrame.ID

  /** `[v, rep]` per-source representatives under the affine hash `(rA, rB)`. */
  private def computeReps(edges: DataFrame, rA: Long, rB: Long): DataFrame =
    edges.groupBy(col(SRC))
      .agg(min(finite_axpb(lit(rA), col(DST), lit(rB))).as("__cc_nbr_rep"))
      .withColumn("__cc_self_rep", finite_axpb(lit(rA), col(SRC), lit(rB)))
      .select(col(SRC).as("v"),
        when(col("__cc_self_rep") < col("__cc_nbr_rep"), col("__cc_self_rep"))
          .otherwise(col("__cc_nbr_rep")).as("rep"))

  /** Relabel `(u, w) -> (rep(u), rep(w))`, dropping contraction self-loops
    * inside the second join's condition, then dedup.
    *
    * Shuffle discipline: `edges` carries a DECLARED HashPartitioning(src)
    * from the loop's checkpoint and `reps` inherits the matching
    * partitioning from its groupBy, so the first join plans with no
    * exchange. The dst-relabel join is the one unavoidable reshuffle; the
    * trailing `repartition(src) + dropDuplicates` costs one exchange, zero
    * extra for the dedup (HashPartitioning(src) satisfies clustering on
    * (src, dst) by the subset rule), and re-arms the no-shuffle path for
    * the next iteration.
    */
  private def relabelEdges(edges: DataFrame, reps: DataFrame, numParts: Int): DataFrame = {
    val srcRelabeled = edges
      .join(reps, col(SRC) === col("v"), "inner")
      .select(col("rep").as(SRC), col(DST))
    srcRelabeled
      .join(reps, col(DST) === col("v") && col(SRC) =!= col("rep"), "inner")
      .select(col(SRC), col("rep").as(DST))
      .repartition(numParts, col(SRC))
      .dropDuplicates(SRC, DST)
  }

  /** One back-propagation step: forwarded reps take the frontier's value,
    * the rest are pushed into final-id space with the accumulated map.
    */
  private def backPropStep(older: DataFrame, frontier: DataFrame,
      accA: Long, accB: Long): DataFrame = {
    val fr = frontier.select(col("v").as("__cc_fr_v"), col("rep").as("__cc_fr_rep"))
    older.join(fr, col("rep") === col("__cc_fr_v"), "left")
      .select(col("v"),
        when(col("__cc_fr_rep").isNull, finite_axpb(lit(accA), col("rep"), lit(accB)))
          .otherwise(col("__cc_fr_rep")).as("rep"))
  }

  /** Union-find over the current (contracted) edge set on the driver,
    * returned as a `[v, rep]` frontier for back-propagation. Union always
    * hangs the larger root under the smaller, so reps are distinct and
    * stable per component. Only edge ENDPOINTS are collected — never the
    * original vertex set — so driver memory is bounded by the contracted
    * edge count, and isolated vertices are still labeled distributively by
    * the final left join.
    */
  private def unionFindFrontier(symEdges: DataFrame): DataFrame = {
    val spark = symEdges.sparkSession
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent.update(c, r); c = nx }
      r
    }
    symEdges.collect().foreach { row =>
      val u = row.getLong(0); val v = row.getLong(1)
      add(u); add(v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent.update(math.max(ru, rv), math.min(ru, rv))
    }
    val labeled = parent.keys.toArray.map(v => (v, find(v)))
    import spark.implicits._
    // RDD-backed, NOT a LocalRelation: toDF on a large Seq embeds the rows
    // in the logical plan itself, which every optimizer copy and broadcast
    // then drags along. BROADCAST-hinted: the frame is driver-bounded by
    // the same cutover threshold that allowed collecting it (<= 2x
    // smallGraphThreshold endpoint rows), but its RDD leaf carries no
    // stats, so without the hint every downstream join (the final vertex
    // labeling, a back-prop seed) planned as a full sort-merge join with
    // exchanges on BOTH sides — measured at ~2s per incremental-compose
    // call on delta-scale frames (r19 optimization round).
    broadcast(spark.createDataset(
      spark.sparkContext.parallelize(labeled.toIndexedSeq,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .toDF("v", "rep"))
  }

  def run(): ConnectedComponentsResult = {
    val vertices = graph.vertices.select(col(ID))
    // Symmetrize WITHOUT distinct: the first groupBy tolerates duplicate
    // edges and a full dedup scan of the biggest frame costs more than it
    // saves (reference cost note, connected_components.rs:217-223).
    // Co-partitioning contract (the Spark analogue of the reference's
    // hash-partitioned pre-sorted spill files, hash_partitioned.rs:77-361):
    // keep the edge frame hash-partitioned on `src` across iterations, with
    // the partitioning DECLARED on the checkpointed frame — a plain
    // localCheckpoint under AQE reports unknown partitioning and forfeits
    // the elision (PlanSpec: "declared partitioning+ordering checkpoint: SMJ
    // with no exchange, no sort").
    val numParts = checkpointing.shufflePartitions(graph.edges.sparkSession)
    def ckptBySrc(df: DataFrame): DataFrame =
      checkpointing.localCheckpointHashPartitioned(df, Seq(SRC), numParts, eager = false)
    val edges0 = ckptBySrc(
      GraphFrame.symmetrizeEdges(graph.edges.select(SRC, DST), doDistinct = false)
        .repartition(numParts, col(SRC)))

    val rng = new scala.util.Random(seed)
    var forwardReps = Vector.empty[DataFrame]
    var affineParams = Vector.empty[(Long, Long)]

    // Mid-loop hybrid cutover: contraction shrinks the edge set roughly
    // geometrically, so the tail iterations process little data while still
    // paying full per-round scheduling/replanning latency (~1.5 s each,
    // measured). Once the contracted edge set fits the threshold — possibly
    // at round 0 — the loop stops and ONE driver union-find finishes it,
    // feeding back-propagation as the frontier. Distributed rounds only
    // ever process supercritical data.
    def cutover(graphSize: Long): Boolean =
      useLabelsAsComponents && smallThreshold > 0 && graphSize <= 2 * smallThreshold
    // Rounds on the loop driver (checkpointing.loop); round 0 counts the
    // symmetrized edges.
    val contracted = checkpointing.loop(Step(edges0, Seq(edges0)), Int.MaxValue, "wcc") {
      (edges, _) =>
        var rA = rng.nextLong()
        while (rA == 0L) rA = rng.nextLong()
        val rB = rng.nextLong()
        affineParams :+= (rA, rB)
        // reps appears twice in the relabel join: without truncation the
        // plan tree doubles every round. reps inherits edges'
        // src-partitioning through the groupBy (the grouping key is aliased
        // to `v`), so its checkpoint declares the same layout and the
        // src-relabel join plans with no exchange at all.
        val reps = checkpointing.localCheckpointHashPartitioned(
          computeReps(edges, rA, rB), Seq("v"), numParts, eager = false)
        forwardReps :+= reps
        val next = ckptBySrc(relabelEdges(edges, reps, numParts))
        Step(next, Seq(next))
    } { r => r.counts.head == 0 || cutover(r.counts.head) }
    val edges = contracted.state
    val iteration = contracted.iterations
    val driverFrontier = Option.when(contracted.last.counts.head > 0)(
      graft.util.PhaseTiming.phase("wcc:union-find")(unionFindFrontier(edges)))

    // Back pass: a chain of left joins over the CACHED forward reps. All
    // frames stay lazy; the eager result checkpoint at the end runs the
    // whole unwind. Unpersists are deferred until after that action —
    // releasing an input earlier would force recomputation of the (already
    // unpersisted) forward edge frames.
    val n = forwardReps.length
    val frontier: Option[DataFrame] =
      if (n == 0 && driverFrontier.isEmpty) None
      else {
        // Seed: the driver union-find result when the loop cut over (joined
        // through the LAST forward reps with the identity map axpb(1,r,0)=r —
        // a rep absent from the union-find domain was isolated after its
        // contraction and its hash value IS its final label), else the last
        // forward reps frame.
        var frontier = (driverFrontier, n) match {
          case (Some(df), 0) => df
          case (Some(df), _) => backPropStep(forwardReps(n - 1), df, 1L, 0L)
          case (None, _)     => forwardReps(n - 1)
        }
        var accA = 1L
        var accB = 0L
        var t = n - 1
        while (t >= 1) {
          val (pa, pb) = affineParams(t)
          val oldAccA = accA
          accA = FiniteAxpb.axpb(oldAccA, pa, 0L)
          accB = FiniteAxpb.axpb(oldAccA, pb, accB)
          frontier = backPropStep(forwardReps(t - 1), frontier, accA, accB)
          t -= 1
        }
        Some(frontier)
      }

    val labeled = frontier match {
      case Some(fr) =>
        vertices.join(fr, col(ID) === col("v"), "left")
          .select(col(ID),
            when(col("rep").isNull, col(ID)).otherwise(col("rep")).as("component"))
      case None =>
        vertices.select(col(ID), col(ID).as("component"))
    }

    val release = checkpointing.release _

    // Immediate-cutover fast path: when the union-find ran on the ORIGINAL
    // (symmetrized) edge set, its reps are already the minimum member id of
    // each component (union hangs the larger root under the smaller, and
    // every member of a non-singleton component is an edge endpoint), and
    // isolated vertices label to themselves in `labeled` — min-label
    // semantics hold by construction, so the relabel pass AND the result
    // checkpoint are skipped. The returned frame depends only on `vertices`
    // and the driver-built frontier, so the edge checkpoint is released now.
    if (iteration == 0 && driverFrontier.isDefined && useLabelsAsComponents) {
      release(edges)
      return ConnectedComponentsResult(labeled, 0, contracted.rounds)
    }

    var relabelInput: Option[DataFrame] = None
    val result =
      if (useLabelsAsComponents) {
        val materialized = labeled.localCheckpoint(true)
        relabelInput = Some(materialized)
        val labels = materialized.groupBy(col("component").as("__cc_comp_key"))
          .agg(min(col(ID)).as("__cc_new_component"))
        materialized
          .join(labels, col("component") === col("__cc_comp_key"), "inner")
          .select(col(ID), col("__cc_new_component").as("component"))
      } else labeled

    val out = result.localCheckpoint(true)
    // `out` is materialized: every intermediate checkpoint can be freed now
    // (real block release, not the CacheManager no-op — see checkpointing).
    relabelInput.foreach(release)
    forwardReps.foreach(release)
    release(edges)
    ConnectedComponentsResult(out, iteration, contracted.rounds)
  }
}

object ConnectedComponents {

  /** INCREMENTAL WCC (g34) — the daily-delta form: compose yesterday's
    * component labels with today's edge delta WITHOUT re-scanning
    * yesterday's edges. At 100 TB the edge set dwarfs the vertex set;
    * re-running full WCC per ingest batch re-shuffles E edges, while
    * this composes in three delta-sized steps plus ONE pass over the
    * V-sized label frame:
    *
    *   1. relabel the delta's endpoints through `prevComponents`
    *      (endpoints unseen yesterday label themselves — new vertices);
    *   2. run WCC on the CONTRACTED delta graph — its vertices are the
    *      touched component labels + new vertices, so the iterative
    *      loop works on a frame bounded by the DELTA, never the corpus;
    *   3. compose: map every previous label through the contracted
    *      result (a join against the delta-bounded merge map — Catalyst
    *      broadcasts it when small, which is the every-day case) and
    *      append the new vertices.
    *
    * CONTRACT: `prevComponents` must be min-member-id labeled (the
    * default `labelsAsComponents` output of [[ConnectedComponents]]).
    * That invariant is what makes composition exact: the contracted
    * WCC's min is then the min over all member ids, so the output is
    * bit-identical to a full recompute over `oldEdges ∪ deltaEdges` —
    * the g34 oracle's claim. Raw-label frames (hash-chain labels) break
    * the invariant silently; they are not valid inputs.
    *
    * Edges are undirected as in full WCC; delta edges internal to one
    * existing component contract to dropped self-loops (a no-op, as
    * they must be). Output `[id, component]` over yesterday's vertices
    * ∪ the delta's endpoints.
    */
  def incremental(prevComponents: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val ID = GraphFrame.ID
    require(Seq(ID, "component").forall(prevComponents.columns.contains),
      s"prevComponents needs [$ID, component] (a components frame), " +
        s"got ${prevComponents.columns.mkString(", ")}")
    val prev = prevComponents.select(col(ID), col("component"))
    val sMap = prev.select(col(ID).as("__iw_s"), col("component").as("__iw_sc"))
    val dMap = prev.select(col(ID).as("__iw_d"), col("component").as("__iw_dc"))
    // LAZY lineage truncation: the contracted delta graph is consumed
    // twice inside the nested WCC (the edge chain AND the vertex
    // derivation) — without truncation the relabel joins re-executed for
    // each consumer (r19 optimization round). Delta-bounded, so the
    // truncated RDD is small; it materializes inside the WCC's own
    // first count, no extra job.
    val contracted = org.apache.spark.sql.graft.checkpointing
      .localCheckpointNoStats(deltaEdges
        .select(col(GraphFrame.SRC), col(GraphFrame.DST))
        .join(sMap, col(GraphFrame.SRC) === col("__iw_s"), "left")
        .join(dMap, col(GraphFrame.DST) === col("__iw_d"), "left")
        .select(coalesce(col("__iw_sc"), col(GraphFrame.SRC)).as(GraphFrame.SRC),
          coalesce(col("__iw_dc"), col(GraphFrame.DST)).as(GraphFrame.DST))
        .filter(col(GraphFrame.SRC) =!= col(GraphFrame.DST))
        .distinct(), eager = false)
    // The merge map [touched label -> merged min label], delta-bounded.
    // BROADCAST-hinted when the contracted WCC cut over to the driver
    // union-find (iterations == 0): that cutover PROVES the contracted
    // graph fits 2x smallGraphThreshold edges, so the merge map is
    // driver-bounded — and the hint is required because the WCC result
    // rides stats-free RDD leaves, which Catalyst otherwise sizes at
    // defaultSizeInBytes and refuses to broadcast (both m-joins below
    // planned as sort-merge joins with V-side exchanges; measured ~2s
    // per compose on delta-scale frames, r19 optimization round). A
    // contracted graph ABOVE the threshold keeps the shuffle join —
    // broadcasting an unbounded merge map would be an OOM, not a win.
    val m = graft.util.PhaseTiming.phase("inc:merge-wcc") {
      val res = GraphFrame.fromEdges(contracted).connectedComponents.run()
      val mm = res.components
        .select(col(ID).as("__iw_label"), col("component").as("__iw_super"))
      if (res.iterations == 0) broadcast(mm) else mm
    }
    val newV = deltaEdges.select(col(GraphFrame.SRC).as(ID))
      .unionByName(deltaEdges.select(col(GraphFrame.DST).as(ID)))
      .distinct()
      .join(prev.select(ID), Seq(ID), "left_anti")
    val newRows = newV.join(m, col(ID) === col("__iw_label"), "left")
      .select(col(ID), coalesce(col("__iw_super"), col(ID)).as("component"))
    prev.join(m, col("component") === col("__iw_label"), "left")
      .select(col(ID),
        coalesce(col("__iw_super"), col("component")).as("component"))
      .unionByName(newRows)
  }

  /** INCREMENTAL WCC WITH DELETIONS (g37) — the full daily-delta form.
    * [[incremental]] composes ADDITIONS only (additions can only merge
    * components, so yesterday's labels coarsen monotonically); a
    * removed edge can SPLIT its component, which no label composition
    * can see. The bounded observation: a removal can only split the
    * ONE component that contained it — every other component's label
    * is untouched. So:
    *
    *   1. affected = the prev-labels of the removed edges' endpoints
    *      (delta-bounded — both endpoints of an in-base edge share one
    *      label by definition);
    *   2. extract the affected components' edges in ONE pass over the
    *      base: a broadcast SEMI join on `src` against the affected
    *      membership (an edge's endpoints are co-component, so `src`
    *      alone decides) and a broadcast ANTI join against the
    *      canonicalized removals — no E-wide shuffle, no distinct; the
    *      scan rides whatever layout the base already has;
    *   3. re-run WCC on that edited subgraph ONLY — the iterative loop
    *      is bounded by the affected components' size, not E. Members
    *      that lost all their edges self-label (a split to singletons
    *      is still a split);
    *   4. stitch (unaffected labels pass through untouched — min-member
    *      labeling is per-component, so recomputing inside affected
    *      components cannot change anyone else's label) and feed the
    *      result — a valid min-member label frame over
    *      `base ∖ removed` — to [[incremental]] for the additions.
    *
    * Removal order is applied FIRST, so the result equals a full
    * recompute over `(base ∖ removed) ∪ added` — the g37 oracle's
    * claim — including an edge removed and re-added in the same delta.
    *
    * CONTRACT: `prevComponents` min-member labeled over `baseEdges`'s
    * endpoints (the [[incremental]] contract). `removedEdges` should be
    * base edges; removals of absent edges or self-loops are harmless
    * (they mark at most their components affected — extra recompute,
    * same answer). Output `[id, component]` over prev's vertices ∪ the
    * added edges' endpoints: removals never drop a vertex — a fully
    * stranded member becomes its own singleton component, exactly what
    * a takedown cadence needs (the doc row survives, its cluster
    * membership dissolves).
    *
    * COST SHAPE at 100 TB: one co-located scan of E (two broadcast
    * joins, zero exchanges on the edge side), a WCC loop on the
    * affected subgraph, one V-sized stitch, then the delta-bounded
    * additions compose. The full recompute this replaces shuffles E
    * every iteration.
    */
  def incrementalWithDeletions(prevComponents: DataFrame,
      baseEdges: DataFrame, addedEdges: DataFrame,
      removedEdges: DataFrame): DataFrame = {
    val ID = GraphFrame.ID
    val SRC = GraphFrame.SRC
    val DST = GraphFrame.DST
    require(Seq(ID, "component").forall(prevComponents.columns.contains),
      s"prevComponents needs [$ID, component] (a components frame), " +
        s"got ${prevComponents.columns.mkString(", ")}")
    import graft.util.PhaseTiming.phase
    val prev = prevComponents.select(col(ID), col("component"))
    // Canonical removals (delta-sized; the broadcast side of both edge
    // passes below when small).
    // Broadcast or shuffle: the session byte threshold decides (checkpointing's leaf rule).
    val (rem, nRem) = phase("iwd:rem-ckpt") {
      org.apache.spark.sql.graft.checkpointing.localCheckpointCounted(
        GraphFrame.canonicalPairs(removedEdges))
    }
    // Components containing a removed edge — the only ones that can
    // split. Either endpoint works (they share the label); removals of
    // edges never in the base simply find no label and drop out.
    // At most one label per removed edge: nRem bounds it.
    val affected = org.apache.spark.sql.graft.checkpointing.localCheckpointBounded(
      rem.join(prev.select(col(ID).as(SRC), col("component")), Seq(SRC))
        .select(col("component")).distinct(), nRem)
    // Their full membership (bounded by the affected components' size).
    val affVerts = phase("iwd:affverts-ckpt") {
      prev.join(affected, Seq("component"), "left_semi")
        .select(col(ID))
        .localCheckpoint(true)
    }
    // The affected components' edges, minus the removals: one pass over
    // the base, both joins broadcast when the affected set is small
    // (the every-day case).
    // Lazily truncated like [[incremental]]'s contracted frame: the
    // edited subgraph is consumed twice by the nested WCC (edge chain +
    // vertex derivation); truncation shares one RDD between them. Bounded
    // by the affected components' edge mass.
    val sub = org.apache.spark.sql.graft.checkpointing.localCheckpointNoStats(
      GraphFrame.withoutPairs(baseEdges.select(col(SRC), col(DST))
        .join(affVerts.select(col(ID).as(SRC)), Seq(SRC), "left_semi"), rem),
      eager = false)
    // Recompute ONLY inside the affected components; stranded members
    // self-label (min-member labeling holds: a singleton's min is
    // itself, a surviving sub-component's min is its min member).
    // Same conditional broadcast as [[incremental]]'s merge map: the
    // driver-cutover PROVES the affected subgraph fits the threshold, so
    // its labels are driver-bounded; above the threshold (a giant
    // affected component) the shuffle join stands.
    val subLabels = phase("iwd:sub-wcc") {
      val res = GraphFrame.fromEdges(sub).connectedComponents.run()
      val sl = res.components.select(col(ID), col("component").as("__dw_c"))
      if (res.iterations == 0) broadcast(sl) else sl
    }
    val recomputed = affVerts
      .join(subLabels, Seq(ID), "left")
      .select(col(ID), coalesce(col("__dw_c"), col(ID)).as("component"))
    val postRemoval = prev.join(affected, Seq("component"), "left_anti")
      .select(col(ID), col("component"))
      .unionByName(recomputed)
    // Materialize before releasing: incremental()'s output is lazy and
    // its lineage reads postRemoval, which reads rem/affVerts.
    val out = phase("iwd:incremental+ckpt") {
      incremental(postRemoval, addedEdges).localCheckpoint(true)
    }
    Seq(rem, affected, affVerts).foreach(org.apache.spark.sql.graft.checkpointing.release)
    out
  }
}
