package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphFrame

/** Per-vertex triangle counts (beyond the reference's algorithm set; the
  * standard companion of k-core for corpus-graph quality metrics).
  *
  * Plan: orient the symmetrized simple graph by DEGREE — each undirected
  * edge points from its lower-(degree, id) endpoint to the higher one —
  * then count wedge-closing edges with two joins. Wedges are enumerated at
  * the lowest-ordered corner, whose out-degree in the oriented DAG is
  * bounded by O(√m), so total wedge volume is O(m^1.5) (Schank & Wagner
  * 2005) regardless of skew. Min-id orientation — the obvious alternative
  * — lets a degree-d hub generate O(d²) wedges: on a 100 TB power-law
  * corpus graph a single celebrity vertex would dominate the whole job.
  * The join-based formulation shuffles on vertex keys and never
  * materializes neighbor sets in memory; each triangle is found exactly
  * once as the wedge (a→b, a→c) closed by the oriented edge b→c, then
  * credited to all three corners.
  */
class TriangleCount(graph: GraphFrame) {
  private val SRC = GraphFrame.SRC
  private val DST = GraphFrame.DST
  private val ID = GraphFrame.ID

  /** `[id, triangles]` for every vertex (0 for triangle-free vertices). */
  def run(): DataFrame = {
    // Undirected simple graph, one row per direction.
    val sym = GraphFrame.symmetrizeEdges(graph.edges.select(SRC, DST), doDistinct = true)
      .localCheckpoint(false)
    // Undirected degree of every endpoint (vertex-sized, too big to
    // broadcast at scale — a plain shuffled join keys it correctly).
    val deg = sym.groupBy(col(SRC).as("__tc_v")).agg(count(lit(1)).as("__tc_d"))

    // Keep the direction pointing UP the (degree, id) total order. Each
    // undirected edge survives exactly once; `rdst` carries the head's
    // order key so the wedge join below can order out-neighbors without
    // re-joining degrees.
    val oriented = sym
      .join(deg, col(SRC) === col("__tc_v"))
      .select(col(SRC), col(DST), struct(col("__tc_d"), col(SRC)).as("rsrc"))
      .join(deg, col(DST) === col("__tc_v"))
      .select(col(SRC), col(DST), col("rsrc"), struct(col("__tc_d"), col(DST)).as("rdst"))
      .filter(col("rsrc") < col("rdst"))
      .select(col(SRC), col(DST), col("rdst"))
      .localCheckpoint(true)

    // Wedges at the lowest-ordered corner a: (a→b, a→c) with b before c in
    // the (degree, id) order, closed by the oriented edge b→c.
    val triangles = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rdst") < col("e2.rdst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.as("e3"), col("b") === col("e3.src") && col("c") === col("e3.dst"))
      .select("a", "b", "c")

    // One generate, not a 3-branch union: Spark shares no common subplan
    // across union branches, so the union form re-ran the O(m^1.5) wedge
    // enumeration once PER CORNER (the d18 probe's union lesson). The
    // explode credits all three corners inside the same codegen stage as
    // the closing join, and the groupBy combines map-side.
    val perCorner = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as(ID))
      .groupBy(ID).agg(count(lit(1)).as("triangles"))

    val out = graph.vertices.select(col(ID))
      .join(perCorner, Seq(ID), "left")
      .select(col(ID), coalesce(col("triangles"), lit(0L)).as("triangles"))
      .localCheckpoint(true)
    org.apache.spark.sql.graft.checkpointing.release(sym)
    org.apache.spark.sql.graft.checkpointing.release(oriented)
    out
  }
}

object TriangleCount {

  /** INCREMENTAL per-vertex triangle counts (g35 — the triangle family's
    * companion to [[ConnectedComponents.incremental]], the daily-delta
    * form): compose yesterday's counts with today's EDGE ADDITIONS
    * without re-running the O(m^1.5) wedge enumeration over the base
    * graph. Every triangle created by the delta contains at least one
    * new edge, so enumeration starts FROM the delta: for each truly-new
    * undirected edge {u, v}, the common neighbors of u and v in the
    * union graph close the new triangles; a triangle with 2 or 3 new
    * edges is discovered once per new edge it contains, so the found
    * triples are canonicalized (sorted) and deduplicated before the
    * per-corner credit — exact counts, no inclusion–exclusion
    * arithmetic to drift. Counts then COMPOSE additively: base
    * triangles contain zero delta edges (additions never destroy a
    * triangle) and new triangles are exactly the deduplicated set, so
    * `prev + new` is bit-identical to a full recompute over
    * `base ∪ delta` — the g35 oracle's claim.
    *
    * COST SHAPE: two hash joins of the (delta-sized) edge set against
    * the union adjacency plus one canonical-dedup of the base edges —
    * linear scans and shuffles of E with NO base wedge enumeration, vs
    * the full recompute's O(m^1.5) wedge volume. Candidates fan out
    * from each delta edge's LOWER-degree endpoint (the Schank–Wagner
    * orientation argument applied per edge), so candidate volume is
    * Σ_Δ min(deg(u), deg(v)) ≤ O(|Δ|·√m) — skew-safe, delta-bounded
    * (`ScaleBench tri-inc[-skew]` measures both geometries).
    * Deletions are NOT composable this way (a removed edge
    * destroys triangles the delta cannot see) — additions-only is the
    * contract, matching the append-only ingest cadence.
    *
    * CONTRACT: `prev` is a `[id, triangles]` frame (the [[TriangleCount]]
    * output) over the base graph's vertices; `baseEdges` must be the
    * edge set `prev` was computed over. Delta edges already present in
    * the base (either direction), self-loops, and within-delta
    * duplicates are all no-ops (filtered before enumeration). Output
    * `[id, triangles]` over prev's vertices ∪ the delta's endpoints.
    *
    * `symBaseOpt`: the base's symmetrized simple adjacency (both
    * directions, loop-free, deduped — the [[GraphFrame.symmetrizeEdges]]
    * shape) when the pipeline already has it MATERIALIZED. This is the
    * every-day cadence: a 100 TB graph lives as a persisted adjacency
    * (the [[graft.sources.BucketedTables.saveGraph]] bucketed-by-src
    * layout), nobody re-symmetrizes the corpus per delta — and with it
    * the compose's own E-shuffles (the canonical dedup, and on a
    * bucketed scan the degree groupBy's exchange too) disappear,
    * leaving delta-fanout joins as the only per-delta cost
    * (`ScaleBench tri-inc` measures cold vs warm). Cold (None) builds
    * it from `baseEdges`.
    */
  def incremental(prev: DataFrame, baseEdges: DataFrame,
      deltaEdges: DataFrame,
      symBaseOpt: Option[DataFrame] = None): DataFrame = {
    val SRC = GraphFrame.SRC
    val DST = GraphFrame.DST
    val ID = GraphFrame.ID
    require(Seq(ID, "triangles").forall(prev.columns.contains),
      s"prev needs [$ID, triangles] (a TriangleCount output), " +
        s"got ${prev.columns.mkString(", ")}")
    // Undirected simple base adjacency, one row per direction — the same
    // construction the full run starts from (one E-shuffle, no wedges),
    // unless the caller hands over the materialized one.
    val symBase = symBaseOpt.getOrElse(GraphFrame.symmetrizeEdges(
      baseEdges.select(SRC, DST), doDistinct = true).localCheckpoint(false))
    // Truly-new undirected edges: canonical, loop-free, deduped, and not
    // already present in the base in either direction.
    // Broadcast or shuffle: the session byte threshold decides (checkpointing's leaf rule).
    val (deltaNew, nNew) = graft.util.PhaseTiming.phase("tri-inc:deltaNew") {
      org.apache.spark.sql.graft.checkpointing.localCheckpointCounted(
        GraphFrame.canonicalPairs(deltaEdges)
          .join(symBase, Seq(SRC, DST), "left_anti"))
    }
    val symDelta = deltaNew.select(explode(array(
        struct(col(SRC), col(DST)),
        struct(col(DST).as(SRC), col(SRC).as(DST)))).as("__ti"))
      .select(col("__ti.src").as(SRC), col("__ti.dst").as(DST))
    // No checkpoint on the union: symBase is already materialized (the
    // lazy checkpoint above, or the caller's persisted table) and
    // symDelta is delta-sized, so each of the union's three consumers
    // pays a cheap re-union over cached inputs — checkpointing it wrote
    // an E-sized copy to disk for nothing.
    val nbrs = symBase.unionByName(symDelta)
    // {u,v,w} with w a common union-neighbor of the new edge {u,v}: fan
    // out from the LOWER-(degree, id) endpoint, then semi-close on the
    // other — the same degree-orientation argument the full run's wedge
    // enumeration rests on, applied per delta edge. Candidate volume is
    // Σ_Δ min(deg(u), deg(v)) ≤ O(|Δ|·√m); fanning from an arbitrary
    // endpoint instead lets one hub-incident delta edge explode into
    // deg(hub) candidates — measured 3.7× SLOWER than the full
    // recompute on a 2 M-edge skew graph (and an OOM at 8 M) before
    // this orientation, which is the whole game on power-law graphs.
    val deg = nbrs.groupBy(col(SRC).as("__ti_v")).agg(count(lit(1)).as("__ti_d"))
    // One row per truly-new delta edge: nNew bounds it, so the fanout
    // below rides the adjacency scan instead of shuffling it.
    val oriented = org.apache.spark.sql.graft.checkpointing.localCheckpointBounded(deltaNew
      .join(deg.select(col("__ti_v").as("__ti_vs"), col("__ti_d").as("__ti_ds")),
        col(SRC) === col("__ti_vs"))
      .join(deg.select(col("__ti_v").as("__ti_vd"), col("__ti_d").as("__ti_dd")),
        col(DST) === col("__ti_vd"))
      .select(
        when(struct(col("__ti_ds"), col(SRC)) <= struct(col("__ti_dd"), col(DST)),
          col(SRC)).otherwise(col(DST)).as("u"),
        when(struct(col("__ti_ds"), col(SRC)) <= struct(col("__ti_dd"), col(DST)),
          col(DST)).otherwise(col(SRC)).as("v")), nNew)
    val cand = oriented
      .join(nbrs.select(col(SRC).as("u"), col(DST).as("w")), Seq("u"))
      .filter(col("w") =!= col("v"))
      .join(nbrs.select(col(SRC).as("v"), col(DST).as("w")),
        Seq("v", "w"), "left_semi")
    // Canonical triple dedup: a triangle with k >= 2 new edges was found
    // k times (once per new edge); exactly-once is what lets the
    // per-corner credit compose additively with prev.
    val perCorner = cand
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("__t"))
      .distinct()
      .select(explode(col("__t")).as(ID))
      .groupBy(ID).agg(count(lit(1)).as("__tc_new"))
    val vertices = prev.select(col(ID))
      .unionByName(deltaEdges.select(col(SRC).as(ID)))
      .unionByName(deltaEdges.select(col(DST).as(ID)))
      .distinct()
    val out = graft.util.PhaseTiming.phase("tri-inc:out-ckpt") {
      vertices
        .join(prev.select(col(ID), col("triangles").as("__tc_prev")),
          Seq(ID), "left")
        .join(perCorner, Seq(ID), "left")
        .select(col(ID), (coalesce(col("__tc_prev"), lit(0L)) +
          coalesce(col("__tc_new"), lit(0L))).as("triangles"))
        .localCheckpoint(true)
    }
    // A caller-provided adjacency is caller-owned; release only our own.
    if (symBaseOpt.isEmpty)
      org.apache.spark.sql.graft.checkpointing.release(symBase)
    Seq(deltaNew, oriented).foreach(org.apache.spark.sql.graft.checkpointing.release)
    out
  }

  /** INCREMENTAL triangle counts WITH DELETIONS (g38 — the triangle
    * family's full daily-delta form, closing [[incremental]]'s
    * additions-only contract). The symmetric observation: every
    * triangle DESTROYED by the delta contains at least one removed
    * edge, so destruction enumerates FROM the removals exactly the way
    * creation enumerates from the additions — for each removed
    * undirected edge {u, v}, the common neighbors of u and v in the
    * BASE adjacency (pre-removal — the triangles being destroyed
    * existed in the base) close the destroyed triangles; a triangle
    * losing 2 or 3 edges is found once per removed edge it contains,
    * so the triples are canonicalized and deduplicated before the
    * per-corner DEBIT. Removals apply first, then [[incremental]]
    * composes the additions over the edited adjacency, so the result
    * is bit-identical to a full recompute over
    * `(base ∖ removed) ∪ added` — the g38 oracle's claim — including
    * an edge removed and re-added in the same delta (its triangles are
    * debited, then re-credited by the addition pass).
    *
    * Same skew guard as the addition path: destroyed candidates fan
    * out from each removed edge's LOWER-(degree, id) endpoint, so
    * candidate volume is Σ_Δ min(deg(u), deg(v)) ≤ O(|Δ|·√m) — a
    * takedown sweep that hits a hub never enumerates the hub's whole
    * neighborhood from the hub side.
    *
    * CONTRACT: as [[incremental]]; `removedEdges` not present in the
    * base (either direction), self-loops, and within-delta duplicates
    * are no-ops (filtered before enumeration). Removals never drop a
    * vertex: output `[id, triangles]` covers prev's vertices ∪ the
    * added edges' endpoints.
    *
    * COST SHAPE: the destroy pass mirrors the create pass (delta-fanout
    * joins against the adjacency); the one added E-sized step is the
    * anti-join building the post-removal adjacency — a co-located
    * map-side filter when the adjacency is bucketed by src
    * (`symBaseOpt`, the every-day cadence), since the removal side
    * broadcasts.
    */
  def incrementalWithDeletions(prev: DataFrame, baseEdges: DataFrame,
      addedEdges: DataFrame, removedEdges: DataFrame,
      symBaseOpt: Option[DataFrame] = None): DataFrame = {
    val SRC = GraphFrame.SRC
    val DST = GraphFrame.DST
    val ID = GraphFrame.ID
    require(Seq(ID, "triangles").forall(prev.columns.contains),
      s"prev needs [$ID, triangles] (a TriangleCount output), " +
        s"got ${prev.columns.mkString(", ")}")
    val symBase = symBaseOpt.getOrElse(GraphFrame.symmetrizeEdges(
      baseEdges.select(SRC, DST), doDistinct = true).localCheckpoint(false))
    // Truly-removed undirected edges: canonical, loop-free, deduped,
    // actually present in the base. Written as the ADJACENCY semi-joined
    // against the broadcast delta — the delta side is the small one, and
    // a semi with the E-sized side on the right would shuffle E instead
    // of riding its scan (symBase is deduped and the join keys are the
    // canonical pair, so exactly the canonical-direction row survives).
    // Canonical removal set, materialized WITH its count, which bounds
    // every removal-derived frame below.
    // Broadcast or shuffle: the session byte threshold decides (checkpointing's leaf rule).
    val (remD, nRem) = graft.util.PhaseTiming.phase("tri-iwd:remDistinct") {
      org.apache.spark.sql.graft.checkpointing.localCheckpointCounted(
        GraphFrame.canonicalPairs(removedEdges))
    }
    // LAZY truncation (r20): the consumers (the two degree-orientation
    // joins, the symPost anti, the destroy fanout) all materialize inside
    // later jobs of this call, so an eager checkpoint here only added one
    // more scheduled job to the per-batch floor — the lazy form still
    // shares ONE RDD between them.
    val remCanon = graft.util.PhaseTiming.phase("tri-iwd:remCanon") {
      org.apache.spark.sql.graft.checkpointing.localCheckpointBounded(
        symBase.join(remD, Seq(SRC, DST), "left_semi"), nRem)
    }
    // Destroyed triangles {u,v,w}: w a common BASE-neighbor of the
    // removed edge {u,v}, fanned from the lower-(degree, id) endpoint.
    val deg = symBase.groupBy(col(SRC).as("__td_v"))
      .agg(count(lit(1)).as("__td_d"))
    val oriented = org.apache.spark.sql.graft.checkpointing.localCheckpointBounded(remCanon
      .join(deg.select(col("__td_v").as("__td_vs"), col("__td_d").as("__td_ds")),
        col(SRC) === col("__td_vs"))
      .join(deg.select(col("__td_v").as("__td_vd"), col("__td_d").as("__td_dd")),
        col(DST) === col("__td_vd"))
      .select(
        when(struct(col("__td_ds"), col(SRC)) <= struct(col("__td_dd"), col(DST)),
          col(SRC)).otherwise(col(DST)).as("u"),
        when(struct(col("__td_ds"), col(SRC)) <= struct(col("__td_dd"), col(DST)),
          col(DST)).otherwise(col(SRC)).as("v")), nRem)
    val destroyed = oriented
      .join(symBase.select(col(SRC).as("u"), col(DST).as("w")), Seq("u"))
      .filter(col("w") =!= col("v"))
      .join(symBase.select(col(SRC).as("v"), col(DST).as("w")),
        Seq("v", "w"), "left_semi")
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("__t"))
      .distinct()
      .select(explode(col("__t")).as(ID))
      .groupBy(ID).agg(count(lit(1)).as("__td_gone"))
    val prevMinus = prev
      .join(destroyed, Seq(ID), "left")
      .select(col(ID), (col("triangles") -
        coalesce(col("__td_gone"), lit(0L))).as("triangles"))
    // Post-removal adjacency: broadcast anti against the (delta-sized)
    // canonical removals, both directions — a map-side filter riding
    // the adjacency scan. Deliberately NOT materialized: the addition
    // pass reads it three times, and three cheap re-filters of the
    // already-materialized symBase beat one extra E-sized checkpoint
    // write (measured 73 s -> re-probed after this change at 16.8 M).
    val symPost = GraphFrame.withoutPairs(symBase, remCanon)
    // Additions compose over the edited adjacency (baseEdges unused by
    // incremental when the adjacency is supplied). Output is eagerly
    // checkpointed by incremental, so releasing our intermediates after
    // the call is safe.
    val out = graft.util.PhaseTiming.phase("tri-iwd:incremental") {
      incremental(prevMinus, baseEdges, addedEdges, Some(symPost))
    }
    if (symBaseOpt.isEmpty)
      org.apache.spark.sql.graft.checkpointing.release(symBase)
    Seq(remD, remCanon, oriented).foreach(org.apache.spark.sql.graft.checkpointing.release)
    out
  }
}
