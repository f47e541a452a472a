package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing.RoundStat

import graft.graph.GraphFrame
import graft.pregel.{MessageDirection, Pregel}

/** `ranks` are normalized to sum 1 (the user-facing scale); `rawMass` is
  * the UNNORMALIZED fixed-point mass `r = reset + α·Pᵀr` — the state a
  * [[PageRank.warmStart]] resume consumes. Normalized ranks are the
  * wrong warm-start seed (at V vertices they sit ~1/V below the raw
  * scale, so the residual is ~the whole answer and the restart buys
  * nothing); keeping the raw frame is what makes the daily cadence
  * cold-run-once, warm-resume-forever.
  */
case class PageRankResult(ranks: DataFrame, iterations: Int,
    rawMass: DataFrame, rounds: Seq[RoundStat])

/** Delta-incremental (GraphX-style) PageRank as a Pregel client
  * (`/root/reference/src/algorithm/centrality/pagerank.rs:80-210`).
  *
  * Each vertex carries `pagerank` (accumulated, updated PR += α·msgSum) and
  * `pagerank_delta` (per-iteration change). A source sends `delta/out_degree`
  * over its out-edges, and only sources with `delta > tol` keep emitting —
  * converged vertices stop generating messages while voting (convergence
  * mode) decides termination. The result is normalized to sum to 1.
  *
  * Deviation from the reference: sink vertices (no out-edges) stay in the
  * state with `out_degree = 0` instead of being dropped with the
  * `out_degrees()` inner frame — they have no out-triplets, so they never
  * emit, but they do accumulate and appear in the result.
  */
class PageRank(graph: GraphFrame) {
  private var resetProb = 0.15
  private var tol = 0.01
  private var maxIter = 0 // 0 = run to convergence
  private var pprSource: Option[Long] = None

  def resetProbability(p: Double): this.type = { resetProb = p; this }
  def tolerance(t: Double): this.type = { tol = t; this }
  def maxIterations(n: Int): this.type = { maxIter = n; this }

  /** Personalized PageRank (beyond the reference): the teleport mass lands
    * only on `sourceId`, so ranks measure proximity to the source. Same
    * delta-incremental loop — only the init mass changes.
    */
  def personalized(sourceId: Long): this.type = { pprSource = Some(sourceId); this }

  /** WARM-START / incremental PageRank (g40 — the ranking family's
    * daily-delta form, closing the r18-verdict gap): resume from
    * yesterday's ranks over TODAY'S graph instead of recomputing the
    * Neumann series from scratch. `prevRawMass` is a `[id, pagerank]`
    * frame on the RAW scale (a previous result's
    * [[PageRankResult.rawMass]]) over any prior graph — additions,
    * removals, and weight changes are all fine because the restart is
    * residual-based, not composition-based:
    *
    * the fixed point satisfies `r = reset + α·Pᵀr`; for any guess `g`
    * the residual `d₀ = reset + α·Pᵀg − g` telescopes the remaining
    * series exactly — `r = g + Σₖ αᵏ(Pᵀ)ᵏ d₀` — so the standard loop
    * runs UNCHANGED with init `pagerank = g + d₀, delta = d₀` (cold
    * start is the special case g = 0, where d₀ = reset — the existing
    * init verbatim). One extra edge pass computes `d₀` before the loop;
    * every loop invariant (participation pruning, voting, message
    * shape) is untouched. When yesterday's graph ≈ today's, `|d₀| ≤ tol`
    * everywhere except near the delta's endpoints, so the first
    * iteration already runs on a delta-bounded participating frontier —
    * convergence in a few rounds instead of the full spectral mixing
    * time (`ScaleBench pr-warm` measures it).
    *
    * Deltas (and d₀) are SIGNED here — removed edges or shrunk ranks
    * propagate negative corrections — which is why the participation
    * and voting predicates are `abs(delta) > tol` (identical to the
    * cold path's behavior, whose deltas are non-negative).
    *
    * Composes with [[personalized]] and [[weighted]] (the residual uses
    * whatever reset vector / message kernel is configured — it must
    * match the run that produced `prevRawMass` for the warm start to be
    * WORTH anything, though any seed converges to the same fixed
    * point).
    */
  def warmStart(prevRawMass: DataFrame): this.type = {
    require(Seq(GraphFrame.ID, "pagerank")
        .forall(prevRawMass.columns.contains),
      s"prevRawMass needs [${GraphFrame.ID}, pagerank] (a rawMass frame), " +
        s"got ${prevRawMass.columns.mkString(", ")}")
    warmOpt = Some(prevRawMass); this
  }
  private var warmOpt: Option[DataFrame] = None

  /** Weighted PageRank (beyond the reference — its bench surface gestures
    * at weighted graphs, `run_benchmarks.py:204-208`, but the library
    * ignores the flag): a source's delta distributes proportional to edge
    * weight, `msg = delta * w / W(src)` with `W(src)` the source's total
    * outgoing weight. The weight column must be integral (cents/micros
    * discipline, as [[WeightedShortestPaths]]): per-source totals then sum
    * EXACTLY in 64-bit integers in any engine, so the only float ops are
    * the per-edge fraction and the message sum — the same IEEE discipline
    * the unweighted oracle gates already hold. Non-negative weights
    * assumed; a source whose total weight is 0 sends nothing.
    */
  def weighted(weightCol: String): this.type = { weightColOpt = Some(weightCol); this }
  private var weightColOpt: Option[String] = None

  def run(): PageRankResult = {
    val alpha = 1.0 - resetProb
    val ID = GraphFrame.ID

    // Unweighted: out_degree count. Weighted: exact integer sum of
    // outgoing weights (both are the message denominator).
    // NULL weights raise (shared guard: out_total aggregation AND the edge
    // projection below) — silently a NULL would drop out of the total but
    // also zero the message, i.e. divergent semantics nobody chose.
    def guardedWeight(w: String): org.apache.spark.sql.Column =
      when(col(w).isNull,
        raise_error(lit(s"weighted pagerank: NULL in weight column '$w'")))
        .otherwise(col(w).cast("long"))
    val outTotals = weightColOpt match {
      case None => graph.outDegrees.withColumnRenamed("out_degree", "__ot")
      case Some(w) =>
        val wType = graph.edges.schema.apply(w).dataType
        require(wType == org.apache.spark.sql.types.LongType ||
          wType == org.apache.spark.sql.types.IntegerType,
          s"weight column '$w' must be integral (INT or BIGINT) so per-source " +
            s"totals are exact, got $wType — quantize floats (cents/micros) first")
        graph.edges.groupBy(col(GraphFrame.SRC).as(ID))
          .agg(sum(guardedWeight(w)).as("__ot"))
    }
    val verticesWithDegrees = graph.vertices.select(col(ID))
      .join(outTotals.withColumnRenamed(ID, "__od_id"),
        col(ID) === col("__od_id"), "left")
      .select(col(ID), coalesce(col("__ot"), lit(0L)).as("out_total"))

    val baseEdgeCols = Seq(col(GraphFrame.SRC), col(GraphFrame.DST))
    val preparedEdges = weightColOpt match {
      case None    => graph.edges.select(baseEdgeCols: _*)
      case Some(w) => graph.edges.select(baseEdgeCols :+ guardedWeight(w).as(w): _*)
    }

    val newDelta = lit(alpha) * coalesce(Pregel.defaultMsg, lit(0.0))
    val initMass = pprSource
      .map(s => when(col(ID) === lit(s), lit(resetProb)).otherwise(lit(0.0)))
      .getOrElse(lit(resetProb))

    // Warm start: one pre-loop edge pass computes the residual
    // d0 = reset + α·Pᵀg − g over TODAY'S graph (the same message
    // kernel the loop uses), then the unchanged loop runs from
    // init pagerank = g + d0, delta = d0. See [[warmStart]].
    val preparedVertices = warmOpt match {
      case None => verticesWithDegrees
      case Some(prevRaw) =>
        val g = prevRaw.select(col(ID).as("__ws_gid"),
          col("pagerank").cast("double").as("__ws_gv"))
        val vg = verticesWithDegrees
          .join(g, col(ID) === col("__ws_gid"), "left")
          .select(col(ID), col("out_total"),
            coalesce(col("__ws_gv"), lit(0.0)).as("__ws_g"))
        val srcSide = vg.select(col(ID).as("__ws_s"),
          col("__ws_g").as("__ws_sg"), col("out_total").as("__ws_st"))
        val perEdge = weightColOpt match {
          case None => col("__ws_sg") / col("__ws_st")
          case Some(w) =>
            when(col("__ws_st") > 0L,
              col("__ws_sg") * col(w).cast("double")
                / col("__ws_st").cast("double"))
              .otherwise(lit(0.0))
        }
        val inc = preparedEdges
          .join(srcSide, col(GraphFrame.SRC) === col("__ws_s"))
          .select(col(GraphFrame.DST).as("__ws_d"), perEdge.as("__ws_m"))
          .groupBy(col("__ws_d")).agg(sum(col("__ws_m")).as("__ws_i"))
        vg.join(inc, col(ID) === col("__ws_d"), "left")
          .select(col(ID), col("out_total"), col("__ws_g"),
            (initMass + lit(alpha) * coalesce(col("__ws_i"), lit(0.0))
              - col("__ws_g")).as("__ws_d0"))
    }
    val prepared = GraphFrame(preparedVertices, preparedEdges)

    val msgExpr = weightColOpt match {
      case None => Pregel.src("pagerank_delta") / Pregel.src("out_total")
      case Some(w) =>
        // (delta * w) / W — left-to-right, mirrored exactly by the oracle;
        // W = 0 (all-zero weights) would be 0/0, so those sources emit 0.
        when(Pregel.src("out_total") > 0L,
          Pregel.src("pagerank_delta") * Pregel.edge(w).cast("double")
            / Pregel.src("out_total").cast("double"))
          .otherwise(lit(0.0))
    }

    val (initPr, initDelta, initPart) =
      if (warmOpt.isDefined)
        (col("__ws_g") + col("__ws_d0"), col("__ws_d0"),
          abs(col("__ws_d0")) > lit(tol))
      else (initMass, initMass, lit(true))
    // abs(): warm-start deltas are signed (negative corrections
    // propagate when mass shrinks); on the cold path deltas are
    // non-negative, so abs() is behavior-identical there.
    var builder = prepared.pregel
      .addVertexColumn("pagerank", initPr, col("pagerank") + newDelta)
      .addVertexColumn("pagerank_delta", initDelta, newDelta)
      .addVertexColumn("out_total", col("out_total"), col("out_total"))
      .addMessage(msgExpr, MessageDirection.SrcToDst)
      .addAggregateExpr(sum(Pregel.defaultMsg))
      .withParticipationColumn("participates", initPart,
        abs(newDelta) > lit(tol))
      .skipDestState()
    weightColOpt.foreach(w => builder = builder.addEdgeColumn(w))

    val result =
      if (maxIter > 0) builder.maxIterations(maxIter).run()
      else builder.withVertexVoting("active", abs(newDelta) > lit(tol)).run()

    val raw = result.vertices.select(col(ID), col("pagerank"))
    // Normalize to sum 1. The 1-row aggregate is broadcast by the planner.
    val total = raw.agg(sum(col("pagerank")).as("pagerank_sum"))
    val ranks = raw.crossJoin(total)
      .select(col(ID), (col("pagerank") / col("pagerank_sum")).as("pagerank"))
    PageRankResult(ranks, result.iterations, raw, result.rounds)
  }
}
