package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.apache.spark.sql.graft.checkpointing.Step

import graft.graph.GraphFrame

/** Katz centrality, fixed-iteration integer-lattice form — beyond the
  * reference's algorithm set: its `algorithm/centrality/` module holds
  * pagerank.rs and k_core.rs only, with no Katz / attenuated-walk member
  * (reference surface audited at `/root/reference/src/algorithm`):
  * every vertex counts its attenuated
  * incoming-walk mass, `katz(v) = Σ_t α^t · (walks of length t into v)`,
  * truncated at `iterations` and computed EXACTLY on the micro lattice:
  *
  *   k_0(v)     = 1e6                          (lattice 1.0)
  *   k_{t+1}(v) = 1e6 + (Σ_{u→v} k_t(u)) div aDen
  *
  * with `α = 1/alphaDenominator` — attenuation as ONE truncating integer
  * division of the message SUM per round, so results are 64-bit-exact
  * BIGINTs (no float summation order, no normalization drift) and the
  * oracle gate is strict equality; `div` truncation is identical in
  * Spark (`div`) and DuckDB (`//`) on the non-negative domain. Rank
  * ORDER matches float Katz at the same truncation depth whenever score
  * gaps exceed the 1e-6 lattice step.
  *
  * SHAPE per iteration: one edge⋈state join with a map-side-combining
  * sum and a left join back — the aggregateMessages plan (the
  * [[Hits]]/[[PageRank]] discipline; lineage truncated every 3 rounds
  * for long runs). Vertices with no in-edges hold the base 1e6.
  *
  * Overflow: in-degree above `aDen` grows mass geometrically with
  * iteration count; sums run as `try_sum` with a delivered-count
  * alongside, and a received-but-NULL sum raises loudly instead of
  * wrapping where the BIGINT SQL oracle would error.
  */
class KatzCentrality(graph: GraphFrame) {
  private var iters = 2
  private var aDen = 2

  def iterations(n: Int): this.type = {
    require(n >= 1, s"need iters >= 1, got $n"); iters = n; this
  }

  /** α = 1/d; d >= 2 keeps the series attenuating. */
  def alphaDenominator(d: Int): this.type = {
    require(d >= 2, s"need alphaDenominator >= 2, got $d"); aDen = d; this
  }

  private def guarded(sumCol: String, cntCol: String) =
    when(col(cntCol).isNotNull && col(sumCol).isNull,
      raise_error(lit("katz: Long overflow in message sum at extreme " +
        "degree x iteration — reduce iterations or raise alphaDenominator")))
      .otherwise(coalesce(col(sumCol), lit(0L)))

  /** `[id, katz]` — exact BIGINT lattice scores (1e6 = 1.0). */
  def run(): DataFrame = {
    val ID = GraphFrame.ID
    val edges = graph.edges.select(GraphFrame.SRC, GraphFrame.DST)
    // LAZY per-round lineage truncation: each round references its input
    // state twice (message join + vertex carry), so an un-truncated chain
    // doubles the plan per round — the Hits/HyperBall disease, at
    // iterations(3) 8 copies of the vertex-distinct init in one plan (r19
    // optimization round). Both references now share one RDD per round.
    // Rounds run on the loop driver (`checkpointing.loop`, which states the
    // round rule).
    def ckpt(df: DataFrame): DataFrame = checkpointing.localCheckpointNoStats(df, eager = false)
    val init = ckpt(graph.vertices.select(col(ID), lit(1000000L).as("katz")))
    checkpointing.loop(Step(init, Nil), iters, "katz") { (state, _) =>
      val msgs = edges.join(
          state.select(col(ID).as("__kz_src"), col("katz").as("__kz_v")),
          col(GraphFrame.SRC) === col("__kz_src"))
        .groupBy(col(GraphFrame.DST).as("__kz_id"))
        .agg(try_sum(col("__kz_v")).as("__kz_sum"),
          count(lit(1)).as("__kz_cnt"))
      val next = ckpt(state.select(col(ID))
        .join(msgs, col(ID) === col("__kz_id"), "left")
        .select(col(ID), guarded("__kz_sum", "__kz_cnt").as("__kz_g"))
        .select(col(ID),
          (lit(1000000L) + expr(s"__kz_g div $aDen")).as("katz")))
      Step(next, Seq(next))
    }(_ => false).state
  }
}
