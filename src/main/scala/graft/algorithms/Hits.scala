package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.apache.spark.sql.graft.checkpointing.Step

import graft.graph.GraphFrame

/** HITS hubs-and-authorities (Kleinberg), beyond the reference's algorithm
  * set — fixed-iteration UNNORMALIZED form: with all-ones init, iteration k
  * yields pure INTEGER alternating-path counts
  * (`auth_k(v) = Σ_{u→v} hub_{k-1}(u)`, `hub_k(u) = Σ_{u→v} auth_k(v)`),
  * so results are 64-bit-exact — no float summation order, no
  * normalization drift — and the oracle gate is strict equality. Rank
  * ORDER equals normalized HITS at the same iteration count.
  *
  * `normalized(true)` additionally divides the final columns by their L2
  * norms, the form users expect (scores in (0,1]); the division happens
  * once at the end over the exact integer counts, so it costs one global
  * aggregate and keeps every iteration integer-exact.
  *
  * SHAPE per iteration: two edge⋈state joins with map-side-combining sums
  * — the aggregateMessages plan, twice. Fixed small iteration counts
  * (2-4 in practice) keep the un-checkpointed plan shallow; for larger
  * `iters` the state is lineage-truncated every 3 rounds.
  *
  * Overflow: counts grow like (avg-degree)^(2k). Sums run as `try_sum`
  * (NULL on Long overflow) with a received-message count alongside, and a
  * received-but-NULL sum raises immediately — overflow fails loudly
  * instead of silently wrapping where a BIGINT SQL oracle would error.
  */
class Hits(graph: GraphFrame) {
  private var iters = 2
  private var normalize = false

  def iterations(n: Int): this.type = {
    require(n >= 1, s"need iters >= 1, got $n"); iters = n; this
  }

  /** Emit L2-normalized DoubleType scores instead of raw counts. */
  def normalized(b: Boolean): this.type = { normalize = b; this }

  /** Overflow-guarded message sum: `cnt` rows delivered but a NULL
    * `try_sum` means the Long sum overflowed — raise instead of wrapping.
    */
  private def guarded(sumCol: String, cntCol: String, what: String) =
    when(col(cntCol).isNotNull && col(sumCol).isNull,
      raise_error(lit(s"hits: Long overflow in $what sum at extreme " +
        "degree x iteration — reduce iterations or rescale offline")))
      .otherwise(coalesce(col(sumCol), lit(0L)))

  /** `[id, auth, hub]` — BIGINT path counts, or DoubleType L2-normalized
    * scores with `normalized(true)`.
    */
  def run(): DataFrame = {
    val ID = GraphFrame.ID
    // LAZY lineage truncation at every half-step: each half-step
    // references its input state TWICE (the message join and the
    // carry-through), so an un-truncated chain doubles the plan per
    // half-step — at iterations(2) the all-ones init (and the vertex
    // distinct under it) appeared 16 times in ONE plan, each copy
    // re-shuffling (r19 optimization round). A lazy no-stats checkpoint
    // per half-step makes both references share one RDD — plan linear
    // in iterations. Rounds run on the loop driver (`checkpointing.loop`,
    // which states the round rule).
    def ckpt(df: DataFrame): DataFrame = checkpointing.localCheckpointNoStats(df, eager = false)
    val edges = graph.edges.select(GraphFrame.SRC, GraphFrame.DST)
    val init = ckpt(graph.vertices.select(col(ID), lit(1L).as("auth"), lit(1L).as("hub")))
    val state = checkpointing.loop(Step(init, Nil), iters, "hits") { (state, _) =>
      val auth = edges.join(
          state.select(col(ID).as("__s_id"), col("hub").as("__s_hub")),
          col(GraphFrame.SRC) === col("__s_id"))
        .groupBy(col(GraphFrame.DST).as(ID))
        .agg(try_sum(col("__s_hub")).as("__new_auth"), count(lit(1)).as("__na_cnt"))
      val withAuth = ckpt(state.select(col(ID), col("hub"))
        .join(auth.withColumnRenamed(ID, "__a_id"), col(ID) === col("__a_id"), "left")
        .select(col(ID), guarded("__new_auth", "__na_cnt", "auth").as("auth"), col("hub")))
      val hub = edges.join(
          withAuth.select(col(ID).as("__d_id"), col("auth").as("__d_auth")),
          col(GraphFrame.DST) === col("__d_id"))
        .groupBy(col(GraphFrame.SRC).as(ID))
        .agg(try_sum(col("__d_auth")).as("__new_hub"), count(lit(1)).as("__nh_cnt"))
      val next = ckpt(withAuth.select(col(ID), col("auth"))
        .join(hub.withColumnRenamed(ID, "__h_id"), col(ID) === col("__h_id"), "left")
        .select(col(ID), col("auth"), guarded("__new_hub", "__nh_cnt", "hub").as("hub")))
      Step(next, Seq(next), scratch = Seq(withAuth))
    }(_ => false).state
    if (!normalize) state
    else {
      // One global aggregate; the 1-row norm frame broadcast-joins back
      // (the PageRank-normalization cross-join shape, SURVEY §2.a #22).
      // Squares in DOUBLE: auth^2 of a large Long count would overflow
      // the integer domain long before the count itself does.
      val norms = state.agg(
        sqrt(sum(col("auth").cast("double") * col("auth").cast("double"))).as("__na"),
        sqrt(sum(col("hub").cast("double") * col("hub").cast("double"))).as("__nh"))
      state.crossJoin(broadcast(norms)).select(
        col(ID),
        when(col("__na") > 0.0, col("auth") / col("__na")).otherwise(lit(0.0)).as("auth"),
        when(col("__nh") > 0.0, col("hub") / col("__nh")).otherwise(lit(0.0)).as("hub"))
    }
  }
}
