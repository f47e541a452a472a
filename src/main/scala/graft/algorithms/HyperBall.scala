package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.graph.GraphFrame

/** HyperBall (Boldi–Vigna, "In-core computation of geometric centralities
  * with HyperBall", ICDMW 2013; HyperANF, WWW 2011): per-vertex
  * HyperLogLog sketches of the radius-`r` OUT-ball
  * `B_r(v) = { u : dist(v → u) <= r }`, advanced one hop per round by
  * register-max merges — THE published algorithm for neighborhood-size /
  * ball-growth profiles on graphs whose exact per-vertex reachable sets
  * are quadratically out of reach. Beyond the reference's algorithm set
  * (surface audited at `/root/reference/src/algorithm` — no
  * neighborhood-function member).
  *
  * Representation is the load-bearing choice: registers live EXPLODED as
  * rows `(id, register, max_rank)` — at most `min(|ball|, 2^p)` rows per
  * vertex, registers a vertex never observed simply absent — so one
  * merge round
  *
  *   `S_{t+1} = (S_t ∪ edges⋈S_t) groupBy (id, register) max(max_rank)`
  *
  * is ONE relational aggregate with map-side combining (the reduce side
  * is bounded by V·2^p rows), no array UDAF, no codegen fallback, and
  * the whole chain replays in plain SQL — the oracle is strict equality
  * on the integer register lattice plus the one rounded estimate
  * division, the q14 sketch discipline. Hash/register/rank formulas are
  * [[graft.operators.Sketches.hllObservations]] VERBATIM (shared code),
  * so the per-vertex sketches are mergeable with every other HLL in the
  * library.
  *
  * `p` is HyperBall's memory/accuracy knob: state rows <= V·2^p,
  * relative error ~ 1.04/sqrt(2^p). Rounds cost one edge⋈state join
  * each — hub vertices fan their sketch out along their edges, which is
  * combiner-friendly (max-merge collapses map-side, the g27 Katz skew
  * argument, measured by the `hyperball[-skew]` ScaleBench probe).
  */
class HyperBall(graph: GraphFrame) {
  private var r = 2
  private var p = 4

  def radius(n: Int): this.type = {
    require(n >= 1, s"need radius >= 1, got $n"); r = n; this
  }

  def precision(n: Int): this.type = {
    require(n >= 4 && n <= 16, s"need 4 <= p <= 16, got $n"); p = n; this
  }

  /** The initial state: every vertex's own (register, rank) row. */
  private def initState(): DataFrame =
    graft.operators.Sketches
      .hllObservationsKeyed(graph.vertices.select(col(GraphFrame.ID)),
        GraphFrame.ID, p)
      .select(col(GraphFrame.ID), col("register"),
        col("rank").as("max_rank"))

  /** ONE hop: self ∪ out-neighbor sketches, grouped register max — the
    * merge round every public method advances by (one body, so a join
    * hint or checkpoint-cadence change can never drift between them).
    * `edges` is the caller's (scope-cached) `[src, dst]` frame: every
    * round joins the SAME edge relation, so scanning the edge lineage
    * once per query instead of once per round is pure win (r19
    * optimization round — the radius-3 centralities re-scanned the
    * 2-table union parquet per round before this).
    */
  private def mergeRound(state: DataFrame, edges: DataFrame): DataFrame = {
    val ID = GraphFrame.ID
    val msgs = edges
      .join(state.select(col(ID).as("__hb_w"), col("register"),
          col("max_rank")),
        col(GraphFrame.DST) === col("__hb_w"))
      .select(col(GraphFrame.SRC).as(ID), col("register"),
        col("max_rank"))
    state.unionByName(msgs)
      .groupBy(ID, "register").agg(max("max_rank").as("max_rank"))
  }

  /** The edge projection every merge round re-reads, scope-cached once
    * per public-method invocation.
    */
  private def cachedEdges(scope: graft.operators.CacheScope.Scope): DataFrame =
    scope.cache(graph.edges.select(GraphFrame.SRC, GraphFrame.DST))

  /** Sparse register state `[id, register, max_rank]` after `r` merge
    * rounds — absent (id, register) pairs mean rank 0.
    *
    * Every round's state is LAZILY lineage-truncated: the merge round
    * references its input state twice (the union branch and the join
    * side), so an un-truncated chain DOUBLES the plan per round —
    * radius 3 evaluated the initial state 8 times and scanned the edge
    * parquet 12 times in ONE plan (measured, r19 optimization round). A
    * lazy checkpoint per round makes both references share one RDD —
    * the plan is linear in r and each round computes exactly once, in
    * the ONE counting job that ends the round; the superseded round is
    * released after it, so at most two V·2^p-sized block sets are live
    * (see Hits for why the chain must not run unmaterialized across
    * rounds).
    */
  def registers(): DataFrame = {
    val edges = graph.edges.select(GraphFrame.SRC, GraphFrame.DST)
    var state = initState()
    var i = 0
    while (i < r) {
      val previous = state
      state = org.apache.spark.sql.graft.checkpointing
        .localCheckpointNoStats(mergeRound(state, edges), eager = false)
      org.apache.spark.sql.graft.checkpointing.roundCounts(state)
      org.apache.spark.sql.graft.checkpointing.release(previous)
      i += 1
    }
    state
  }

  /** The NEIGHBORHOOD FUNCTION and effective diameter — HyperANF's
    * headline output (Boldi–Vigna–Rosa §1: "how does reach grow with
    * distance?"): `N(t) = Σ_v |B_t(v)|` estimated at every radius
    * `0..r`, plus the integer-radius effective diameter (the smallest
    * `t` with `N(t) >= ceil(0.9 · N(r))` — the canonical 90% variant on
    * the integer lattice, no interpolation). Per-vertex estimates round
    * to integer MICROS before the global sum, so `nf_micros` is an
    * exact BIGINT fold (float summation order can never flip the gate —
    * the d16 ppm discipline applied to HyperANF).
    *
    * One merge round per radius; each radius adds ONE bounded aggregate
    * (two longs to the driver per radius — the epochShuffle collect
    * class). State is re-persisted per round so radius `t`'s aggregate
    * never recomputes rounds `1..t-1`.
    *
    * Output `[radius, n_vertices, nf_micros, eff_diameter]`, radii
    * ascending, exactly one row flagged.
    */
  def neighborhoodFunction(): DataFrame = {
    val spark = graph.vertices.sparkSession
    import spark.implicits._
    def nfOf(state: DataFrame): (Long, Long) = {
      val row = correctedEstimateOf(state)
        .agg(count(lit(1)),
          sum(round(col("__hb_bc") * lit(1000000.0)).cast(LongType))).head
      (row.getLong(0), row.getLong(1))
    }
    // scopedValue: the result rows are driver-collected per radius, so
    // nothing lazy escapes the scope; the edge cache (one scan for all r
    // rounds) is released on return.
    val rows = graft.operators.CacheScope.scopedValue { scope =>
      val edges = cachedEdges(scope)
      var state = initState().persist()
      val rows = scala.collection.mutable.Buffer.empty[(Int, Long, Long)]
      val r0 = nfOf(state)
      rows += ((0, r0._1, r0._2))
      var t = 1
      while (t <= r) {
        val next = mergeRound(state, edges).persist()
        val rt = nfOf(next)
        rows += ((t, rt._1, rt._2))
        state.unpersist(blocking = false)
        state = next
        t += 1
      }
      state.unpersist(blocking = false)
      rows
    }
    val nfMax = rows.last._3
    val thresh = (9L * nfMax + 9L) / 10L
    val eff = rows.collectFirst { case (rad, _, nf) if nf >= thresh => rad }
    rows.toSeq.map { case (rad, nv, nf) =>
      (rad.toLong, nv, nf, eff.contains(rad))
    }.toDF("radius", "n_vertices", "nf_micros", "eff_diameter")
  }

  /** [[estimateOf]] plus `__hb_bc`, the per-vertex LINEAR-COUNTING-
    * corrected estimate rounded to 6 (the q14c branch: n_zero > 0 and
    * raw est <= 2.5m) — at radius 0 every ball is a singleton, exactly
    * the small-range regime where raw HLL reads ~11 for 1; HyperBall's
    * own counters are bias-corrected for the same reason. The correction
    * is a LOOKUP, not a runtime `ln`: n_zero has only 2^p possible
    * values, so `round(m·ln(m/z), 6)` precomputes driver-side
    * ([[HyperBall.lcConstants]]) into one array literal and
    * `element_at` selects — no libm call in the plan, and the oracle
    * embeds the SAME decimal literals ([[HyperBall.lcCorrectionSql]]),
    * so a 1-ulp Spark-vs-DuckDB `ln` divergence on a rounding boundary
    * can never flip the strict integer-lattice gates downstream
    * ([[harmonicCentrality]] multiplies this by 1e6 onto exact BIGINTs).
    * Shared by [[neighborhoodFunction]], [[harmonicCentrality]] and
    * [[closenessCentrality]].
    */
  private def correctedEstimateOf(state: DataFrame): DataFrame = {
    val m = 1L << p
    val lut = typedLit(HyperBall.lcConstants(p))
    estimateOf(state).withColumn("__hb_bc", round(
      when(col("n_zero") > 0 && col("est6") <= lit(2.5 * m),
        element_at(lut, col("n_zero").cast("int")))
        .otherwise(col("est6")), 6))
  }

  /** Approximate HARMONIC centrality from the ball sketches — the
    * centrality HyperBall was built for (Boldi–Vigna, ICDMW 2013 §3:
    * exact per-vertex BFS is V·E at 100 TB; ball-growth differences
    * approximate the distance distribution in r merge rounds):
    *
    *   H(v) ≈ Σ_{t=1..r} (|B_t(v)| - |B_{t-1}(v)|) / t
    *
    * — the (t-hop shell size)/t fold, truncated at radius r (distances
    * beyond r contribute less than 1/r each and are cut; callers raise
    * `radius` for deeper horizons). The fold runs on the INTEGER
    * lattice: per-vertex corrected estimates land as exact micros (the
    * g30 discipline), shells are integer differences, and the harmonic
    * weights clear denominators through `L = lcm(1..r)` —
    * `hball_lat = Σ (L/t)·shell_t_micros`, an exact BIGINT fold whose
    * gate is STRICT equality (a float fold of 6-decimal-rounded shells
    * lands on half-way rounding boundaries SYSTEMATICALLY — shell/2
    * ends in ...5e-7 — where engine rounding diverges; measured, hence
    * the lattice). The real-valued centrality is
    * `hball_lat / (L · 1e6)`. Output `[id, hball_lat]`.
    */
  def harmonicCentrality(): DataFrame = {
    // Lattice headroom: lcm(1..12) = 27720, so weight x shell_micros
    // stays inside i64 for shells up to ~3e14 micros (balls of ~3e8
    // vertices); past r = 12 the lcm itself starts eating the headroom
    // (and at r >= 43 would wrap) — refuse loudly rather than fold
    // garbage.
    require(r <= 12,
      s"harmonicCentrality: radius $r exceeds the lcm-lattice headroom" +
        " (max 12) — deeper horizons need a rational fold")
    val lcm = (1 to r).foldLeft(1L)((acc, i) =>
      acc * i / java.math.BigInteger.valueOf(acc)
        .gcd(java.math.BigInteger.valueOf(i)).longValueExact())
    val fold = (1 to r).map(i =>
      lit(lcm / i) * (col(s"__hb_b$i") - col(s"__hb_b${i - 1}")))
      .reduce(_ + _)
    ballMicrosJoined().select(col(GraphFrame.ID), fold.as("hball_lat"))
  }

  /** Approximate CLOSENESS centrality from the same ball sketches (g32
    * — Boldi–Vigna ICDMW 2013's other geometric centrality; closeness
    * is 1/Σ_u dist(v,u), and the distance sum is the t-weighted shell
    * fold):
    *
    *   Σ_u dist(v → u) ≈ Σ_{t=1..r} t · (|B_t(v)| - |B_{t-1}(v)|)
    *
    * truncated at radius r (vertices beyond r are unreachable inside
    * the horizon and contribute nothing — the same truncation contract
    * as [[harmonicCentrality]], whose weights are 1/t where these are
    * t). Weights are already integers, so no lcm clearing: the output
    * `cball_lat = Σ t·shell_t_micros` is an exact BIGINT micro-lattice
    * fold, strict-equality gateable. The real-valued distance sum is
    * `cball_lat / 1e6` and closeness its reciprocal (left to the
    * caller: 0 for an out-isolated vertex must not divide). Headroom:
    * Σ t·shell_t <= r·ball_micros <= 12·3e14 at the harmonic guard's
    * bound — far inside i64. Output `[id, cball_lat]`.
    */
  def closenessCentrality(): DataFrame = {
    require(r <= 12,
      s"closenessCentrality: radius $r exceeds the shared lattice guard" +
        " (max 12) — deeper horizons need a rational fold")
    val fold = (1 to r).map(i =>
      lit(i.toLong) * (col(s"__hb_b$i") - col(s"__hb_b${i - 1}")))
      .reduce(_ + _)
    ballMicrosJoined().select(col(GraphFrame.ID), fold.as("cball_lat"))
  }

  /** Approximate LIN centrality (g33 — the third of Boldi–Vigna's
    * geometric centralities, "Axioms for centrality" §3: closeness
    * rewarding reach): `lin(v) = |B_r(v)|² / Σ_u dist(v → u)` — the
    * closeness reciprocal scaled by the squared reachable-set size, so
    * a vertex reaching many nodes slowly can outrank one reaching two
    * nodes instantly (plain closeness cannot). Both terms come off the
    * SAME shell frames: reach = the radius-r ball micros, the distance
    * sum = the t-weighted fold ([[closenessCentrality]]'s `cball_lat`).
    * Output anchors the integers and rounds ONE float expression —
    * `[id, reach_micros, cball_lat, lin6]` with
    * `lin6 = round(reach² / (cball_lat · 1e6), 6)` (units cancel:
    * micros² / (micros·1e6) = the real-valued ratio) — the q14 one-
    * rounded-expression gate discipline. A vertex reaching only itself
    * has distance sum 0; Boldi–Vigna define its centrality as 1, the
    * branch the gate pins on sinks.
    */
  def linCentrality(): DataFrame = {
    require(r <= 12,
      s"linCentrality: radius $r exceeds the shared lattice guard" +
        " (max 12) — deeper horizons need a rational fold")
    val sumd = (1 to r).map(i =>
      lit(i.toLong) * (col(s"__hb_b$i") - col(s"__hb_b${i - 1}")))
      .reduce(_ + _)
    val reach = col(s"__hb_b$r")
    ballMicrosJoined()
      .withColumn("cball_lat", sumd)
      .select(col(GraphFrame.ID), reach.as("reach_micros"),
        col("cball_lat"),
        when(col("cball_lat") === 0L, lit(1.0)).otherwise(
          round(reach.cast("double") * reach.cast("double") /
            (col("cball_lat").cast("double") * lit(1000000.0)), 6))
          .as("lin6"))
  }

  /** `[id, __hb_b0 .. __hb_br]` — per-vertex corrected ball-size micros
    * at every radius, the shared input of both shell folds.
    */
  private def ballMicrosJoined(): DataFrame = {
    val ID = GraphFrame.ID
    def bFrame(state: DataFrame, t: Int): DataFrame =
      // Eagerly materialized: the tiny [id, b_t] frame must not keep a
      // lazy reference to its corpus-scale state (which unpersists as
      // soon as the next round supersedes it — at most TWO states live).
      correctedEstimateOf(state)
        .select(col(ID), round(col("__hb_bc") * lit(1000000.0))
          .cast(LongType).as(s"__hb_b$t"))
        .localCheckpoint(true)
    // scopedValue: every escaping frame is an eagerly-checkpointed
    // [id, b_t] (see above), so releasing the edge cache on return is
    // safe — and the r merge rounds share ONE edge scan instead of one
    // per round.
    val frames = graft.operators.CacheScope.scopedValue { scope =>
      val edges = cachedEdges(scope)
      var state = initState().persist()
      var fs = List(bFrame(state, 0))
      var t = 1
      while (t <= r) {
        val next = mergeRound(state, edges).persist()
        fs = fs :+ bFrame(next, t)
        state.unpersist(blocking = false)
        state = next
        t += 1
      }
      state.unpersist(blocking = false)
      fs
    }
    frames.reduce(_.join(_, Seq(ID)))
  }

  /** The per-vertex estimate frame off a register state — shared by
    * [[run]], [[neighborhoodFunction]], and [[harmonicCentrality]] so
    * the outputs can never drift onto different estimator math.
    */
  private def estimateOf(state: DataFrame): DataFrame = {
    val m = 1L << p
    val s = graft.operators.Sketches.HashBits - p + 1
    val alpha = graft.operators.Sketches.hllAlpha(m)
    state.groupBy(GraphFrame.ID)
      .agg(
        (sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($s - max_rank AS INT))"))
          + (lit(m) - count(lit(1))) * lit(1L << s)).as("sum_scaled"),
        (lit(m) - count(lit(1))).cast(LongType).as("n_zero"))
      .select(col(GraphFrame.ID), col("sum_scaled"), col("n_zero"),
        round(lit(alpha) * lit(m.toDouble) * lit(m.toDouble) *
          lit(math.pow(2.0, s)) / col("sum_scaled").cast("double"), 6)
          .as("est6"))
  }

  /** Per-vertex ball-size estimates `[id, sum_scaled, n_zero, est6]`:
    * the raw-HLL estimator over each vertex's registers. `sum_scaled`
    * is the EXACT integer harmonic sum `Σ 2^(S - M_j)` (absent
    * registers contribute `2^S` — the sparse-state closed form), so the
    * gate anchors on integers and only `est6` is one rounded float
    * division.
    */
  def run(): DataFrame = estimateOf(registers())
}

object HyperBall {
  /** The linear-counting correction table for precision `p`:
    * index z-1 holds `round(m·ln(m/z), 6)` for z = 1..m (m = 2^p),
    * computed ONCE driver-side with the JVM's correctly-rounded path
    * (BigDecimal HALF_UP on the libm double — identical to what Spark's
    * `round(m * log(m/z), 6)` produced, so the lattice values are
    * unchanged). The plan looks these up by `element_at`; SQL oracles
    * embed the SAME decimal literals via [[lcCorrectionSql]] — the two
    * engines can never disagree by a libm ulp because neither calls
    * libm at query time (the no-ln/pow determinism discipline
    * prioritySample already follows).
    */
  def lcConstants(p: Int): Seq[Double] = {
    require(p >= 4 && p <= 16, s"need 4 <= p <= 16, got $p")
    val m = 1L << p
    (1L to m).map(z =>
      BigDecimal(m.toDouble * math.log(m.toDouble / z.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** The same table as a portable SQL `CASE` over an integer n_zero
    * column — decimal literals, both engines parse to bit-identical
    * doubles (IEEE correctly-rounded literal parsing). For oracle
    * replays of [[HyperBall]] outputs.
    */
  def lcCorrectionSql(p: Int, nZeroCol: String): String = {
    val arms = lcConstants(p).zipWithIndex.map { case (c, i) =>
      val lit = BigDecimal(c).underlying.toPlainString
      s"WHEN ${i + 1} THEN ${lit}::DOUBLE"
    }
    s"(CASE CAST($nZeroCol AS INT) ${arms.mkString(" ")} END)"
  }
}
