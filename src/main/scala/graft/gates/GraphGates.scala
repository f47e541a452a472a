package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.graph.GraphFrame
import graft.pregel.{MessageDirection, Pregel}
import GateHelpers._

/** The `g` gates (graph algorithms). */
object GraphGates extends GateFamily("g") {
  /** The g20 oracle's unrolled walk CTEs: step `t` re-derives the frontier
    * from `s{t-1}` with the identical portable-hash argmin draw the plan
    * computes (`row_number = 1` over `(hash, dst)` == `min(struct(h, d))`).
    */
  private def walkOracleCtes(len: Int): String = {
    val stepCtes = (1 to len).map { t =>
      s"""s$t AS MATERIALIZED (SELECT walk_id, dst AS cur FROM (
         |  SELECT s.walk_id, e.dst, row_number() OVER (PARTITION BY s.walk_id
         |    ORDER BY ('0x' || substr(md5(CAST(s.walk_id AS VARCHAR) || ':$t:' ||
         |      CAST(e.dst AS VARCHAR)), 1, 15))::BIGINT, e.dst) AS rn
         |  FROM s${t - 1} s JOIN e ON e.src = s.cur) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT o_custkey AS src, 4000000 + o_orderkey AS dst FROM orders
       |  UNION ALL
       |  SELECT 4000000 + l_orderkey, 1000000 + l_partkey FROM lineitem),
       |s0 AS (SELECT c_custkey AS walk_id, c_custkey AS cur FROM customer
       |       WHERE c_custkey % 100 = 0),
       |$stepCtes""".stripMargin
  }

  /** customer -> order(+4e6) -> part(+1e6) DAG. */
  private def custOrderPartEdges(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(col("o_custkey").as("src"), (col("o_orderkey") + 4000000L).as("dst"))
      .unionAll(tbl(s, dir, "lineitem").select(
        (col("l_orderkey") + 4000000L).as("src"), (col("l_partkey") + 1000000L).as("dst")))

  /** The same DAG with integer-cents edge weights (order edges weigh the
    * order total, part edges the line price) — shared by g17/g18 so the
    * two weighted gates can never drift onto different graphs.
    */
  private def weightedDagEdges(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(col("o_custkey").as("src"), (col("o_orderkey") + 4000000L).as("dst"),
        cents(col("o_totalprice")).as("weight"))
      .unionAll(tbl(s, dir, "lineitem").select(
        (col("l_orderkey") + 4000000L).as("src"), (col("l_partkey") + 1000000L).as("dst"),
        cents(col("l_extendedprice")).as("weight")))

  private def kcoreOracle(iters: Int, where: String = ""): String =
    kcoreOracleFrom(
      s"SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem $where",
      iters)

  /** 5 unrolled iterations of deterministic synchronous LPA: new label =
    * mode of neighbour labels, smallest label on count ties (`ORDER BY cnt
    * DESC, lab ASC` rn=1 == the engine's sorted strict-`>` run-length fold);
    * vertices with no neighbours keep their label.
    */
  private lazy val lpaOracle: String = {
    val base =
      """WITH e0 AS (
        |  SELECT c_custkey AS src, CAST(3000000 + c_nationkey AS BIGINT) AS dst FROM customer
        |  UNION ALL
        |  SELECT CAST(3000000 + n_nationkey AS BIGINT), CAST(3500000 + n_regionkey AS BIGINT) FROM nation),
        |ud AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e0 WHERE src <> dst
        |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
        |v AS (SELECT DISTINCT src AS id FROM e0 UNION SELECT dst FROM e0),
        |l0 AS (SELECT id, id AS lab FROM v)""".stripMargin
    val iters = (1 to 5).map { k =>
      s"""m$k AS (SELECT ud.dst AS id, p.lab, count(*) AS cnt
         |  FROM ud JOIN l${k - 1} p ON p.id = ud.src GROUP BY 1, 2),
         |w$k AS (SELECT id, lab,
         |  row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn FROM m$k),
         |l$k AS (SELECT p.id, CAST(coalesce(w.lab, p.lab) AS BIGINT) AS lab
         |  FROM l${k - 1} p LEFT JOIN (SELECT id, lab FROM w$k WHERE rn = 1) w ON w.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters\nSELECT id, lab AS label FROM l5"
  }

  /** `rounds` unrolled Ghaffari MIS rounds on the nation same-region graph,
    * replaying [[graft.algorithms.MaximalIndependentSet]]'s distributed
    * loop exactly: the nomination draw is the engine's own
    * `portableHash60("id:seed:iter") / 2^60` (md5 — bit-identical across
    * engines), probabilities stay powers of two and degree sums stay
    * dyadic-exact, so every branch decides identically. Rounds past
    * convergence are no-ops (empty edge set ⇒ every survivor is isolated
    * and joins; the set is then stable), so `rounds` only needs to be ≥
    * convergence+1 — the sf-independent 25-vertex graph converges in 3
    * rounds with seed 22 (simulated exactly; 5 unrolled = margin).
    */
  /** Nation same-region graph (g10b): edges + vertex set. */
  private val misNationBase: (String, String) = (
    """SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
      |  FROM nation a JOIN nation b
      |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""".stripMargin,
    "SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS id FROM nation")

  /** Part–supplier multigraph (g10, same recipe as partSuppEdges /
    * kcoreOracle); vertices = distinct raw-edge endpoints, matching
    * `GraphFrame.fromEdges`.
    */
  private val misPartSuppBase: (String, String) = (
    "SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem",
    """SELECT DISTINCT id FROM (
      |  SELECT 1000000 + l_partkey AS id FROM lineitem
      |  UNION ALL SELECT l_suppkey FROM lineitem)""".stripMargin)

  private def misOracle(rounds: Int, seed: Long = 42L,
      graphBase: (String, String) = misNationBase): String = {
    val (e00Sql, vSql) = graphBase
    val base =
      s"""WITH e00 AS MATERIALIZED ($e00Sql),
         |e0 AS MATERIALIZED (SELECT src, dst FROM e00 UNION SELECT dst, src FROM e00),
         |v AS MATERIALIZED ($vSql),
         |a0 AS MATERIALIZED (SELECT id, 0.5::DOUBLE AS p FROM v),
         |m0 AS MATERIALIZED (SELECT id FROM v WHERE false)""".stripMargin
    val steps = (1 to rounds).map { t =>
      val u = s"(('0x' || substr(md5(a.id::VARCHAR || ':$seed:${t - 1}'), 1, 15))::BIGINT::DOUBLE" +
        " / 1152921504606846976.0)"
      s"""d$t AS MATERIALIZED (SELECT e.src AS id, sum(a.p) AS d
         |  FROM e${t - 1} e JOIN a${t - 1} a ON a.id = e.dst GROUP BY 1),
         |pr$t AS MATERIALIZED (SELECT a.id, $u <= a.p AS nom,
         |  CASE WHEN d.d >= 2.0 THEN a.p/2.0 WHEN a.p*2.0 <= 0.5 THEN a.p*2.0 ELSE 0.5 END AS p
         |  FROM a${t - 1} a JOIN d$t d ON d.id = a.id),
         |iso$t AS MATERIALIZED (SELECT a.id FROM a${t - 1} a ANTI JOIN d$t d ON a.id = d.id),
         |hn$t AS MATERIALIZED (SELECT e.src AS id, bool_or(p.nom) AS hn
         |  FROM e${t - 1} e JOIN pr$t p ON p.id = e.dst GROUP BY 1),
         |j$t AS MATERIALIZED (SELECT p.id FROM pr$t p JOIN hn$t h ON h.id = p.id WHERE p.nom AND NOT h.hn),
         |rem$t AS MATERIALIZED (SELECT e.src AS id FROM e${t - 1} e JOIN j$t j ON j.id = e.dst
         |  UNION SELECT id FROM j$t),
         |m$t AS MATERIALIZED (SELECT id FROM m${t - 1} UNION SELECT id FROM iso$t UNION SELECT id FROM j$t),
         |a$t AS MATERIALIZED (SELECT p.id, p.p FROM pr$t p ANTI JOIN rem$t r ON p.id = r.id),
         |e$t AS MATERIALIZED (SELECT e.src, e.dst FROM e${t - 1} e
         |  ANTI JOIN rem$t r1 ON e.src = r1.id
         |  ANTI JOIN rem$t r2 ON e.dst = r2.id)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT id FROM m$rounds"
  }

  /** `iters` unrolled unnormalized HITS rounds on the customer->order->part
    * DAG — all-integer alternating-path counts, strict-equality gate:
    * `auth_k(v) = Σ_in hub_{k-1}`, `hub_k(u) = Σ_out auth_k`, absent
    * messages coalesce to 0.
    */
  private def hitsOracle(iters: Int): String = hitsOracleImpl(iters, normalized = false)

  /** Unrolled integer-lattice Katz rounds on the cust->order->part DAG:
    * k_{t+1}(v) = 1e6 + (Σ_{u→v} k_t(u)) // 2 — `//` is DuckDB's
    * truncating integer division, identical to the engine's `div` on the
    * non-negative domain, so the gate is strict BIGINT equality.
    */
  private def katzOracle(iters: Int): String = {
    val base =
      """WITH e AS (
        |  SELECT o_custkey AS src, CAST(4000000 + o_orderkey AS BIGINT) AS dst FROM orders
        |  UNION ALL
        |  SELECT CAST(4000000 + l_orderkey AS BIGINT), CAST(1000000 + l_partkey AS BIGINT) FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT dst FROM e),
        |s0 AS (SELECT id, CAST(1000000 AS BIGINT) AS katz FROM v)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""m$k AS (SELECT e.dst AS id, CAST(sum(s.katz) AS BIGINT) AS ms
         |  FROM e JOIN s${k - 1} s ON s.id = e.src GROUP BY 1),
         |s$k AS (SELECT s.id,
         |  CAST(1000000 + coalesce(m$k.ms, 0) // 2 AS BIGINT) AS katz
         |  FROM s${k - 1} s LEFT JOIN m$k ON m$k.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT id, katz FROM s$iters"
  }

  /** Same unrolled integer HITS rounds; `normalized` divides the final
    * exact counts by their L2 norms (squares in DOUBLE — a large count
    * squared overflows the integer domain) and rounds to 6, mirroring
    * `Hits.normalized(true)`.
    */
  private def hitsOracleImpl(iters: Int, normalized: Boolean): String = {
    val base =
      """WITH e AS (
        |  SELECT o_custkey AS src, CAST(4000000 + o_orderkey AS BIGINT) AS dst FROM orders
        |  UNION ALL
        |  SELECT CAST(4000000 + l_orderkey AS BIGINT), CAST(1000000 + l_partkey AS BIGINT) FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT dst FROM e),
        |s0 AS (SELECT id, CAST(1 AS BIGINT) AS auth, CAST(1 AS BIGINT) AS hub FROM v)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""na$k AS (SELECT e.dst AS id, CAST(sum(s.hub) AS BIGINT) AS auth
         |  FROM e JOIN s${k - 1} s ON s.id = e.src GROUP BY 1),
         |wa$k AS (SELECT s.id, coalesce(na$k.auth, 0) AS auth, s.hub
         |  FROM s${k - 1} s LEFT JOIN na$k ON na$k.id = s.id),
         |nh$k AS (SELECT e.src AS id, CAST(sum(w.auth) AS BIGINT) AS hub
         |  FROM e JOIN wa$k w ON w.id = e.dst GROUP BY 1),
         |s$k AS (SELECT w.id, w.auth, coalesce(nh$k.hub, 0) AS hub
         |  FROM wa$k w LEFT JOIN nh$k ON nh$k.id = w.id)""".stripMargin
    }.mkString(",\n")
    if (!normalized)
      s"$base,\n$steps\nSELECT id, CAST(auth AS BIGINT) AS auth, CAST(hub AS BIGINT) AS hub FROM s$iters"
    else
      s"""$base,
         |$steps,
         |n AS (SELECT
         |  sqrt(sum(CAST(auth AS DOUBLE) * CAST(auth AS DOUBLE))) AS na,
         |  sqrt(sum(CAST(hub AS DOUBLE) * CAST(hub AS DOUBLE))) AS nh FROM s$iters)
         |SELECT id,
         |  round(CASE WHEN n.na > 0 THEN CAST(auth AS DOUBLE) / n.na ELSE 0.0 END, 6) AS auth,
         |  round(CASE WHEN n.nh > 0 THEN CAST(hub AS DOUBLE) / n.nh ELSE 0.0 END, 6) AS hub
         |FROM s$iters, n""".stripMargin
  }

  /** `iters` unrolled delta-incremental PPR rounds on the
    * customer->order->part DAG, replaying the engine's loop exactly:
    * messages = delta/out_degree from every vertex with delta > tol
    * (1e-9 — far below any reachable nonzero delta, so the participation
    * gate decides identically in both engines; zero-delta senders
    * contribute exact +0.0 and are droppable), update pr += alpha*msgSum
    * with alpha written as `1.0 - 0.15` so both engines compute the SAME
    * IEEE subtraction, then normalize and round.
    */
  /** Unrolled synchronous Bellman-Ford over the weighted cust->order->part
    * DAG (g17): round k takes the min of round k-1 and every one-edge
    * relaxation of it. Integer-cents weights make every distance an exact
    * BIGINT — no float-summation-order hazards. Unreached vertices carry
    * the engine's Long.MaxValue ∞ sentinel.
    */
  private def wssspOracle(rounds: Int): String = {
    val base =
      """WITH e AS (
        |  SELECT o_custkey AS src, CAST(4000000 + o_orderkey AS BIGINT) AS dst,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS w FROM orders
        |  UNION ALL
        |  SELECT CAST(4000000 + l_orderkey AS BIGINT), CAST(1000000 + l_partkey AS BIGINT),
        |         CAST(round(l_extendedprice*100) AS BIGINT) FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT dst FROM e),
        |d0(id, dist) AS (SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT))""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""d$k AS (SELECT id, min(dist) AS dist FROM (
         |  SELECT id, dist FROM d${k - 1}
         |  UNION ALL
         |  SELECT e.dst, d.dist + e.w FROM d${k - 1} d JOIN e ON e.src = d.id)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT v.id, coalesce(d.dist, 9223372036854775807) AS dist_1
       |FROM v LEFT JOIN d$rounds d ON d.id = v.id""".stripMargin
  }

  /** `iters` unrolled WEIGHTED delta-incremental PageRank rounds on the
    * weighted cust->order->part DAG: message = dl * w / W(src), with W the
    * EXACT BIGINT per-source weight total (identical in any engine), the
    * fraction and message sum in double, `(dl * w) / W` parenthesized the
    * way both engines associate. Participation/normalization/rounding
    * exactly as [[pprOracle]].
    */
  private def wprOracle(iters: Int): String = {
    val base =
      """WITH e AS (
        |  SELECT o_custkey AS src, CAST(4000000 + o_orderkey AS BIGINT) AS dst,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS w FROM orders
        |  UNION ALL
        |  SELECT CAST(4000000 + l_orderkey AS BIGINT), CAST(1000000 + l_partkey AS BIGINT),
        |         CAST(round(l_extendedprice*100) AS BIGINT) FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT dst FROM e),
        |ow AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS wt FROM e GROUP BY 1),
        |p0 AS (SELECT v.id, CAST(0.15 AS DOUBLE) AS pr, CAST(0.15 AS DOUBLE) AS dl FROM v)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""m$k AS (SELECT e.dst AS id,
         |  sum(p.dl * CAST(e.w AS DOUBLE) / CAST(ow.wt AS DOUBLE)) AS ms FROM e
         |  JOIN p${k - 1} p ON p.id = e.src AND p.dl > 1e-9
         |  JOIN ow ON ow.id = e.src AND ow.wt > 0 GROUP BY 1),
         |p$k AS (SELECT p.id,
         |  p.pr + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS pr,
         |  (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS dl
         |  FROM p${k - 1} p LEFT JOIN m$k m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps,
       |t AS (SELECT sum(pr) AS tot FROM p$iters)
       |SELECT id, round(pr / tot, 6) AS pagerank FROM p$iters, t""".stripMargin
  }

  private def pprOracle(iters: Int): String = {
    val base =
      """WITH e AS (
        |  SELECT o_custkey AS src, CAST(4000000 + o_orderkey AS BIGINT) AS dst FROM orders
        |  UNION ALL
        |  SELECT CAST(4000000 + l_orderkey AS BIGINT), CAST(1000000 + l_partkey AS BIGINT) FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1),
        |p0 AS (SELECT v.id,
        |  CASE WHEN v.id = 1 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr,
        |  CASE WHEN v.id = 1 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS dl
        |  FROM v)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""m$k AS (SELECT e.dst AS id, sum(p.dl / od.d) AS ms FROM e
         |  JOIN p${k - 1} p ON p.id = e.src AND p.dl > 1e-9
         |  JOIN od ON od.id = e.src GROUP BY 1),
         |p$k AS (SELECT p.id,
         |  p.pr + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS pr,
         |  (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS dl
         |  FROM p${k - 1} p LEFT JOIN m$k m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps,
       |t AS (SELECT sum(pr) AS tot FROM p$iters)
       |SELECT id, round(pr / tot, 6) AS pagerank FROM p$iters, t""".stripMargin
  }

  /** The g31 harmonic replay: the g30 register rounds with per-vertex
    * CORRECTED estimates per radius (b0..b3), then the fixed-association
    * shell fold Σ (b_t - b_{t-1}) / t, rounded 6.
    */
  private lazy val g31OracleSql: String = hyperBallShellOracle(
    // lcm(1..3) = 6 clears the harmonic denominators: Σ (6/t)·shell_t.
    """CAST(6 * (b1.b - b0.b) + 3 * (b2.b - b1.b)
      |    + 2 * (b3.b - b2.b) AS BIGINT) AS hball_lat""".stripMargin)

  /** The g32 closeness replay: the SAME shell chain, t-weighted fold
    * Σ t·shell_t (integer weights — no lcm clearing needed).
    */
  private lazy val g32OracleSql: String = hyperBallShellOracle(
    """CAST(1 * (b1.b - b0.b) + 2 * (b2.b - b1.b)
      |    + 3 * (b3.b - b2.b) AS BIGINT) AS cball_lat""".stripMargin)

  /** The g33 Lin replay: the same chain, reach = b3 plus the g32 fold,
    * one rounded float ratio (sinks take the defined value 1).
    */
  private lazy val g33OracleSql: String = hyperBallShellOracle(
    """b3.b AS reach_micros,
      |  CAST(1 * (b1.b - b0.b) + 2 * (b2.b - b1.b)
      |    + 3 * (b3.b - b2.b) AS BIGINT) AS cball_lat,
      |  CASE WHEN (1 * (b1.b - b0.b) + 2 * (b2.b - b1.b)
      |      + 3 * (b3.b - b2.b)) = 0 THEN 1.0::DOUBLE
      |    ELSE round(CAST(b3.b AS DOUBLE) * CAST(b3.b AS DOUBLE) /
      |      (CAST(1 * (b1.b - b0.b) + 2 * (b2.b - b1.b)
      |        + 3 * (b3.b - b2.b) AS DOUBLE) * 1000000.0::DOUBLE), 6)
      |    END AS lin6""".stripMargin)

  /** The shared g31/g32 shell-chain replay (radius 3, p = 4 on the
    * customer→order→part DAG): register rounds s1..s3, per-radius
    * corrected ball micros b0..b3, then `foldSql` over the b-frames.
    */
  private def hyperBallShellOracle(foldSql: String): String = {
    def round(t: Int): String =
      s"""s$t AS (SELECT id, register, CAST(max(max_rank) AS BIGINT) AS max_rank FROM (
         |    SELECT * FROM s${t - 1}
         |    UNION ALL
         |    SELECT e0.src AS id, s${t - 1}.register, s${t - 1}.max_rank
         |    FROM e0 JOIN s${t - 1} ON s${t - 1}.id = e0.dst)
         |  GROUP BY 1, 2)""".stripMargin
    def bc(t: Int): String =
      s"""b$t AS (SELECT id, CAST(round(round(CASE
         |    WHEN n_zero > 0 AND est6 <= 40.0::DOUBLE
         |    THEN ${graft.algorithms.HyperBall.lcCorrectionSql(4, "n_zero")}
         |    ELSE est6 END, 6) * 1000000.0::DOUBLE) AS BIGINT) AS b
         |  FROM (SELECT id, n_zero,
         |    round(0.673::DOUBLE * 16.0::DOUBLE * 16.0::DOUBLE *
         |      144115188075855872.0::DOUBLE / CAST(sum_scaled AS DOUBLE), 6) AS est6
         |    FROM (SELECT id,
         |      CAST(sum(CAST(1 AS BIGINT) << CAST(57 - max_rank AS INT)) AS BIGINT)
         |        + (16 - count(*)) * (CAST(1 AS BIGINT) << 57) AS sum_scaled,
         |      CAST(16 - count(*) AS BIGINT) AS n_zero
         |      FROM s$t GROUP BY 1)))""".stripMargin
    s"""WITH e0 AS (SELECT o_custkey AS src, o_orderkey + 4000000 AS dst FROM orders
       |  UNION ALL SELECT l_orderkey + 4000000, l_partkey + 1000000 FROM lineitem),
       |v AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)),
       |s0 AS (SELECT id, h & 15 AS register,
       |  57 - CASE WHEN (h >> 4) = 0 THEN 0 ELSE len(bin(h >> 4)) END AS max_rank
       |  FROM (SELECT id,
       |    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h FROM v)),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |${bc(0)},
       |${bc(1)},
       |${bc(2)},
       |${bc(3)}
       |SELECT b0.id,
       |  $foldSql
       |FROM b0 JOIN b1 USING (id) JOIN b2 USING (id) JOIN b3 USING (id)""".stripMargin
  }

  /** The g30 neighborhood-function replay: the g29 register rounds
    * extended to radii 0..3, each radius folded to
    * `sum(round(est6 * 1e6))` — integer micros, exact fold — plus the
    * ceil-90% effective-diameter pick.
    */
  private lazy val g30OracleSql: String = {
    def round(t: Int): String =
      s"""s$t AS (SELECT id, register, CAST(max(max_rank) AS BIGINT) AS max_rank FROM (
         |    SELECT * FROM s${t - 1}
         |    UNION ALL
         |    SELECT e0.src AS id, s${t - 1}.register, s${t - 1}.max_rank
         |    FROM e0 JOIN s${t - 1} ON s${t - 1}.id = e0.dst)
         |  GROUP BY 1, 2)""".stripMargin
    def nf(t: Int): String =
      s"""nf$t AS (SELECT CAST($t AS BIGINT) AS radius,
         |  CAST(count(*) AS BIGINT) AS n_vertices,
         |  CAST(sum(CAST(round(round(CASE
         |      WHEN n_zero > 0 AND est6 <= 40.0::DOUBLE
         |      THEN ${graft.algorithms.HyperBall.lcCorrectionSql(4, "n_zero")}
         |      ELSE est6 END, 6)
         |    * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS nf_micros
         |  FROM (SELECT id, n_zero,
         |    round(0.673::DOUBLE * 16.0::DOUBLE * 16.0::DOUBLE *
         |      144115188075855872.0::DOUBLE / CAST(sum_scaled AS DOUBLE), 6) AS est6
         |    FROM (SELECT id,
         |      CAST(sum(CAST(1 AS BIGINT) << CAST(57 - max_rank AS INT)) AS BIGINT)
         |        + (16 - count(*)) * (CAST(1 AS BIGINT) << 57) AS sum_scaled,
         |      CAST(16 - count(*) AS BIGINT) AS n_zero
         |      FROM s$t GROUP BY 1)))""".stripMargin
    s"""WITH e0 AS (SELECT o_custkey AS src, o_orderkey + 4000000 AS dst FROM orders
       |  UNION ALL SELECT l_orderkey + 4000000, l_partkey + 1000000 FROM lineitem),
       |v AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)),
       |s0 AS (SELECT id, h & 15 AS register,
       |  57 - CASE WHEN (h >> 4) = 0 THEN 0 ELSE len(bin(h >> 4)) END AS max_rank
       |  FROM (SELECT id,
       |    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h FROM v)),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |${nf(0)},
       |${nf(1)},
       |${nf(2)},
       |${nf(3)},
       |u AS (SELECT * FROM nf0 UNION ALL SELECT * FROM nf1
       |  UNION ALL SELECT * FROM nf2 UNION ALL SELECT * FROM nf3),
       |mx AS (SELECT nf_micros AS m FROM u WHERE radius = 3),
       |dd AS (SELECT min(u.radius) AS er FROM u, mx
       |  WHERE u.nf_micros >= (9 * mx.m + 9) // 10)
       |SELECT u.radius, u.n_vertices, u.nf_micros,
       |  (u.radius = dd.er) AS eff_diameter
       |FROM u, dd""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("g01_in_degrees", (s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).inDegrees,
      """SELECT l_suppkey AS id, count(*) AS in_degree FROM lineitem GROUP BY 1""".stripMargin),

    Gate("g02_out_degrees", (s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).outDegrees,
      """SELECT 1000000 + l_partkey AS id, count(*) AS out_degree FROM lineitem GROUP BY 1""".stripMargin),

    Gate("g03_degrees_sym", (s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).degrees,
      """WITH e AS (SELECT DISTINCT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |ud AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
        |SELECT src AS id, count(*) AS degree FROM ud GROUP BY 1""".stripMargin),

    Gate("g04_triplets_flat", (s, d) => {
      val custs = tbl(s, d, "customer").select(col("c_custkey").as("id"), col("c_name").as("name"))
      val nations = tbl(s, d, "nation").select(
        (col("n_nationkey").cast(LongType) + 3000000L).as("id"), col("n_name").as("name"))
      val edges = tbl(s, d, "customer").select(
        col("c_custkey").as("src"), (col("c_nationkey").cast(LongType) + 3000000L).as("dst"))
      GraphFrame(custs.unionAll(nations), edges).triplets
        .select(
          col("src_vertex.id").as("src_id"), col("src_vertex.name").as("src_name"),
          col("dst_vertex.id").as("dst_id"), col("dst_vertex.name").as("dst_name"))
    },
      """SELECT c_custkey AS src_id, c_name AS src_name,
        |  CAST(3000000 + c_nationkey AS BIGINT) AS dst_id, n_name AS dst_name
        |FROM customer JOIN nation ON n_nationkey = c_nationkey""".stripMargin),

    Gate("g05_pregel_indegree", (s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).pregel
        .addVertexColumn("in_degree", lit(0L), coalesce(Pregel.defaultMsg, lit(0L)))
        .addMessage(lit(1L), MessageDirection.SrcToDst)
        .addAggregateExpr(sum(Pregel.defaultMsg))
        .maxIterations(1)
        .run().vertices
        .select(col("id"), col("in_degree")),
      """WITH e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |ind AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1)
        |SELECT v.id, CAST(coalesce(ind.c, 0) AS BIGINT) AS in_degree
        |FROM v LEFT JOIN ind ON v.id = ind.id""".stripMargin),

    Gate("g06_bfs", (s, d) =>
      GraphFrame.fromEdges(custOrderPartEdges(s, d))
        .shortestPaths(Seq(1L)).maxIterations(4).run()
        .vertices.select(col("id"), col("dist_1").cast(LongType).as("dist_1")),
      """WITH RECURSIVE e AS (
        |  SELECT o_custkey AS src, 4000000 + o_orderkey AS dst FROM orders
        |  UNION ALL
        |  SELECT 4000000 + l_orderkey, 1000000 + l_partkey FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |r(id, dd) AS (
        |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, r.dd + 1 FROM e JOIN r ON e.src = r.id WHERE r.dd < 4)
        |SELECT v.id, coalesce(CAST(min(r.dd) AS BIGINT), 2147483647) AS dist_1
        |FROM v LEFT JOIN r ON r.id = v.id GROUP BY v.id""".stripMargin),

    // LAYERED NEIGHBOR SAMPLING (g43 — the GNN mini-batch loader's
    // shape): fanout-bounded computation graphs from a seed set over
    // the cust→order→part DAG. The draw is the MIS md5 discipline
    // (portable 60-bit hash of "src:dst:seed:layer", ties by dst), so
    // the sample is a pure function of (graph, seed, fanouts) and the
    // oracle replays it exactly — a rand() sampler could only gate
    // counts.
    Gate("g43_neighbor_sample", (s, d) => {
      val seeds = tbl(s, d, "customer")
        .select(col("c_custkey").as("id"))
        .filter(pmod(col("id"), lit(100L)) === 1L)
      graft.algorithms.GraphSampling.neighborSample(
        custOrderPartEdges(s, d), seeds, Seq(3, 2), seed = 7L)
    },
      // g43: the md5-ranked layered sample replayed exactly — same
      // preimage "src:dst:seed:layer", same 15-hex-digit BIGINT, same
      // (hash, dst) tie order, row_number <= fanout per src per layer.
      """WITH e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT o_custkey AS src, 4000000 + o_orderkey AS dst FROM orders
        |  UNION ALL
        |  SELECT 4000000 + l_orderkey, 1000000 + l_partkey FROM lineitem)),
        |f0 AS (SELECT DISTINCT c_custkey AS id FROM customer WHERE c_custkey % 100 = 1),
        |c1 AS (SELECT e.src, e.dst,
        |  ('0x' || substr(md5(CAST(e.src AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR) || ':7:1'), 1, 15))::BIGINT AS h
        |  FROM e JOIN f0 ON f0.id = e.src),
        |s1 AS (SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY h, dst) AS rn
        |  FROM c1) WHERE rn <= 3),
        |f1 AS (SELECT DISTINCT dst AS id FROM s1),
        |c2 AS (SELECT e.src, e.dst,
        |  ('0x' || substr(md5(CAST(e.src AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR) || ':7:2'), 1, 15))::BIGINT AS h
        |  FROM e JOIN f1 ON f1.id = e.src),
        |s2 AS (SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY h, dst) AS rn
        |  FROM c2) WHERE rn <= 2)
        |SELECT CAST(1 AS BIGINT) AS layer, src, dst FROM s1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS layer, src, dst FROM s2""".stripMargin),

    // K-HOP EGO SUBGRAPH (g44 — g43's unsampled twin): every edge on a
    // directed path of length <= 2 out of the seed customers, tagged
    // with the hop at which its source is FIRST reached — each edge
    // once, edge-set-sized not path-count-sized. Oracle = min-distance
    // recursive CTE joined back to the edge set.
    Gate("g44_ego_subgraph", (s, d) => {
      val seeds = tbl(s, d, "customer")
        .select(col("c_custkey").as("id"))
        .filter(pmod(col("id"), lit(100L)) === 1L)
      graft.algorithms.GraphSampling.egoSubgraph(
        custOrderPartEdges(s, d), seeds, depth = 2)
    },
      // g44: hop = min-dist(src) + 1 over the reach set capped at
      // depth - 1; each edge once.
      """WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT o_custkey AS src, 4000000 + o_orderkey AS dst FROM orders
        |  UNION ALL
        |  SELECT 4000000 + l_orderkey, 1000000 + l_partkey FROM lineitem)),
        |f0 AS (SELECT DISTINCT c_custkey AS id FROM customer WHERE c_custkey % 100 = 1),
        |r(id, dd) AS (
        |  SELECT CAST(id AS BIGINT), CAST(0 AS BIGINT) FROM f0
        |  UNION
        |  SELECT e.dst, r.dd + 1 FROM e JOIN r ON e.src = r.id WHERE r.dd < 1),
        |d AS (SELECT id, min(dd) AS dist FROM r GROUP BY 1)
        |SELECT CAST(d.dist + 1 AS BIGINT) AS hop, e.src, e.dst
        |FROM e JOIN d ON d.id = e.src WHERE d.dist <= 1""".stripMargin),

    // WARM-START shortest paths (g42 — the BFS family's daily-delta
    // form, additions-only): yesterday's CONVERGED distances over ~4/5
    // of the DAG re-seed the relaxation over the full graph; round-1
    // frontier = the delta's sources only. Exact by the fixpoint
    // argument, so the oracle is the cold recursive-CTE BFS over the
    // full edge set (depth bound far past the DAG's depth).
    Gate("g42_bfs_warm", (s, d) => {
      val edges = custOrderPartEdges(s, d)
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val prev = GraphFrame.fromEdges(edges.filter(!isDelta))
        .shortestPaths(Seq(1L)).run().vertices
      GraphFrame.fromEdges(edges).shortestPaths(Seq(1L))
        .warmStart(prev, edges.filter(isDelta)).run()
        .vertices.select(col("id"), col("dist_1").cast(LongType).as("dist_1"))
    },
      // Warm BFS converges to the exact distances of the full graph, so
      // the oracle is the cold recursive BFS over every edge (depth 20 ≫
      // the cust→order→part DAG's depth).
      """WITH RECURSIVE e AS (
        |  SELECT o_custkey AS src, 4000000 + o_orderkey AS dst FROM orders
        |  UNION ALL
        |  SELECT 4000000 + l_orderkey, 1000000 + l_partkey FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |r(id, dd) AS (
        |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, r.dd + 1 FROM e JOIN r ON e.src = r.id WHERE r.dd < 20)
        |SELECT v.id, coalesce(CAST(min(r.dd) AS BIGINT), 2147483647) AS dist_1
        |FROM v LEFT JOIN r ON r.id = v.id GROUP BY v.id""".stripMargin),

    Gate("g07_wcc", (s, d) =>
      GraphFrame.fromEdges(custNationRegionEdges(s, d))
        .connectedComponents.run().components,
      g07OracleSql),

    // INCREMENTAL WCC (g34 — the daily-delta form): yesterday's labels
    // (WCC on ~4/5 of the edges) composed with today's hash-selected
    // delta through the contracted merge map — delta-bounded work plus
    // one V-sized label pass, never an E-sized edge re-scan. Oracle =
    // the g07 full-recompute replay verbatim: composition must be
    // bit-identical to recomputing over the union.
    Gate("g34_wcc_incremental", (s, d) => {
      val edges = custNationRegionEdges(s, d)
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val prev = GraphFrame.fromEdges(edges.filter(!isDelta))
        .connectedComponents.run().components
      graft.algorithms.ConnectedComponents.incremental(
        prev, edges.filter(isDelta))
    },
      // Incremental composition must equal the full recompute exactly.
      g07OracleSql),

    // INCREMENTAL WCC WITH DELETIONS (g37 — g34's missing half, the
    // r18-verdict gap): the same graph partitioned three ways by edge
    // hash — base = everything but the additions, removed = the %7==1
    // slice of the base (a takedown sweep), added = the %7==0 slice.
    // Yesterday's labels (full WCC on base) compose through the
    // affected-component recompute + the addition contraction. Oracle =
    // a full recursive-CTE recompute over the EDITED edge set, with
    // every original endpoint kept (stranded vertices become singleton
    // components): composition must be bit-identical.
    Gate("g37_wcc_incremental_del", (s, d) => {
      val edges = custNationRegionEdges(s, d)
      val bucket = pmod(col("src") + col("dst"), lit(7))
      val base = edges.filter(bucket =!= 0)
      val prev = GraphFrame.fromEdges(base)
        .connectedComponents.run().components
      graft.algorithms.ConnectedComponents.incrementalWithDeletions(
        prev, base, edges.filter(bucket === 0), base.filter(bucket === 1))
    },
      g37OracleSql),

    // WARM-START PageRank (g40 — the ranking family's daily-delta form,
    // the r18-verdict gap): yesterday's RAW mass (cold 2-iter run on
    // ~4/5 of the edges, tol 1e-9) re-seeded over the FULL graph via
    // the residual restart, 2 more iterations. Oracle = the exact
    // unrolled replay: cold base iterations, the residual edge pass,
    // then the warm iterations with the abs(delta)>tol participation
    // filter — every float op mirrored in evaluation order.
    Gate("g40_pagerank_warm", (s, d) => {
      val edges = custNationRegionEdges(s, d)
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val prev = GraphFrame.fromEdges(edges.filter(!isDelta)).pageRank
        .tolerance(1e-9).maxIterations(2).run().rawMass
      GraphFrame.fromEdges(edges).pageRank
        .tolerance(1e-9).maxIterations(2).warmStart(prev).run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    },
      // Warm-start replay: cold 2-iter loop on the base slice (iteration 1
      // unfiltered — participation inits true on the cold path), the
      // residual pass d0 = 0.15 + α·Pᵀg − g over the full graph, then two
      // warm iterations whose senders replay abs(dl) > tol. α is written
      // (1.0 - 0.15) exactly as the engine computes it.
      """WITH e_all AS (
        |  SELECT c_custkey AS src, CAST(3000000 + c_nationkey AS BIGINT) AS dst FROM customer
        |  UNION ALL
        |  SELECT CAST(3000000 + n_nationkey AS BIGINT), CAST(3500000 + n_regionkey AS BIGINT) FROM nation),
        |eb AS (SELECT src, dst FROM e_all WHERE (src + dst) % 5 <> 0),
        |vb AS (SELECT DISTINCT src AS id FROM eb UNION SELECT dst FROM eb),
        |odb AS (SELECT src AS id, count(*) AS d FROM eb GROUP BY 1),
        |b0 AS (SELECT id, CAST(0.15 AS DOUBLE) AS pr, CAST(0.15 AS DOUBLE) AS dl FROM vb),
        |bm1 AS (SELECT eb.dst AS id, sum(p.dl / odb.d) AS ms FROM eb
        |  JOIN b0 p ON p.id = eb.src
        |  JOIN odb ON odb.id = eb.src GROUP BY 1),
        |b1 AS (SELECT p.id,
        |  p.pr + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS pr,
        |  (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS dl
        |  FROM b0 p LEFT JOIN bm1 m ON m.id = p.id),
        |bm2 AS (SELECT eb.dst AS id, sum(p.dl / odb.d) AS ms FROM eb
        |  JOIN b1 p ON p.id = eb.src AND abs(p.dl) > 1e-9
        |  JOIN odb ON odb.id = eb.src GROUP BY 1),
        |b2 AS (SELECT p.id,
        |  p.pr + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS pr,
        |  (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS dl
        |  FROM b1 p LEFT JOIN bm2 m ON m.id = p.id),
        |vf AS (SELECT DISTINCT src AS id FROM e_all UNION SELECT dst FROM e_all),
        |odf AS (SELECT src AS id, count(*) AS d FROM e_all GROUP BY 1),
        |gg AS (SELECT vf.id, coalesce(b2.pr, CAST(0.0 AS DOUBLE)) AS g
        |  FROM vf LEFT JOIN b2 ON b2.id = vf.id),
        |winc AS (SELECT e.dst AS id, sum(gg.g / odf.d) AS ms FROM e_all e
        |  JOIN gg ON gg.id = e.src JOIN odf ON odf.id = e.src GROUP BY 1),
        |w0 AS (SELECT gg.id,
        |  gg.g + (CAST(0.15 AS DOUBLE) + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(w.ms, CAST(0.0 AS DOUBLE)) - gg.g) AS pr,
        |  CAST(0.15 AS DOUBLE) + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(w.ms, CAST(0.0 AS DOUBLE)) - gg.g AS dl
        |  FROM gg LEFT JOIN winc w ON w.id = gg.id),
        |wm1 AS (SELECT e.dst AS id, sum(p.dl / odf.d) AS ms FROM e_all e
        |  JOIN w0 p ON p.id = e.src AND abs(p.dl) > 1e-9
        |  JOIN odf ON odf.id = e.src GROUP BY 1),
        |w1 AS (SELECT p.id,
        |  p.pr + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS pr,
        |  (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS dl
        |  FROM w0 p LEFT JOIN wm1 m ON m.id = p.id),
        |wm2 AS (SELECT e.dst AS id, sum(p.dl / odf.d) AS ms FROM e_all e
        |  JOIN w1 p ON p.id = e.src AND abs(p.dl) > 1e-9
        |  JOIN odf ON odf.id = e.src GROUP BY 1),
        |w2 AS (SELECT p.id,
        |  p.pr + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS pr
        |  FROM w1 p LEFT JOIN wm2 m ON m.id = p.id),
        |t AS (SELECT sum(pr) AS tot FROM w2)
        |SELECT id, round(pr / tot, 6) AS pagerank FROM w2, t""".stripMargin),

    Gate("g08_pagerank", (s, d) => {
      val edges = tbl(s, d, "customer").select(
        col("c_custkey").as("src"), (col("c_nationkey").cast(LongType) + 3000000L).as("dst"))
      GraphFrame.fromEdges(edges).pageRank.maxIterations(2).run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    },
      """WITH e AS (SELECT c_custkey AS src, CAST(3000000 + c_nationkey AS BIGINT) AS dst FROM customer),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |ind AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1),
        |pr AS (SELECT v.id, 0.15 + 0.85 * 0.15 * coalesce(ind.c, 0) AS p
        |       FROM v LEFT JOIN ind ON v.id = ind.id),
        |t AS (SELECT sum(p) AS tot FROM pr)
        |SELECT id, round(p / tot, 6) AS pagerank FROM pr, t""".stripMargin),

    Gate("g09_kcore", (s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).kCore.run()
        .vertices.select(col("id"), col("kcore")),
      // Run-to-convergence kcore: the H-index fixpoint IS the coreness (Lü et
      // al. 2016), and the fixpoint is stable under extra rounds — the sf0.01
      // graph converges in 3 H-index iterations (measured via iterate-to-
      // fixpoint in DuckDB), so an 8-round unroll is exact with 2.5x margin.
      kcoreOracle(8)),

    // WARM-START k-core (g41 — the k-core family's daily-delta form,
    // completing the incremental set): yesterday's coreness (cold run on
    // the base slice) re-seeds the capped h-index loop over the EDITED
    // graph — base minus the %7==1 takedowns plus the %7==0 additions —
    // through the sound seed least(degree, prev + |added|). The warm run
    // is EXACT by the monotone sandwich, so the oracle is a cold full
    // recompute over the edited edge set (iteration unroll past
    // convergence).
    Gate("g41_kcore_warm", (s, d) => {
      val edges = partSuppEdges(s, d)
      val bucket = pmod(col("src") + col("dst"), lit(7))
      val base = edges.filter(bucket =!= 0)
      val added = edges.filter(bucket === 0)
      val edited = edges.filter(bucket =!= 1)
      val prev = GraphFrame.fromEdges(base).kCore.run()
        .vertices.select(col("id"), col("kcore"))
      GraphFrame.fromEdges(edited).kCore.warmStart(prev, added).run()
        .vertices.select(col("id"), col("kcore"))
    },
      // Warm-start k-core is exact-converged, so the oracle is the cold
      // unrolled recompute over the EDITED edge set (bucket (src+dst)%7:
      // !=0 base, ==0 added, ==1 removed => edited = all but ==1), with
      // iteration margin past convergence.
      kcoreOracle(12, "WHERE (1000000 + l_partkey + l_suppkey) % 7 <> 1")),

    // Capped run: exercises the DISTRIBUTED kcore_merge update rule (the
    // hybrid driver peel only engages in run-to-convergence mode), gated by
    // an unrolled 2-iteration SQL oracle.
    Gate("g09b_kcore_capped", (s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).kCore.maxIterations(2).run()
        .vertices.select(col("id"), col("kcore")),
      kcoreOracle(2)),

    Gate("g10_mis", (s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).maximalIndependentSet.run()
        .vertices.select(col("id")),
      // The bench-scale MIS query (hybrid driver path) is the SAME pure
      // function of (graph, seed) as the distributed rounds — the hybrid
      // replays them exactly — so it takes the same unrolled oracle on the
      // part–supplier graph: seed 42 converges in 5 rounds at sf0.01
      // (simulated exactly), 7 unrolled = margin.
      misOracle(7, graphBase = misPartSuppBase)),

    // DISTRIBUTED Ghaffari rounds on the nation same-region graph, hybrid
    // disabled: the md5-based nomination draws make the loop a pure
    // function of (graph, seed), so the oracle replays the exact rounds in
    // SQL (misOracle). This is the hard gate for the distributed MIS path
    // — g10 above exercises the driver-greedy hybrid at bench scale.
    Gate("g10b_mis_det", (s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      // Seed 22 converges in 3 rounds on this graph (seed 42 took 6) —
      // at ~1.4 s of fixed per-round latency the seed choice halves the
      // gate's bench cost without weakening it: the oracle replays
      // whatever seed is configured.
      GraphFrame(nations.select(col("k").as("id")), edges)
        .maximalIndependentSet.smallGraphThreshold(0).setSeed(22L).run()
        .vertices.select(col("id"))
    },
      misOracle(5, seed = 22L)),

    Gate("g11_triangles", (s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      GraphFrame(nations.select(col("k").as("id")), edges).triangleCount.run()
    },
      g11OracleSql),

    // INCREMENTAL triangle counts (g35 — g34's companion for the
    // triangle family): yesterday's per-vertex counts (full run on ~4/5
    // of the edges) composed with today's hash-selected delta — new
    // triangles enumerate FROM the delta edges (common union-neighbors,
    // canonical-triple dedup), never re-running the base wedge
    // enumeration. Oracle = the g11 full-recompute replay verbatim:
    // composition must be bit-identical to recomputing over the union.
    Gate("g35_triangles_incremental", (s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val base = edges.filter(!isDelta)
      val prev = GraphFrame(nations.select(col("k").as("id")), base)
        .triangleCount.run()
      graft.algorithms.TriangleCount.incremental(
        prev, base, edges.filter(isDelta))
    },
      // Incremental composition must equal the full recompute over the
      // union — the same replay, verbatim.
      g11OracleSql),

    // INCREMENTAL triangles WITH DELETIONS (g38 — g35's missing half):
    // same three-way hash split as g37 on the nation same-region graph.
    // Destroyed triangles enumerate FROM the removed edges (common
    // base-neighbors, canonical dedup, per-corner debit), then the
    // additions compose over the edited adjacency. Oracle = full
    // recompute over the edited edge set.
    Gate("g38_triangles_incremental_del", (s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      val bucket = pmod(col("src") + col("dst"), lit(7))
      val base = edges.filter(bucket =!= 0)
      val prev = GraphFrame(nations.select(col("k").as("id")), base)
        .triangleCount.run()
      graft.algorithms.TriangleCount.incrementalWithDeletions(
        prev, base, edges.filter(bucket === 0), base.filter(bucket === 1))
    },
      g38OracleSql),

    // k-truss (edge-cohesion peeling, 2 capped rounds): customers form
    // c-n-r triangles only when c%3=0 (the others' c->n edges are
    // support-0 and peel in round 1); nation-region edges survive on the
    // triangle customers' support. Gates triangle-support counting, the
    // peel filter, and the recompute-after-removal loop.
    Gate("g19_ktruss", (s, d) => {
      val nation = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("nk"),
          col("n_regionkey").cast(LongType).as("rk"))
      val nr = nation.select((col("nk") + 3000000L).as("src"),
        (col("rk") + 3500000L).as("dst"))
      val cust = tbl(s, d, "customer")
        .select(col("c_custkey").as("ck"), col("c_nationkey").cast(LongType).as("nk"))
      val cn = cust.select(col("ck").as("src"), (col("nk") + 3000000L).as("dst"))
      val cr = cust.filter(col("ck") % 3 === 0)
        .join(nation, Seq("nk"))
        .select(col("ck").as("src"), (col("rk") + 3500000L).as("dst"))
      graft.algorithms.KTruss.run(nr.unionAll(cn).unionAll(cr), k = 3, maxRounds = 2)
    },
      """WITH ed AS MATERIALIZED (
        |  SELECT CAST(n_nationkey AS BIGINT) + 3000000 AS s, CAST(n_regionkey AS BIGINT) + 3500000 AS d FROM nation
        |  UNION ALL
        |  SELECT c_custkey AS s, CAST(c_nationkey AS BIGINT) + 3000000 AS d FROM customer
        |  UNION ALL
        |  SELECT c.c_custkey AS s, CAST(n.n_regionkey AS BIGINT) + 3500000 AS d
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE c.c_custkey % 3 = 0),
        |e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM ed WHERE s <> d),
        |a0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
        |s0 AS (SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS sup
        |  FROM e0 e JOIN a0 p ON e.a = p.u JOIN a0 q ON e.b = q.u AND p.v = q.v GROUP BY 1, 2),
        |e1 AS MATERIALIZED (SELECT e0.a, e0.b FROM e0 LEFT JOIN s0 USING (a, b)
        |  WHERE COALESCE(s0.sup, 0) >= 1),
        |a1 AS MATERIALIZED (SELECT a AS u, b AS v FROM e1 UNION ALL SELECT b, a FROM e1),
        |s1 AS (SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS sup
        |  FROM e1 e JOIN a1 p ON e.a = p.u JOIN a1 q ON e.b = q.u AND p.v = q.v GROUP BY 1, 2)
        |SELECT a AS src, b AS dst, sup AS support FROM (
        |  SELECT e1.a, e1.b, COALESCE(s1.sup, 0) AS sup FROM e1 LEFT JOIN s1 USING (a, b))
        |WHERE sup >= 1""".stripMargin),

    // Co-purchase projection: the weighted part-part graph from order
    // membership (size-capped self-join, weight = shared orders >= 2).
    Gate("g24_copurchase", (s, d) =>
      graft.operators.CoOccurrence.projectPairs(
        tbl(s, d, "lineitem"), "l_orderkey", "l_partkey",
        maxGroupSize = 5, minWeight = 2L),
      // k-truss replay, 2 unrolled rounds: per-edge support = common
      // neighbors via the adjacency self-join, peel below k-2, recompute on
      // the survivors; output the round-2 survivors with round-2 support.
      // MATERIALIZED: e/a CTEs are each read twice downstream.
      // The capped projection replayed: distinct membership, group sizes,
      // self-join under the cap, canonical pair, weight filter.
      """WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |sz AS (SELECT g, count(*) AS n FROM m GROUP BY 1),
        |k AS (SELECT m.g, m.i FROM m JOIN sz USING (g) WHERE sz.n <= 5)
        |SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS weight
        |FROM k a JOIN k b ON a.g = b.g AND a.i < b.i
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // Motif search (find() surface, beyond-reference): 2-hop paths on the
    // customer->order->part DAG, aggregated per customer. Named edge
    // structs feed the aggregate (e2.dst is the part endpoint), proving
    // the struct plumbing, while the join spine moves only id pairs.
    Gate("g25_motif_2hop", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.find("(a)-[e]->(b); (b)-[e2]->(c)")
        .groupBy(col("a.id").as("cust"))
        .agg(count(lit(1)).as("n_paths"),
          countDistinct(col("e2.dst") - 1000000L).as("n_parts"))
    },
      // Motif 2-hop replay: every path is one (order, lineitem) pair.
      """SELECT o.o_custkey AS cust, CAST(count(*) AS BIGINT) AS n_paths,
        |  CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin),

    // BFS with materialized paths (find() finds fixed shapes; bfs finds
    // the shortest connection of unknown length): customers 1-5 to
    // round-hundred parts on the cust->order->part DAG — global minimal
    // level 2, one row per (order, lineitem) path instance.
    Gate("g26_bfs_paths", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.bfs(
          col("id") <= 50L,
          col("id") >= 1000000L && col("id") < 4000000L &&
            (col("id") - 1000000L) % 10 === 0,
          maxPathLength = 4)
        .select(col("from.id").as("from_id"), col("v1.id").as("order_id"),
          col("to.id").as("to_id"))
    },
      // BFS replay: minimal level is 2 by construction (customer ids and
      // part ids are disjoint bands), so paths = order x lineitem joins.
      """SELECT o.o_custkey AS from_id,
        |  CAST(o.o_orderkey + 4000000 AS BIGINT) AS order_id,
        |  CAST(l.l_partkey + 1000000 AS BIGINT) AS to_id
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey <= 50 AND l.l_partkey % 10 = 0""".stripMargin),

    // Predicate-pushdown motif: the g25 2-hop spine on the WEIGHTED DAG,
    // keeping only line edges pricier than 5000000 cents — the predicate
    // prunes e2's edge SCAN before the join (plan-spec'd), not the
    // assembled paths.
    Gate("g25c_motif_pred", (s, d) => {
      val g = GraphFrame.fromEdges(weightedDagEdges(s, d))
      g.find("(a)-[e]->(b); (b)-[e2]->(c)",
          Map("e2" -> (col("weight") > 5000000L)))
        .groupBy(col("a.id").as("cust"))
        .agg(count(lit(1)).as("n_paths"),
          sum(col("e2.weight")).as("sum_cents"))
    },
      // Predicate-pushdown replay: same 2-hop join, line edges filtered on
      // the integer-cents weight (the g17/g18 cents lattice).
      """SELECT o.o_custkey AS cust, CAST(count(*) AS BIGINT) AS n_paths,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE round(l.l_extendedprice * 100, 0) > 5000000
        |GROUP BY 1""".stripMargin),

    // Negated-term motif: OPEN 2-paths (a->b->c with NO a->c edge) on a
    // chain+skip-link graph where the negation genuinely excludes rows
    // (every third chain wedge is closed by its skip link).
    Gate("g25b_motif_negated", (s, d) => {
      val ks = tbl(s, d, "customer").select(col("c_custkey").as("k"))
        .filter(col("k") <= 100)
      val chain = ks.filter(col("k") < 100)
        .select(col("k").as("src"), (col("k") + 1L).as("dst"))
      val skip = ks.filter(col("k") % 3 === 0 && col("k") <= 98)
        .select(col("k").as("src"), (col("k") + 2L).as("dst"))
      GraphFrame.fromEdges(chain.unionAll(skip))
        .find("(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
        .select(col("a.id").as("a"), col("b.id").as("b"), col("c.id").as("c"))
    },
      // Open-wedge replay with NOT EXISTS for the negated term.
      """WITH ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= 100),
        |e AS (SELECT k AS src, k + 1 AS dst FROM ks WHERE k < 100
        |      UNION ALL SELECT k, k + 2 FROM ks WHERE k % 3 = 0 AND k <= 98)
        |SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |FROM e e1 JOIN e e2 ON e2.src = e1.dst
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)""".stripMargin),

    // Strongly connected components (FW-BW coloring) on a synthetic cyclic
    // graph over the first 300 customers: 30 ten-cycles plus pseudo-random
    // chords from every third vertex — chords weld some cycles into larger
    // SCCs and leave tree tails as singletons; the oracle computes ground
    // truth from the full transitive closure.
    Gate("g23_scc", (s, d) => {
      val ks = tbl(s, d, "customer").select(col("c_custkey").as("k"))
        .filter(col("k") <= 300)
      val cyc = ks.select(col("k").as("src"),
        when(col("k") % 10 === 0, col("k") - 9).otherwise(col("k") + 1).as("dst"))
      val chord = ks.filter(col("k") % 3 === 0)
        .select(col("k").as("src"), ((col("k") * 7) % 300 + 1).as("dst"))
      graft.algorithms.StronglyConnectedComponents.run(cyc.unionAll(chord))
    },
      // Ground truth from the closure: scc_id(u) = max over u and all
      // mutually-reachable v — the same canonical representative the
      // coloring algorithm's roots produce. (Explicit DISTINCT subquery for
      // v: see g21's WITH RECURSIVE UNION note.)
      """WITH RECURSIVE ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= 300),
        |e AS (
        |  SELECT k AS src, CASE WHEN k % 10 = 0 THEN k - 9 ELSE k + 1 END AS dst FROM ks
        |  UNION ALL
        |  SELECT k, ((k * 7) % 300) + 1 FROM ks WHERE k % 3 = 0),
        |r(s, d) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.s, e.dst FROM r JOIN e ON e.src = r.d),
        |vv AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |m AS (SELECT a.s AS u, max(a.d) AS mx FROM r a JOIN r b ON b.s = a.d AND b.d = a.s
        |      GROUP BY 1)
        |SELECT vv.id, CAST(greatest(vv.id, coalesce(m.mx, vv.id)) AS BIGINT) AS scc_id
        |FROM vv LEFT JOIN m ON m.u = vv.id""".stripMargin),

    // The FW-BW DISTRIBUTED arm of SCC, forced at gate scale
    // (smallGraphThreshold = 0 — the g09b/g10b discipline): every
    // iterative loop's distributed path carries its own oracle gate, not
    // just an equivalence spec against the driver arm.
    Gate("g23b_scc_dist", (s, d) => {
      // 60 vertices as welded TRIANGLES (vs g23's ten-cycles): the
      // forced-distributed arm pays fixpoint rounds proportional to CYCLE
      // LENGTH (forward max-color and backward reach both walk the cycle),
      // so 3-cycles exercise the identical weld/singleton structure at
      // ~3 rounds per phase instead of ~10 — the gate proves the FW-BW
      // arm without becoming a 14-second scheduling benchmark (measured
      // with ten-cycles at any vertex count).
      val ks = tbl(s, d, "customer").select(col("c_custkey").as("k"))
        .filter(col("k") <= 60)
      val cyc = ks.select(col("k").as("src"),
        when(col("k") % 3 === 0, col("k") - 2).otherwise(col("k") + 1).as("dst"))
      // Chords land in the first 4 triangles (a shallow hub band): the
      // fixpoint round count tracks CONDENSATION depth, and spread-out
      // chord targets were measured to re-create the deep-chain cost the
      // 3-cycles removed.
      val chord = ks.filter(col("k") % 4 === 0)
        .select(col("k").as("src"), ((col("k") * 7) % 12 + 1).as("dst"))
      graft.algorithms.StronglyConnectedComponents.run(
        cyc.unionAll(chord), smallGraphThreshold = 0L)
    },
      // Same ground truth for the forced-distributed FW-BW arm.
      """WITH RECURSIVE ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= 60),
        |e AS (
        |  SELECT k AS src, CASE WHEN k % 3 = 0 THEN k - 2 ELSE k + 1 END AS dst FROM ks
        |  UNION ALL
        |  SELECT k, ((k * 7) % 12) + 1 FROM ks WHERE k % 4 = 0),
        |r(s, d) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.s, e.dst FROM r JOIN e ON e.src = r.d),
        |vv AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |m AS (SELECT a.s AS u, max(a.d) AS mx FROM r a JOIN r b ON b.s = a.d AND b.d = a.s
        |      GROUP BY 1)
        |SELECT vv.id, CAST(greatest(vv.id, coalesce(m.mx, vv.id)) AS BIGINT) AS scc_id
        |FROM vv LEFT JOIN m ON m.u = vv.id""".stripMargin),

    // Local clustering coefficient on g19's mixed graph (every third
    // customer closes a cust-nation-region triangle): per-vertex
    // triangles over (d choose 2) on the micro lattice —
    // lcc = (2 * tri * 1e6) div (d * (d-1)), 0 below degree 2.
    Gate("g22_clustering_coeff", (s, d) => {
      val nation = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("nk"),
          col("n_regionkey").cast(LongType).as("rk"))
      val nr = nation.select((col("nk") + 3000000L).as("src"),
        (col("rk") + 3500000L).as("dst"))
      val cust = tbl(s, d, "customer")
        .select(col("c_custkey").as("ck"), col("c_nationkey").cast(LongType).as("nk"))
      val cn = cust.select(col("ck").as("src"), (col("nk") + 3000000L).as("dst"))
      val cr = cust.filter(col("ck") % 3 === 0)
        .join(nation, Seq("nk"))
        .select(col("ck").as("src"), (col("rk") + 3500000L).as("dst"))
      val edges = nr.unionAll(cn).unionAll(cr)
      val verts = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id"))).distinct()
      val tri = GraphFrame(verts, edges).triangleCount.run()
      val deg = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      tri.join(deg, Seq("id"))
        .select(col("id"), col("triangles"), col("d"),
          when(col("d") >= 2L,
            expr("(2 * triangles * 1000000) div (d * (d - 1))"))
            .otherwise(0L).as("lcc_micros"))
    },
      // g11's generic wedge-closure triangle count over g19's edge set
      // (already canonical: cust < 3e6+nation < 3.5e6+region), then degrees
      // from both edge directions and the micro-lattice ratio.
      """WITH e0 AS (
        |  SELECT CAST(n_nationkey AS BIGINT) + 3000000 AS src, CAST(n_regionkey AS BIGINT) + 3500000 AS dst FROM nation
        |  UNION ALL
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) + 3000000 FROM customer
        |  UNION ALL
        |  SELECT c.c_custkey, CAST(n.n_regionkey AS BIGINT) + 3500000
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE c.c_custkey % 3 = 0),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM e0 e1 JOIN e0 e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  JOIN e0 e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY 1),
        |ends AS (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM ends GROUP BY 1)
        |SELECT deg.id, CAST(coalesce(tcnt.triangles, 0) AS BIGINT) AS triangles, deg.d,
        |  CAST(CASE WHEN deg.d >= 2
        |    THEN (2 * coalesce(tcnt.triangles, 0) * 1000000) // (deg.d * (deg.d - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_micros
        |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id""".stripMargin),

    // Landmark-sampled harmonic centrality on the SYMMETRIZED
    // customer-nation-region graph: one multi-landmark BFS (4 hops),
    // reciprocal distances on the exact micro lattice (1e6 div d).
    Gate("g21_harmonic", (s, d) => {
      val e = custNationRegionEdges(s, d)
      val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      graft.algorithms.HarmonicCentrality.run(
        sym, landmarks = Seq(1L, 3000003L), maxIter = 4)
    },
      // Multi-landmark BFS replayed as ONE recursive CTE over the
      // symmetrized edge set (state = (landmark, vertex, depth), UNION
      // dedup, 4-hop cap), then reciprocal micro-lattice sums.
      """WITH RECURSIVE e AS (
        |  SELECT c_custkey AS src, CAST(c_nationkey AS BIGINT) + 3000000 AS dst FROM customer
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT) + 3000000, CAST(n_regionkey AS BIGINT) + 3500000 FROM nation
        |  UNION ALL
        |  SELECT CAST(c_nationkey AS BIGINT) + 3000000, c_custkey FROM customer
        |  UNION ALL
        |  SELECT CAST(n_regionkey AS BIGINT) + 3500000, CAST(n_nationkey AS BIGINT) + 3000000 FROM nation),
        |-- NOTE: inside WITH RECURSIVE DuckDB does NOT dedup a plain UNION in
        |-- a non-recursive CTE; the SUM below is duplication-sensitive, so v
        |-- must be made distinct explicitly (g06's MIN never noticed).
        |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |r(lm, id, dd) AS (
        |  SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        |    (CAST(3000003 AS BIGINT), CAST(3000003 AS BIGINT), CAST(0 AS BIGINT))) t(lm, id, dd)
        |  UNION
        |  SELECT r.lm, e.dst, r.dd + 1 FROM e JOIN r ON e.src = r.id WHERE r.dd < 4),
        |m AS (SELECT lm, id, min(dd) AS d FROM r GROUP BY 1, 2)
        |SELECT v.id,
        |  CAST(coalesce(sum(CASE WHEN m.d > 0 THEN 1000000 // m.d END), 0) AS BIGINT) AS h_micros,
        |  CAST(coalesce(sum(CASE WHEN m.d > 0 THEN 1 END), 0) AS BIGINT) AS n_reached
        |FROM v LEFT JOIN m ON m.id = v.id GROUP BY 1""".stripMargin),

    // Deterministic hash-guided random walks over the customer->order->part
    // DAG: 4 steps from every 100th customer. Customers' walks end at part
    // sinks after 2 hops — the gate exercises BOTH the per-step argmin draw
    // and sink termination. Each step is replayed move-for-move in the
    // DuckDB oracle from the same portable-hash draw.
    Gate("g20_walks", (s, d) =>
      graft.algorithms.RandomWalks.run(
        custOrderPartEdges(s, d),
        tbl(s, d, "customer").filter(col("c_custkey") % 100 === 0)
          .select(col("c_custkey")),
        "c_custkey", len = 4),
      // Walks replayed step-for-step; the union enumerates step 0 (starts)
      // plus each survived frontier.
      {
      val stepSelects = (1 to 4).map(t =>
        s"SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS vertex FROM s$t")
        .mkString("\nUNION ALL\n")
      s"""WITH ${walkOracleCtes(4)}
         |SELECT walk_id, CAST(0 AS BIGINT) AS step, walk_id AS vertex FROM s0
         |UNION ALL
         |$stepSelects""".stripMargin
    }),

    Gate("g12_labelprop", (s, d) =>
      GraphFrame.fromEdges(custNationRegionEdges(s, d))
        .labelPropagation.maxIterations(5).run()
        .vertices.select(col("id"), col("label")),
      lpaOracle),

    // Induced subgraph: vertex predicate over PROPERTIES (both endpoints
    // must survive the left-semi pruning) + an edge predicate on top.
    Gate("g13_subgraph", (s, d) => {
      val verts = tbl(s, d, "part")
        .select((col("p_partkey") + 1000000L).as("id"),
          col("p_retailprice").as("score"))
        .unionByName(tbl(s, d, "supplier")
          .select(col("s_suppkey").cast(LongType).as("id"),
            col("s_acctbal").as("score")))
      GraphFrame(verts, partSuppEdges(s, d))
        .filterVertices(col("score") > 950.0)
        .filterEdges(col("dst") % 2 === 0)
        .edges.select(col("src"), col("dst"))
    },
      """WITH v AS (
        |  SELECT 1000000 + p_partkey AS id FROM part WHERE p_retailprice > 950.0
        |  UNION ALL
        |  SELECT s_suppkey AS id FROM supplier WHERE s_acctbal > 950.0),
        |e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem)
        |SELECT e.src, e.dst FROM e
        |WHERE e.src IN (SELECT id FROM v) AND e.dst IN (SELECT id FROM v)
        |  AND e.dst % 2 = 0""".stripMargin),

    // INCREMENTAL local clustering coefficient (g36 — the g35 compose
    // INCREMENTAL LCC WITH DELETIONS (g39 — g36's missing half,
    // completing the deletion-aware family): triangles compose via the
    // g38 destroy/create enumeration, degrees compose EXACTLY as
    // prev − removed-incident + added-incident endpoint counts (the
    // three slices are edge-disjoint by construction), and the g22
    // micro-lattice formula reads off the composed pair. Vertices
    // stranded by the removals compose to degree 0 and drop from the
    // output exactly as a full recompute drops them. Oracle = the full
    // edited-graph LCC replay.
    Gate("g39_lcc_incremental_del", (s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      val bucket = pmod(col("src") + col("dst"), lit(7))
      val base = edges.filter(bucket =!= 0)
      val added = edges.filter(bucket === 0)
      val removed = base.filter(bucket === 1)
      val prevTri = GraphFrame(nations.select(col("k").as("id")), base)
        .triangleCount.run()
      val tri = graft.algorithms.TriangleCount.incrementalWithDeletions(
        prevTri, base, added, removed)
      def endpointDeg(e: DataFrame, n: String) =
        e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as(n))
      val deg = endpointDeg(base, "d0")
        .join(endpointDeg(added, "da"), Seq("id"), "full_outer")
        .join(endpointDeg(removed, "dr"), Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(col("d0"), lit(0L)) + coalesce(col("da"), lit(0L))
            - coalesce(col("dr"), lit(0L))).as("d"))
        .filter(col("d") > 0L)
      deg.join(tri, Seq("id"))
        .select(col("id"), col("triangles"), col("d"),
          when(col("d") >= 2L,
            expr("(2 * triangles * 1000000) div (d * (d - 1))"))
            .otherwise(0L).as("lcc_micros"))
    },
      // Incremental LCC replay: the g11 triangle chain + endpoint degrees
      // over the FULL union edge set, folded through the g22 micro
      // formula — any drift in either composed input diverges.
      // g36's full LCC replay restricted to the EDITED edge set
      // (everything but the removed %7==1 slice); vertex universe =
      // edited-graph endpoints (deg is an inner scan of e0).
      """WITH e_all AS (SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
        |  FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey),
        |e0 AS (SELECT src, dst FROM e_all WHERE (src + dst) % 7 <> 1),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM e0 e1 JOIN e0 e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  JOIN e0 e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY 1),
        |ends AS (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM ends GROUP BY 1)
        |SELECT deg.id, CAST(coalesce(tcnt.triangles, 0) AS BIGINT) AS triangles, deg.d,
        |  CAST(CASE WHEN deg.d >= 2
        |    THEN (2 * coalesce(tcnt.triangles, 0) * 1000000) // (deg.d * (deg.d - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_micros
        |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id""".stripMargin),

    // driven through to the quality metric a corpus-graph pipeline
    // actually publishes): triangles compose via the delta enumeration,
    // degrees compose EXACTLY as prev + delta-incident endpoint counts
    // (the delta is edge-disjoint from the base by construction), and
    // the g22 micro-lattice formula reads off the composed pair.
    // Oracle = the full union-graph LCC replay: composition must be
    // bit-identical to recomputing both inputs from scratch.
    Gate("g36_lcc_incremental", (s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val base = edges.filter(!isDelta)
      val delta = edges.filter(isDelta)
      val prevTri = GraphFrame(nations.select(col("k").as("id")), base)
        .triangleCount.run()
      val tri = graft.algorithms.TriangleCount.incremental(prevTri, base, delta)
      def endpointDeg(e: DataFrame, n: String) =
        e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as(n))
      val deg = endpointDeg(base, "d0")
        .join(endpointDeg(delta, "dd"), Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(col("d0"), lit(0L)) + coalesce(col("dd"), lit(0L))).as("d"))
      deg.join(tri, Seq("id"))
        .select(col("id"), col("triangles"), col("d"),
          when(col("d") >= 2L,
            expr("(2 * triangles * 1000000) div (d * (d - 1))"))
            .otherwise(0L).as("lcc_micros"))
    },
      """WITH e0 AS (SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
        |  FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM e0 e1 JOIN e0 e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  JOIN e0 e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY 1),
        |ends AS (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM ends GROUP BY 1)
        |SELECT deg.id, CAST(coalesce(tcnt.triangles, 0) AS BIGINT) AS triangles, deg.d,
        |  CAST(CASE WHEN deg.d >= 2
        |    THEN (2 * coalesce(tcnt.triangles, 0) * 1000000) // (deg.d * (deg.d - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_micros
        |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id""".stripMargin),

    // Personalized PageRank from customer 1 over the customer->order->part
    // DAG: teleport mass only at the source, 3 fixed iterations,
    // near-zero tol so every nonzero delta propagates (keeps the
    // participation gate engine-exact; see pprOracle).
    Gate("g15_ppr", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.pageRank.resetProbability(0.15).tolerance(1e-9).maxIterations(3)
        .personalized(1L).run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    },
      pprOracle(3)),

    // HITS hubs/authorities, 2 unnormalized iterations — integer-exact
    // alternating-path counts (see graft.algorithms.Hits).
    Gate("g16_hits", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hits.iterations(2).run()
    },
      hitsOracle(2)),

    // Katz centrality on the same DAG: integer-lattice attenuated
    // walk mass, 3 exact rounds (α = 1/2 as one truncating div of the
    // message sum per round — strict-equality gate, no float drift).
    Gate("g27_katz", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.katz.iterations(3).run()
    },
      katzOracle(3)),

    // Resource-Allocation link prediction on the same DAG (undirected
    // view): top-100 non-adjacent pairs by Σ 1/deg(z) over shared
    // neighbors, on the 1e-12 integer lattice — strict-equality gate,
    // no float summation order (the g27 discipline).
    Gate("g28_link_predict", (s, d) =>
      graft.algorithms.LinkPrediction.resourceAllocation(
        custOrderPartEdges(s, d), topK = 100, degreeCap = 256),
      // Resource-Allocation replay: symmetrize (drop loops, canonical
      // distinct, both directions), full-adjacency degrees, capped wedge
      // centers, per-pair integer-lattice sums, known edges anti-joined
      // out, top-100 by (score, a, b). `//` floor-div == Spark `div` on
      // the positive domain.
      """WITH e0 AS (SELECT o_custkey AS s0, o_orderkey + 4000000 AS d0 FROM orders
        |  UNION ALL SELECT l_orderkey + 4000000, l_partkey + 1000000 FROM lineitem),
        |canon AS (SELECT DISTINCT least(s0, d0) AS a0, greatest(s0, d0) AS b0
        |  FROM e0 WHERE s0 <> d0),
        |sym AS (SELECT a0 AS src, b0 AS dst FROM canon
        |  UNION ALL SELECT b0, a0 FROM canon),
        |deg AS (SELECT src AS z, CAST(count(*) AS BIGINT) AS dg FROM sym GROUP BY 1),
        |adj AS (SELECT s.src AS z, s.dst AS n, deg.dg
        |  FROM sym s JOIN deg ON deg.z = s.src WHERE deg.dg <= 256),
        |w AS (SELECT l.n AS a, r.n AS b, l.dg
        |  FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n),
        |sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common_nbrs,
        |  CAST(sum(1000000000000 // dg) AS BIGINT) AS ra_micros
        |  FROM w GROUP BY 1, 2),
        |na AS (SELECT sc.* FROM sc LEFT JOIN sym
        |  ON sym.src = sc.a AND sym.dst = sc.b WHERE sym.src IS NULL)
        |SELECT a, b, common_nbrs, ra_micros FROM na
        |ORDER BY ra_micros DESC, a, b LIMIT 100""".stripMargin),

    // HyperBall 2-hop out-ball sizes (p=4): per-vertex HLL sketches
    // advanced by register-max merge rounds; sum_scaled/n_zero anchor
    // on exact integers, est6 is the one rounded division — the q14
    // sketch discipline applied per vertex.
    Gate("g29_hyperball", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(2).precision(4).run()
    },
      // HyperBall replay: the register-max merge rounds in SQL — s0 =
      // every vertex's own (register, rank) from the shared md5 formula
      // (p=4: low 4 bits pick the register, rank = 57 - len(bin(h >> 4))),
      // each round = self ∪ out-neighbor sketches, grouped max; absent
      // registers contribute 2^57 to the harmonic sum (the sparse-state
      // closed form). est6 replays the alpha_16 division ::DOUBLE in the
      // engine's association order.
      """WITH e0 AS (SELECT o_custkey AS src, o_orderkey + 4000000 AS dst FROM orders
        |  UNION ALL SELECT l_orderkey + 4000000, l_partkey + 1000000 FROM lineitem),
        |v AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)),
        |s0 AS (SELECT id, h & 15 AS register,
        |  57 - CASE WHEN (h >> 4) = 0 THEN 0 ELSE len(bin(h >> 4)) END AS max_rank
        |  FROM (SELECT id,
        |    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h FROM v)),
        |s1 AS (SELECT id, register, CAST(max(max_rank) AS BIGINT) AS max_rank FROM (
        |    SELECT * FROM s0
        |    UNION ALL
        |    SELECT e0.src AS id, s0.register, s0.max_rank
        |    FROM e0 JOIN s0 ON s0.id = e0.dst)
        |  GROUP BY 1, 2),
        |s2 AS (SELECT id, register, CAST(max(max_rank) AS BIGINT) AS max_rank FROM (
        |    SELECT * FROM s1
        |    UNION ALL
        |    SELECT e0.src AS id, s1.register, s1.max_rank
        |    FROM e0 JOIN s1 ON s1.id = e0.dst)
        |  GROUP BY 1, 2),
        |est AS (SELECT id,
        |  CAST(sum(CAST(1 AS BIGINT) << CAST(57 - max_rank AS INT)) AS BIGINT)
        |    + (16 - count(*)) * (CAST(1 AS BIGINT) << 57) AS sum_scaled,
        |  CAST(16 - count(*) AS BIGINT) AS n_zero
        |  FROM s2 GROUP BY 1)
        |SELECT id, sum_scaled, n_zero,
        |  round(0.673::DOUBLE * 16.0::DOUBLE * 16.0::DOUBLE *
        |    144115188075855872.0::DOUBLE / CAST(sum_scaled AS DOUBLE), 6) AS est6
        |FROM est""".stripMargin),

    // Approximate harmonic centrality from the ball sketches — the
    // centrality HyperBall exists for: Σ shell_t / t over radii 1..3
    // on the INTEGER lattice (micros × lcm(1..3) — a float fold of
    // rounded shells hits half-way boundaries systematically; measured,
    // hence strict-equality integers).
    Gate("g31_hyperball_harmonic", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).harmonicCentrality()
    },
      g31OracleSql),

    // Approximate closeness centrality off the same sketches (g32 —
    // HyperBall's other geometric centrality): the t-WEIGHTED shell
    // fold Σ t·shell_t ≈ the truncated distance sum, exact BIGINT
    // micros (integer weights need no lcm clearing) — closeness is its
    // reciprocal, left unreciprocated so the gate stays on the strict
    // integer lattice (sinks read 0, not a division guard).
    Gate("g32_hyperball_closeness", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).closenessCentrality()
    },
      g32OracleSql),

    // Lin centrality (g33 — the third Boldi–Vigna geometric measure):
    // reach² / distance-sum off the same shell frames — integer anchors
    // (reach micros, cball_lat) plus ONE rounded float expression;
    // reach-only vertices take the defined value 1 (sinks pinned).
    Gate("g33_hyperball_lin", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).linCentrality()
    },
      g33OracleSql),

    // The neighborhood function N(t) + effective diameter (HyperANF's
    // headline): per-radius global reach on the integer micro lattice
    // (per-vertex estimates round to micros BEFORE the fold — no float
    // summation order), radii 0..3 on the depth-2 DAG, so the t=3 row
    // pins saturation (N(3) == N(2)) and the 90% threshold lands the
    // effective diameter at t <= 2.
    Gate("g30_neighborhood_fn", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).neighborhoodFunction()
    },
      g30OracleSql),

    // L2-normalized HITS (the user-facing form, scores in (0,1]): same
    // integer-exact rounds as g16, one normalization aggregate at the end.
    Gate("g16b_hits_norm", (s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hits.iterations(2).normalized(true).run()
        .select(col("id"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
    },
      hitsOracleImpl(2, normalized = true)),

    // Weighted SSSP (min-plus Pregel over an edge weight column) on the
    // customer->order->part DAG, weights = integer cents, FORCED
    // distributed (threshold 0) so the Pregel edge-column path is the one
    // oracle-gated — the g09b/g10b discipline. The 4-round cap is past the
    // DAG's depth-2 convergence, so capped == exact here.
    Gate("g17_wsssp", (s, d) =>
      GraphFrame.fromEdges(weightedDagEdges(s, d))
        .weightedShortestPaths(Seq(1L)).maxIterations(4).smallGraphThreshold(0).run()
        .vertices.select(col("id"), col("dist_1")),
      wssspOracle(4)),

    // Weighted PageRank on the same weighted DAG: delta distributes
    // proportional to edge weight. Per-source weight totals are EXACT
    // integer sums; only the per-edge fraction and message sum are float —
    // the same IEEE discipline as g08/g15.
    Gate("g18_wpagerank", (s, d) =>
      GraphFrame.fromEdges(weightedDagEdges(s, d))
        .pageRank.resetProbability(0.15).tolerance(1e-9).maxIterations(3)
        .weighted("weight").run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank")),
      wprOracle(3)),

    // One-round neighborhood aggregation (GraphFrames aggregateMessages
    // parity): each dst receives its srcs' ids, each src its dsts' ids;
    // per-vertex sum + count over the merged message stream.
    Gate("g14_aggmsg", (s, d) => {
      val g = GraphFrame.fromEdges(partSuppEdges(s, d))
      g.aggregateMessages(
        sendToDst = Some(col("src_vertex.id")),
        sendToSrc = Some(col("dst_vertex.id")),
        sum(col("msg")).as("nbr_id_sum"), count(lit(1)).as("msg_cnt"))
    },
      // Message stream = every edge delivered both ways (src id to dst, dst
      // id to src), then one per-vertex sum/count.
      """WITH e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |msgs AS (SELECT dst AS id, src AS msg FROM e
        |  UNION ALL SELECT src AS id, dst AS msg FROM e)
        |SELECT id, CAST(sum(msg) AS BIGINT) AS nbr_id_sum,
        |  CAST(count(*) AS BIGINT) AS msg_cnt
        |FROM msgs GROUP BY id""".stripMargin)
  )
}
