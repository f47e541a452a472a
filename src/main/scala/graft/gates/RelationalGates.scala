package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.text.TextFunctions
import GateHelpers._

/** The `q` gates (relational operators). */
object RelationalGates extends GateFamily("q") {
  val gates: Seq[Gate] = Seq(
    // ---- relational operator coverage (SURVEY §2.a) ----
    Gate("q01_groupby_agg", (s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_cents"),
          max(col("l_discount")).as("max_disc"),
          count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  max(l_discount) AS max_disc,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    Gate("q02_filter_project", (s, d) =>
      tbl(s, d, "orders")
        .filter(col("o_totalprice") > 50000.0)
        .select(
          col("o_orderkey"),
          col("o_orderstatus"),
          when(col("o_orderpriority").startsWith("1"), lit("urgent"))
            .when(col("o_orderpriority").startsWith("2"), lit("high"))
            .otherwise(lit("normal")).as("prio"),
          cents(col("o_totalprice")).as("total_cents")),
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent'
        |       WHEN o_orderpriority LIKE '2%' THEN 'high'
        |       ELSE 'normal' END AS prio,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_cents
        |FROM orders WHERE o_totalprice > 50000.0""".stripMargin),

    Gate("q03_join_inner_agg", (s, d) =>
      tbl(s, d, "orders")
        .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast(LongType).as("nation_id"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(cents(col("o_totalprice"))).as("spent_cents")),
      """SELECT CAST(c_nationkey AS BIGINT) AS nation_id, count(*) AS order_cnt,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spent_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin),

    Gate("q04_join_left_agg", (s, d) =>
      tbl(s, d, "customer")
        .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("order_cnt"),
          coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("spent_cents")),
      """SELECT c_custkey, count(o_orderkey) AS order_cnt,
        |  CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS spent_cents
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1""".stripMargin),

    Gate("q05_join_anti", (s, d) => {
      val big = tbl(s, d, "orders").filter(col("o_totalprice") > 200000.0)
      tbl(s, d, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)""".stripMargin),

    Gate("q06_cross_normalize", (s, d) => {
      val o = tbl(s, d, "orders").select(col("o_orderkey"), cents(col("o_totalprice")).as("tc"))
      val tot = o.agg(sum(col("tc")).as("tot"))
      o.crossJoin(tot)
        .select(col("o_orderkey"), expr("tc * 1000000 div tot").as("share_ppm"))
    },
      """WITH o AS (SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS tc FROM orders),
        |t AS (SELECT CAST(sum(tc) AS BIGINT) AS tot FROM o)
        |SELECT o_orderkey, tc * 1000000 // tot AS share_ppm FROM o, t""".stripMargin),

    Gate("q07_union_distinct", (s, d) => {
      val e = partSuppEdges(s, d)
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    },
      """WITH e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem)
        |SELECT DISTINCT src, dst FROM (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)""".stripMargin),

    Gate("q08_theta_join", (s, d) => {
      val n = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      n.as("a").join(n.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.r").as("region_id"), col("a.k").as("n1"), col("b.k").as("n2"))
    },
      """SELECT CAST(a.n_regionkey AS BIGINT) AS region_id,
        |  CAST(a.n_nationkey AS BIGINT) AS n1, CAST(b.n_nationkey AS BIGINT) AS n2
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""".stripMargin),

    Gate("q09_window_sessionize", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // events.ts arrives as nanos-since-epoch LONG (see tbl); truncate to
      // whole seconds for the 30-minute gap, exactly like the oracle's
      // epoch(ts).
      val sec = expr("ts div 1000000000")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      tbl(s, d, "events")
        .withColumn("prev_s", lag(sec, 1).over(w))
        .withColumn("is_new",
          when(col("prev_s").isNull || sec - col("prev_s") > 1800, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
    },
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_ns(ts) // 1000000000 AS sec,
        |  lag(epoch_ns(ts) // 1000000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_s IS NULL OR sec - prev_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM e GROUP BY 1""".stripMargin),

    // Sessionized conversion funnel: q09's 30-min-gap session numbering,
    // then per (user, session) the click->purchase conversion test
    // (strictly-after ordering on the nanos lattice), rolled up per user.
    // Composes lag window + running-sum window + two conditional aggs —
    // all BIGINT until the final counts.
    Gate("q18_funnel", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sec = expr("ts div 1000000000")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sessioned = tbl(s, d, "events")
        .withColumn("prev_s", lag(sec, 1).over(w))
        .withColumn("is_new",
          when(col("prev_s").isNull || sec - col("prev_s") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      sessioned.groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("first_click").isNotNull &&
              col("last_purchase") > col("first_click"), 1L).otherwise(0L))
            .as("n_converted"))
    },
      // Funnel replay: same session numbering (epoch_ns floor lattice),
      // same strictly-after conversion predicate; NULL first_click never
      // converts (NULL comparison is false in the CASE).
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
        |  epoch_ns(ts) // 1000000000 AS sec FROM events),
        |x AS (SELECT user_id, event_id, event_type, tns, sec,
        |  lag(sec) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS prev_s
        |  FROM e),
        |sn AS (SELECT user_id, event_type, tns,
        |  sum(CASE WHEN prev_s IS NULL OR sec - prev_s > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tns, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM x),
        |sess AS (SELECT user_id, session_id,
        |  min(CASE WHEN event_type = 'click' THEN tns END) AS first_click,
        |  max(CASE WHEN event_type = 'purchase' THEN tns END) AS last_purchase
        |  FROM sn GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN first_click IS NOT NULL AND last_purchase > first_click
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM sess GROUP BY 1""".stripMargin),

    Gate("q10_window_topk", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, d, "orders")
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    },
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin),

    Gate("q11_json_extract", (s, d) =>
      tbl(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy("event_type")
        .agg(sum(col("k")).as("k_sum"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), count(lit(1)).as("cnt")),
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
        |  count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin),

    // ---- graph operators (SURVEY §2.b) ----
    // OLAP rollup: per-(flag, status) + per-flag subtotals + grand total
    // in one pass; money in integer cents (exact engine parity).
    Gate("q12_rollup", (s, d) =>
      tbl(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c")),
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    // CUBE: rollup's missing cross-slices ((), flag, status, flag×status)
    // in ONE pass — Catalyst expands the grouping sets into a single
    // Expand + aggregate, no per-slice rescan.
    Gate("q12b_cube", (s, d) =>
      tbl(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c")),
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),

    // GROUPING SETS: the explicit-slice form rollup/cube are sugar for —
    // an ASYMMETRIC set list ((flag, status), (flag), ()) that neither
    // sugar can express, still ONE Expand + aggregate pass. grouping_id()
    // is gated alongside: the bitmask that disambiguates NULL-as-subtotal
    // from NULL data, which any downstream consumer of slice frames needs.
    Gate("q30_grouping_sets", (s, d) =>
      tbl(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c")),
      // Grouping-sets replay: same asymmetric slice list, same bitmask.
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY GROUPING SETS
        |  ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),

    // EXACT weighted percentiles with NO global sort: value-axis range
    // chunks + carry (the ChunkedWindow/p08 two-level discipline on the
    // cumulative-weight axis); the oracle replays the ONE global
    // cumulative window the chunked plan must equal bit-for-bit.
    // Values = price cents, weights = quantity units.
    Gate("q31_weighted_pctl", (s, d) =>
      graft.operators.WeightedQuantiles.weightedPercentiles(
        tbl(s, d, "lineitem").select(cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w")),
        "v", "w", Seq(25, 50, 90, 99)),
      // Weighted-percentile replay: ONE global cumulative window over the
      // value-grouped weights — the chunk-parallel plan must equal it
      // bit-for-bit. T = ceil(pct·W/100) as (pct*W + 99) // 100; the
      // crossing predicate (cum >= T AND cum - ws < T) picks exactly the
      // first value reaching each target.
      """WITH src AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |  CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |g AS (SELECT v, CAST(sum(w) AS BIGINT) AS ws FROM src GROUP BY 1),
        |c AS (SELECT v, ws, CAST(sum(ws) OVER (ORDER BY v) AS BIGINT) AS cum_w FROM g),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM src),
        |p AS (SELECT * FROM (VALUES (25), (50), (90), (99)) AS p(pct))
        |SELECT p.pct, c.v AS value, c.cum_w, t.total_w
        |FROM p, t, c
        |WHERE c.cum_w >= (p.pct * t.total_w + 99) // 100
        |  AND c.cum_w - c.ws < (p.pct * t.total_w + 99) // 100""".stripMargin),

    // GROUPED exact weighted percentiles (the per-language
    // quality-threshold query): the q31 chunk plan with the carry
    // window partitioned by group — no single-task stage anywhere.
    Gate("q34_grouped_wpctl", (s, d) =>
      graft.operators.WeightedQuantiles.weightedPercentilesBy(
        tbl(s, d, "lineitem").select(col("l_returnflag"),
          cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w")),
        "l_returnflag", "v", "w", Seq(50, 90)),
      // Grouped weighted-percentile replay: the per-group cumulative
      // window the group-partitioned chunk plan must equal bit-for-bit.
      """WITH src AS (SELECT l_returnflag AS g,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |  CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |gr AS (SELECT g, v, CAST(sum(w) AS BIGINT) AS ws FROM src GROUP BY 1, 2),
        |c AS (SELECT g, v, ws,
        |  CAST(sum(ws) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum_w FROM gr),
        |t AS (SELECT g, CAST(sum(w) AS BIGINT) AS total_w FROM src GROUP BY 1),
        |p AS (SELECT * FROM (VALUES (50), (90)) AS p(pct))
        |SELECT c.g AS l_returnflag, p.pct, c.v AS value, c.cum_w, t.total_w
        |FROM p, t, c
        |WHERE c.g = t.g AND c.cum_w >= (p.pct * t.total_w + 99) // 100
        |  AND c.cum_w - c.ws < (p.pct * t.total_w + 99) // 100""".stripMargin),

    // PIVOT: long->wide on an explicit value list (the only scale-safe
    // form — an unlisted pivot collects the distinct values to plan the
    // schema; listed, it is ONE pass of conditional aggregates).
    Gate("q26_pivot", (s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_extendedprice"))))
        .withColumnRenamed("F", "f_cents").withColumnRenamed("O", "o_cents"),
      // Pivot replay: the listed-value form IS conditional aggregation.
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS f_cents,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS o_cents
        |FROM lineitem GROUP BY 1""".stripMargin),

    // UNPIVOT (melt): the wide frame back to long [flag, status, cents]
    // rows — a pure per-row expand, no shuffle beyond the pivot's own.
    Gate("q26b_unpivot", (s, d) => {
      val wide = tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_extendedprice"))))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("F"), col("O")), "l_linestatus", "cents")
        .filter(col("cents").isNotNull)
    },
      // Unpivot replay: melt = UNION ALL of one arm per value column,
      // NULL cells dropped (the engine filter mirrors it).
      """WITH w AS (SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS f,
        |  sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS o
        |FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'F' AS l_linestatus, CAST(f AS BIGINT) AS cents
        |FROM w WHERE f IS NOT NULL
        |UNION ALL
        |SELECT l_returnflag, 'O', CAST(o AS BIGINT) FROM w
        |WHERE o IS NOT NULL""".stripMargin),

    // Binned point-in-interval join: purchases landing inside a 2-hour
    // click window of the same user — the range join as an equi-join on
    // (user, time bucket) with bounded interval replication, never the
    // O(n*m) nested-loop a raw theta-join plans.
    Gate("q27_interval_join", (s, d) => {
      val e = eventsNanos(s, d)
      val iv = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("w_start"),
          (col("ts") + lit(7200000000000L)).as("w_end"))
      val pts = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts"))
      operators.IntervalJoin.pointInInterval(pts, iv, "ts", "w_start",
          "w_end", binWidth = 3600000000000L, keyCols = Seq("user_id"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
    },
      // Interval-join replay: the plain theta-join — the binning is an
      // execution strategy, not a semantics change.
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS ws,
        |  ts + 7200000000000 AS we FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, c.click_id, p.purchase_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.ws <= p.ts AND p.ts < c.we""".stripMargin),

    // Native session_window aggregation (the BUILT-IN gap-session
    // operator — st04 gates the custom flatMapGroupsWithState form;
    // this gates Spark's own session merge path, which also serves
    // batch): per user, 30-min-gap sessions with count + cents-sum,
    // window bounds surfaced as exact epoch micros.
    Gate("q29_session_window", (s, d) => {
      val e = eventsNanos(s, d)
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("t"),
          cents(col("value")).as("v"))
      e.groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), sum("v").as("cents"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_us"),
          unix_micros(col("session_window.end")).as("e_us"),
          col("n_events"), col("cents"))
    },
      // session_window replay: the gap-session rule on the micros
      // lattice — an interval of EXACTLY the gap still MERGES (Spark
      // merges touching event windows, inclusive; spec-pinned), so a new
      // session starts only STRICTLY past the gap; end = last event + gap.
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |x AS (SELECT user_id, us, v, lag(us) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id) AS pus FROM e),
        |sn AS (SELECT user_id, us, v,
        |  sum(CASE WHEN pus IS NULL OR us - pus > 1800000000
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x)
        |SELECT user_id, CAST(min(us) AS BIGINT) AS s_us,
        |  CAST(max(us) + 1800000000 AS BIGINT) AS e_us,
        |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS cents
        |FROM sn GROUP BY user_id, sid""".stripMargin),

    // Trailing RANGE-frame window: per event_type, each event's count
    // and cents-sum over the PRECEDING hour on the nanos lattice —
    // value-based frames (RANGE BETWEEN n PRECEDING), the frame class
    // the rows-based gates don't cover. event_type is a 5-value column,
    // so the naive `PARTITION BY event_type` plan is a 5-task wall whose
    // per-task sort grows with the corpus (the r15 verdict's one scale
    // weakness) — the gate runs the CHUNKED form instead: time chunks of
    // width >= the frame parallelize a trailing frame exactly
    // (boundary-strip carry rows, own-row filter after the window; see
    // ChunkedWindow), and the oracle replays the GLOBAL window, so the
    // chunk decomposition is hash-pinned to be invisible.
    Gate("q28_trailing_window", (s, d) =>
      operators.ChunkedWindow.trailingRange(
        eventsNanos(s, d)
          .select(col("event_id"), col("event_type"), col("ts"),
            cents(col("value")).as("v")),
        "ts", Seq("event_type"), frame = 3600000000000L) { w =>
        Seq(count(lit(1)).over(w).as("n_1h"),
          sum(col("v")).over(w).as("cents_1h"))
      }.select(col("event_id"), col("event_type"),
        col("n_1h"), col("cents_1h")),
      // RANGE-frame replay: value-based trailing hour; RANGE includes
      // equal-ts peers identically in both engines, so ties are safe.
      """WITH e AS (SELECT event_id, event_type, epoch_ns(ts) AS ts,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT event_id, event_type,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(v) OVER w AS BIGINT) AS cents_1h
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts
        |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // EXACT discrete percentiles per event type: value at rank
    // ceil(p*n) = (p_pct*n + 99) div 100 over the ascending sort — pure
    // integer rank arithmetic over NON-NULL values, so any engine lands
    // on the identical row (the explicit isNotNull matters: Spark window
    // ORDER BY ranks NULLS FIRST, DuckDB NULLS LAST, so unfiltered NULLs
    // would shift every rank boundary differently per engine;
    // approx_percentile sketches differ across engines and would only
    // support a rows-only gate). One shuffle on event_type; both window
    // functions share the partitioning. At 100 TB the same plan holds —
    // exact percentiles cost the per-key sort; swap in approx_percentile
    // when sketch error is acceptable.
    Gate("q13_percentiles", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = tbl(s, d, "events").select(col("event_type"), cents(col("value")).as("v"))
        .filter(col("v").isNotNull)
      ev.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("v")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(
          max(when(col("rn") <= expr("(n*50+99) div 100"), col("v"))).as("p50_cents"),
          max(when(col("rn") <= expr("(n*95+99) div 100"), col("v"))).as("p95_cents"),
          max(when(col("rn") <= expr("(n*99+99) div 100"), col("v"))).as("p99_cents"),
          count(lit(1)).as("cnt"))
    },
      // Same integer rank arithmetic: ties in the row_number order cannot
      // change the SELECTED VALUE at a rank boundary.
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, v,
        |  row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM e)
        |SELECT event_type,
        |  max(CASE WHEN rn <= (n*50+99)//100 THEN v END) AS p50_cents,
        |  max(CASE WHEN rn <= (n*95+99)//100 THEN v END) AS p95_cents,
        |  max(CASE WHEN rn <= (n*99+99)//100 THEN v END) AS p99_cents,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM r GROUP BY 1""".stripMargin),

    // Portable HyperLogLog: the full 256-row register table (exact
    // integers — gates hashing, register split, rank arithmetic) ...
    Gate("q14_hll_registers", (s, d) =>
      graft.operators.Sketches.hllRegisters(tbl(s, d, "lineitem"), "l_partkey", p = 8),
      // The exact register table: portable 60-bit md5 hash, low 8 bits pick
      // the register, rank = leading zeros of the 52-bit suffix + 1 via
      // bin() (no float log2); empty registers materialized as max_rank 0.
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1)
        |SELECT CAST(range AS BIGINT) AS register, COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |FROM range(256) LEFT JOIN agg ON range = register""".stripMargin),

    // ... and the one-row estimate off it (scaled-integer harmonic sum;
    // single rounded float division at the end).
    Gate("q14b_hll_estimate", (s, d) =>
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(tbl(s, d, "lineitem"), "l_partkey", p = 8),
        p = 8),
      // Harmonic sum scaled to exact integers (sum of 2^(53 - M_j) as
      // BIGINT — a double sum would be summation-order-dependent), one
      // rounded float division at the end in the same association order.
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1),
        |regs AS (SELECT COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |         FROM range(256) LEFT JOIN agg ON range = register),
        |e AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |             CAST(sum(CAST(1 AS BIGINT) << CAST(53 - max_rank AS INT)) AS BIGINT) AS sum_scaled,
        |             CAST(sum(CASE WHEN max_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |      FROM regs)
        |SELECT m, sum_scaled, n_zero,
        |  round(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
        |    * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE /
        |    CAST(sum_scaled AS DOUBLE), 6) AS est6
        |FROM e""".stripMargin),

    // Linear-counting-corrected estimate, keyed low-cardinality on purpose
    // (l_suppkey ~ 100 distinct at sf0.01 << 2.5 * 256): the corrected
    // branch actually fires, gating the n_zero condition AND the
    // m * ln(m / n_zero) float path against DuckDB's ln.
    Gate("q14c_hll_corrected", (s, d) =>
      graft.operators.Sketches.hllEstimateCorrected(
        graft.operators.Sketches.hllRegisters(tbl(s, d, "lineitem"), "l_suppkey", p = 8),
        p = 8),
      // Same register pipeline on l_suppkey + the linear-counting CASE: the
      // branch condition reads the already-rounded est6 (bit-identical
      // operands both sides), correction = m * ln(m / n_zero) in the same
      // association order as the engine.
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1),
        |regs AS (SELECT COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |         FROM range(256) LEFT JOIN agg ON range = register),
        |e AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |             CAST(sum(CAST(1 AS BIGINT) << CAST(53 - max_rank AS INT)) AS BIGINT) AS sum_scaled,
        |             CAST(sum(CASE WHEN max_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |      FROM regs),
        |est AS (SELECT m, sum_scaled, n_zero,
        |  round(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
        |    * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE /
        |    CAST(sum_scaled AS DOUBLE), 6) AS est6
        |  FROM e)
        |SELECT m, sum_scaled, n_zero, est6,
        |  round(CASE WHEN n_zero > 0 AND est6 <= 640.0::DOUBLE
        |    THEN 256.0::DOUBLE * ln(256.0::DOUBLE / CAST(n_zero AS DOUBLE))
        |    ELSE est6 END, 6) AS est6c
        |FROM est""".stripMargin),

    // Count-min heavy-hitters: the full 4x1024 counter grid over the t06
    // bigram stream (exact integers — gates the per-row salted hash, the
    // mod-width split, and the zero-materialized shape).
    Gate("q15_cms_registers", (s, d) =>
      graft.operators.Sketches.cmsRegisters(
        tbl(s, d, "documents")
          .select(explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram")),
        "gram", depth = 4, width = 1024),
      // The exact 4x1024 count-min grid: per-row salted portable hash
      // (md5 of "row:gram"), mod width, zeros materialized by the grid
      // cross join.
      """WITH g AS (SELECT unnest(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents)),
        |p AS (SELECT r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || gram), 1, 15))::BIGINT % 1024 AS col
        |  FROM g CROSS JOIN range(4) r),
        |seen AS (SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2)
        |SELECT CAST(rr.range AS BIGINT) AS row, CAST(cc.range AS BIGINT) AS col,
        |  COALESCE(seen.cnt, CAST(0 AS BIGINT)) AS cnt
        |FROM range(4) rr CROSS JOIN range(1024) cc
        |LEFT JOIN seen ON rr.range = seen.row AND cc.range = seen.col""".stripMargin),

    // ... and point estimates for the exact top-20 bigrams (the t06
    // result): est_cnt = min over the 4 counters, always >= the true cnt.
    // Carrying the exact cnt alongside gates the containment property
    // row-by-row, not just the sketch internals. ONE corpus scan: the
    // vocabulary-sized gram-count aggregate is scope-cached and feeds
    // both the exact top-20 and the weighted-ingest grid.
    Gate("q15b_cms_topk", (s, d) =>
      graft.operators.CacheScope.scoped { scope =>
        val gramCounts = scope.cache(tbl(s, d, "documents")
          .select(explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("cnt")))
        val top = gramCounts.orderBy(col("cnt").desc, col("gram")).limit(20)
        graft.operators.Sketches.cmsEstimates(
          graft.operators.Sketches.cmsRegistersFromCounts(
            gramCounts, "gram", "cnt", depth = 4, width = 1024),
          top, "gram", depth = 4, width = 1024)
      },
      // Exact top-20 bigrams (t06's ordering: cnt desc, gram asc) + the CMS
      // point estimate: min over the 4 salted counters.
      """WITH g AS (SELECT unnest(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents)),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1),
        |top AS (SELECT gram, cnt FROM c ORDER BY cnt DESC, gram LIMIT 20),
        |p AS (SELECT r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || gram), 1, 15))::BIGINT % 1024 AS col
        |  FROM g CROSS JOIN range(4) r),
        |seen AS (SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2),
        |th AS (SELECT top.gram, top.cnt, r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || top.gram), 1, 15))::BIGINT % 1024 AS col
        |  FROM top CROSS JOIN range(4) r)
        |SELECT th.gram, th.cnt, CAST(min(COALESCE(seen.cnt, 0)) AS BIGINT) AS est_cnt
        |FROM th LEFT JOIN seen ON th.row = seen.row AND th.col = seen.col
        |GROUP BY th.gram, th.cnt""".stripMargin),

    // Fixed-bin histogram sketch (the quantile member of the mergeable
    // family): all 256 [bin, cnt] rows over events.value on the cents
    // lattice — exact integers, gating the clamp, the div binning and
    // the zero-materialized shape.
    Gate("q16_hist_registers", (s, d) =>
      graft.operators.Sketches.histRegisters(
        tbl(s, d, "events").select(cents(col("value")).as("v")),
        "v", lo = 0L, binWidth = 200L, binCount = 256),
      // Histogram registers: the same cents lattice, clamp-below-lo to bin 0,
      // integer-div binning capped at the last bin, zero-filled via range().
      """WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0 THEN 0 ELSE least(255, v // 200) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1)
        |SELECT CAST(r.range AS BIGINT) AS bin, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM range(256) r LEFT JOIN b ON r.range = b.bin""".stripMargin),

    // ... and p50/p95/p99 off the registers: integer target ranks, the
    // smallest bin whose cumulative count reaches them, upper-edge
    // estimate — all BIGINT, nothing for the oracle to disagree with.
    Gate("q16b_hist_quantiles", (s, d) =>
      graft.operators.Sketches.histQuantiles(
        graft.operators.Sketches.histRegisters(
          tbl(s, d, "events").select(cents(col("value")).as("v")),
          "v", lo = 0L, binWidth = 200L, binCount = 256),
        lo = 0L, binWidth = 200L, permilles = Seq(500, 950, 990)),
      // Quantiles off the registers: integer target rank (p*N+999)//1000,
      // smallest bin whose running total reaches it, UPPER-edge estimate
      // lo+(bin+1)*width — the engine's one-sided convention, all BIGINT.
      """WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0 THEN 0 ELSE least(255, v // 200) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1),
        |reg AS (SELECT r.range AS bin, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |  FROM range(256) r LEFT JOIN b ON r.range = b.bin),
        |cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM reg),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM reg),
        |t AS (SELECT p.permille, (p.permille * n.n + 999) // 1000 AS target_rank
        |  FROM (VALUES (500), (950), (990)) p(permille) CROSS JOIN n)
        |SELECT CAST(t.permille AS BIGINT) AS permille,
        |  CAST(t.target_rank AS BIGINT) AS target_rank,
        |  CAST(min(cum.bin) AS BIGINT) AS bin,
        |  CAST((min(cum.bin) + 1) * 200 AS BIGINT) AS est_upper_cents
        |FROM t JOIN cum ON cum.cum >= t.target_rank
        |GROUP BY t.permille, t.target_rank""".stripMargin),

    // Sketch MERGE gates: the property that makes every sketch here a
    // 100 TB operator is that per-partition/per-day sketches combine into
    // the exact whole-corpus sketch. Each query builds TWO half sketches
    // (orderkey parity split — cuts across all partitions), merges them
    // with the family's merge op, and must hash-equal the WHOLE-corpus
    // oracle: HLL merges by per-register greatest...
    Gate("q19_hll_merge", (s, d) => {
      val li = tbl(s, d, "lineitem")
      val a = graft.operators.Sketches.hllRegisters(
        li.filter(col("l_orderkey") % 2 === 0), "l_partkey", p = 8)
      val b = graft.operators.Sketches.hllRegisters(
        li.filter(col("l_orderkey") % 2 === 1), "l_partkey", p = 8)
      a.join(b.withColumnRenamed("max_rank", "mr_b"), Seq("register"))
        .select(col("register"),
          greatest(col("max_rank"), col("mr_b")).as("max_rank"))
    },
      // Sketch-merge gates: the oracle is the WHOLE-corpus sketch (q14/q15/
      // q16 SQL verbatim) — the engine's merged half-sketches must equal it
      // bit for bit, which is the mergeability law under the hard gate.
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1)
        |SELECT CAST(range AS BIGINT) AS register, COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |FROM range(256) LEFT JOIN agg ON range = register""".stripMargin),

    // ... count-min by elementwise addition...
    Gate("q19b_cms_merge", (s, d) => {
      val grams = tbl(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram"))
      val a = graft.operators.Sketches.cmsRegisters(
        grams.filter(col("doc_id") % 2 === 0).select("gram"), "gram", depth = 4, width = 1024)
      val b = graft.operators.Sketches.cmsRegisters(
        grams.filter(col("doc_id") % 2 === 1).select("gram"), "gram", depth = 4, width = 1024)
      a.join(b.withColumnRenamed("cnt", "cnt_b"), Seq("row", "col"))
        .select(col("row"), col("col"), (col("cnt") + col("cnt_b")).as("cnt"))
    },
      """WITH g AS (SELECT unnest(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents)),
        |p AS (SELECT r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || gram), 1, 15))::BIGINT % 1024 AS col
        |  FROM g CROSS JOIN range(4) r),
        |seen AS (SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2)
        |SELECT CAST(rr.range AS BIGINT) AS row, CAST(cc.range AS BIGINT) AS col,
        |  COALESCE(seen.cnt, CAST(0 AS BIGINT)) AS cnt
        |FROM range(4) rr CROSS JOIN range(1024) cc
        |LEFT JOIN seen ON rr.range = seen.row AND cc.range = seen.col""".stripMargin),

    // ... and the histogram by elementwise addition too.
    Gate("q19c_hist_merge", (s, d) => {
      val ev = tbl(s, d, "events").select(col("event_id"), cents(col("value")).as("v"))
      val a = graft.operators.Sketches.histRegisters(
        ev.filter(col("event_id") % 2 === 0), "v", lo = 0L, binWidth = 200L, binCount = 256)
      val b = graft.operators.Sketches.histRegisters(
        ev.filter(col("event_id") % 2 === 1), "v", lo = 0L, binWidth = 200L, binCount = 256)
      a.join(b.withColumnRenamed("cnt", "cnt_b"), Seq("bin"))
        .select(col("bin"), (col("cnt") + col("cnt_b")).as("cnt"))
    },
      """WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0 THEN 0 ELSE least(255, v // 200) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1)
        |SELECT CAST(r.range AS BIGINT) AS bin, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM range(256) r LEFT JOIN b ON r.range = b.bin""".stripMargin),

    // As-of join (the "last known value" join): every event annotated with
    // the same user's most recent PURCHASE at-or-before it — probe = all
    // events, build = purchase events deduped per (user, ts) by max
    // event_id (max_by on both engines; an as-of match is ill-defined
    // under build duplicates). Exercises: equal-t inclusion (a purchase
    // matches itself), no-predecessor NULLs, and the single-pass merge
    // shape (one Exchange + one in-partition sort, zero row replication —
    // plan-spec'd). Oracle: DuckDB native ASOF LEFT JOIN on epoch_ns.
    Gate("q20_asof_join", (s, d) => {
      val ev = tbl(s, d, "events")
      val build = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max_by(struct(col("event_id"), cents(col("value")).as("cents")),
          col("event_id")).as("w"))
        .select(col("user_id"), col("ts"),
          col("w.event_id").as("purchase_id"),
          col("w.cents").as("purchase_cents"))
      graft.operators.AsOfJoin.lastAtOrBefore(
        ev.select("event_id", "user_id", "ts"), build,
        keyCol = "user_id", timeCol = "ts",
        probeCols = Seq("event_id", "user_id", "ts"),
        buildCols = Seq("purchase_id", "purchase_cents"))
    },
      // The as-of join against DuckDB's NATIVE ASOF LEFT JOIN — the one
      // oracle that is itself a dedicated engine operator, not a SQL
      // re-derivation. Build dedup winner = max event_id per (user, ts);
      // arg_max carries its cents.
      q20OracleSql),

    // FORWARD as-of with a match window (pandas merge_asof
    // direction='forward' + tolerance): each event attributed to the
    // NEXT purchase by the same user within 2 hours — the q20 merge
    // shape mirrored (probe-first tie order, backward first() carry),
    // tolerance as a post-carry null-out. The oracle enumerates
    // bounded candidates and argmins; the operator never does.
    Gate("q32_asof_forward", (s, d) => {
      val ev = tbl(s, d, "events")
      val build = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max_by(struct(col("event_id"), cents(col("value")).as("cents")),
          col("event_id")).as("w"))
        .select(col("user_id"), col("ts"),
          col("w.event_id").as("purchase_id"),
          col("w.cents").as("purchase_cents"))
      graft.operators.AsOfJoin.firstAtOrAfter(
        ev.select("event_id", "user_id", "ts"), build,
        keyCol = "user_id", timeCol = "ts",
        probeCols = Seq("event_id", "user_id", "ts"),
        buildCols = Seq("purchase_id", "purchase_cents"),
        tolerance = Some(7200000000000L))
    },
      // Forward-asof replay: bounded candidate enumeration (pairs within
      // the 2 h window) + per-probe argmin over b.t — the naive plan the
      // merge-shaped operator exists to avoid, which makes it the right
      // oracle: any carry/tie/tolerance drift diverges.
      q32OracleSql),

    // NEAREST as-of (q36 — merge_asof direction='nearest' + tolerance,
    // completing the direction trio q20/q32/q36): the sensor/price
    // alignment join — |Δt|-argmin within the window, ties to the
    // EARLIER match. Same single-pass merge shape: both carries over
    // ONE sorted frame, a per-row distance pick, zero row replication.
    Gate("q36_asof_nearest", (s, d) => {
      val ev = tbl(s, d, "events")
      val build = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max_by(struct(col("event_id"), cents(col("value")).as("cents")),
          col("event_id")).as("w"))
        .select(col("user_id"), col("ts"),
          col("w.event_id").as("purchase_id"),
          col("w.cents").as("purchase_cents"))
      graft.operators.AsOfJoin.nearestInTime(
        ev.select("event_id", "user_id", "ts"), build,
        keyCol = "user_id", timeCol = "ts",
        probeCols = Seq("event_id", "user_id", "ts"),
        buildCols = Seq("purchase_id", "purchase_cents"),
        tolerance = Some(7200000000000L))
    },
      // Nearest-asof replay: bounded |Δ| candidate enumeration, per-probe
      // argmin by (distance ASC, build time ASC — ties to the earlier
      // match), the naive plan the merge shape exists to avoid.
      q36OracleSql),

    // Salted skew join: lineitem x orders on orderkey with an 8-way salt
    // split (dim replicated 8x, fact rows spread within each key by a
    // payload hash). ANY salt assignment must yield the plain join —
    // that invariance is the gate.
    Gate("q22_salted_join", (s, d) =>
      graft.operators.SkewJoin.saltedJoin(
          tbl(s, d, "lineitem"), "l_orderkey",
          tbl(s, d, "orders").select("o_orderkey", "o_orderpriority"),
          "o_orderkey",
          saltBy = Seq("l_partkey", "l_linenumber"), nSalts = 8)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("price_cents")),
      // Salting is invisible to semantics: the oracle is the plain join.
      """SELECT o_orderpriority, l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    // CDC-style latest-version compaction: one max_by(struct) aggregate
    // per user — no window, no sort; ties on ts break by event_id.
    Gate("q23_latest_version", (s, d) =>
      eventsNanos(s, d)
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"),
          col("event_type"), cents(col("value")).as("cents"))).as("w"))
        .select(col("user_id"), col("w.ts").as("last_ts"),
          col("w.event_id").as("last_event_id"),
          col("w.event_type").as("last_type"),
          col("w.cents").as("last_value_cents")),
      // Latest row per user, ties on ts broken by event_id — the window
      // replay of the max_by(struct) aggregate.
      """SELECT user_id, last_ts, last_event_id, last_type, last_value_cents FROM (
        |  SELECT user_id, epoch_ns(ts) AS last_ts, event_id AS last_event_id,
        |    event_type AS last_type, CAST(round(value * 100) AS BIGINT) AS last_value_cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    // Cohort retention: users bucketed by first-activity week, distinct
    // actives per (cohort, weeks-since) — two map-side-combinable
    // aggregates sharing the user_id partitioning, no window.
    Gate("q25_cohort_retention", (s, d) => {
      val wk = eventsNanos(s, d)
        .select(col("user_id"), expr("ts div 604800000000000").as("w"))
        .distinct()
      val cohort = wk.groupBy("user_id").agg(min("w").as("c0"))
      wk.join(cohort, "user_id")
        .groupBy(col("c0").as("cohort_week"), (col("w") - col("c0")).as("offset"))
        .agg(countDistinct("user_id").as("n_users"))
    },
      // Same week lattice off epoch_ns; // matches Spark's div on the
      // non-negative nanos domain.
      """WITH wk AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS w FROM events),
        |c AS (SELECT user_id, min(w) AS c0 FROM wk GROUP BY 1)
        |SELECT c.c0 AS cohort_week, CAST(wk.w - c.c0 AS BIGINT) AS offset,
        |  CAST(count(DISTINCT wk.user_id) AS BIGINT) AS n_users
        |FROM wk JOIN c ON wk.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin),

    // CDC MERGE apply: a deterministic change set (every 17th key deleted,
    // every remaining 5th updated, every 13th key re-inserted shifted)
    // against the orders snapshot — one full-outer join, projection-only
    // resolution. The gate hashes the ENTIRE next snapshot.
    Gate("q24_merge_apply", (s, d) => {
      val base = tbl(s, d, "orders").select(col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"), col("o_orderpriority"))
      val del = base.filter(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"), lit("delete").as("op"),
          col("price_cents"), col("o_orderpriority"))
      val upd = base.filter(col("o_orderkey") % 17 =!= 0 && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("upsert").as("op"),
          (col("price_cents") + 111L).as("price_cents"),
          lit("9-MERGED").as("o_orderpriority"))
      val ins = base.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("upsert").as("op"), col("o_orderkey").as("price_cents"),
          lit("9-NEW").as("o_orderpriority"))
      graft.operators.MergeApply.mergeApply(
        base, del.unionAll(upd).unionAll(ins), "o_orderkey")
    },
      // MERGE resolved set-wise: base minus deletes, updates override via
      // left join, inserts append.
      """WITH base AS (SELECT o_orderkey AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  o_orderpriority AS prio FROM orders),
        |upd AS (SELECT k, price_cents + 111 AS price_cents, '9-MERGED' AS prio
        |  FROM base WHERE k % 17 <> 0 AND k % 5 = 0),
        |ins AS (SELECT k + 10000000 AS k, CAST(k AS BIGINT) AS price_cents,
        |  '9-NEW' AS prio FROM base WHERE k % 13 = 0)
        |SELECT b.k AS o_orderkey, coalesce(u.price_cents, b.price_cents) AS price_cents,
        |  coalesce(u.prio, b.prio) AS o_orderpriority
        |FROM base b LEFT JOIN upd u ON u.k = b.k
        |WHERE b.k % 17 <> 0
        |UNION ALL
        |SELECT k, price_cents, prio FROM ins""".stripMargin),

    // Bloom-pruned semi join (the runtime-filter pattern): the urgent-order
    // key set builds ONE packed-bitset row (map-side OR-combined), a codegen
    // bloom probe prunes the lineitem scan BEFORE any shuffle, and a
    // left-semi against the distinct keys removes the false positives —
    // the result is exact for ANY bitset contents, which is precisely what
    // the hash gate checks.
    Gate("q21_bloom_semijoin", (s, d) => {
      val urgent = tbl(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      graft.operators.RuntimeFilter.bloomSemiJoin(
          tbl(s, d, "lineitem"), "l_orderkey", urgent, "o_orderkey",
          mBits = 1 << 16, kHashes = 3)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
    },
      // The bloom is invisible to semantics: the oracle is the plain
      // IN-subquery semi join the operator must equal bit-for-bit.
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin),

    // Per-group HLL (p=6): distinct parts per return flag as 3 bounded
    // register tables — the distinct-per-slice profiling query at
    // groups x 64 rows instead of a raw-pair distinct shuffle.
    Gate("q17_hll_grouped", (s, d) =>
      graft.operators.Sketches.hllGroupedRegisters(
        tbl(s, d, "lineitem"), "l_returnflag", "l_partkey", p = 6),
      // Grouped HLL: q14's register construction with a group key; the
      // group list is derived from the aggregated observations, zero
      // registers materialized per group. p=6: mask 63, shift 6, rank base
      // 55 (= 60-6+1).
      """WITH h AS (SELECT l_returnflag AS grp,
        |  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |r AS (SELECT grp, h & 63 AS register,
        |  55 - CASE WHEN (h >> 6) = 0 THEN 0 ELSE len(bin(h >> 6)) END AS rank
        |  FROM h),
        |agg AS (SELECT grp, register, CAST(max(rank) AS BIGINT) AS max_rank
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT DISTINCT grp FROM agg)
        |SELECT g.grp AS l_returnflag, CAST(rg.range AS BIGINT) AS register,
        |  COALESCE(agg.max_rank, CAST(0 AS BIGINT)) AS max_rank
        |FROM g CROSS JOIN range(64) rg
        |LEFT JOIN agg ON agg.grp = g.grp AND rg.range = agg.register""".stripMargin),

    // KMV/theta set operations (what HLL cannot do): bottom-64 sketches
    // of distinct partkeys per returnflag, merged A∪R, theta + both
    // estimators — integer sketch values, two IEEE divisions, the p11
    // float discipline.
    Gate("q35_kmv_setops", (s, d) => {
      val sk = graft.operators.Sketches.kmvSketchBy(
        tbl(s, d, "lineitem").filter(col("l_returnflag").isin("A", "R")),
        "l_returnflag", "l_partkey", k = 64)
      graft.operators.Sketches.kmvSetEstimates(sk, "A", "R", k = 64)
    },
      // KMV replay: exact bottom-64 per slice (ORDER BY h LIMIT k), the
      // merged union re-truncated, theta/n_both, and the two estimators
      // with every float spelled ::DOUBLE in the engine's op order.
      // Shared VERBATIM by st25: the streaming candidate path must be
      // invisible to the estimates.
      q35OracleSql),

    // Approximate distinct per ROLLUP slice (sketches × OLAP lattice):
    // HLL register tables for (flag, status) / (flag) / () in ONE
    // Expand pass, estimated per slice — integer sum_scaled/n_zero
    // anchors, gid = the (g1, g2) GROUPING bitmask.
    Gate("q33_rollup_distinct", (s, d) =>
      graft.operators.Sketches.hllRollupEstimate(
        graft.operators.Sketches.hllRollupRegisters(
          tbl(s, d, "lineitem"), "l_returnflag", "l_linestatus",
          "l_partkey", p = 6),
        "l_returnflag", "l_linestatus", p = 6),
      // Rollup-sliced HLL replay: the three lattice levels as three
      // grouped register chains (p=6), dense 64-register grids per slice,
      // per-slice integer harmonic sums, one rounded division each.
      // IS NOT DISTINCT FROM joins keep NULL-valued DATA groups separate
      // from the NULL subtotal columns (gid is the discriminator).
      q33OracleSql),

    // ... and the per-group estimates off those registers (integer
    // harmonic sum, one rounded division per group).
    Gate("q17b_hll_grouped_est", (s, d) =>
      graft.operators.Sketches.hllGroupedEstimate(
        graft.operators.Sketches.hllGroupedRegisters(
          tbl(s, d, "lineitem"), "l_returnflag", "l_partkey", p = 6),
        "l_returnflag", p = 6),
      // ... and q14b's estimate math per group: alpha(64) = 0.709 (the
      // paper's canonical small-m constant), 2^55 scale.
      """WITH h AS (SELECT l_returnflag AS grp,
        |  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |r AS (SELECT grp, h & 63 AS register,
        |  55 - CASE WHEN (h >> 6) = 0 THEN 0 ELSE len(bin(h >> 6)) END AS rank
        |  FROM h),
        |agg AS (SELECT grp, register, CAST(max(rank) AS BIGINT) AS max_rank
        |  FROM r GROUP BY 1, 2),
        |g AS (SELECT DISTINCT grp FROM agg),
        |regs AS (SELECT g.grp, COALESCE(agg.max_rank, CAST(0 AS BIGINT)) AS max_rank
        |  FROM g CROSS JOIN range(64) rg
        |  LEFT JOIN agg ON agg.grp = g.grp AND rg.range = agg.register),
        |e AS (SELECT grp, CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(CAST(1 AS BIGINT) << CAST(55 - max_rank AS INT)) AS BIGINT) AS sum_scaled,
        |  CAST(sum(CASE WHEN max_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM regs GROUP BY 1)
        |SELECT grp AS l_returnflag, m, sum_scaled, n_zero,
        |  round(0.709::DOUBLE * 64.0::DOUBLE * 64.0::DOUBLE
        |    * 36028797018963968.0::DOUBLE / CAST(sum_scaled AS DOUBLE), 6) AS est6
        |FROM e""".stripMargin),

    // Per-group CMS (4x64): part-frequency grids per return flag — the
    // frequency-per-slice profiling twin of q17's distinct-per-slice HLL.
    // groups x depth x width bounded rows; per-slice grids merge by `+`.
    Gate("q17c_cms_grouped", (s, d) =>
      graft.operators.Sketches.cmsGroupedRegisters(
        tbl(s, d, "lineitem"), "l_returnflag", "l_partkey",
        depth = 4, width = 64),
      // Grouped CMS: q15's salted-row hashing with a group key; zero cells
      // materialized per observed group.
      """WITH cells AS (SELECT l_returnflag AS grp, r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 64 AS col
        |  FROM lineitem CROSS JOIN range(4) r),
        |agg AS (SELECT grp, row, col, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2, 3),
        |g AS (SELECT DISTINCT grp FROM agg)
        |SELECT g.grp AS l_returnflag, CAST(r.range AS BIGINT) AS row,
        |  CAST(c.range AS BIGINT) AS col, COALESCE(agg.cnt, CAST(0 AS BIGINT)) AS cnt
        |FROM g CROSS JOIN range(4) r CROSS JOIN range(64) c
        |LEFT JOIN agg ON agg.grp = g.grp AND agg.row = r.range AND agg.col = c.range""".stripMargin),

    // ... and per-group heavy-hitters through the grid: exact top-5 parts
    // per flag (deterministic cnt DESC, key tiebreak) probed against
    // their group's sketch — est_cnt >= cnt by construction, equality
    // exactness both engines replay.
    Gate("q17d_cms_grouped_est", (s, d) => {
      val li = tbl(s, d, "lineitem").select("l_returnflag", "l_partkey")
      // Bounded-heap top-5 per flag (cnt DESC, key ASC == the aggregate's
      // score-DESC/id-ASC order) — groups x 5 rows shuffled, no per-group
      // sort of the counted vocabulary (the p02/s01 discipline; a
      // row_number window would SortExec every group's full key set).
      val top = li.groupBy("l_returnflag", "l_partkey")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(graft.functions.TopKByScore.top_k_by_score(
          col("cnt").cast("double"), col("l_partkey"), 5).as("tk"))
        .select(col("l_returnflag"), posexplode(col("tk")))
        .select(col("l_returnflag"), col("col.id").as("l_partkey"),
          col("col.score").cast(LongType).as("cnt"),
          (col("pos") + 1).cast(LongType).as("rnk"))
      graft.operators.Sketches.cmsGroupedEstimates(
        graft.operators.Sketches.cmsGroupedRegisters(
          li, "l_returnflag", "l_partkey", depth = 4, width = 64),
        top, "l_returnflag", "l_partkey", depth = 4, width = 64)
    },
      // Heavy-hitters: per-group exact top-5 (same window tiebreak), each
      // probed at its 4 cells, min over depth. Probed cells are never zero
      // (a probe's own count is in them), so the no-zeros agg suffices.
      """WITH counts AS (SELECT l_returnflag AS grp, l_partkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |rk AS (SELECT grp, l_partkey, cnt, CAST(row_number() OVER
        |  (PARTITION BY grp ORDER BY cnt DESC, l_partkey) AS BIGINT) AS rnk FROM counts),
        |top AS (SELECT * FROM rk WHERE rnk <= 5),
        |cells AS (SELECT l_returnflag AS grp, r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 64 AS col
        |  FROM lineitem CROSS JOIN range(4) r),
        |agg AS (SELECT grp, row, col, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2, 3),
        |probe AS (SELECT t.grp, t.l_partkey, t.cnt, t.rnk, r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || CAST(t.l_partkey AS VARCHAR)), 1, 15))::BIGINT % 64 AS col
        |  FROM top t CROSS JOIN range(4) r)
        |SELECT p.grp AS l_returnflag, p.l_partkey, p.cnt, p.rnk,
        |  min(agg.cnt) AS est_cnt
        |FROM probe p JOIN agg ON agg.grp = p.grp AND agg.row = p.row AND agg.col = p.col
        |GROUP BY 1, 2, 3, 4""".stripMargin),

    // Grouped histogram (the quantile member completing the grouped-sketch
    // family): per-event-type value distribution on the cents lattice at
    // groups x 64 rows.
    Gate("q17e_hist_grouped", (s, d) =>
      graft.operators.Sketches.histGroupedRegisters(
        tbl(s, d, "events").select(col("event_type"), cents(col("value")).as("v")),
        "event_type", "v", lo = 0L, binWidth = 800L, binCount = 64),
      // Grouped histogram: q16's clamp/div lattice per event type, empty
      // bins materialized per group.
      """WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, CASE WHEN v < 0 THEN 0 ELSE least(63, v // 800) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2),
        |g AS (SELECT DISTINCT event_type FROM b)
        |SELECT g.event_type, CAST(r.range AS BIGINT) AS bin,
        |  CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM g CROSS JOIN range(64) r
        |LEFT JOIN b ON b.event_type = g.event_type AND b.bin = r.range""".stripMargin),

    // ... and per-slice p50/p95/p99 off the grouped registers — every
    // join/window sketch-sized, never data-sized.
    Gate("q17f_hist_grouped_q", (s, d) =>
      graft.operators.Sketches.histGroupedQuantiles(
        graft.operators.Sketches.histGroupedRegisters(
          tbl(s, d, "events").select(col("event_type"), cents(col("value")).as("v")),
          "event_type", "v", lo = 0L, binWidth = 800L, binCount = 64),
        "event_type", lo = 0L, binWidth = 800L, permilles = Seq(500, 950, 990)),
      // Per-slice quantiles off the grouped registers: q16b's integer-exact
      // convention keyed by the group.
      """WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, CASE WHEN v < 0 THEN 0 ELSE least(63, v // 800) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM b GROUP BY 1),
        |cum AS (SELECT event_type, bin,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum FROM b),
        |t AS (SELECT n.event_type, p.p AS permille,
        |  CAST((p.p * n.n + 999) // 1000 AS BIGINT) AS target_rank
        |  FROM n CROSS JOIN (VALUES (500), (950), (990)) p(p))
        |SELECT t.event_type, CAST(t.permille AS BIGINT) AS permille, t.target_rank,
        |  CAST(min(cum.bin) AS BIGINT) AS bin,
        |  CAST(0 + (min(cum.bin) + 1) * 800 AS BIGINT) AS est_upper_cents
        |FROM t JOIN cum ON cum.event_type = t.event_type AND cum.cum >= t.target_rank
        |GROUP BY 1, 2, 3""".stripMargin)
  )
}
