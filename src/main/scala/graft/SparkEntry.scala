package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}

import graft.graph.GraphFrame
import graft.multimodal.Multimodal
import graft.operators.{Dedup, KMeans, Retrieval, Sampling, Similarity}
import graft.pregel.{MessageDirection, Pregel}
import graft.text.TextFunctions

/** Driver contract: named queries over the driver-provided parquet tables,
  * each paired (where ANSI-SQL-expressible) with an equivalent DuckDB oracle
  * in [[SparkEntry.oracleSql]]. Column names AND value formatting must match
  * the oracle exactly — the driver sorts columns by name and hashes values.
  *
  * Engine-parity rules used throughout (see Verify):
  *   - money is summed as integer cents (`CAST(round(x*100) AS BIGINT)`) —
  *     float summation order is engine-dependent, integer sums are exact;
  *   - every remaining float output is `round(..., 6)`;
  *   - counts/sizes are cast to BIGINT on both sides (DuckDB promotes
  *     integer sums to HUGEINT, Spark keeps LongType);
  *   - graph vertex ids from different tables get disjoint offsets
  *     (part +1_000_000, nation +3_000_000, region +3_500_000,
  *     order +4_000_000).
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has drifted across testdata regenerations: TIMESTAMP(NANOS)
    // parquet (readable only as a nanos LONG under the legacy conf) and
    // TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ / TIMESTAMP). Arm the
    // legacy conf at the read site — not inside any single query's closure,
    // so query execution order (Verify iterates a Map, Bench warms an
    // arbitrary head) can never leave a session unable to read events —
    // then normalize whatever dtype actually arrived to nanos LONG. Every
    // downstream query sees one contract: ts = nanos-since-epoch BIGINT.
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Normalize `ts` to nanos-since-epoch LONG by dtype branch, so the engine
    * is immune to driver testdata schema drift:
    *   - LongType (nanos parquet under the legacy conf): passthrough;
    *   - TIMESTAMP_NTZ (micros parquet, NTZ inference on): a tz-free
    *     NTZ-literal `timestampdiff`, NOT a cast through TimestampType —
    *     a cast would shift by the session zone and break oracle parity
    *     with DuckDB's `epoch_ns`, which reads the stored micros raw;
    *   - TIMESTAMP (micros parquet, NTZ inference off): `unix_micros` reads
    *     the stored UTC-adjusted micros directly (tz-independent).
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn("ts",
          (expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            * 1000L).cast(LongType))
      case Some(TimestampType) =>
        df.withColumn("ts", (unix_micros(col("ts")) * 1000L).cast(LongType))
      case _ => df
    }

  /** The events table with `ts` normalized to nanos LONG — the one reader
    * specs and tools share so the schema-drift contract lives in one place.
    */
  private[graft] def eventsNanos(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")

  private def cents(c: Column): Column = round(c * 100, 0).cast(LongType)

  /** Merge-round count shared by the BPE gates (t12 training, t13 apply). */
  private val BpeRounds = 10

  /** The unrolled BPE-training CTE chain shared by the t12/t13 oracles:
    * `w0` (bracketed word histogram), then per round r: `p_r` (pair
    * frequencies), `m_r` (the argmax merge) and `w_r` (the merge applied).
    * AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and `w_r`
    * references `w_{r-1}` twice (pair counts + merge apply) — without
    * materialization the chain expands to 2^rounds parquet scans.
    */
  private def bpeTrainingCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS freq FROM (
         |  SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i] || sy[i+1])) AS pair, wcnt
         |  FROM (SELECT regexp_extract_all(seq, '<[^<>]+>') AS sy, wcnt FROM w${r - 1})) GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT $r AS merge_round, pair, freq FROM p$r ORDER BY freq DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (SELECT replace(seq, (SELECT pair FROM m$r),
         |  replace((SELECT pair FROM m$r), '><', '')) AS seq, wcnt FROM w${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS seq,
       |  CAST(count(*) AS BIGINT) AS wcnt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |        FROM documents) GROUP BY 1),
       |$roundCtes""".stripMargin
  }

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

  /** The same parquet table as an unbounded stream (explicit schema from a
    * batch read — the file source does not infer). The declared schema must
    * be the RAW file schema (the stream source reads the files directly), so
    * the ts normalization is applied to the streaming frame AFTER the scan,
    * not baked into the declared schema. The batch read also arms the nanos
    * conf for `events` before the streaming scan plans.
    */
  private def streamTbl(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/$name.parquet").schema
    // The file stream source requires a DIRECTORY path; select the one
    // table's file with a glob filter.
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
    if (name == "events") normalizeEventTs(stream) else stream
  }

  /** Drain a streaming frame with `Trigger.AvailableNow` into a memory sink
    * and return the sink table: the stream runs the real micro-batch
    * machinery (watermarks, state store, output-mode semantics) but
    * terminates once the source is exhausted, so the result is a plain
    * DataFrame the oracle harness can hash. Batch/stream equivalence IS the
    * oracle contract for the st* queries.
    */
  private def drainStream(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }

  /** Stage `staged` as `nFiles` mtime-ordered parquet files split by
    * `idCol`, then drain them one file per micro-batch through the
    * maintenance loop `loop` builds over the file stream (the st30–st36
    * gates). Returns once the stream has drained.
    */
  private def stageAndDrain(s: SparkSession, staged: DataFrame, tag: String,
      nFiles: Int, idCol: String)(loop: DataFrame =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
      : Unit = {
    val dir = stageMtimeFiles(staged, tag, nFiles = nFiles, idCol = idCol)
    val schema = s.read.parquet(s"$dir/in").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    loop(stream)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** The change log of the CDC gates (st32/st33/st34/st36): every edge
    * added in one of 3 batches by `(src + dst) % 3`, then a 4th batch
    * taking down the `(src + dst) % 7 == 1` slice; `stage_id` is the
    * batch.
    */
  private def addsThenTakedown(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"),
        lit("add").as("op"),
        pmod(col("src") + col("dst"), lit(3L)).as("stage_id"))
      .unionByName(edges
        .filter(pmod(col("src") + col("dst"), lit(7L)) === 1L)
        .select(col("src"), col("dst"), lit("remove").as("op"),
          lit(3L).as("stage_id")))

  /** The shared st29/st29b/st29c body — the streaming as-of enrichment
    * trio over the event stream: the purchase feature table persists
    * BUCKETED by the as-of key (the layout a long-lived serving job
    * wants under its per-batch scan), the stream drives the chosen
    * direction's batch operator per micro-batch via `foreachBatch`
    * (the batch IS driver-known — the st23b discipline), results land
    * batch-id-keyed (idempotent under micro-batch retry). Oracles =
    * the q20/q32/q36 batch SQL verbatim: storage + streaming invisible
    * to the as-of semantics.
    */
  private def asOfEnrichGate(s: SparkSession, d: String, name: String,
      direction: String, tolerance: Option[Long]): DataFrame = {
    val ev = tbl(s, d, "events")
    val build = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max_by(struct(col("event_id"), cents(col("value")).as("cents")),
        col("event_id")).as("w"))
      .select(col("user_id"), col("ts"),
        col("w.event_id").as("purchase_id"),
        col("w.cents").as("purchase_cents"))
    graft.sources.BucketedTables.writeBucketed(
      build, s"${name}_features", 4, Seq("user_id"))
    val base = s.conf.get("spark.sql.warehouse.dir")
    val path = s"$base/${name}_results"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hPath, true)
    val q = graft.streaming.Streams.streamingAsOfEnrich(
        streamTbl(s, d, "events").select("event_id", "user_id", "ts"),
        s"${name}_features", keyCol = "user_id", timeCol = "ts",
        probeCols = Seq("event_id", "user_id", "ts"),
        buildCols = Seq("purchase_id", "purchase_cents"),
        direction = direction, tolerance = tolerance) {
        (res, batchId) =>
          res.write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(path).drop("batch")
  }

  /** The t18/st15 HTML→text gate body — HTML is SYNTHESIZED per doc
    * around the raw text (a multi-line template with a style block, a
    * script block containing a bare '<' that would wreck naive
    * tag-stripping, a multi-line comment, an all-links nav line dropped
    * by link density, a low-density content link kept, and
    * entity-bearing lines — so every kernel stage bites), then the
    * extraction kernel. Map-only: no shuffle, no UDF — which is exactly
    * why the SAME body runs batch (t18) and at streaming ingest (st15)
    * with the t18 oracle verbatim.
    */
  /** Shared t19/st19 body: synthesize deterministic PII from doc_id,
    * count per class on the raw text, and pin the sequential redaction
    * byte-exactly via md5 — a stateless per-row transform, so the
    * streaming twin is the same plan per micro-batch.
    */
  private def piiExtract(docs: DataFrame): DataFrame = {
    val aug = docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" contact u"),
        col("doc_id").cast("string"), lit("@ex"),
        (col("doc_id") % 7).cast("string"), lit(".com"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, concat(lit(" from 10."),
        (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string"), lit(".4"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" call +1-555-"),
        (lit(1000L) + col("doc_id") % 9000).cast("string"))).otherwise(lit("")))
      .as("t"))
    aug.select(col("doc_id"), TextFunctions.piiCounts(col("t")).as("pii"),
        md5(TextFunctions.piiRedact(col("t"))).as("red_md5"))
      .select(col("doc_id"), col("pii.emails").as("emails"),
        col("pii.ips").as("ips"), col("pii.phones").as("phones"),
        col("red_md5"))
  }

  /** Shared t20/d19 body: synthesize a deterministically MESSY URL from
    * doc_id — mixed-case scheme/host, default vs explicit ports, trailing
    * slashes, tracking params, fragments — one branch per
    * canonicalization rule; the oracle rebuilds the same string and
    * replays the rules with the same RE2-portable decomposition.
    */
  private def urlSynth(id: Column): Column = concat(
    when(id % 2 === 0, lit("HtTpS")).otherwise(lit("hTtP")),
    lit("://WwW.ExAmPlE"), (id % 7).cast("string"), lit(".CoM"),
    when(id % 3 === 0,
      when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
      .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
    lit("/Dir/Page"), (id % 5).cast("string"),
    when(id % 4 === 0, lit("/")).otherwise(lit("")),
    when(id % 5 === 0,
      concat(lit("?utm_source=feed&id="), (id % 11).cast("string")))
      .when(id % 5 === 1,
        concat(lit("?id="), (id % 11).cast("string"), lit("&gclid=abc&q=x")))
      .when(id % 5 === 2, lit("?fbclid=zz"))
      .when(id % 5 === 4, lit("?a=1&utm_campaign=c&b=2"))
      .otherwise(lit("")),
    when(id % 6 === 0, lit("#Section2")).otherwise(lit("")))

  /** See [[graft.sources.FileStaging.stageMtimeFiles]] — the shared
    * deterministic micro-batch staging (st21's drive; st22 additionally
    * restarts the query between files).
    */
  private def stageMtimeFiles(docs: DataFrame, tag: String,
      nFiles: Int, idCol: String = "doc_id"): String =
    graft.sources.FileStaging.stageMtimeFiles(docs, tag, nFiles, idCol)

  private def htmlExtract(docs: DataFrame): DataFrame = {
    val nl = "\n"
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title>" + nl +
        "<style>" + nl + "p { color: red; }" + nl + "</style>" + nl +
        "<script>" + nl + "var x = 1; if (x < 2) { x = 3; }" + nl +
        "</script>" + nl +
        "</head><body>" + nl +
        "<!-- boilerplate" + nl + "nav comment -->" + nl +
        "<div><a href=\"/home\">Home</a> | <a href=\"/about\">About us</a>" +
        " | <a href=\"/contact\">Contact</a></div>" + nl +
        "<h1>Title &amp; subtitle "), col("doc_id").cast("string"),
      lit("</h1>" + nl + "<p>"), col("text"),
      lit("</p>" + nl +
        "<p>Footer &nbsp;entities&nbsp; stay &lt;escaped&gt;" +
        " &quot;quoted&quot;</p>" + nl +
        "<div>Read more: <a href=\"/next\">next page</a>" +
        " and other stories follow here</div>" + nl +
        "</body></html>"))
    // Two-projection shared-aux shape: the per-line regex pass runs ONCE
    // per row and feeds all three outputs (see TextFunctions.htmlLineAux —
    // the single-pass form measured ~2.5x faster than three independent
    // HOF columns at sf0.1, still map-only).
    docs.select(col("doc_id"), TextFunctions.htmlLineAux(html).as("__aux"))
      .select(col("doc_id"),
        TextFunctions.htmlTextFromAux(col("__aux")).as("clean_text"),
        TextFunctions.htmlKeptFromAux(col("__aux")).as("n_kept_lines"),
        TextFunctions.htmlDroppedFromAux(col("__aux")).as("n_boiler_lines"))
  }

  // ---- graph builders over the relational tables ----

  /** part(+1e6) -> supplier multigraph, one edge per lineitem row. */
  private def partSuppEdges(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").select(
      (col("l_partkey") + 1000000L).as("src"), col("l_suppkey").as("dst"))

  /** customer -> nation(+3e6) -> region(+3.5e6) tree. */
  private def custNationRegionEdges(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .select(col("c_custkey").as("src"), (col("c_nationkey").cast(LongType) + 3000000L).as("dst"))
      .unionAll(tbl(s, dir, "nation").select(
        (col("n_nationkey").cast(LongType) + 3000000L).as("src"),
        (col("n_regionkey").cast(LongType) + 3500000L).as("dst")))

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

  /** Flagship: WCC component sizes of the customer–nation–region graph at
    * sf0.001 (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val g = GraphFrame.fromEdges(custNationRegionEdges(spark, "/root/testdata/sf0.001"))
    g.connectedComponents.run().components
      .groupBy("component").agg(count(lit(1)).as("size"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational operator coverage (SURVEY §2.a) ----
    "q01_groupby_agg" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_cents"),
          max(col("l_discount")).as("max_disc"),
          count(lit(1)).as("cnt"))),

    "q02_filter_project" -> ((s, d) =>
      tbl(s, d, "orders")
        .filter(col("o_totalprice") > 50000.0)
        .select(
          col("o_orderkey"),
          col("o_orderstatus"),
          when(col("o_orderpriority").startsWith("1"), lit("urgent"))
            .when(col("o_orderpriority").startsWith("2"), lit("high"))
            .otherwise(lit("normal")).as("prio"),
          cents(col("o_totalprice")).as("total_cents"))),

    "q03_join_inner_agg" -> ((s, d) =>
      tbl(s, d, "orders")
        .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast(LongType).as("nation_id"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(cents(col("o_totalprice"))).as("spent_cents"))),

    "q04_join_left_agg" -> ((s, d) =>
      tbl(s, d, "customer")
        .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("order_cnt"),
          coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("spent_cents"))),

    "q05_join_anti" -> ((s, d) => {
      val big = tbl(s, d, "orders").filter(col("o_totalprice") > 200000.0)
      tbl(s, d, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    }),

    "q06_cross_normalize" -> ((s, d) => {
      val o = tbl(s, d, "orders").select(col("o_orderkey"), cents(col("o_totalprice")).as("tc"))
      val tot = o.agg(sum(col("tc")).as("tot"))
      o.crossJoin(tot)
        .select(col("o_orderkey"), expr("tc * 1000000 div tot").as("share_ppm"))
    }),

    "q07_union_distinct" -> ((s, d) => {
      val e = partSuppEdges(s, d)
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    }),

    "q08_theta_join" -> ((s, d) => {
      val n = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      n.as("a").join(n.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.r").as("region_id"), col("a.k").as("n1"), col("b.k").as("n2"))
    }),

    "q09_window_sessionize" -> ((s, d) => {
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
    }),

    // Sessionized conversion funnel: q09's 30-min-gap session numbering,
    // then per (user, session) the click->purchase conversion test
    // (strictly-after ordering on the nanos lattice), rolled up per user.
    // Composes lag window + running-sum window + two conditional aggs —
    // all BIGINT until the final counts.
    "q18_funnel" -> ((s, d) => {
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
    }),

    "q10_window_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, d, "orders")
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    }),

    "q11_json_extract" -> ((s, d) =>
      tbl(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy("event_type")
        .agg(sum(col("k")).as("k_sum"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), count(lit(1)).as("cnt"))),

    // ---- graph operators (SURVEY §2.b) ----
    // OLAP rollup: per-(flag, status) + per-flag subtotals + grand total
    // in one pass; money in integer cents (exact engine parity).
    "q12_rollup" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c"))),

    // CUBE: rollup's missing cross-slices ((), flag, status, flag×status)
    // in ONE pass — Catalyst expands the grouping sets into a single
    // Expand + aggregate, no per-slice rescan.
    "q12b_cube" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c"))),

    // GROUPING SETS: the explicit-slice form rollup/cube are sugar for —
    // an ASYMMETRIC set list ((flag, status), (flag), ()) that neither
    // sugar can express, still ONE Expand + aggregate pass. grouping_id()
    // is gated alongside: the bitmask that disambiguates NULL-as-subtotal
    // from NULL data, which any downstream consumer of slice frames needs.
    "q30_grouping_sets" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c"))),

    // EXACT weighted percentiles with NO global sort: value-axis range
    // chunks + carry (the ChunkedWindow/p08 two-level discipline on the
    // cumulative-weight axis); the oracle replays the ONE global
    // cumulative window the chunked plan must equal bit-for-bit.
    // Values = price cents, weights = quantity units.
    "q31_weighted_pctl" -> ((s, d) =>
      graft.operators.WeightedQuantiles.weightedPercentiles(
        tbl(s, d, "lineitem").select(cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w")),
        "v", "w", Seq(25, 50, 90, 99))),

    // GROUPED exact weighted percentiles (the per-language
    // quality-threshold query): the q31 chunk plan with the carry
    // window partitioned by group — no single-task stage anywhere.
    "q34_grouped_wpctl" -> ((s, d) =>
      graft.operators.WeightedQuantiles.weightedPercentilesBy(
        tbl(s, d, "lineitem").select(col("l_returnflag"),
          cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w")),
        "l_returnflag", "v", "w", Seq(50, 90))),

    // PIVOT: long->wide on an explicit value list (the only scale-safe
    // form — an unlisted pivot collects the distinct values to plan the
    // schema; listed, it is ONE pass of conditional aggregates).
    "q26_pivot" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_extendedprice"))))
        .withColumnRenamed("F", "f_cents").withColumnRenamed("O", "o_cents")),

    // UNPIVOT (melt): the wide frame back to long [flag, status, cents]
    // rows — a pure per-row expand, no shuffle beyond the pivot's own.
    "q26b_unpivot" -> ((s, d) => {
      val wide = tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_extendedprice"))))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("F"), col("O")), "l_linestatus", "cents")
        .filter(col("cents").isNotNull)
    }),

    // Binned point-in-interval join: purchases landing inside a 2-hour
    // click window of the same user — the range join as an equi-join on
    // (user, time bucket) with bounded interval replication, never the
    // O(n*m) nested-loop a raw theta-join plans.
    "q27_interval_join" -> ((s, d) => {
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
    }),

    // Native session_window aggregation (the BUILT-IN gap-session
    // operator — st04 gates the custom flatMapGroupsWithState form;
    // this gates Spark's own session merge path, which also serves
    // batch): per user, 30-min-gap sessions with count + cents-sum,
    // window bounds surfaced as exact epoch micros.
    "q29_session_window" -> ((s, d) => {
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
    }),

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
    "q28_trailing_window" -> ((s, d) =>
      operators.ChunkedWindow.trailingRange(
        eventsNanos(s, d)
          .select(col("event_id"), col("event_type"), col("ts"),
            cents(col("value")).as("v")),
        "ts", Seq("event_type"), frame = 3600000000000L) { w =>
        Seq(count(lit(1)).over(w).as("n_1h"),
          sum(col("v")).over(w).as("cents_1h"))
      }.select(col("event_id"), col("event_type"),
        col("n_1h"), col("cents_1h"))),

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
    "q13_percentiles" -> ((s, d) => {
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
    }),

    "g01_in_degrees" -> ((s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).inDegrees),

    "g02_out_degrees" -> ((s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).outDegrees),

    "g03_degrees_sym" -> ((s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).degrees),

    "g04_triplets_flat" -> ((s, d) => {
      val custs = tbl(s, d, "customer").select(col("c_custkey").as("id"), col("c_name").as("name"))
      val nations = tbl(s, d, "nation").select(
        (col("n_nationkey").cast(LongType) + 3000000L).as("id"), col("n_name").as("name"))
      val edges = tbl(s, d, "customer").select(
        col("c_custkey").as("src"), (col("c_nationkey").cast(LongType) + 3000000L).as("dst"))
      GraphFrame(custs.unionAll(nations), edges).triplets
        .select(
          col("src_vertex.id").as("src_id"), col("src_vertex.name").as("src_name"),
          col("dst_vertex.id").as("dst_id"), col("dst_vertex.name").as("dst_name"))
    }),

    "g05_pregel_indegree" -> ((s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).pregel
        .addVertexColumn("in_degree", lit(0L), coalesce(Pregel.defaultMsg, lit(0L)))
        .addMessage(lit(1L), MessageDirection.SrcToDst)
        .addAggregateExpr(sum(Pregel.defaultMsg))
        .maxIterations(1)
        .run().vertices
        .select(col("id"), col("in_degree"))),

    "g06_bfs" -> ((s, d) =>
      GraphFrame.fromEdges(custOrderPartEdges(s, d))
        .shortestPaths(Seq(1L)).maxIterations(4).run()
        .vertices.select(col("id"), col("dist_1").cast(LongType).as("dist_1"))),

    // LAYERED NEIGHBOR SAMPLING (g43 — the GNN mini-batch loader's
    // shape): fanout-bounded computation graphs from a seed set over
    // the cust→order→part DAG. The draw is the MIS md5 discipline
    // (portable 60-bit hash of "src:dst:seed:layer", ties by dst), so
    // the sample is a pure function of (graph, seed, fanouts) and the
    // oracle replays it exactly — a rand() sampler could only gate
    // counts.
    "g43_neighbor_sample" -> ((s, d) => {
      val seeds = tbl(s, d, "customer")
        .select(col("c_custkey").as("id"))
        .filter(pmod(col("id"), lit(100L)) === 1L)
      graft.algorithms.GraphSampling.neighborSample(
        custOrderPartEdges(s, d), seeds, Seq(3, 2), seed = 7L)
    }),

    // K-HOP EGO SUBGRAPH (g44 — g43's unsampled twin): every edge on a
    // directed path of length <= 2 out of the seed customers, tagged
    // with the hop at which its source is FIRST reached — each edge
    // once, edge-set-sized not path-count-sized. Oracle = min-distance
    // recursive CTE joined back to the edge set.
    "g44_ego_subgraph" -> ((s, d) => {
      val seeds = tbl(s, d, "customer")
        .select(col("c_custkey").as("id"))
        .filter(pmod(col("id"), lit(100L)) === 1L)
      graft.algorithms.GraphSampling.egoSubgraph(
        custOrderPartEdges(s, d), seeds, depth = 2)
    }),

    // WARM-START shortest paths (g42 — the BFS family's daily-delta
    // form, additions-only): yesterday's CONVERGED distances over ~4/5
    // of the DAG re-seed the relaxation over the full graph; round-1
    // frontier = the delta's sources only. Exact by the fixpoint
    // argument, so the oracle is the cold recursive-CTE BFS over the
    // full edge set (depth bound far past the DAG's depth).
    "g42_bfs_warm" -> ((s, d) => {
      val edges = custOrderPartEdges(s, d)
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val prev = GraphFrame.fromEdges(edges.filter(!isDelta))
        .shortestPaths(Seq(1L)).run().vertices
      GraphFrame.fromEdges(edges).shortestPaths(Seq(1L))
        .warmStart(prev, edges.filter(isDelta)).run()
        .vertices.select(col("id"), col("dist_1").cast(LongType).as("dist_1"))
    }),

    "g07_wcc" -> ((s, d) =>
      GraphFrame.fromEdges(custNationRegionEdges(s, d))
        .connectedComponents.run().components),

    // INCREMENTAL WCC (g34 — the daily-delta form): yesterday's labels
    // (WCC on ~4/5 of the edges) composed with today's hash-selected
    // delta through the contracted merge map — delta-bounded work plus
    // one V-sized label pass, never an E-sized edge re-scan. Oracle =
    // the g07 full-recompute replay verbatim: composition must be
    // bit-identical to recomputing over the union.
    "g34_wcc_incremental" -> ((s, d) => {
      val edges = custNationRegionEdges(s, d)
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val prev = GraphFrame.fromEdges(edges.filter(!isDelta))
        .connectedComponents.run().components
      graft.algorithms.ConnectedComponents.incremental(
        prev, edges.filter(isDelta))
    }),

    // INCREMENTAL WCC WITH DELETIONS (g37 — g34's missing half, the
    // r18-verdict gap): the same graph partitioned three ways by edge
    // hash — base = everything but the additions, removed = the %7==1
    // slice of the base (a takedown sweep), added = the %7==0 slice.
    // Yesterday's labels (full WCC on base) compose through the
    // affected-component recompute + the addition contraction. Oracle =
    // a full recursive-CTE recompute over the EDITED edge set, with
    // every original endpoint kept (stranded vertices become singleton
    // components): composition must be bit-identical.
    "g37_wcc_incremental_del" -> ((s, d) => {
      val edges = custNationRegionEdges(s, d)
      val bucket = pmod(col("src") + col("dst"), lit(7))
      val base = edges.filter(bucket =!= 0)
      val prev = GraphFrame.fromEdges(base)
        .connectedComponents.run().components
      graft.algorithms.ConnectedComponents.incrementalWithDeletions(
        prev, base, edges.filter(bucket === 0), base.filter(bucket === 1))
    }),

    // WARM-START PageRank (g40 — the ranking family's daily-delta form,
    // the r18-verdict gap): yesterday's RAW mass (cold 2-iter run on
    // ~4/5 of the edges, tol 1e-9) re-seeded over the FULL graph via
    // the residual restart, 2 more iterations. Oracle = the exact
    // unrolled replay: cold base iterations, the residual edge pass,
    // then the warm iterations with the abs(delta)>tol participation
    // filter — every float op mirrored in evaluation order.
    "g40_pagerank_warm" -> ((s, d) => {
      val edges = custNationRegionEdges(s, d)
      val isDelta = pmod(col("src") + col("dst"), lit(5)) === 0
      val prev = GraphFrame.fromEdges(edges.filter(!isDelta)).pageRank
        .tolerance(1e-9).maxIterations(2).run().rawMass
      GraphFrame.fromEdges(edges).pageRank
        .tolerance(1e-9).maxIterations(2).warmStart(prev).run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    }),

    "g08_pagerank" -> ((s, d) => {
      val edges = tbl(s, d, "customer").select(
        col("c_custkey").as("src"), (col("c_nationkey").cast(LongType) + 3000000L).as("dst"))
      GraphFrame.fromEdges(edges).pageRank.maxIterations(2).run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    }),

    "g09_kcore" -> ((s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).kCore.run()
        .vertices.select(col("id"), col("kcore"))),

    // WARM-START k-core (g41 — the k-core family's daily-delta form,
    // completing the incremental set): yesterday's coreness (cold run on
    // the base slice) re-seeds the capped h-index loop over the EDITED
    // graph — base minus the %7==1 takedowns plus the %7==0 additions —
    // through the sound seed least(degree, prev + |added|). The warm run
    // is EXACT by the monotone sandwich, so the oracle is a cold full
    // recompute over the edited edge set (iteration unroll past
    // convergence).
    "g41_kcore_warm" -> ((s, d) => {
      val edges = partSuppEdges(s, d)
      val bucket = pmod(col("src") + col("dst"), lit(7))
      val base = edges.filter(bucket =!= 0)
      val added = edges.filter(bucket === 0)
      val edited = edges.filter(bucket =!= 1)
      val prev = GraphFrame.fromEdges(base).kCore.run()
        .vertices.select(col("id"), col("kcore"))
      GraphFrame.fromEdges(edited).kCore.warmStart(prev, added).run()
        .vertices.select(col("id"), col("kcore"))
    }),

    // Capped run: exercises the DISTRIBUTED kcore_merge update rule (the
    // hybrid driver peel only engages in run-to-convergence mode), gated by
    // an unrolled 2-iteration SQL oracle.
    "g09b_kcore_capped" -> ((s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).kCore.maxIterations(2).run()
        .vertices.select(col("id"), col("kcore"))),

    "g10_mis" -> ((s, d) =>
      GraphFrame.fromEdges(partSuppEdges(s, d)).maximalIndependentSet.run()
        .vertices.select(col("id"))),

    // DISTRIBUTED Ghaffari rounds on the nation same-region graph, hybrid
    // disabled: the md5-based nomination draws make the loop a pure
    // function of (graph, seed), so the oracle replays the exact rounds in
    // SQL (misOracle). This is the hard gate for the distributed MIS path
    // — g10 above exercises the driver-greedy hybrid at bench scale.
    "g10b_mis_det" -> ((s, d) => {
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
    }),

    "g11_triangles" -> ((s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      GraphFrame(nations.select(col("k").as("id")), edges).triangleCount.run()
    }),

    // INCREMENTAL triangle counts (g35 — g34's companion for the
    // triangle family): yesterday's per-vertex counts (full run on ~4/5
    // of the edges) composed with today's hash-selected delta — new
    // triangles enumerate FROM the delta edges (common union-neighbors,
    // canonical-triple dedup), never re-running the base wedge
    // enumeration. Oracle = the g11 full-recompute replay verbatim:
    // composition must be bit-identical to recomputing over the union.
    "g35_triangles_incremental" -> ((s, d) => {
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
    }),

    // INCREMENTAL triangles WITH DELETIONS (g38 — g35's missing half):
    // same three-way hash split as g37 on the nation same-region graph.
    // Destroyed triangles enumerate FROM the removed edges (common
    // base-neighbors, canonical dedup, per-corner debit), then the
    // additions compose over the edited adjacency. Oracle = full
    // recompute over the edited edge set.
    "g38_triangles_incremental_del" -> ((s, d) => {
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
    }),

    // k-truss (edge-cohesion peeling, 2 capped rounds): customers form
    // c-n-r triangles only when c%3=0 (the others' c->n edges are
    // support-0 and peel in round 1); nation-region edges survive on the
    // triangle customers' support. Gates triangle-support counting, the
    // peel filter, and the recompute-after-removal loop.
    "g19_ktruss" -> ((s, d) => {
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
    }),

    // Co-purchase projection: the weighted part-part graph from order
    // membership (size-capped self-join, weight = shared orders >= 2).
    "g24_copurchase" -> ((s, d) =>
      graft.operators.CoOccurrence.projectPairs(
        tbl(s, d, "lineitem"), "l_orderkey", "l_partkey",
        maxGroupSize = 5, minWeight = 2L)),

    // Motif search (find() surface, beyond-reference): 2-hop paths on the
    // customer->order->part DAG, aggregated per customer. Named edge
    // structs feed the aggregate (e2.dst is the part endpoint), proving
    // the struct plumbing, while the join spine moves only id pairs.
    "g25_motif_2hop" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.find("(a)-[e]->(b); (b)-[e2]->(c)")
        .groupBy(col("a.id").as("cust"))
        .agg(count(lit(1)).as("n_paths"),
          countDistinct(col("e2.dst") - 1000000L).as("n_parts"))
    }),

    // BFS with materialized paths (find() finds fixed shapes; bfs finds
    // the shortest connection of unknown length): customers 1-5 to
    // round-hundred parts on the cust->order->part DAG — global minimal
    // level 2, one row per (order, lineitem) path instance.
    "g26_bfs_paths" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.bfs(
          col("id") <= 50L,
          col("id") >= 1000000L && col("id") < 4000000L &&
            (col("id") - 1000000L) % 10 === 0,
          maxPathLength = 4)
        .select(col("from.id").as("from_id"), col("v1.id").as("order_id"),
          col("to.id").as("to_id"))
    }),

    // Predicate-pushdown motif: the g25 2-hop spine on the WEIGHTED DAG,
    // keeping only line edges pricier than 5000000 cents — the predicate
    // prunes e2's edge SCAN before the join (plan-spec'd), not the
    // assembled paths.
    "g25c_motif_pred" -> ((s, d) => {
      val g = GraphFrame.fromEdges(weightedDagEdges(s, d))
      g.find("(a)-[e]->(b); (b)-[e2]->(c)",
          Map("e2" -> (col("weight") > 5000000L)))
        .groupBy(col("a.id").as("cust"))
        .agg(count(lit(1)).as("n_paths"),
          sum(col("e2.weight")).as("sum_cents"))
    }),

    // Negated-term motif: OPEN 2-paths (a->b->c with NO a->c edge) on a
    // chain+skip-link graph where the negation genuinely excludes rows
    // (every third chain wedge is closed by its skip link).
    "g25b_motif_negated" -> ((s, d) => {
      val ks = tbl(s, d, "customer").select(col("c_custkey").as("k"))
        .filter(col("k") <= 100)
      val chain = ks.filter(col("k") < 100)
        .select(col("k").as("src"), (col("k") + 1L).as("dst"))
      val skip = ks.filter(col("k") % 3 === 0 && col("k") <= 98)
        .select(col("k").as("src"), (col("k") + 2L).as("dst"))
      GraphFrame.fromEdges(chain.unionAll(skip))
        .find("(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
        .select(col("a.id").as("a"), col("b.id").as("b"), col("c.id").as("c"))
    }),

    // Strongly connected components (FW-BW coloring) on a synthetic cyclic
    // graph over the first 300 customers: 30 ten-cycles plus pseudo-random
    // chords from every third vertex — chords weld some cycles into larger
    // SCCs and leave tree tails as singletons; the oracle computes ground
    // truth from the full transitive closure.
    "g23_scc" -> ((s, d) => {
      val ks = tbl(s, d, "customer").select(col("c_custkey").as("k"))
        .filter(col("k") <= 300)
      val cyc = ks.select(col("k").as("src"),
        when(col("k") % 10 === 0, col("k") - 9).otherwise(col("k") + 1).as("dst"))
      val chord = ks.filter(col("k") % 3 === 0)
        .select(col("k").as("src"), ((col("k") * 7) % 300 + 1).as("dst"))
      graft.algorithms.StronglyConnectedComponents.run(cyc.unionAll(chord))
    }),

    // The FW-BW DISTRIBUTED arm of SCC, forced at gate scale
    // (smallGraphThreshold = 0 — the g09b/g10b discipline): every
    // iterative loop's distributed path carries its own oracle gate, not
    // just an equivalence spec against the driver arm.
    "g23b_scc_dist" -> ((s, d) => {
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
    }),

    // Local clustering coefficient on g19's mixed graph (every third
    // customer closes a cust-nation-region triangle): per-vertex
    // triangles over (d choose 2) on the micro lattice —
    // lcc = (2 * tri * 1e6) div (d * (d-1)), 0 below degree 2.
    "g22_clustering_coeff" -> ((s, d) => {
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
    }),

    // Landmark-sampled harmonic centrality on the SYMMETRIZED
    // customer-nation-region graph: one multi-landmark BFS (4 hops),
    // reciprocal distances on the exact micro lattice (1e6 div d).
    "g21_harmonic" -> ((s, d) => {
      val e = custNationRegionEdges(s, d)
      val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      graft.algorithms.HarmonicCentrality.run(
        sym, landmarks = Seq(1L, 3000003L), maxIter = 4)
    }),

    // Deterministic hash-guided random walks over the customer->order->part
    // DAG: 4 steps from every 100th customer. Customers' walks end at part
    // sinks after 2 hops — the gate exercises BOTH the per-step argmin draw
    // and sink termination. Each step is replayed move-for-move in the
    // DuckDB oracle from the same portable-hash draw.
    "g20_walks" -> ((s, d) =>
      graft.algorithms.RandomWalks.run(
        custOrderPartEdges(s, d),
        tbl(s, d, "customer").filter(col("c_custkey") % 100 === 0)
          .select(col("c_custkey")),
        "c_custkey", len = 4)),

    "g12_labelprop" -> ((s, d) =>
      GraphFrame.fromEdges(custNationRegionEdges(s, d))
        .labelPropagation.maxIterations(5).run()
        .vertices.select(col("id"), col("label"))),

    // Induced subgraph: vertex predicate over PROPERTIES (both endpoints
    // must survive the left-semi pruning) + an edge predicate on top.
    "g13_subgraph" -> ((s, d) => {
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
    }),

    // ---- dedup (training-data pipeline) ----
    "d01_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(tbl(s, d, "documents"), "doc_id", "text")),

    "d02_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(tbl(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8)),

    "d03_minhash_lsh" -> ((s, d) =>
      Dedup.minHashLsh(tbl(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8)),

    // LSH band calibration (the s25 measure-then-tune loop for dedup):
    // candidate recall of k=16 salted-md5 minhash banding vs the exact
    // >= 0.8 Jaccard pair set, swept over b = 2/4/8 bands; deploy marks
    // the cheapest banding meeting 95% recall. Integer ppm recalls —
    // the d16 discipline, no float anywhere.
    "d21_lsh_calibration" -> ((s, d) =>
      Dedup.lshBandCalibration(tbl(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, k = 16, bandOptions = Seq(2, 4, 8),
        recallTargetPpm = 950000L)),

    "d06_neardup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(tbl(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8)),

    // Corpus-level k-minwise signature + THE MERGE LAW in one gate: the
    // whole-corpus signature must equal the per-position least() of the
    // two half-corpus signatures — the fold that licenses per-partition
    // resemblance sketching at 100 TB (q19's law for the dedup family).
    "d15_minhash_union" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val whole = Dedup.corpusMinhash(docs, "text", n = 3, k = 16)
      val h1 = Dedup.corpusMinhash(
        docs.filter(col("doc_id") % 2 === 0), "text", n = 3, k = 16)
        .withColumnRenamed("sig", "s1")
      val h2 = Dedup.corpusMinhash(
        docs.filter(col("doc_id") % 2 =!= 0), "text", n = 3, k = 16)
        .withColumnRenamed("sig", "s2")
      whole.join(h1, "pos").join(h2, "pos")
        .select(col("pos"), col("sig").as("sig_all"),
          least(col("s1"), col("s2")).as("sig_merged"))
    }),

    // ...and the signature's USE: k-minwise resemblance of two corpora
    // (dataset-overlap audit before mixing) = fraction of positions where
    // the two signatures agree, on the ppm lattice. k-long inputs; the
    // estimate costs nothing once the signatures exist.
    "d16_corpus_resemblance" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val h1 = Dedup.corpusMinhash(
        docs.filter(col("doc_id") % 2 === 0), "text", n = 3, k = 16)
        .withColumnRenamed("sig", "s1")
      val h2 = Dedup.corpusMinhash(
        docs.filter(col("doc_id") % 2 =!= 0), "text", n = 3, k = 16)
        .withColumnRenamed("sig", "s2")
      h1.join(h2, "pos")
        .agg(count(lit(1)).as("k"),
          sum(when(col("s1") === col("s2"), 1L).otherwise(0L)).as("matches"))
        .select(col("k"), col("matches"),
          expr("matches * 1000000 div k").as("resemblance_ppm"))
    }),

    // ...and the N-way form: the pairwise resemblance MATRIX over 3
    // corpus slices from ONE grouped sketching pass — the dataset-level
    // overlap triage a mixing pipeline runs before any doc-level dedup.
    "d17_resemblance_matrix" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
        .withColumn("slice", col("doc_id") % 3)
      Dedup.corpusResemblanceMatrix(docs, "slice", "text", n = 3, k = 16)
    }),

    // Corpus-level removal: survivors of the d06 clustering (one min-id
    // representative per near-dup cluster).
    "d08_drop_neardups" -> ((s, d) =>
      Dedup.dropNearDuplicates(tbl(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8)
        .select(col("doc_id"), md5(col("text")).as("fp"))),

    "d04_simhash" -> ((s, d) =>
      Dedup.simHashPairs(tbl(s, d, "documents"), "doc_id", "text", n = 3, maxHamming = 3)),

    "d05_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(tbl(s, d, "embeddings"), "vec_id", "embedding", 0.45)),

    "d07_embed_neardup_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupLsh(tbl(s, d, "embeddings"), "vec_id", "embedding", 0.45)),

    // ---- similarity search ----
    "s01_cosine_topk" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.cosineTopK(e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "s02_ann_topk" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.annCosineTopK(e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    // Product-quantization codes (m=4 subspaces x 8 centroids): 12 bits
    // per vector — the compression tier below int8 (s06). Flattened to
    // (vec_id, s, code) rows so the oracle replays the per-subspace
    // integer-lattice argmin directly.
    "s10_pq_codes" -> ((s, d) =>
      Similarity.pqCodes(tbl(s, d, "embeddings"), "vec_id", "embedding",
          m = 4, kCent = 8)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
        .select(col("vec_id"), col("s").cast(LongType).as("s"),
          col("code").cast(LongType).as("code"))),

    // ADC search over the PQ codes: per-query distance TABLE + m lookups
    // per candidate, exact integer lattice distances end to end.
    "s11_pq_adc" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") <= 3), "vec_id", "embedding",
          k = 5, m = 4, kCent = 8)
        .withColumnRenamed("rank", "rnk")
    }),

    // PQ shortlist + EXACT rerank (the production ANN shape): ADC@50
    // shortlists at table-lookup cost, the 50 survivors per query pay an
    // exact lattice L2, top-5 by exact distance. Candidate-sized rerank
    // join, never corpus-sized.
    "s12_pq_rerank" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.pqTopKReranked(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, m = 8, kCent = 16, shortlist = 50)
        .withColumnRenamed("rank", "rnk")
    }),

    // IVF-PQ composed index (4 coarse cells, probe 2; residual PQ at
    // m=4 x 8): coarse cells prune the scan to ~nProbe/nCells, residual
    // codes score survivors with m table lookups — the production layout
    // for a 10^11-vector corpus. Exact integer lattice end to end.
    "s13_ivfpq" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8)
        .withColumnRenamed("rank", "rnk")
    }),

    // Trainer -> composed index: IVF-PQ probing a KMEANS-TRAINED coarse
    // quantizer (one Lloyd iteration on the micro lattice) — the s05
    // trained-IVF wiring lifted to the composed layout; the residual
    // codebook re-derives against the TRAINED cells.
    "s15_ivfpq_trained" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val coarse = KMeans.fitCentroids(e, "vec_id", "embedding",
        k = 4, nIter = 1)
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8, coarseOf = Some(coarse))
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8, indexOf = Some(idx))
        .withColumnRenamed("rank", "rnk")
    }),

    // FILTERED IVF-PQ (the production RAG shape): a metadata predicate
    // rides the index artifact and prunes on the INDEX side of the cell
    // equi-join BEFORE ADC scoring, so top-k is computed over survivors.
    // Post-filtering an unfiltered ranked top-k is NOT equivalent — a
    // filtered-out vector holding a top-k slot would leave a hole.
    "s16_ivfpq_filtered" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8,
          indexFilter = Some(col("label") % 2 === 0),
          metaCols = Seq("label"))
        .withColumnRenamed("rank", "rnk")
    }),

    // INCREMENTAL INDEX ADD (index maintenance): the corpus splits into
    // an "existing" part (vec_id % 4 != 0) that builds the index — so the
    // frozen coarse/book seeds come from IT, not the full corpus — and a
    // "delta" (vec_id % 4 == 0) that appends via a pure encode-under-
    // frozen-books scan (no retrain, no seed collect). Search probes the
    // MERGED artifact; the oracle replays encode-all-rows under the
    // old-subset seeds, which equals build+append iff the append really
    // froze the books.
    "s17_ivfpq_add" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nCells = 4, m = 4, kCent = 8)
      val merged = Similarity.ivfPqAdd(idx,
        e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8, indexOf = Some(merged))
        .withColumnRenamed("rank", "rnk")
    }),

    // UPSERT (the re-embedded-document case): the delta carries NEW ids
    // (vec_id % 4 == 0, original vectors) AND CHANGED vectors for ids
    // already indexed (vec_id % 8 == 1, every dim + 1.0 — exact on the
    // micro lattice: vq' = vq + 1e6, so the oracle replays it as integer
    // arithmetic). Existing artifact rows for changed ids are REPLACED
    // by encodes of the new vectors under the SAME frozen books; search
    // runs over the upserted artifact with the ORIGINAL query vectors.
    "s18_ivfpq_upsert" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nCells = 4, m = 4, kCent = 8)
      val delta = e.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .unionByName(e.filter(col("vec_id") % 8 === 1)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"), x => x + lit(1.0))
              .as("embedding")))
      val merged = Similarity.ivfPqUpsert(idx, delta, "vec_id", "embedding")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8, indexOf = Some(merged))
        .withColumnRenamed("rank", "rnk")
    }),

    // DURABLE index (the ingest-job -> serving-job handoff): build,
    // PERSIST as a bucketed-by-cell table + books sidecar, RELOAD, and
    // search the reloaded index with the probed-cell set pushed into the
    // bucketed scan as a literal filter (bucket pruning — the serving
    // job reads only probed cells' files). Oracle = the s13 SQL
    // verbatim: persistence must be invisible to search.
    "s20_ivfpq_persist" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s20_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s20_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    // DURABLE DELETE (the tombstone shape end to end): build, PERSIST,
    // tombstone the %5==2 ids (an O(delta) LOG append — the artifact is
    // never rewritten), serve — the pending log anti-joins at load, so
    // search equals an index that never contained those rows. Oracle =
    // the s21 SQL verbatim (candidates restricted to survivors): the
    // log, the storage round-trip, and the in-session ivfPqRemove must
    // be indistinguishable to search.
    "s26_ivfpq_table_remove" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s26_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqRemoveFromTable(
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")),
        "s26_ivfpq_idx", "vec_id")
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s26_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    // DURABLE APPEND (the ingest-job shape end to end): build on the
    // "existing" subset, PERSIST, append the delta INTO the table
    // (frozen-book encode, new bucket files — no rewrite of the
    // existing artifact), reload, search with pruning. Oracle = the s17
    // SQL verbatim: build-then-table-append must equal encoding
    // everything under the OLD books, through a storage round-trip.
    "s22_ivfpq_table_add" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s22_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqAddToTable(e.filter(col("vec_id") % 4 === 0),
        "s22_ivfpq_idx", "vec_id", "embedding")
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s22_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    // COMPACT (the maintenance quadrant append-only ingest creates):
    // build, persist, append INTO the table (new files per bucket),
    // then COMPACT — a bucket-spec-preserving rewrite through a staging
    // table + catalog swap that restores one file per bucket — and
    // search. Oracle = the s17 SQL verbatim: compaction moves bytes,
    // never codes, so build + persist + append + compact must STILL
    // equal encoding everything under the old books.
    "s23_ivfpq_compact" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s23_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqAddToTable(e.filter(col("vec_id") % 4 === 0),
        "s23_ivfpq_idx", "vec_id", "embedding")
      Similarity.ivfPqCompact(s, "s23_ivfpq_idx")
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s23_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    // DURABLE FILTERED SERVE (s28 — s16's production form): the
    // metadata predicate rides the PERSISTED artifact (metaCols write
    // with the codes) and prunes on the index side of the cell
    // equi-join before ADC scoring — composed with the probed-cell
    // literal pushdown, so the serving scan reads only probed buckets
    // AND scores only filter survivors. Oracle = the s16 SQL verbatim:
    // storage must be invisible to filtered search too.
    "s28_ivfpq_table_filtered" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8, metaCols = Seq("label"))
      Similarity.ivfPqSave(idx, "s28_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s28_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2,
          indexFilter = Some(col("label") % 2 === 0),
          metaCols = Seq("label"))
        .withColumnRenamed("rank", "rnk")
    }),

    // DURABLE UPSERT CADENCE (s27 — the re-embedding flow against a
    // PERSISTED table, the one index-CRUD seam s20–s26 left open):
    // build on the "existing" subset, persist, then run the composed
    // remove → compact → re-add cadence with the s18 delta (new %4==0
    // ids + changed %8==1 vectors) — tombstone the delta's ids (absent
    // ids no-op by anti-join semantics), compact to make the deletes
    // physical AND truncate the log (re-adding a tombstoned id before
    // compaction fails loud by design — the cadence is the documented
    // escape), append the delta under the frozen books, serve. Oracle =
    // the s18 SQL verbatim: the durable cadence and the in-session
    // ivfPqUpsert must be indistinguishable to search.
    "s27_ivfpq_table_upsert" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s27_ivfpq_idx", numBuckets = 4)
      val delta = e.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .unionByName(e.filter(col("vec_id") % 8 === 1)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"), x => x + lit(1.0))
              .as("embedding")))
      Similarity.ivfPqRemoveFromTable(delta.select(col("vec_id")),
        "s27_ivfpq_idx", "vec_id")
      Similarity.ivfPqCompact(s, "s27_ivfpq_idx")
      Similarity.ivfPqAddToTable(delta, "s27_ivfpq_idx",
        "vec_id", "embedding")
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s27_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    // PINNED-GENERATION SERVE (s29 — the serving-job contract the
    // snapshot and index-CRUD families left open between them): PIN a
    // coherent generation — data files + books + pending tombstones,
    // under one tag — then let index maintenance land (tombstone the
    // %5==2 ids, COMPACT — physical deletes, every original file
    // rewritten — then APPEND shifted rows under new ids): the LIVE
    // table is now a different generation, but serve-off-pin still
    // answers from the pinned one, bit-stable. Oracle = the s13 SQL
    // verbatim: the pin, the retained-file re-homing the compaction
    // forced, and the maintenance churn must all be invisible.
    "s29_ivfpq_pinned_serve" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s29_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqPin(s, "s29_ivfpq_idx", "serving")
      Similarity.ivfPqRemoveFromTable(
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")),
        "s29_ivfpq_idx", "vec_id")
      Similarity.ivfPqCompact(s, "s29_ivfpq_idx")
      Similarity.ivfPqAddToTable(
        e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + lit(100000)).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x + lit(1.0)).as("embedding")),
        "s29_ivfpq_idx", "vec_id", "embedding")
      Similarity.ivfPqSearchPinned(e.filter(col("vec_id") <= 3),
          "s29_ivfpq_idx", "serving", "vec_id", "embedding",
          k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    // DELETE (index CRUD's last quadrant): the index builds on the FULL
    // corpus — so the frozen books keep their full-corpus seeds — then
    // vec_id % 5 == 2 rows are REMOVED (left_anti, books untouched) and
    // search runs over the survivors. The oracle replays the s13 chain
    // with only the candidate set restricted — removal must equal an
    // index that never held those rows, WITHOUT re-deriving books from
    // the surviving subset (a rebuild WOULD re-derive: vec_id 2 is a
    // seed row, so rebuild-vs-remove produce different codes — exactly
    // what the shared-seed oracle discriminates).
    "s21_ivfpq_remove" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      val survived = Similarity.ivfPqRemove(idx,
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")), "vec_id")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8, indexOf = Some(survived))
        .withColumnRenamed("rank", "rnk")
    }),

    // Recall evaluation (the knob-turning loop's measurement): IVF-PQ
    // quantized-L2 search (the s13 chain) scored per query against
    // exact-cosine truth (the s01 brute force) on the same query set —
    // hits, exact_n, recall = hits/exact_n, zero-hit queries kept. The
    // oracle composes the two chains' SQL verbatim and replays the join.
    "s24_ann_recall" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val q = e.filter(col("vec_id") <= 3)
      val approx = Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
        k = 5, nCells = 4, nProbe = 2, m = 4, kCent = 8)
      val exact = Similarity.cosineTopK(e, q, "vec_id", "embedding", k = 5)
      Similarity.annRecall(exact, approx, "query_id", "neighbor_id")
    }),

    // nProbe auto-tune (s24's measurement loop closed into a DECISION):
    // sweep nProbe 1..nCells, score each sweep point against exact
    // truth, mark the smallest nProbe meeting the recall target — the
    // number the serving job deploys with. The whole curve is kept
    // (its knee is the retrain-vs-probe-harder signal).
    "s25_ivfpq_tune" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqTuneNProbe(idx, e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, target = 0.6)
        .withColumn("nprobe", col("nprobe").cast("bigint"))
    }),

    // Binary (1-bit sign) quantization + Hamming scan: the memory tier
    // below int8/PQ — 64 dims pack into two 32-bit long words, Hamming
    // distance = XOR + POPCNT per word, ties to the smaller id.
    "s19_binary_hamming" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.binaryHammingTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", dim = 64, k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    // Two-stage binary search: Hamming shortlist of 50 on the 1-bit
    // codes, exact integer micro-lattice L2 re-rank of only those rows
    // (the s12 rerank discipline on the binary candidate generator).
    "s19b_binary_rerank" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.binaryHammingTopKReranked(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", dim = 64, k = 5, shortlist = 50)
        .withColumnRenamed("rank", "rnk")
    }),

    // Trainer -> PQ wiring: one per-subspace Lloyd iteration refines the
    // first-kCent init codebook, then codes re-derive against the TRAINED
    // book (vs s10's init book) — gating the pqTrain -> pqCodes path
    // production PQ depends on, the s05 discipline applied to PQ.
    "s14_pq_trained_codes" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val book = Similarity.pqTrain(e, "vec_id", "embedding",
        m = 4, kCent = 8, nIter = 1)
      Similarity.pqCodes(e, "vec_id", "embedding", m = 4, kCent = 8,
          codebookOf = Some(book))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
        .select(col("vec_id"), col("s").cast(LongType).as("s"),
          col("code").cast(LongType).as("code"))
    }),

    // Late-interaction MaxSim: embeddings grouped by label are the
    // multi-vector "documents"; a query scores a group by its best-
    // matching member, top-3 groups per query. Shuffle is bounded at
    // queries x groups by the partial max.
    "s07_maxsim_topk" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.maxSimTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "label", k = 3)
        .withColumnRenamed("rank", "rnk")
    }),

    // Positional phrase search: inverted-index intersection pruned to the
    // phrase's terms at the scan; counts ALL start positions per doc.
    "s08_phrase_match" -> ((s, d) =>
      graft.operators.Retrieval.phraseMatch(
        tbl(s, d, "documents"), "doc_id", "text", Seq("big", "query"))),

    // Hybrid retrieval: RRF fusion of the BM25 top-5 (s04's plan) and a
    // dense cosine top-5 (s01's plan) on the same %100 query ids — exact
    // integer micros, heap top-k, no window over anything corpus-sized.
    "s09_rrf_fusion" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val sparse = Retrieval.bm25TopK(docs,
        docs.filter(col("doc_id") % 100 === 0), "doc_id", "text", k = 5)
        .select("query_id", "doc_id", "rnk")
      val e = tbl(s, d, "embeddings")
      val dense = Similarity.cosineTopK(e, e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rnk"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 5)
    }),

    // INT8-quantized cosine top-k: 1 byte/dim storage, integer dot
    // scoring (exact in the double domain), scale cancels out of cosine.
    "s06_int8_topk" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.int8CosineTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "s03_ivf_topk" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.ivfCosineTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
        .withColumnRenamed("rank", "rnk")
    }),

    // ---- text analysis ----
    "t01_token_stats" -> ((s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("tok_cnt"),
        size(array_distinct(TextFunctions.tokenNgrams(col("text"), 3))).cast(LongType)
          .as("ngram3_cnt"))),

    "t02_quality_langid" -> ((s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langId(col("text")).as("lang_pred"))),

    "t03_fingerprints" -> ((s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        size(TextFunctions.fingerprints(col("text"), 3, 4)).cast(LongType).as("fp_cnt"),
        array_min(TextFunctions.fingerprints(col("text"), 3, 4)).as("min_fp"))),

    // Corpus-wide most-frequent bigrams (boilerplate / contamination
    // analysis): map-side-combining counts, then TakeOrdered's
    // per-partition top-k + driver merge — no global sort. Ties break on
    // the gram so the LIMIT boundary is deterministic.
    "t06_top_ngrams" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(20)),

    // Sequence packing: the (doc, training-sequence) overlap table for a
    // 128-token context window. Gates the distributed two-phase prefix sum
    // against the oracle's single windowed SUM — same integers, different
    // execution shape (that is the point).
    "t09_pack" -> ((s, d) =>
      TextFunctions.packSequences(tbl(s, d, "documents"), "doc_id", "text", seqLen = 128L)),

    // Bigram PMI collocations: exact BIGINT counts, one fixed-association
    // float per row. Gates pmiBigrams end to end (tokenization, both count
    // aggregations, the two unigram joins, the probability formula).
    "t10_pmi" -> ((s, d) =>
      TextFunctions.pmiBigrams(tbl(s, d, "documents"), "doc_id", "text", minCount = 3L)),

    // Bigram-LM perplexity scoring (CCNet-style quality filter),
    // self-trained on the corpus: add-one-smoothed conditionals, per-pair
    // NLL floored to integer micros BEFORE the per-doc sum (exact BIGINT
    // aggregation — order-independent), one fixed-order float average at
    // the end. Gates tokenization, both count tables, the smoothing
    // formula, and the lattice discipline end to end.
    "t11_perplexity" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      TextFunctions.bigramLmNll(docs, docs, "doc_id", "text")
    }),

    // C4 line-level cleanup + dedup over a SYNTHESIZED multi-line corpus
    // (the raw docs are single-line): newline every 8 words, then a
    // terminal '.' appended to lines where (doc_id + line_no) % 3 != 0 —
    // so BOTH boilerplate rules bite (unpunctuated lines drop, short tail
    // lines drop) before the corpus-wide keep-first line dedup.
    "t16_line_dedup" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val ml = docs.select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+\\s+){7}\\S+)\\s+", "$1\n").as("t"))
      val lines = split(col("t"), "\n")
      val aug = array_join(
        zip_with(lines, sequence(lit(0), size(lines) - 1),
          (l, i) => when((col("doc_id") + i) % 3 =!= 0, concat(l, lit(".")))
            .otherwise(l)),
        "\n")
      TextFunctions.c4LineDedup(ml.select(col("doc_id"), aug.as("text")),
        "doc_id", "text", minWords = 3, requireTerminalPunct = true)
    }),

    // TF-IDF keyword extraction: top-3 terms per doc on the integer
    // micro-lattice (smooth idf, fixed float association) — tf from one
    // corpus scan, df off the cached tf table, vocab-sized term join.
    "t15_tfidf_topk" -> ((s, d) =>
      TextFunctions.tfIdfTopK(tbl(s, d, "documents"), "doc_id", "text", k = 3)),

    // Composite Gopher-style admission filter: per-doc violation bitmask
    // + keep flag over five rules (token count, mean token length,
    // quality, dup-token fraction, top-bigram fraction) — all reusing
    // already-gated formulas, decided on engine-exact values.
    "t14_quality_mask" -> ((s, d) =>
      TextFunctions.compositeQualityFilter(tbl(s, d, "documents"), "doc_id", "text")),

    // Distributed BPE merge TRAINING (the tokenizer-side twin of t07's
    // pre-tokenization): 10 greedy top-pair merge rounds on the word
    // histogram, deterministic tie-break, one row collected per round.
    // Gates the histogram build, pair explode, argmax reduction and the
    // left-to-right merge application across all 10 unrolled rounds.
    "t12_bpe_merges" -> ((s, d) =>
      TextFunctions.bpeTrainMerges(tbl(s, d, "documents"), "text", rounds = BpeRounds)),

    // BPE apply (tokenizer inference): replay the 10 trained merges per
    // word — literal replace chain, one narrow codegen'd corpus scan, no
    // vocabulary join — and report per-doc chars + post-merge tokens.
    "t13_bpe_segment" -> ((s, d) =>
      TextFunctions.bpeSegmentStats(tbl(s, d, "documents"), "doc_id", "text",
        rounds = BpeRounds)),

    // Portable HyperLogLog: the full 256-row register table (exact
    // integers — gates hashing, register split, rank arithmetic) ...
    "q14_hll_registers" -> ((s, d) =>
      graft.operators.Sketches.hllRegisters(tbl(s, d, "lineitem"), "l_partkey", p = 8)),

    // ... and the one-row estimate off it (scaled-integer harmonic sum;
    // single rounded float division at the end).
    "q14b_hll_estimate" -> ((s, d) =>
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(tbl(s, d, "lineitem"), "l_partkey", p = 8),
        p = 8)),

    // Linear-counting-corrected estimate, keyed low-cardinality on purpose
    // (l_suppkey ~ 100 distinct at sf0.01 << 2.5 * 256): the corrected
    // branch actually fires, gating the n_zero condition AND the
    // m * ln(m / n_zero) float path against DuckDB's ln.
    "q14c_hll_corrected" -> ((s, d) =>
      graft.operators.Sketches.hllEstimateCorrected(
        graft.operators.Sketches.hllRegisters(tbl(s, d, "lineitem"), "l_suppkey", p = 8),
        p = 8)),

    // Count-min heavy-hitters: the full 4x1024 counter grid over the t06
    // bigram stream (exact integers — gates the per-row salted hash, the
    // mod-width split, and the zero-materialized shape).
    "q15_cms_registers" -> ((s, d) =>
      graft.operators.Sketches.cmsRegisters(
        tbl(s, d, "documents")
          .select(explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram")),
        "gram", depth = 4, width = 1024)),

    // ... and point estimates for the exact top-20 bigrams (the t06
    // result): est_cnt = min over the 4 counters, always >= the true cnt.
    // Carrying the exact cnt alongside gates the containment property
    // row-by-row, not just the sketch internals. ONE corpus scan: the
    // vocabulary-sized gram-count aggregate is scope-cached and feeds
    // both the exact top-20 and the weighted-ingest grid.
    "q15b_cms_topk" -> ((s, d) =>
      graft.operators.CacheScope.scoped { scope =>
        val gramCounts = scope.cache(tbl(s, d, "documents")
          .select(explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("cnt")))
        val top = gramCounts.orderBy(col("cnt").desc, col("gram")).limit(20)
        graft.operators.Sketches.cmsEstimates(
          graft.operators.Sketches.cmsRegistersFromCounts(
            gramCounts, "gram", "cnt", depth = 4, width = 1024),
          top, "gram", depth = 4, width = 1024)
      }),

    // Fixed-bin histogram sketch (the quantile member of the mergeable
    // family): all 256 [bin, cnt] rows over events.value on the cents
    // lattice — exact integers, gating the clamp, the div binning and
    // the zero-materialized shape.
    "q16_hist_registers" -> ((s, d) =>
      graft.operators.Sketches.histRegisters(
        tbl(s, d, "events").select(cents(col("value")).as("v")),
        "v", lo = 0L, binWidth = 200L, binCount = 256)),

    // ... and p50/p95/p99 off the registers: integer target ranks, the
    // smallest bin whose cumulative count reaches them, upper-edge
    // estimate — all BIGINT, nothing for the oracle to disagree with.
    "q16b_hist_quantiles" -> ((s, d) =>
      graft.operators.Sketches.histQuantiles(
        graft.operators.Sketches.histRegisters(
          tbl(s, d, "events").select(cents(col("value")).as("v")),
          "v", lo = 0L, binWidth = 200L, binCount = 256),
        lo = 0L, binWidth = 200L, permilles = Seq(500, 950, 990))),

    // Sketch MERGE gates: the property that makes every sketch here a
    // 100 TB operator is that per-partition/per-day sketches combine into
    // the exact whole-corpus sketch. Each query builds TWO half sketches
    // (orderkey parity split — cuts across all partitions), merges them
    // with the family's merge op, and must hash-equal the WHOLE-corpus
    // oracle: HLL merges by per-register greatest...
    "q19_hll_merge" -> ((s, d) => {
      val li = tbl(s, d, "lineitem")
      val a = graft.operators.Sketches.hllRegisters(
        li.filter(col("l_orderkey") % 2 === 0), "l_partkey", p = 8)
      val b = graft.operators.Sketches.hllRegisters(
        li.filter(col("l_orderkey") % 2 === 1), "l_partkey", p = 8)
      a.join(b.withColumnRenamed("max_rank", "mr_b"), Seq("register"))
        .select(col("register"),
          greatest(col("max_rank"), col("mr_b")).as("max_rank"))
    }),

    // ... count-min by elementwise addition...
    "q19b_cms_merge" -> ((s, d) => {
      val grams = tbl(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram"))
      val a = graft.operators.Sketches.cmsRegisters(
        grams.filter(col("doc_id") % 2 === 0).select("gram"), "gram", depth = 4, width = 1024)
      val b = graft.operators.Sketches.cmsRegisters(
        grams.filter(col("doc_id") % 2 === 1).select("gram"), "gram", depth = 4, width = 1024)
      a.join(b.withColumnRenamed("cnt", "cnt_b"), Seq("row", "col"))
        .select(col("row"), col("col"), (col("cnt") + col("cnt_b")).as("cnt"))
    }),

    // ... and the histogram by elementwise addition too.
    "q19c_hist_merge" -> ((s, d) => {
      val ev = tbl(s, d, "events").select(col("event_id"), cents(col("value")).as("v"))
      val a = graft.operators.Sketches.histRegisters(
        ev.filter(col("event_id") % 2 === 0), "v", lo = 0L, binWidth = 200L, binCount = 256)
      val b = graft.operators.Sketches.histRegisters(
        ev.filter(col("event_id") % 2 === 1), "v", lo = 0L, binWidth = 200L, binCount = 256)
      a.join(b.withColumnRenamed("cnt", "cnt_b"), Seq("bin"))
        .select(col("bin"), (col("cnt") + col("cnt_b")).as("cnt"))
    }),

    // As-of join (the "last known value" join): every event annotated with
    // the same user's most recent PURCHASE at-or-before it — probe = all
    // events, build = purchase events deduped per (user, ts) by max
    // event_id (max_by on both engines; an as-of match is ill-defined
    // under build duplicates). Exercises: equal-t inclusion (a purchase
    // matches itself), no-predecessor NULLs, and the single-pass merge
    // shape (one Exchange + one in-partition sort, zero row replication —
    // plan-spec'd). Oracle: DuckDB native ASOF LEFT JOIN on epoch_ns.
    "q20_asof_join" -> ((s, d) => {
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
    }),

    // FORWARD as-of with a match window (pandas merge_asof
    // direction='forward' + tolerance): each event attributed to the
    // NEXT purchase by the same user within 2 hours — the q20 merge
    // shape mirrored (probe-first tie order, backward first() carry),
    // tolerance as a post-carry null-out. The oracle enumerates
    // bounded candidates and argmins; the operator never does.
    "q32_asof_forward" -> ((s, d) => {
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
    }),

    // NEAREST as-of (q36 — merge_asof direction='nearest' + tolerance,
    // completing the direction trio q20/q32/q36): the sensor/price
    // alignment join — |Δt|-argmin within the window, ties to the
    // EARLIER match. Same single-pass merge shape: both carries over
    // ONE sorted frame, a per-row distance pick, zero row replication.
    "q36_asof_nearest" -> ((s, d) => {
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
    }),

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
    "g39_lcc_incremental_del" -> ((s, d) => {
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
    }),

    // driven through to the quality metric a corpus-graph pipeline
    // actually publishes): triangles compose via the delta enumeration,
    // degrees compose EXACTLY as prev + delta-incident endpoint counts
    // (the delta is edge-disjoint from the base by construction), and
    // the g22 micro-lattice formula reads off the composed pair.
    // Oracle = the full union-graph LCC replay: composition must be
    // bit-identical to recomputing both inputs from scratch.
    "g36_lcc_incremental" -> ((s, d) => {
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
    }),

    // Salted skew join: lineitem x orders on orderkey with an 8-way salt
    // split (dim replicated 8x, fact rows spread within each key by a
    // payload hash). ANY salt assignment must yield the plain join —
    // that invariance is the gate.
    "q22_salted_join" -> ((s, d) =>
      graft.operators.SkewJoin.saltedJoin(
          tbl(s, d, "lineitem"), "l_orderkey",
          tbl(s, d, "orders").select("o_orderkey", "o_orderpriority"),
          "o_orderkey",
          saltBy = Seq("l_partkey", "l_linenumber"), nSalts = 8)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))),

    // CDC-style latest-version compaction: one max_by(struct) aggregate
    // per user — no window, no sort; ties on ts break by event_id.
    "q23_latest_version" -> ((s, d) =>
      eventsNanos(s, d)
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"),
          col("event_type"), cents(col("value")).as("cents"))).as("w"))
        .select(col("user_id"), col("w.ts").as("last_ts"),
          col("w.event_id").as("last_event_id"),
          col("w.event_type").as("last_type"),
          col("w.cents").as("last_value_cents"))),

    // Exact integer Gram matrix over the quantized embedding lattice —
    // the PCA/whitening/covariance input as ONE dim^2-state aggregate
    // (map-side combinable; corpus reduces to partitions x 4096 longs).
    // Output: the upper triangle, row-major indices.
    "e02_gram_matrix" -> ((s, d) =>
      KMeans.quantize(tbl(s, d, "embeddings"), "vec_id", "embedding")
        .agg(graft.functions.GramMatrixAgg.gram_matrix(col("vq")).as("g"))
        .select(posexplode(col("g")).as(Seq("p", "v")))
        .select(expr("p div 64").cast(LongType).as("i"),
          expr("p % 64").cast(LongType).as("j"), col("v").as("gram"))
        .filter(col("i") <= col("j"))),

    // Top eigenvector (leading PCA direction) by integer power iteration
    // on the distributed Gram build — 3 rounds, floorDiv renormalization.
    "e03_top_eigenvector" -> ((s, d) =>
      graft.operators.Spectral.topEigenvector(
        tbl(s, d, "embeddings"), "vec_id", "embedding", iters = 3)),

    // WARM-START power iteration (e04 — continual training for the
    // spectral family, the k03 cadence): yesterday's direction (3
    // rounds over the vec_id % 4 != 0 subset) resumes over the FULL
    // corpus's Gram for 2 rounds. Integer-exact end to end, so the
    // oracle replays both chains verbatim.
    "e04_eigenvector_warm" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val prev = graft.operators.Spectral.topEigenvector(
        emb.filter(pmod(col("vec_id"), lit(4)) =!= 0),
        "vec_id", "embedding", iters = 3)
      val init = prev.orderBy("i").collect().map(_.getLong(1))
      graft.operators.Spectral.topEigenvector(
        emb, "vec_id", "embedding", iters = 2, Some(init))
    }),

    // ...and the projection scores — the curation ranking along the
    // trained axis, one codegen scan with the direction folded in.
    "e03b_pca_scores" -> ((s, d) =>
      graft.operators.Spectral.pcaScores(
        tbl(s, d, "embeddings"), "vec_id", "embedding", iters = 3)),

    // Deterministic mixture-interleave keys: reading docs by ascending
    // key visits every lang at its proportional cadence — the stationary
    // data-loader order, rerun-identical.
    "p07_interleave" -> ((s, d) =>
      Sampling.mixtureInterleaveKeys(tbl(s, d, "documents"), "lang", "doc_id")),

    // GPT-style concat-and-chop sequence packing: each document's
    // coordinates on the chopped global token axis (seq_id/seq_off of its
    // first token, sequences spanned) via the two-level distributed
    // prefix sum — one window per hash-RANGE shard plus a driver prefix
    // over the 32 shard totals; shard boundaries may legally fall
    // mid-sequence and the coordinates are nShards-invariant (the oracle
    // replays the single global (hash, key)-ordered running sum).
    "p08_sequence_pack" -> ((s, d) =>
      Sampling.packSequences(
        tbl(s, d, "documents")
          .withColumn("n_toks", TextFunctions.tokenCount(col("text"))),
        "doc_id", "n_toks", seqLen = 1024L)),

    // Deterministic contrastive negatives: every vector (anchor) pairs
    // with k=4 rows at seeded cyclic offsets on the hash-rank axis —
    // balanced permutation pairing, no randomness — and pairs sharing
    // the anchor's label drop (the false-negative guard, slots not
    // refilled).
    "p09_negative_pairs" -> ((s, d) =>
      Sampling.negativePairs(tbl(s, d, "embeddings"), "vec_id", k = 4,
        seed = "p09", excludeCol = Some("label"))),

    // Epoch shuffle: a seeded deterministic permutation with CONTIGUOUS
    // global positions — per-shard row_number windows + a driver prefix
    // over nShards longs (the p08 two-level discipline, unit weights).
    // The oracle is the ONE global row_number over (h, doc_id) that the
    // sharded form must equal rank-for-rank.
    "p10_epoch_shuffle" -> ((s, d) =>
      Sampling.epochShuffle(tbl(s, d, "documents"), "doc_id",
        seed = "epoch-0")),

    // Priority sampling (Duffield–Lund–Thorup): k=64 docs weighted by
    // n_chars, each carrying the unbiased subset-sum estimator
    // max(w, tau). Priorities are md5-hash uniforms through two IEEE
    // divisions (one exact by 2^60) — no rand, no libm — so priority,
    // tau, and est_weight replay bit-exact in the oracle.
    "p11_priority_sample" -> ((s, d) =>
      Sampling.prioritySample(tbl(s, d, "documents"), "doc_id", "n_chars",
        k = 64, seed = "p11e0")),

    // Stratified priority sampling: k=8 docs PER SOURCE, each with its
    // source's own max(w, tau_g) estimator — per-domain subsampling
    // that keeps per-domain token masses unbiasedly estimable. Heap
    // selection (no window), per-group tau read off the heap.
    "p12_stratified_priority" -> ((s, d) =>
      Sampling.stratifiedPrioritySample(tbl(s, d, "documents"),
        "source", "doc_id", "n_chars", k = 8, seed = "p12e0")),

    // Streaming stratified priority sampling: per-category monotone
    // top-(k+1) candidate state at ingest; the drained union finalizes
    // through the BATCH p12 selection verbatim (same seed ⇒ identical
    // priorities; containment per category) — p12's oracle unchanged.
    "st26_stream_strat_priority" -> ((s, d) => {
      val cand = drainStream(
        graft.streaming.Streams.streamingStratifiedPriorityCandidates(
          streamTbl(s, d, "documents")
            .select(col("source"), col("doc_id"), col("n_chars")),
          "source", "doc_id", "n_chars", k = 8, seed = "p12e0").toDF(),
        "st26_sink", "append")
      Sampling.stratifiedPrioritySample(
        cand.select(col("cat").as("source"), col("key").as("doc_id"),
          col("weight").as("n_chars")),
        "source", "doc_id", "n_chars", k = 8, seed = "p12e0")
    }),

    // Streaming KMV maintenance (the sketch-state trio's min-k member,
    // next to st07 HLL max-state and st08 CMS sum-state): per-slice
    // bottom-64 candidate state, drained union fed to the SHARED
    // kmvSetEstimates tail — order-free by the bottom-k containment
    // argument, so q35's oracle gates it verbatim.
    "st25_stream_kmv" -> ((s, d) => {
      val cand = drainStream(
        graft.streaming.Streams.streamingKmvCandidates(
          streamTbl(s, d, "lineitem")
            .filter(col("l_returnflag").isin("A", "R"))
            .select(col("l_returnflag"), col("l_partkey")),
          "l_returnflag", "l_partkey", k = 64).toDF(),
        "st25_sink", "append")
      graft.operators.Sketches.kmvSetEstimates(
        cand.select(col("slice"), col("h")), "A", "R", k = 64)
    }),

    // Streaming twin of p11: per-shard monotone top-(k+1) candidate
    // state (nShards*(k+1) entries TOTAL, stream-length-independent),
    // candidates drained then finalized with the SHARED batch tail —
    // order-free, so the p11 oracle gates it verbatim.
    "st24_stream_priority_sample" -> ((s, d) => {
      val cand = drainStream(
        graft.streaming.Streams.streamingPriorityCandidates(
          streamTbl(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 64, seed = "p11e0").toDF(),
        "st24_sink", "append")
      Sampling.priorityFinalize(
        cand.select(col("key").as("doc_id"), col("weight"), col("priority")),
        "doc_id", k = 64)
    }),

    // Cohort retention: users bucketed by first-activity week, distinct
    // actives per (cohort, weeks-since) — two map-side-combinable
    // aggregates sharing the user_id partitioning, no window.
    "q25_cohort_retention" -> ((s, d) => {
      val wk = eventsNanos(s, d)
        .select(col("user_id"), expr("ts div 604800000000000").as("w"))
        .distinct()
      val cohort = wk.groupBy("user_id").agg(min("w").as("c0"))
      wk.join(cohort, "user_id")
        .groupBy(col("c0").as("cohort_week"), (col("w") - col("c0")).as("offset"))
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // CDC MERGE apply: a deterministic change set (every 17th key deleted,
    // every remaining 5th updated, every 13th key re-inserted shifted)
    // against the orders snapshot — one full-outer join, projection-only
    // resolution. The gate hashes the ENTIRE next snapshot.
    "q24_merge_apply" -> ((s, d) => {
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
    }),

    // Bloom-pruned semi join (the runtime-filter pattern): the urgent-order
    // key set builds ONE packed-bitset row (map-side OR-combined), a codegen
    // bloom probe prunes the lineitem scan BEFORE any shuffle, and a
    // left-semi against the distinct keys removes the false positives —
    // the result is exact for ANY bitset contents, which is precisely what
    // the hash gate checks.
    "q21_bloom_semijoin" -> ((s, d) => {
      val urgent = tbl(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      graft.operators.RuntimeFilter.bloomSemiJoin(
          tbl(s, d, "lineitem"), "l_orderkey", urgent, "o_orderkey",
          mBits = 1 << 16, kHashes = 3)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
    }),

    // Per-group HLL (p=6): distinct parts per return flag as 3 bounded
    // register tables — the distinct-per-slice profiling query at
    // groups x 64 rows instead of a raw-pair distinct shuffle.
    "q17_hll_grouped" -> ((s, d) =>
      graft.operators.Sketches.hllGroupedRegisters(
        tbl(s, d, "lineitem"), "l_returnflag", "l_partkey", p = 6)),

    // KMV/theta set operations (what HLL cannot do): bottom-64 sketches
    // of distinct partkeys per returnflag, merged A∪R, theta + both
    // estimators — integer sketch values, two IEEE divisions, the p11
    // float discipline.
    "q35_kmv_setops" -> ((s, d) => {
      val sk = graft.operators.Sketches.kmvSketchBy(
        tbl(s, d, "lineitem").filter(col("l_returnflag").isin("A", "R")),
        "l_returnflag", "l_partkey", k = 64)
      graft.operators.Sketches.kmvSetEstimates(sk, "A", "R", k = 64)
    }),

    // Approximate distinct per ROLLUP slice (sketches × OLAP lattice):
    // HLL register tables for (flag, status) / (flag) / () in ONE
    // Expand pass, estimated per slice — integer sum_scaled/n_zero
    // anchors, gid = the (g1, g2) GROUPING bitmask.
    "q33_rollup_distinct" -> ((s, d) =>
      graft.operators.Sketches.hllRollupEstimate(
        graft.operators.Sketches.hllRollupRegisters(
          tbl(s, d, "lineitem"), "l_returnflag", "l_linestatus",
          "l_partkey", p = 6),
        "l_returnflag", "l_linestatus", p = 6)),

    // ... and the per-group estimates off those registers (integer
    // harmonic sum, one rounded division per group).
    "q17b_hll_grouped_est" -> ((s, d) =>
      graft.operators.Sketches.hllGroupedEstimate(
        graft.operators.Sketches.hllGroupedRegisters(
          tbl(s, d, "lineitem"), "l_returnflag", "l_partkey", p = 6),
        "l_returnflag", p = 6)),

    // Per-group CMS (4x64): part-frequency grids per return flag — the
    // frequency-per-slice profiling twin of q17's distinct-per-slice HLL.
    // groups x depth x width bounded rows; per-slice grids merge by `+`.
    "q17c_cms_grouped" -> ((s, d) =>
      graft.operators.Sketches.cmsGroupedRegisters(
        tbl(s, d, "lineitem"), "l_returnflag", "l_partkey",
        depth = 4, width = 64)),

    // ... and per-group heavy-hitters through the grid: exact top-5 parts
    // per flag (deterministic cnt DESC, key tiebreak) probed against
    // their group's sketch — est_cnt >= cnt by construction, equality
    // exactness both engines replay.
    "q17d_cms_grouped_est" -> ((s, d) => {
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
    }),

    // Grouped histogram (the quantile member completing the grouped-sketch
    // family): per-event-type value distribution on the cents lattice at
    // groups x 64 rows.
    "q17e_hist_grouped" -> ((s, d) =>
      graft.operators.Sketches.histGroupedRegisters(
        tbl(s, d, "events").select(col("event_type"), cents(col("value")).as("v")),
        "event_type", "v", lo = 0L, binWidth = 800L, binCount = 64)),

    // ... and per-slice p50/p95/p99 off the grouped registers — every
    // join/window sketch-sized, never data-sized.
    "q17f_hist_grouped_q" -> ((s, d) =>
      graft.operators.Sketches.histGroupedQuantiles(
        graft.operators.Sketches.histGroupedRegisters(
          tbl(s, d, "events").select(col("event_type"), cents(col("value")).as("v")),
          "event_type", "v", lo = 0L, binWidth = 800L, binCount = 64),
        "event_type", lo = 0L, binWidth = 800L, permilles = Seq(500, 950, 990))),

    // BPE-ish pre-tokenization counts (total + distinct-pretoken "vocab"):
    // the RE2-portable regex runs verbatim in the oracle.
    "t07_bpe_tokens" -> ((s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe_cnt"),
        size(array_distinct(TextFunctions.bpeTokens(col("text")))).cast(LongType)
          .as("bpe_vocab"))),

    // PII redaction gate: the corpus text is augmented with a synthetic
    // MIXED-CASE email + fixed-width phone derived from doc_id (both sides
    // build the identical string), then scrubbed. Gates the real redaction
    // path — md5 of the scrubbed text catches any divergence in match/
    // replace semantics, including the (?i) case-insensitivity contract.
    "t08_redact" -> ((s, d) =>
      tbl(s, d, "documents")
        .withColumn("aug", concat(col("text"),
          lit(" contact: User"), col("doc_id"), lit("@Example.COM or +1-555-00"),
          lpad(pmod(col("doc_id"), lit(100)).cast(StringType), 2, "0")))
        .select(col("doc_id"),
          TextFunctions.emailCount(col("aug")).as("n_emails"),
          md5(TextFunctions.redactPii(col("aug"))).as("redacted_md5"))),

    "t04_chunking" -> ((s, d) =>
      TextFunctions.chunkDocs(tbl(s, d, "documents"), "doc_id", "text",
        chunkChars = 512, overlapChars = 64)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast(LongType).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))),

    // Language CONSISTENCY per doc (mixed-language docs hurt training):
    // the t04 chunking x the t02 language ID, rolled up to per-doc
    // distinct-language count and majority share on the ppm lattice —
    // two map-side-combinable aggregates, chunk rows never shuffled
    // beyond (doc, lang) pairs.
    "t17_mixed_language" -> ((s, d) => {
      val lab = TextFunctions.chunkDocs(tbl(s, d, "documents"),
          "doc_id", "text", chunkChars = 512, overlapChars = 64)
        .select(col("doc_id"), TextFunctions.langId(col("chunk")).as("lg"))
      lab.groupBy("doc_id", "lg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("n_chunks"), count(lit(1)).as("n_langs"),
          max("c").as("max_c"))
        .select(col("doc_id"), col("n_chunks"), col("n_langs"),
          expr("max_c * 1000000 div n_chunks").as("majority_ppm"),
          (col("n_langs") > 1).as("mixed"))
    }),

    // HTML -> text extraction (the web-crawl ingest transform upstream of
    // t02/t14/t16): HTML is SYNTHESIZED per doc around the raw text — a
    // multi-line template with a style block, a script block containing a
    // bare '<' (would wreck naive tag-stripping), a multi-line comment, a
    // nav line that is ALL links (boilerplate: dropped by link density), a
    // content line with a low-density link (kept), and entity-bearing
    // lines — so every kernel stage bites. Map-only: no shuffle, no UDF.
    "t18_html_extract" -> ((s, d) =>
      htmlExtract(tbl(s, d, "documents"))),

    // PII scrub (C4/Dolma-style): deterministic PII synthesized from
    // doc_id (emails on %3, dotted-quad IPs on %4, +CC phones on %5 —
    // the corpus text itself carries none) so detection and redaction
    // are non-trivially exercised; counts per class on the raw text,
    // md5 of the sequentially-redacted text pins the rewrite
    // byte-exactly. Map-only; the oracle replays every regex verbatim.
    "t19_pii_redact" -> ((s, d) => piiExtract(tbl(s, d, "documents"))),

    // URL canonicalization: messy synthesized URLs -> one canonical
    // spelling (fragment/default-port/trailing-slash/tracking-param
    // rules) — a map-only scalar formula riding the scan.
    "t20_url_canon" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("url"))
        .withColumn("canon",
          TextFunctions.canonicalizeUrl(col("url")))),

    // Unicode NFC normalization (t21): the same visible text arrives
    // precomposed (é = U+00E9) or decomposed (e + U+0301) and every
    // hash-keyed dedup in this library splits on the byte difference —
    // normalize-then-hash makes the key a function of the TEXT. Native
    // codegen expression (a UDF would fall out of whole-stage codegen
    // on the hottest scan); ids 0/1 mod 5 and 2/3 mod 5 are planted
    // variant PAIRS whose dedup keys must collide after NFC.
    "t21_nfc_normalize" -> ((s, d) => {
      val branch = when(col("doc_id") % 5 === 0, lit("cafe\u0301"))
        .when(col("doc_id") % 5 === 1, lit("caf\u00e9"))
        .when(col("doc_id") % 5 === 2, lit("A\u030Aberg"))
        .when(col("doc_id") % 5 === 3, lit("\u00C5berg"))
        .otherwise(lit("ascii"))
      val norm = graft.functions.UnicodeNorm.nfc_normalize(col("raw"))
      tbl(s, d, "documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 16), lit(" "), branch).as("raw"))
        .select(col("doc_id"), norm.as("norm"),
          (norm =!= col("raw")).as("changed"),
          md5(norm).as("dedup_key"))
    }),

    // Token-distribution drift between corpus halves: per-term ppm
    // rates + |Δ|, top-20 diverging terms — exact integer lattice via
    // the overflow-safe split, TakeOrdered drill-down.
    "t23_token_drift" -> ((s, d) =>
      TextFunctions.tokenDriftTopK(
        tbl(s, d, "documents")
          .withColumn("half", (col("doc_id") % 2).cast("string")),
        "half", "text", "0", "1", topK = 20)),

    // ... and the corpus-level scalar: Σ|Δppm| over the full vocab
    // (2e6 x the total-variation distance, floor-truncated) — the
    // dump-over-dump drift monitor, one exact BIGINT.
    "t23b_corpus_drift_tv" -> ((s, d) =>
      TextFunctions.corpusDriftTv(
        tbl(s, d, "documents")
          .withColumn("half", (col("doc_id") % 2).cast("string")),
        "half", "text", "0", "1")),

    // ... and the TV scalar PER source category (t24 — the mixing
    // dashboard): within-group ppm rates over each group's own slice
    // totals, so a dump's drift localizes to the sources that moved.
    // Each row equals t23b run on that group alone (the group-isolation
    // law, spec-pinned); reduce side = groups x vocabulary.
    "t24_grouped_drift" -> ((s, d) =>
      TextFunctions.groupedDriftTv(
        tbl(s, d, "documents")
          .withColumn("half", (col("doc_id") % 2).cast("string")),
        "source", "half", "text", "0", "1")),

    // Vocabulary coverage curve: what fraction of token occurrences a
    // top-V vocab covers, at V = 5/10/20/40 (40 > the corpus vocab —
    // the saturation row). Exact integer counts, deterministic term
    // tiebreak, one bounded TakeOrdered over the vocabulary.
    "t22_vocab_coverage" -> ((s, d) =>
      TextFunctions.vocabCoverage(tbl(s, d, "documents"), "text",
        Seq(5, 10, 20, 40))),

    // URL-keyed dedup over the canonical spelling: first occurrence
    // (min doc_id) kept per canonical URL, duplicate count audited —
    // the crawl pipeline's FIRST dedup pass, one map-side-combinable
    // aggregate on the canon key.
    "d19_url_dedup" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.canonicalizeUrl(urlSynth(col("doc_id"))).as("canon"))
        .groupBy("canon")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))),

    // ---- multimodal plumbing ----
    "m01_media_meta" -> ((s, d) =>
      Multimodal.asMedia(tbl(s, d, "documents"), "doc_id", "text", "text/plain")
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum"))),

    "m02_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(tbl(s, d, "documents"), "doc_id", "text", "text/plain"))
        .select(col("media_id"), col("n_bytes"),
          round(element_at(col("features"), 7), 6).as("f6"))),

    "m03_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.asMedia(tbl(s, d, "documents"), "doc_id", "text", "text/plain"),
        n = 4, frameBytes = 64)
        .select(col("media_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))),

    // REAL-codec gate: synthesized grayscale PNGs (pixel = (7x+13y+id) mod
    // 256, 32x24) are decoded with javax.imageio and histogrammed over the
    // DECODED pixels. The oracle computes the same histogram from the
    // synthesis formula in pure SQL — raw deflate bytes look nothing like
    // the pixel distribution, so only a correct decode matches.
    // PNG container metadata tier (m09's image twin): per-id-sized
    // synthesized PNGs, IHDR recovered via the real chunk walk — the
    // dimensions/pixel-format prune that runs before any pixel decode.
    "m10_png_meta" -> ((s, d) =>
      Multimodal.extractPngMeta(
        Multimodal.synthesizePngMediaDyn(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id",
          lit(16) + col("doc_id") % 16, lit(12) + col("doc_id") % 8))),

    // JPEG container metadata tier (m10's twin for the web's dominant
    // image format): deterministic baseline JPEGs per doc — varying
    // dims, component count, COM-segment census — recovered via the
    // REAL marker-segment walk with the SOS entropy stuffing rule.
    "m15_jpeg_meta" -> ((s, d) =>
      Multimodal.extractJpegMeta(
        Multimodal.synthesizeJpegMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))),

    // EXIF tier (m15's next level in): the APP1 TIFF walk — byte-order
    // detection (II for even ids, MM for odd — one scan crosses
    // endianness constantly), inline SHORT at the START of the value
    // field (the MM padding trap), RATIONAL/ASCII at offsets from the
    // TIFF origin, ExifIFD sub-IFD descent. Orientation is what decides
    // whether the decode pipeline must rotate; EXIF pixel dims catch
    // truncated re-encodes.
    "m16_exif_meta" -> ((s, d) =>
      Multimodal.extractExifMeta(
        Multimodal.synthesizeExifJpegMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))),

    // MP4 container metadata tier: synthesize deterministic ISO BMFF
    // boxes per doc, then recover brand/timescale/duration via the REAL
    // box-tree walk (big-endian u32 sizes, moov>mvhd descent) — the
    // metadata pass a video-curation pipeline runs before any frame
    // decode is scheduled.
    "m09_mp4_meta" -> ((s, d) =>
      Multimodal.extractMp4Meta(
        Multimodal.synthesizeMp4Media(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))),

    // MP4 sample-table tier (m09's next level down): walk moov>trak>mdia>
    // minf>stbl and decode stsz/stco/stts — the per-track sample census
    // (counts, byte totals, chunk offsets, tick spans) that turns frame
    // sampling into exact preads before any codec is scheduled.
    "m11_mp4_stbl" -> ((s, d) =>
      Multimodal.extractMp4SampleTable(
        Multimodal.synthesizeMp4TrackMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))),

    // ...and the index CASHED IN: per-sample byte extraction — seek
    // stco[0], walk the stsz prefix sums, slice and checksum each
    // sample's actual payload bytes. The containers carry REAL in-file
    // offsets; the oracle replays every byte from the synthesis formula,
    // so only a correct seek+slice matches.
    "m12_mp4_samples" -> ((s, d) =>
      Multimodal.extractMp4Samples(
        Multimodal.synthesizeMp4FramesMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))),

    // Multi-chunk extraction: the same sample stream split across chunks
    // by a REAL stsc run map, with junk bytes between chunks — a reader
    // ignoring stsc/stco reads gap bytes into samples and fails the
    // oracle; only honest chunk resolution recovers the byte formula.
    "m13_mp4_chunked" -> ((s, d) =>
      Multimodal.extractMp4Samples(
        Multimodal.synthesizeMp4ChunksMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))),

    // REAL frame decode, end to end: the mdat samples are actual PNG
    // images (pixel(x,y) of frame i = (7x+13y+doc_id+31i) mod 256), so
    // the chain is container walk -> per-sample pread -> javax.imageio
    // decode -> pixel histogram. The stsz sizes are deflate-dependent
    // (never replayable), but the DECODED pixels are a closed-form
    // function of (id, i) — only a correct walk + pread + decode matches.
    "m14_mp4_frame_decode" -> ((s, d) =>
      Multimodal.decodeMp4Frames(
        Multimodal.synthesizeMp4PngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id"))
        .select(col("media_id"), col("sample"), col("width"), col("height"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15"))),

    "m04_png_decode" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.synthesizePngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24))
        .select(col("media_id"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15"))),

    // Resize gate: decode -> nearest-neighbour 32x24 -> 16x12 -> re-encode
    // -> decode again for features. With exactly 2:1 strides the resampled
    // pixel (x,y) is source pixel (2x,2y) = (14x + 26y + id) mod 256, so
    // the oracle replays the whole chain from the synthesis formula.
    "m05_png_resize" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.resizeImages(
          Multimodal.synthesizePngMedia(
            tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24),
          w = 16, h = 12))
        .select(col("media_id"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15"))),

    // Perceptual-hash image dedup (aHash over the REAL decode): 8x8
    // nearest-neighbour downsample of the synthesized 32x24 PNGs keeps
    // source pixels (4x, 3y), i.e. v = (28x + 39y + id) mod 256 — so the
    // oracle replays hash bits in pure SQL while the engine must decode,
    // gray-convert, stride-resample and integer-threshold correctly.
    // Synthesized images repeat every 256 ids: real dup buckets.
    "m07_phash" -> ((s, d) =>
      Multimodal.perceptualHash(
        Multimodal.synthesizePngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24))),

    // ... and the bucket view: hash groups with >= 2 members are the
    // image near-dup clusters (id classes mod 256 by construction).
    "m07b_phash_dups" -> ((s, d) =>
      Multimodal.perceptualHash(
        Multimodal.synthesizePngMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24))
        .groupBy("phash")
        .agg(count(lit(1)).as("dup_cnt"), min("media_id").as("rep_id"))
        .filter(col("dup_cnt") >= 2)),

    // Audio-fingerprint dedup over the REAL WAV decode path: the corpus
    // plants duplicates by synthesizing each doc's audio from doc_id%100,
    // ONE decode per distinct payload; the 8-frame energy signature
    // (audio aHash, all-integer) buckets docs into equal-content groups.
    "m08_wav_dedup" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") % 100).as("gid"))
      val fp = Multimodal.wavEnergyFingerprint(
        Multimodal.synthesizeWavMedia(docs.select("gid").distinct(), "gid",
          nSamples = 480), frames = 8)
        .withColumnRenamed("media_id", "gid")
      docs.join(fp, "gid")
        .groupBy("afp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
    }),

    // REAL-codec audio gate: synthesized 16-bit PCM mono WAVs (sample i =
    // (31i + 17id) mod 65536 - 32768, 480 samples) are container-parsed
    // and sample-decoded with javax.sound.sampled, then histogrammed over
    // the DECODED samples. The oracle replays the formula in pure SQL —
    // RIFF headers and little-endian packing mean only a correct parse +
    // decode matches.
    "m06_wav_decode" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.synthesizeWavMedia(
          tbl(s, d, "documents").select(col("doc_id")), "doc_id", nSamples = 480))
        .select(col("media_id"),
          round(element_at(col("features"), 1), 6).as("b0"),
          round(element_at(col("features"), 8), 6).as("b7"),
          round(element_at(col("features"), 16), 6).as("b15"))),

    // ---- sampling + bucketed storage ----
    "p01_hash_split" -> ((s, d) =>
      Sampling.hashSplit(tbl(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))),

    "p02_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedTakeK(tbl(s, d, "documents"), "source", "doc_id", 5)),

    // Mixture sampling to per-language quotas: exercises quota < count
    // (en/zh/es/de at sf0.01) AND quota >= count (fr, take-all) through
    // the histogram-refinement selection; the oracle is the plain
    // hash-rank window — same semantics, deliberately different execution
    // shape (that difference is what's under test).
    "p04_quota_sample" -> ((s, d) =>
      Sampling.quotaSample(tbl(s, d, "documents"), "lang", "doc_id",
        Seq("en" -> 100L, "zh" -> 40L, "es" -> 30L, "de" -> 20L, "fr" -> 5000L))),

    // Token-budget mixture: per-language TOKEN budgets (mass, not doc
    // counts) — en/zh/es cut mid-category, de tiny, fr take-all. The
    // oracle is the cumulative-weight window; the engine must reproduce
    // it through the weighted histogram refinement.
    "p05_token_budget" -> ((s, d) =>
      Sampling.tokenBudgetSample(
        tbl(s, d, "documents")
          .withColumn("n_toks", TextFunctions.tokenCount(col("text"))),
        "lang", "doc_id", "n_toks",
        Seq("en" -> 5000L, "zh" -> 2000L, "es" -> 1500L, "de" -> 100L,
          "fr" -> 1000000L))),

    // Temperature-scaled mixture weights (alpha = 0.5, i.e. T = 2): the
    // per-source sampling-rate computation that upweights small slices.
    // Integer micro-weight lattice (floor(sqrt(n)*1e6) — sqrt is IEEE
    // correctly-rounded, so both engines floor the same double), one
    // rounded float division for the share.
    "p06_temp_mixture" -> ((s, d) =>
      Sampling.temperatureMixtureWeights(tbl(s, d, "documents"), "source")),

    // Partitioned sink -> source round trip: events written partitioned
    // by event_type, reloaded, filtered to two types — the filter prunes
    // DIRECTORIES at planning time (PartitionFilters, plan-spec'd), and
    // the aggregate must equal the oracle on the ORIGINAL table (nothing
    // lost or duplicated by the layout change). ts arrives normalized
    // (LONG) so the round trip also freezes the schema contract into
    // storage.
    "b02_partitioned_roundtrip" -> ((s, d) => {
      val path = graft.sources.PartitionedTables.writePartitioned(
        tbl(s, d, "events"), "b02_events_parted", Seq("event_type"))
      graft.sources.PartitionedTables.readPartitioned(s, path)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("value_cents"))
    }),

    // SNAPSHOT / time-travel read (b10): pin generation 1's file set,
    // append generation 2, then read BOTH views — the snapshot must see
    // exactly the pre-append rows (training-run reproducibility while
    // ingest keeps appending), the live table the union.
    "b10_snapshot_read" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"))
      graft.sources.BucketedTables.writeBucketed(
        docs.filter(col("doc_id") % 2 === 0), "b10_tbl", 4, Seq("doc_id"))
      graft.sources.BucketedTables.snapshot(s, "b10_tbl", "t1")
      graft.sources.BucketedTables.appendBucketed(
        docs.filter(col("doc_id") % 2 =!= 0), "b10_tbl")
      def agg(df: DataFrame, view: String) =
        df.agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
          .withColumn("view", lit(view))
      agg(graft.sources.BucketedTables.readSnapshot(s, "b10_tbl", "t1"), "snap")
        .unionByName(agg(s.table("b10_tbl"), "curr"))
        .select("view", "cnt", "chars")
    }),

    // SNAPSHOT DELTA read (b12 — the incremental-training primitive):
    // between two pins of an append-only cadence the row delta IS the
    // file delta (parquet files immutable, appends only add), so the
    // daily incremental read scans ONLY the new files — no diff join,
    // no base re-read. Non-append-ordered pins fail loud (compaction
    // re-homes rows; the law breaks); same-tag delta is legally empty.
    "b12_snapshot_delta" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"))
      graft.sources.BucketedTables.writeBucketed(
        docs.filter(col("doc_id") % 2 === 0), "b12_tbl", 4, Seq("doc_id"))
      graft.sources.BucketedTables.snapshot(s, "b12_tbl", "t1")
      graft.sources.BucketedTables.appendBucketed(
        docs.filter(col("doc_id") % 2 =!= 0), "b12_tbl")
      graft.sources.BucketedTables.snapshot(s, "b12_tbl", "t2")
      graft.sources.BucketedTables.readSnapshotDelta(s, "b12_tbl", "t1", "t2")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
    }),

    // SNAPSHOT-AWARE COMPACTION (b11 — closing the b10 × s23 seam):
    // snapshot, keep ingesting, COMPACT — the swap now moves pinned
    // files to the retained dir and re-points the manifest, so the
    // training job's frozen read survives the maintenance cadence
    // (until round 17 it failed loud; real formats retain until
    // expiry, and expireSnapshot is the GC). snap must still read the
    // pre-append rows; curr reads the compacted whole.
    "b11_snapshot_compact" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"))
      graft.sources.BucketedTables.writeBucketed(
        docs.filter(col("doc_id") % 2 === 0), "b11_tbl", 4, Seq("doc_id"))
      graft.sources.BucketedTables.snapshot(s, "b11_tbl", "t1")
      graft.sources.BucketedTables.appendBucketed(
        docs.filter(col("doc_id") % 2 =!= 0), "b11_tbl")
      graft.sources.BucketedTables.compactTable(s, "b11_tbl")
      def agg(df: DataFrame, view: String) =
        df.agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
          .withColumn("view", lit(view))
      agg(graft.sources.BucketedTables.readSnapshot(s, "b11_tbl", "t1"), "snap")
        .unionByName(agg(s.table("b11_tbl"), "curr"))
        .select("view", "cnt", "chars")
    }),

    // SNAPSHOT vs FULL REWRITE (b13 — the last seam in the snapshot
    // lifecycle): writeBucketed over a pinned table used to silently
    // kill the pins (the one maintenance op that orphaned a training
    // job's frozen read); the rewrite path now runs the b11 retention
    // discipline, so the pinned read survives even a complete content
    // replacement. snap must read the pre-rewrite (even) rows, curr
    // the rewritten (odd) content.
    "b13_snapshot_rewrite" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"))
      graft.sources.BucketedTables.writeBucketed(
        docs.filter(col("doc_id") % 2 === 0), "b13_tbl", 4, Seq("doc_id"))
      graft.sources.BucketedTables.snapshot(s, "b13_tbl", "t1")
      graft.sources.BucketedTables.writeBucketed(
        docs.filter(col("doc_id") % 2 =!= 0), "b13_tbl", 4, Seq("doc_id"))
      def agg(df: DataFrame, view: String) =
        df.agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
          .withColumn("view", lit(view))
      agg(graft.sources.BucketedTables.readSnapshot(s, "b13_tbl", "t1"), "snap")
        .unionByName(agg(s.table("b13_tbl"), "curr"))
        .select("view", "cnt", "chars")
    }),

    // DYNAMIC partition overwrite (b09): generation 1 writes every
    // event_type; generation 2 overwrites ONLY the click partition with
    // the reprocessed slice (even event_ids, values doubled). The read
    // must see the mix — reprocessed clicks, all other partitions'
    // original files untouched (static mode would have truncated them;
    // the byte-identity of untouched files is spec-pinned).
    "b09_partition_overwrite" -> ((s, d) => {
      val ev = tbl(s, d, "events")
        .select(col("event_type"), col("event_id"), col("value"))
      val path = graft.sources.PartitionedTables.writePartitioned(
        ev, "b09_events_parted", Seq("event_type"))
      graft.sources.PartitionedTables.overwritePartitions(
        ev.filter(col("event_type") === "click" && col("event_id") % 2 === 0)
          .withColumn("value", col("value") * 2),
        path, Seq("event_type"))
      graft.sources.PartitionedTables.readPartitioned(s, path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("value"))).as("value_cents"))
    }),

    // Schema EVOLUTION across ingest generations (b08): generation 1
    // wrote [doc_id, lang]; generation 2 appended with an added n_toks
    // column — the day-one lifecycle event of every long-lived table.
    // The reader must see the UNION schema (mergeSchema=true — off by
    // default because footer merging costs a metadata pass, so the gate
    // pins the opt-in actually working) with generation-1 rows NULL in
    // the new column; the aggregate proves both generations' rows and
    // the NULL-vs-0 semantics survive (count(col) skips NULLs, the
    // coalesced sum treats them as 0).
    "b08_schema_evolution" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val path = s"${s.conf.get("spark.sql.warehouse.dir")}/b08_evolved"
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(path)
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).as("n_toks"))
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"),
          count(col("n_toks")).as("with_toks"),
          sum(coalesce(col("n_toks"), lit(0L))).as("toks"))
    }),

    // JSONL corpus ingestion with corrupt-record accounting: documents
    // serialized to JSONL with every 97th line TRUNCATED (cutting the
    // closing brace + tail — guaranteed-malformed JSON), then read back
    // under the declared schema in PERMISSIVE mode. Good lines must parse
    // field-for-field (lang groups, n_chars sum, text length sum prove
    // lang/int/string survive the round trip); malformed lines must land
    // in _corrupt_record — counted under lang='__corrupt', never dropped,
    // never parsed. Oracle replays the classification off the ORIGINAL
    // parquet (doc_id % 97 picks the corrupted lines).
    "b03_jsonl_ingest" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val line = to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("l")
      val lines = docs.select(line, col("doc_id").as("__id"))
        .select(when(col("__id") % 97 === 0,
          col("l").substr(lit(1), length(col("l")) - 5)).otherwise(col("l"))
          .as("line"))
      val path = graft.sources.JsonlTables.writeLines(
        lines, "b03_docs_jsonl")
      graft.sources.JsonlTables.readJsonl(s, path, docs.schema)
        .select(
          when(col(graft.sources.JsonlTables.CorruptCol).isNotNull,
            lit("__corrupt")).otherwise(col("lang")).as("lang"),
          col("n_chars"), length(col("text")).cast(LongType).as("tlen"))
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"),
          coalesce(sum("n_chars"), lit(0L)).as("chars"),
          coalesce(sum("tlen"), lit(0L)).as("text_chars"))
    }),

    // Manifest-pruned read: lineitem z-ordered on (partkey, suppkey) and
    // manifested; a partkey range then reads only the files whose span
    // intersects — planning-time file skipping with no table format. The
    // residual predicate re-applies on the scan, so pruning can only skip
    // work, never change the result: the gate is the unpruned oracle.
    "b06_manifest_pruned" -> ((s, d) => {
      import graft.sources.{ManifestTables, ZOrderedTables}
      val li = tbl(s, d, "lineitem")
      val mm = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val (mnp, mxp, mns, mxs) =
        (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
      val z = ZOrderedTables.zValue(Seq(
        ZOrderedTables.scale(col("l_partkey"), mnp, mxp, 8),
        ZOrderedTables.scale(col("l_suppkey"), mns, mxs, 8)), 8)
      val clustered = li.select("l_orderkey", "l_partkey", "l_suppkey",
          "l_returnflag", "l_extendedprice")
        .repartitionByRange(8, z).sortWithinPartitions(z)
      val path = ManifestTables.writeWithManifest(
        clustered, "b06_lineitem_manifest", Seq("l_partkey", "l_suppkey"))
      val (lo, hi) = (mnp, mnp + (mxp - mnp) / 8)
      ManifestTables.readPruned(s, path, "l_partkey", lo, hi)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
    }),

    // BLOOM POINT LOOKUP (b14 — the skipping min/max cannot do): the
    // table writes HASH-placed on the lookup key, so every file's
    // [min, max] spans the whole key domain and range skipping keeps ALL
    // files — the per-file bloom sidecar is the only thing that prunes a
    // tombstone-check / dedup-key-probe shaped equality lookup. The
    // pruned read must equal the plain filter (blooms have no false
    // negatives; the predicate re-applies on the scan) — the specs pin
    // the files-opened metric, the oracle pins exactness.
    "b14_bloom_point_lookup" -> ((s, d) => {
      import graft.sources.ManifestTables
      val o = tbl(s, d, "orders")
      val k = o.agg(min("o_custkey")).head().getLong(0)
      val path = ManifestTables.writeWithManifest(
        o.select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(8, col("o_orderkey")),
        "b14_orders_bloom", Seq("o_custkey"), bloomCols = Seq("o_custkey"),
        expectedItemsPerFile = 1L << 16)
      ManifestTables.readPrunedPoint(s, path, "o_custkey", k)
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("price_cents"))
    }),

    // BATCHED BLOOM LOOKUP (b14b — the form that scales): a single point
    // probe pays one full manifest scan (the bitsets ARE the manifest
    // bytes at 10^5 files), so real tombstone-check / dedup-key batches
    // probe MANY driver-known keys in one pass — per-file verdict = an
    // `exists` over the key array, bitset read in place, file union
    // opened once with the IN predicate re-applied. Exactness contract
    // identical to b14: pruning may only skip files.
    "b14b_bloom_batch_lookup" -> ((s, d) => {
      import graft.sources.ManifestTables
      val o = tbl(s, d, "orders")
      val keys = o.select("o_custkey").distinct().orderBy("o_custkey")
        .limit(5).collect().map(_.getLong(0)).toSeq
      val path = ManifestTables.writeWithManifest(
        o.select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(8, col("o_orderkey")),
        "b14b_orders_bloom", Seq("o_custkey"), bloomCols = Seq("o_custkey"),
        expectedItemsPerFile = 1L << 16)
      ManifestTables.readPrunedPoints(s, path, "o_custkey", keys)
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("price_cents"))
    }),

    // CSV round trip with explicit schema + header: the interchange
    // format corpora actually arrive in. Quoting/escaping must survive
    // (documents text carries arbitrary punctuation); the reader declares
    // the schema — no inference, the same discipline as the JSONL source.
    "b07_csv_roundtrip" -> ((s, d) => {
      val base = s.conf.get("spark.sql.warehouse.dir")
      val path = s"$base/b07_documents_csv"
      val docs = tbl(s, d, "documents")
      // multiLine + a nullValue sentinel: document text may carry embedded
      // newlines (default multiLine=false would split rows), and "" must
      // round-trip as "" rather than NULL (the default nullValue="" cannot
      // tell them apart). The defaults only happen to hold on corpora with
      // neither, which is not a property of the format.
      docs.write.mode("overwrite").option("header", "true")
        .option("nullValue", "\\N").csv(path)
      s.read.schema(docs.schema).option("header", "true")
        .option("multiLine", "true")
        .option("nullValue", "\\N").csv(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"),
          sum(length(col("text"))).cast(LongType).as("text_chars"))
    }),

    // ORC round trip: the second columnar format Spark ships a native
    // vectorized reader for — a corpus archived as ORC must re-enter the
    // pipeline losslessly. The aggregate runs over the READ-BACK ORC and
    // must equal the oracle over the original parquet (schema, values,
    // and NULL-handling all survive the format hop).
    "b05_orc_roundtrip" -> ((s, d) => {
      val base = s.conf.get("spark.sql.warehouse.dir")
      val path = s"$base/b05_orders_orc"
      tbl(s, d, "orders").write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("price_cents"),
          countDistinct("o_custkey").as("custs"))
    }),

    // Z-order clustered layout: lineitem rewritten as 8 files range-
    // partitioned AND sorted by the Morton interleave of the scaled
    // (l_partkey, l_suppkey) pair. The gate re-derives the z-value from
    // the READ-BACK files and aggregates per coarse z-cell — content
    // loss, mis-scaling, or any interleave drift breaks the hash. The
    // clustering-quality property (tight per-file natural-column spans)
    // needs file identity, so it is pinned in the sources spec instead.
    "b04_zorder_roundtrip" -> ((s, d) => {
      import graft.sources.ZOrderedTables
      val li = tbl(s, d, "lineitem")
      val mm = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val (mnp, mxp, mns, mxs) =
        (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
      val path = ZOrderedTables.writeZOrdered(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice"),
        "b04_zorder_lineitem",
        Seq(("l_partkey", mnp, mxp), ("l_suppkey", mns, mxs)),
        bits = 8, numFiles = 8)
      val z = ZOrderedTables.zValue(Seq(
        ZOrderedTables.scale(col("l_partkey"), mnp, mxp, 8),
        ZOrderedTables.scale(col("l_suppkey"), mns, mxs, 8)), 8)
      ZOrderedTables.readZOrdered(s, path)
        .groupBy(shiftright(z, 10).as("zcell"))
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
    }),

    // Bucketed sink -> source round trip: degrees computed from the
    // RELOADED graph, whose scan carries the bucket layout (no exchange).
    "b01_bucketed_degrees" -> ((s, d) => {
      val n = org.apache.spark.sql.graft.checkpointing.shufflePartitions(s)
      graft.sources.BucketedTables.saveGraph(
        GraphFrame.fromEdges(partSuppEdges(s, d)), "b01_graph", n)
      graft.sources.BucketedTables.loadGraph(s, "b01_graph").outDegrees
    }),

    // ---- structured streaming (drained with AvailableNow; see drainStream) ----
    // Event time is synthesized from doc_id so the watermark machinery runs
    // on a deterministic clock. The lateness horizon (2h) COVERS the full
    // synthesized span (1h): the batch-distinct oracle equality must hold
    // even if the source ever delivers the file as multiple micro-batches
    // (an advanced watermark could otherwise drop "late" rows / evict
    // duplicate state mid-stream).
    "st01_stream_dedup" -> ((s, d) => {
      val docs = streamTbl(s, d, "documents")
        .withColumn("ets", timestamp_seconds(col("doc_id") % 3600))
      drainStream(
        graft.streaming.Streams.streamingExactDedup(docs, "ets", "text",
          lateness = "2 hours")
          .select(col("fingerprint")),
        "st01_sink", "append")
    }),

    // Streaming IMAGE dedup at ingest: the media synthesis + REAL PNG
    // decode + aHash chain runs per micro-batch (mapPartitions is a
    // narrow streaming transform), then first-seen-phash admission —
    // multimodal and streaming composing through one fingerprint column.
    "st10_stream_phash_dedup" -> ((s, d) => {
      val ids = streamTbl(s, d, "documents").select(col("doc_id"))
      val hashed = Multimodal.perceptualHash(
        Multimodal.synthesizePngMedia(ids, "doc_id", w = 32, h = 24))
        .withColumn("ets", timestamp_seconds(col("media_id") % 3600))
      drainStream(
        graft.streaming.Streams.streamingFingerprintDedup(
          hashed, "ets", "phash", lateness = "2 hours")
          .select(col("phash")),
        "st10_sink", "append")
    }),

    // Streaming latest-version compaction (the q23 twin): per-user upsert
    // state, emission only on change; one AvailableNow batch == q23.
    "st12_stream_latest" -> ((s, d) =>
      drainStream(
        graft.streaming.Streams.streamingLatestVersion(
          streamTbl(s, d, "events").withColumn("cents", cents(col("value"))),
          "user_id", "ts", "event_id", "event_type", "cents").toDF(),
        "st12_sink", "append")),

    // Streaming per-category token-budget admission: one long of state per
    // lang; the prefix rule makes the admitted set a pure function of the
    // document set, replayed as a cumulative-sum window in the oracle.
    "st11_stream_budget" -> ((s, d) =>
      drainStream(
        graft.streaming.Streams.streamingTokenBudget(
          streamTbl(s, d, "documents"), "doc_id", "lang", "text",
          budget = 2000L).toDF(),
        "st11_sink", "append")),

    // Sliding 1h/30min windows over events. value is pre-scaled to integer
    // hundredths (`cents` discipline) so the windowed sum is exact; window
    // bounds compare as epoch seconds (engine-neutral, tz-free). APPEND
    // mode: only watermark-finalized windows emit (window_end <= max event
    // time - 30min lateness, boundary inclusive — pinned by StreamsSpec),
    // so state store size stays O(active windows) on an unbounded stream
    // where complete mode would retain and re-emit every window ever seen.
    "st02_stream_window" -> ((s, d) => {
      val ev = streamTbl(s, d, "events")
        .withColumn("ets", timestamp_seconds(expr("ts div 1000000000")))
        .withColumn("value", cents(col("value")))
      drainStream(
        graft.streaming.Streams.windowedEventStats(
          ev, "ets", "event_type", "1 hour", "30 minutes", "30 minutes"),
        "st02_sink", "append")
        .select(col("window_start").cast(LongType).as("ws"),
          col("window_end").cast(LongType).as("we"),
          col("event_type"), col("cnt"), col("value_sum"))
    }),

    // Custom-state streaming (flatMapGroupsWithState): per-user sessions
    // on 30-min gaps; only successor-closed sessions emit, so the result
    // is a pure function of the event set (see Streams.streamingSessionize).
    "st04_stream_sessionize" -> ((s, d) => {
      val ev = streamTbl(s, d, "events")
        .withColumn("ets", timestamp_seconds(expr("ts div 1000000000")))
      drainStream(
        graft.streaming.Streams.streamingSessionize(
          ev, "ets", "user_id", "event_id", gapSec = 1800L).toDF(),
        "st04_sink", "append")
    }),

    // STREAM-STREAM watermarked inner join: click->purchase attribution
    // within 1 hour per user; the time-range condition bounds both sides'
    // state to lateness + horizon.
    "st06_stream_join" -> ((s, d) => {
      val ev = streamTbl(s, d, "events")
        .withColumn("ets", timestamp_seconds(expr("ts div 1000000000")))
      drainStream(
        graft.streaming.Streams.streamingAttribution(
          ev, "ets", "user_id", "event_id", "event_type",
          fromType = "click", toType = "purchase", horizonSec = 3600L),
        "st06_sink", "append")
    }),

    // Streaming HLL: the register table as bounded streaming state (2^p
    // rows forever), drained complete and zero-materialized downstream.
    // The oracle is the BATCH register construction (q14's SQL verbatim):
    // stream == batch on the same data IS the gate.
    "st07_stream_hll" -> ((s, d) => {
      val drained = drainStream(
        graft.streaming.Streams.streamingHllRegisters(
          streamTbl(s, d, "lineitem"), "l_partkey", p = 8),
        "st07_sink", "complete")
      s.range(256).select(col("id").as("register"))
        .join(drained, Seq("register"), "left")
        .select(col("register"),
          coalesce(col("max_rank"), lit(0L)).as("max_rank"))
    }),

    // Streaming count-min over the document bigram stream: additive grid
    // state (depth x width cells forever), drained complete and
    // zero-materialized. Oracle = the batch grid (q15's SQL verbatim).
    "st08_stream_cms" -> ((s, d) => {
      val grams = streamTbl(s, d, "documents")
        .select(explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram"))
      val drained = drainStream(
        graft.streaming.Streams.streamingCmsRegisters(grams, "gram",
          depth = 4, width = 1024),
        "st08_sink", "complete")
      s.range(4).select(col("id").as("row"))
        .crossJoin(s.range(1024).select(col("id").as("col")))
        .join(drained, Seq("row", "col"), "left")
        .select(col("row"), col("col"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    }),

    // Streaming histogram over the event value stream: additive bin state
    // (binCount rows forever) — the quantile member of the sketch family
    // as streaming state, completing the batch+streaming symmetry (q14/
    // st07 HLL, q15/st08 CMS, q16/st09 histogram). Oracle = the batch
    // register construction (q16's SQL verbatim).
    "st09_stream_hist" -> ((s, d) => {
      val vals = streamTbl(s, d, "events").select(cents(col("value")).as("v"))
      val drained = drainStream(
        graft.streaming.Streams.streamingHistRegisters(
          vals, "v", lo = 0L, binWidth = 200L, binCount = 256),
        "st09_sink", "complete")
      s.range(256).select(col("id").as("bin"))
        .join(drained, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    }),

    // Streaming DRIFT monitor (st28): the t23b dump-over-dump TV check
    // at ingest — (slice, term) counts as additive streaming state
    // (bounded by slices x vocabulary, the batch monitor's own reduce
    // bound), drained complete and finalized through the batch
    // rate/ppm/TV tail. Oracle = t23b's SQL verbatim: stream == batch
    // IS the contract.
    "st28_stream_drift" -> ((s, d) => {
      val counts = drainStream(
        graft.streaming.Streams.streamingDriftCounts(
          streamTbl(s, d, "documents")
            .withColumn("half", (col("doc_id") % 2).cast("string")),
          "half", "text", "0", "1"),
        "st28_sink", "complete")
      TextFunctions.driftRatesFromCounts(counts, "0", "1")
        .agg(count(lit(1)).as("n_terms"),
          coalesce(sum(col("drift_ppm")), lit(0L)).as("tv_ppm"))
    }),

    // ... and its GROUPED form (st28b — t24 at ingest): per-source
    // (group, slice, term) counts as additive state, the drained state
    // finalized through the same grouped ppm/TV tail. Oracle = t24's
    // SQL verbatim.
    "st28b_stream_grouped_drift" -> ((s, d) => {
      val counts = drainStream(
        graft.streaming.Streams.streamingGroupedDriftCounts(
          streamTbl(s, d, "documents")
            .withColumn("half", (col("doc_id") % 2).cast("string")),
          "source", "half", "text", "0", "1"),
        "st28b_sink", "complete")
      TextFunctions.driftRatesFromCounts(counts, "0", "1", grouped = true)
        .groupBy(col("__td_g").as("source"))
        .agg(count(lit(1)).as("n_terms"),
          coalesce(sum(col("drift_ppm")), lit(0L)).as("tv_ppm"))
    }),

    // CMS-backed streaming drift (st28c — st28's OPEN-VOCABULARY form):
    // per-slice count-min grids as additive streaming state (bounded by
    // slices x depth x width forever, vocabulary-independent —
    // spec-pinned), drained complete and finalized through the cell-TV
    // ppm tail (a lower-bound estimate; one-sided error is the
    // operator's semantics). Oracle = the same grid + tail replayed
    // exactly (the q15/st08 discipline).
    "st28c_stream_drift_cms" -> ((s, d) => {
      val counts = drainStream(
        graft.streaming.Streams.streamingDriftCmsCounts(
          streamTbl(s, d, "documents")
            .withColumn("half", (col("doc_id") % 2).cast("string")),
          "half", "text", "0", "1", depth = 4, width = 1024),
        "st28c_sink", "complete")
      TextFunctions.driftTvFromCmsGrids(counts, "0", "1")
    }),

    // ... and the GROUPED CMS drift (st28d — t24 x st28c): per-source
    // grids as additive state (groups x slices x depth x width rows,
    // vocabulary-independent), finalized through the grouped cell-TV
    // tail with NULL-safe group joins.
    "st28d_stream_grouped_drift_cms" -> ((s, d) => {
      val counts = drainStream(
        graft.streaming.Streams.streamingGroupedDriftCmsCounts(
          streamTbl(s, d, "documents")
            .withColumn("half", (col("doc_id") % 2).cast("string")),
          "source", "half", "text", "0", "1", depth = 4, width = 1024),
        "st28d_sink", "complete")
      TextFunctions.driftTvFromCmsGrids(counts, "0", "1", grouped = true)
        .withColumnRenamed("__td_g", "source")
    }),

    // Streaming ROLLUP HLL: the q33 OLAP-lattice register table as
    // streaming state — ONE Expand-fed aggregate maintains all three
    // lattice levels' monotone register maxes (state = slices x 2^p
    // rows forever, no watermark). Drained complete, then the BATCH
    // densify + estimate tail; q33's oracle gates the streaming path
    // verbatim — the sketch family's batch/stream symmetry closed.
    "st27_stream_rollup_hll" -> ((s, d) => {
      val drained = drainStream(
        graft.streaming.Streams.streamingHllRollupRegisters(
          streamTbl(s, d, "lineitem"), "l_returnflag", "l_linestatus",
          "l_partkey", p = 6),
        "st27_sink", "complete")
      graft.operators.Sketches.hllRollupEstimate(
        graft.operators.Sketches.hllRollupDensify(
          drained, "l_returnflag", "l_linestatus", p = 6),
        "l_returnflag", "l_linestatus", p = 6)
    }),

    // Stateless stream-static LEFT SEMI join: decontamination at ingest.
    // The held-out hash table is a STATIC broadcast side; contaminated
    // documents emit per micro-batch with zero state.
    "st05_stream_decon" -> ((s, d) => {
      val stream = streamTbl(s, d, "documents").filter(col("doc_id") % 10 =!= 7)
      val heldOut = tbl(s, d, "documents").filter(col("doc_id") % 10 === 7)
      drainStream(
        graft.streaming.Streams.streamingDecontaminate(
          stream, heldOut, "doc_id", "text", n = 5),
        "st05_sink", "append")
    }),

    // st05's SCALE PATH: the same decontamination as a per-micro-batch
    // exploded equi-join in foreachBatch — the held-out hash side stays a
    // distributed relation (persisted, never driver-collected), so the
    // operator has no driver-memory ceiling. Same oracle flag set as st05.
    "st05b_stream_decon_join" -> ((s, d) => {
      val stream = streamTbl(s, d, "documents").filter(col("doc_id") % 10 =!= 7)
      val heldOut = tbl(s, d, "documents").filter(col("doc_id") % 10 === 7)
      val base = s.conf.get("spark.sql.warehouse.dir")
      val path = s"$base/st05b_flagged"
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hPath, true)
      val (writer, release) =
        graft.streaming.Streams.streamingDecontaminateJoin(
          stream, heldOut, "doc_id", "text", n = 5) { (flagged, batchId) =>
          // Batch-id-keyed subdir = idempotent under micro-batch retry.
          flagged.write.mode("overwrite").parquet(s"$path/batch=$batchId")
        }
      val q = writer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      release()
      s.read.parquet(path).select("doc_id").distinct()
    }),

    // Stateless streaming PQ ENCODING at ingest — the vector-family
    // member of the batch/stream operator symmetry (st03 = quality
    // formula, st13 = the s10 code projection): the codebook trains on
    // the static corpus and folds into the streaming projection as
    // literals; each arriving vector encodes with zero state. Oracle =
    // s10's SQL verbatim.
    "st13_stream_pq_codes" -> ((s, d) => {
      val book = Similarity.pqTrain(
        tbl(s, d, "embeddings"), "vec_id", "embedding", m = 4, kCent = 8,
        nIter = 0)
      drainStream(
        Similarity.pqCodes(streamTbl(s, d, "embeddings"),
            "vec_id", "embedding", m = 4, kCent = 8, Some(book))
          .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
          .select(col("vec_id"), col("s").cast(LongType).as("s"),
            col("code").cast(LongType).as("code")),
        "st13_sink", "append")
    }),

    // Streaming twin of m12: container synthesis + the stbl-indexed
    // sample extraction running STATELESS at ingest (mapPartitions over
    // each micro-batch, no state store) — the shape a video ingest
    // pipeline uses to index samples as files arrive.
    "st14_stream_mp4_samples" -> ((s, d) =>
      drainStream(
        Multimodal.extractMp4Samples(
          Multimodal.synthesizeMp4FramesMedia(
            streamTbl(s, d, "documents").select(col("doc_id")), "doc_id")),
        "st14_sink", "append")),

    // Stateless streaming HTML → text extraction at ingest — the t18
    // kernel running on each arriving micro-batch (the st03/st13/st14
    // discipline: a pure per-row Column formula needs no state store, so
    // the web-crawl ingest tier cleans HTML as files land). Oracle = the
    // t18 batch SQL verbatim; stream==batch IS the contract.
    "st15_stream_html_extract" -> ((s, d) =>
      drainStream(htmlExtract(streamTbl(s, d, "documents")),
        "st15_sink", "append")),

    // Streaming PII scrub at ingest — the t19 body per micro-batch (the
    // st15/t18 stateless ingest-transform discipline). Oracle = t19 SQL
    // verbatim.
    "st19_stream_pii_redact" -> ((s, d) =>
      drainStream(piiExtract(streamTbl(s, d, "documents")),
        "st19_sink", "append")),

    // Streaming FILTERED vector search — the RAG serving shape end to
    // end: the IVF-PQ index (with its label payload) builds ONCE from
    // the static corpus; arriving queries probe it per micro-batch
    // through a stream-static cell equi-join with the metadata predicate
    // pruning the index side, and the per-query top-k aggregates in
    // complete mode (state = queries x k, bounded). Oracle = the s16
    // batch SQL verbatim; stream==batch IS the contract.
    "st16_stream_filtered_ann" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8, metaCols = Seq("label"))
      drainStream(
        Similarity.ivfPqTopK(e,
            streamTbl(s, d, "embeddings").filter(col("vec_id") <= 3),
            "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
            m = 4, kCent = 8, indexOf = Some(idx),
            indexFilter = Some(col("label") % 2 === 0),
            metaCols = Seq("label"))
          .withColumnRenamed("rank", "rnk"),
        "st16_sink", "complete")
    }),

    // Streaming serve off the PERSISTED index (st23 — the lifecycle's
    // last seam): st18 ingests INTO the table, s20 serves a batch off
    // it; this serves a query STREAM off it — the stream-static join
    // where the static side is the reloaded bucketed artifact scan.
    // The fixed streaming plan cannot know a batch's queries, so the
    // literal cell pruning is absent HERE (ivfPqProbeCells' contract)
    // and the cell equi-join bounds compute only — st23b below is the
    // SCALE PATH that recovers per-batch pruning via foreachBatch.
    // Oracle = the s13 SQL verbatim: storage + streaming invisible.
    "st23_stream_table_ann" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "st23_ivfpq_idx", numBuckets = 4)
      val loaded = Similarity.ivfPqLoad(s, "st23_ivfpq_idx")
      drainStream(
        Similarity.ivfPqTopK(e,
            streamTbl(s, d, "embeddings").filter(col("vec_id") <= 3),
            "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
            m = 4, kCent = 8, indexOf = Some(loaded))
          .withColumnRenamed("rank", "rnk"),
        "st23_sink", "complete")
    }),

    // st23's SCALE PATH (st23b): the same persisted-index serve driven
    // through foreachBatch, where each micro-batch's queries ARE
    // driver-known — so the batch path's probed-cell literal pushdown
    // applies per batch and the scan reads ONLY probed buckets
    // (SelectedBucketsCount < total per batch, spec-pinned) instead of
    // every bucket file per micro-batch. Same oracle as st23/s13:
    // pruning, storage, and streaming must all be invisible to search.
    "st23b_stream_table_ann_pruned" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "st23b_ivfpq_idx", numBuckets = 4)
      val base = s.conf.get("spark.sql.warehouse.dir")
      val path = s"$base/st23b_results"
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hPath, true)
      val q = graft.streaming.Streams.streamingIvfPqServeTable(
          streamTbl(s, d, "embeddings").filter(col("vec_id") <= 3),
          "st23b_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2) {
          (res, batchId) =>
            // Batch-id-keyed subdir = idempotent under micro-batch retry.
            res.withColumnRenamed("rank", "rnk")
              .write.mode("overwrite").parquet(s"$path/batch=$batchId")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(path).drop("batch")
    }),

    // ... and the FILTERED form (st23c — st16 x st23b): the metadata
    // predicate rides the persisted artifact and prunes index-side
    // before ADC scoring, per micro-batch, composed with the
    // probed-cell literal pushdown. Oracle = the s16 SQL verbatim.
    "st23c_stream_filtered_pruned" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8, metaCols = Seq("label"))
      Similarity.ivfPqSave(idx, "st23c_ivfpq_idx", numBuckets = 4)
      val base = s.conf.get("spark.sql.warehouse.dir")
      val path = s"$base/st23c_results"
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hPath, true)
      val q = graft.streaming.Streams.streamingIvfPqServeTable(
          streamTbl(s, d, "embeddings").filter(col("vec_id") <= 3),
          "st23c_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2,
          indexFilter = Some(col("label") % 2 === 0),
          metaCols = Seq("label")) { (res, batchId) =>
            res.withColumnRenamed("rank", "rnk")
              .write.mode("overwrite").parquet(s"$path/batch=$batchId")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(path).drop("batch")
    }),

    // Streaming AS-OF ENRICHMENT (st29 — the feature-store lookup at
    // ingest): the event stream joined per micro-batch to the
    // latest-at-or-before row of the purchase feature TABLE via the
    // batch as-of operator inside foreachBatch (the batch IS
    // driver-known — the st23b discipline), the feature table reloaded
    // per batch so upserts become visible. Oracle = q20's DuckDB native
    // ASOF LEFT JOIN SQL verbatim: storage + streaming invisible to the
    // as-of semantics.
    "st29_stream_asof_enrich" -> ((s, d) =>
      asOfEnrichGate(s, d, "st29", "backward", None)),

    // ... its FORWARD form (st29b — attribution at ingest: each arriving
    // event joined to the NEXT purchase within 2 h). Oracle = q32's
    // bounded-candidate replay verbatim.
    "st29b_stream_asof_forward" -> ((s, d) =>
      asOfEnrichGate(s, d, "st29b", "forward", Some(7200000000000L))),

    // ... and the NEAREST form (st29c — sensor/price alignment at
    // ingest: |Δt|-argmin within 2 h, ties to the earlier match),
    // completing the streaming as-of trio. Oracle = q36's replay
    // verbatim.
    "st29c_stream_asof_nearest" -> ((s, d) =>
      asOfEnrichGate(s, d, "st29c", "nearest", Some(7200000000000L))),

    // Streaming sequence packing: the p08 two-level prefix sum with its
    // per-shard running totals as streaming state (ONE long per shard,
    // the st11 discipline) — sequences continue across micro-batches
    // where the previous epoch's totals ended. The drained offsets
    // finalize through Sampling.packCoords (driver prefix over the 32
    // shard totals + div/% coordinates). Oracle = the p08 batch SQL
    // verbatim; stream==batch IS the contract.
    "st17_stream_seq_pack" -> ((s, d) => {
      val docs = streamTbl(s, d, "documents")
        .withColumn("n_toks", TextFunctions.tokenCount(col("text")))
      val offsets = drainStream(
        graft.streaming.Streams.streamingSequenceOffsets(
          docs, "doc_id", "n_toks").toDF(),
        "st17_sink", "append")
      Sampling.packCoords(offsets, "doc_id", seqLen = 1024L)
    }),

    // Streaming URL dedup at ingest: canonicalize arriving documents'
    // URLs (map-only, the t20 kernel) and fold per-canon (min doc_id,
    // count) state — both order-free, so the drained sink finalizes to
    // the batch d19 aggregate exactly whatever the arrival order or
    // micro-batch split. Oracle = the d19 batch SQL verbatim.
    // STREAMING WCC MAINTENANCE (st30): the customer→nation→region
    // edges arrive in 4 src-range micro-batches; each batch composes
    // the durable labels table through ConnectedComponents.incremental
    // and rewrites it. The drained table must equal the g07 full
    // recompute over ALL edges — batch boundaries invisible because
    // the composition is exact at every step. Oracle = g07 verbatim.
    "st30_stream_wcc_maintain" -> ((s, d) => {
      stageAndDrain(s, custNationRegionEdges(s, d), "graft-st30",
          nFiles = 4, idCol = "src") { stream =>
        graft.streaming.Streams.initWccLabelsTable(s, "st30_labels")
        graft.streaming.Streams.streamingWccMaintain(stream, "st30_labels")
      }
      // The maintenance loop rewrote the table from a cloned session;
      // this (outer) session's relation cache is stale the same way.
      s.catalog.refreshTable("st30_labels")
      s.table("st30_labels")
    }),

    // STREAMING TRIANGLE MAINTENANCE (st31): the nation same-region
    // clique edges arrive in 4 micro-batches; each batch composes the
    // durable counts against the durable symmetrized adjacency (both
    // maintained here). Drained counts == the g11 full recompute over
    // all edges. Oracle = g11 verbatim.
    "st31_stream_tri_maintain" -> ((s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      stageAndDrain(s, edges, "graft-st31", nFiles = 4, idCol = "src") {
        stream =>
          graft.streaming.Streams.initTriangleTables(s, "st31_counts", "st31_adj")
          graft.streaming.Streams
            .streamingTriangleMaintain(stream, "st31_counts", "st31_adj")
      }
      s.catalog.refreshTable("st31_counts")
      // Vertex universe: the g11 oracle reports every nation; nations
      // whose edges all arrived carry counts, the output covers edge
      // endpoints — align by left join over the full vertex frame.
      nations.select(col("k").as("id"))
        .join(s.table("st31_counts").withColumnRenamed("triangles", "__t"),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__t"), lit(0L)).as("triangles"))
    }),

    // STREAMING CDC WCC MAINTENANCE (st32 — st30's change-stream form):
    // all edges arrive as adds in 3 micro-batches, then a takedown
    // batch REMOVES the %7==1 slice. The labels table must end exactly
    // where the g37 batch compose ends — the full recompute over the
    // net edge set, stranded vertices as singletons. Oracle = g37's.
    "st32_stream_wcc_cdc" -> ((s, d) => {
      val edges = custNationRegionEdges(s, d)
      stageAndDrain(s, addsThenTakedown(edges), "graft-st32", nFiles = 4,
          idCol = "stage_id") { stream =>
        graft.streaming.Streams.initWccCdcTables(s, "st32_labels",
          "st32_edges", "st32_tombs")
        graft.streaming.Streams.streamingWccMaintainCdc(
            stream, "st32_labels", "st32_edges", "st32_tombs")
      }
      s.catalog.refreshTable("st32_labels")
      s.table("st32_labels")
    }),

    // CDC LOG COMPACTION (st36): the st32 chain drained, then the
    // tombstones FOLDED into the edge log — and the net graph must be
    // bit-preserved, proven by COLD-recomputing WCC from the compacted
    // log alone (tombstones now empty) and landing exactly on the g37
    // oracle. Stranded vertices have no edges in the compacted log, so
    // they re-enter as singletons off the maintained labels' universe.
    "st36_cdc_log_compact" -> ((s, d) => {
      val edges = custNationRegionEdges(s, d)
      stageAndDrain(s, addsThenTakedown(edges), "graft-st36", nFiles = 4,
          idCol = "stage_id") { stream =>
        graft.streaming.Streams.initWccCdcTables(s, "st36_labels",
          "st36_edges", "st36_tombs")
        graft.streaming.Streams.streamingWccMaintainCdc(
            stream, "st36_labels", "st36_edges", "st36_tombs")
      }
      graft.streaming.Streams.compactCdcEdgeLog(s, "st36_edges",
        "st36_tombs")
      s.catalog.refreshTable("st36_edges")
      s.catalog.refreshTable("st36_labels")
      val cold = GraphFrame.fromEdges(s.table("st36_edges"))
        .connectedComponents.run().components
      s.table("st36_labels").select(col("id"))
        .join(cold.withColumnRenamed("component", "__c"), Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
    }),

    // STREAMING CDC TRIANGLE MAINTENANCE (st33 — st31's change-stream
    // form): nation-clique adds in 3 batches, the %7==1 takedown in
    // batch 4; destroyed triangles debit at ingest. Oracle = g38's.
    "st33_stream_tri_cdc" -> ((s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      stageAndDrain(s, addsThenTakedown(edges), "graft-st33", nFiles = 4,
          idCol = "stage_id") { stream =>
        graft.streaming.Streams.initTriangleCdcTables(s, "st33_counts",
          "st33_adj", "st33_tombs")
        graft.streaming.Streams.streamingTriangleMaintainCdc(
            stream, "st33_counts", "st33_adj", "st33_tombs")
      }
      s.catalog.refreshTable("st33_counts")
      nations.select(col("k").as("id"))
        .join(s.table("st33_counts").withColumnRenamed("triangles", "__t"),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__t"), lit(0L)).as("triangles"))
    }),

    // STREAMING PAGERANK MAINTENANCE (st35 — the ranking family at
    // ingest): the cust→nation→region edges arrive in 3 cumulative
    // slices ((src+dst)%3); each batch re-ranks the growing graph warm
    // from the previous batch's raw mass via the g40 residual restart,
    // 2 fixed iterations per batch. The drained raw mass normalized =
    // the oracle's 3-stage chained unroll — every float op of every
    // stage replayed in evaluation order (batch 1 is the g = 0 cold
    // special case, emitted uniformly).
    "st35_stream_pagerank_maintain" -> ((s, d) => {
      val edges = custNationRegionEdges(s, d)
      val staged = edges.select(col("src"), col("dst"),
        pmod(col("src") + col("dst"), lit(3L)).as("stage_id"))
      stageAndDrain(s, staged, "graft-st35", nFiles = 3, idCol = "stage_id") {
        stream =>
          graft.streaming.Streams.initPageRankTables(s, "st35_rawmass",
            "st35_edges")
          graft.streaming.Streams.streamingPageRankMaintain(
            stream, "st35_rawmass", "st35_edges", iterations = 2, tol = 1e-9)
      }
      s.catalog.refreshTable("st35_rawmass")
      val rm = s.table("st35_rawmass")
      // Normalize exactly as PageRankResult.ranks does (crossJoin with
      // the 1-row sum), rounded like every ranking gate.
      rm.crossJoin(rm.agg(sum(col("pagerank")).as("__tot")))
        .select(col("id"), round(col("pagerank") / col("__tot"), 6)
          .as("pagerank"))
    }),

    // STREAMING CDC K-CORE MAINTENANCE (st34 — the warm-start family at
    // ingest, completing the maintenance set): nation-clique adds in 3
    // batches, the %7==1 takedown in batch 4; every batch re-derives
    // exact coreness WARM from the previous batch's cores (the g41
    // seed). The drained table must equal the cold h-index recompute
    // over the net edge set — endpoints of surviving edges only,
    // exactly what the oracle's vertex frame derives.
    "st34_stream_kcore_cdc" -> ((s, d) => {
      val nations = tbl(s, d, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_regionkey").cast(LongType).as("r"))
      val edges = nations.as("a").join(nations.as("b"),
          col("a.r") === col("b.r") && col("a.k") < col("b.k"))
        .select(col("a.k").as("src"), col("b.k").as("dst"))
      stageAndDrain(s, addsThenTakedown(edges), "graft-st34", nFiles = 4,
          idCol = "stage_id") { stream =>
        graft.streaming.Streams.initKCoreCdcTables(s, "st34_cores",
          "st34_edges", "st34_tombs")
        graft.streaming.Streams.streamingKCoreMaintainCdc(
            stream, "st34_cores", "st34_edges", "st34_tombs")
      }
      s.catalog.refreshTable("st34_cores")
      s.table("st34_cores")
    }),

    "st20_stream_url_dedup" -> ((s, d) => {
      val docs = streamTbl(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.canonicalizeUrl(urlSynth(col("doc_id"))).as("canon"))
      val sink = drainStream(
        graft.streaming.Streams.streamingFirstSeen(docs, "doc_id", "canon")
          .toDF(),
        "st20_sink", "append")
      sink.groupBy(col("key").as("canon"))
        .agg(min("min_id").as("keep_id"), max("cnt").as("n_dups"))
    }),

    // Streaming URL dedup with STATE TTL — the multi-day-crawl contract:
    // keys evict once the watermark passes ttl beyond their last
    // occurrence, a re-seen key starts a fresh visit window, and only
    // CLOSED windows emit (the sessionize closed-only discipline). The
    // drive is deterministic: docs split by doc_id range into 4
    // mtime-ordered files (one micro-batch each), key = canonical URL of
    // doc_id % 37 (heavy recurrence — chains both continue within a
    // batch and split across the horizon), event time = doc_id + 1000
    // seconds (off the initial watermark, which drops equal-time rows),
    // ttl 20 s, lateness 5 s. The oracle replays the exact semantics:
    // split between consecutive occurrences iff the watermark AT the
    // later batch (max sec of EARLIER batches - 5) exceeds prev + 20;
    // closed iff the final watermark exceeds last + 20.
    "st21_stream_firstseen_ttl" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"),
        TextFunctions.canonicalizeUrl(urlSynth(col("doc_id") % 37)).as("canon"),
        timestamp_seconds(col("doc_id") + 1000L).as("ts"))
      val dir = stageMtimeFiles(docs, "graft-st21", nFiles = 4)
      val schema = s.read.parquet(s"$dir/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      drainStream(
        graft.streaming.Streams.streamingFirstSeenTtl(stream, "doc_id",
          "canon", "ts", ttlSec = 20L, lateness = "5 seconds").toDF(),
        "st21_sink", "append")
    }),

    // RESTART / exactly-once resume — the fault-tolerance contract every
    // long-lived ingest leans on: the first-seen dedup runs as TWO
    // SEPARATE queries sharing a durable checkpoint — job 1 drains the
    // first two files and stops; files 3-4 "arrive overnight"; job 2
    // starts fresh from the checkpoint. Recovery must (a) skip the
    // already-committed files (source exactly-once) and (b) restore the
    // per-key (min, cnt) state (state-store recovery) — a lost state
    // would restart cnt at 0 for recurring keys and the max(cnt)
    // finalize would undercount, which is exactly what the batch oracle
    // discriminates. Keys recur across the restart boundary by
    // construction (doc_id % 37).
    "st22_stream_restart" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"),
        TextFunctions.canonicalizeUrl(urlSynth(col("doc_id") % 37)).as("canon"))
      val dir = stageMtimeFiles(docs, "graft-st22", nFiles = 4)
      // Hold files 3-4 back until after the first query stops.
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/pending"))
      Seq(2, 3).foreach { f =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(s"$dir/in/f$f.parquet"),
          java.nio.file.Paths.get(s"$dir/pending/f$f.parquet"))
      }
      val schema = s.read.parquet(s"$dir/in").schema
      def runJob(): Unit = {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
        val q = graft.streaming.Streams
          .streamingFirstSeen(stream, "doc_id", "canon").toDF()
          .writeStream.format("parquet").option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ckpt").outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runJob()
      Seq(2, 3).foreach { f =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(s"$dir/pending/f$f.parquet"),
          java.nio.file.Paths.get(s"$dir/in/f$f.parquet"))
      }
      runJob()
      s.read.parquet(s"$dir/out").groupBy(col("key").as("canon"))
        .agg(min("min_id").as("keep_id"), max("cnt").as("n_dups"))
    }),

    // Streaming INDEX INGEST — the write side of the RAG pair (st16 is
    // the read side): new embedding rows arriving on a stream encode per
    // micro-batch against the FROZEN trained books (ivfPqAppend is a pure
    // stateless projection, so it runs as a narrow streaming transform),
    // the drained delta unions onto the static artifact, and search
    // probes the merged index. Oracle = the s17 batch SQL verbatim.
    "st18_stream_index_add" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val (artifact, coarse, book) = Similarity.ivfPqIndex(
        e.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      val deltaEnc = drainStream(
        Similarity.ivfPqAppend(
          streamTbl(s, d, "embeddings").filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", coarse, book),
        "st18_sink", "append")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8,
          indexOf = Some((artifact.unionByName(deltaEnc), coarse, book)))
        .withColumnRenamed("rank", "rnk")
    }),

    // Stateless streaming filter: the batch quality formula at ingest.
    "st03_stream_quality" -> ((s, d) =>
      drainStream(
        graft.streaming.Streams.qualityFilter(streamTbl(s, d, "documents"), "text", 0.5)
          .select(col("doc_id"), round(col("quality"), 6).as("quality")),
        "st03_sink", "append")),

    // Personalized PageRank from customer 1 over the customer->order->part
    // DAG: teleport mass only at the source, 3 fixed iterations,
    // near-zero tol so every nonzero delta propagates (keeps the
    // participation gate engine-exact; see pprOracle).
    "g15_ppr" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.pageRank.resetProbability(0.15).tolerance(1e-9).maxIterations(3)
        .personalized(1L).run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    }),

    // HITS hubs/authorities, 2 unnormalized iterations — integer-exact
    // alternating-path counts (see graft.algorithms.Hits).
    "g16_hits" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hits.iterations(2).run()
    }),

    // Katz centrality on the same DAG: integer-lattice attenuated
    // walk mass, 3 exact rounds (α = 1/2 as one truncating div of the
    // message sum per round — strict-equality gate, no float drift).
    "g27_katz" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.katz.iterations(3).run()
    }),

    // Resource-Allocation link prediction on the same DAG (undirected
    // view): top-100 non-adjacent pairs by Σ 1/deg(z) over shared
    // neighbors, on the 1e-12 integer lattice — strict-equality gate,
    // no float summation order (the g27 discipline).
    "g28_link_predict" -> ((s, d) =>
      graft.algorithms.LinkPrediction.resourceAllocation(
        custOrderPartEdges(s, d), topK = 100, degreeCap = 256)),

    // HyperBall 2-hop out-ball sizes (p=4): per-vertex HLL sketches
    // advanced by register-max merge rounds; sum_scaled/n_zero anchor
    // on exact integers, est6 is the one rounded division — the q14
    // sketch discipline applied per vertex.
    "g29_hyperball" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(2).precision(4).run()
    }),

    // Approximate harmonic centrality from the ball sketches — the
    // centrality HyperBall exists for: Σ shell_t / t over radii 1..3
    // on the INTEGER lattice (micros × lcm(1..3) — a float fold of
    // rounded shells hits half-way boundaries systematically; measured,
    // hence strict-equality integers).
    "g31_hyperball_harmonic" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).harmonicCentrality()
    }),

    // Approximate closeness centrality off the same sketches (g32 —
    // HyperBall's other geometric centrality): the t-WEIGHTED shell
    // fold Σ t·shell_t ≈ the truncated distance sum, exact BIGINT
    // micros (integer weights need no lcm clearing) — closeness is its
    // reciprocal, left unreciprocated so the gate stays on the strict
    // integer lattice (sinks read 0, not a division guard).
    "g32_hyperball_closeness" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).closenessCentrality()
    }),

    // Lin centrality (g33 — the third Boldi–Vigna geometric measure):
    // reach² / distance-sum off the same shell frames — integer anchors
    // (reach micros, cball_lat) plus ONE rounded float expression;
    // reach-only vertices take the defined value 1 (sinks pinned).
    "g33_hyperball_lin" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).linCentrality()
    }),

    // The neighborhood function N(t) + effective diameter (HyperANF's
    // headline): per-radius global reach on the integer micro lattice
    // (per-vertex estimates round to micros BEFORE the fold — no float
    // summation order), radii 0..3 on the depth-2 DAG, so the t=3 row
    // pins saturation (N(3) == N(2)) and the 90% threshold lands the
    // effective diameter at t <= 2.
    "g30_neighborhood_fn" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hyperBall.radius(3).precision(4).neighborhoodFunction()
    }),

    // L2-normalized HITS (the user-facing form, scores in (0,1]): same
    // integer-exact rounds as g16, one normalization aggregate at the end.
    "g16b_hits_norm" -> ((s, d) => {
      val g = GraphFrame.fromEdges(custOrderPartEdges(s, d))
      g.hits.iterations(2).normalized(true).run()
        .select(col("id"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
    }),

    // Weighted SSSP (min-plus Pregel over an edge weight column) on the
    // customer->order->part DAG, weights = integer cents, FORCED
    // distributed (threshold 0) so the Pregel edge-column path is the one
    // oracle-gated — the g09b/g10b discipline. The 4-round cap is past the
    // DAG's depth-2 convergence, so capped == exact here.
    "g17_wsssp" -> ((s, d) =>
      GraphFrame.fromEdges(weightedDagEdges(s, d))
        .weightedShortestPaths(Seq(1L)).maxIterations(4).smallGraphThreshold(0).run()
        .vertices.select(col("id"), col("dist_1"))),

    // Weighted PageRank on the same weighted DAG: delta distributes
    // proportional to edge weight. Per-source weight totals are EXACT
    // integer sums; only the per-edge fraction and message sum are float —
    // the same IEEE discipline as g08/g15.
    "g18_wpagerank" -> ((s, d) =>
      GraphFrame.fromEdges(weightedDagEdges(s, d))
        .pageRank.resetProbability(0.15).tolerance(1e-9).maxIterations(3)
        .weighted("weight").run()
        .ranks.select(col("id"), round(col("pagerank"), 6).as("pagerank"))),

    // One-round neighborhood aggregation (GraphFrames aggregateMessages
    // parity): each dst receives its srcs' ids, each src its dsts' ids;
    // per-vertex sum + count over the merged message stream.
    "g14_aggmsg" -> ((s, d) => {
      val g = GraphFrame.fromEdges(partSuppEdges(s, d))
      g.aggregateMessages(
        sendToDst = Some(col("src_vertex.id")),
        sendToSrc = Some(col("dst_vertex.id")),
        sum(col("msg")).as("nbr_id_sum"), count(lit(1)).as("msg_cnt"))
    }),

    // ---- round-4 additions: repetition QA, decontamination, BM25, k-means ----
    "t05_repetition" -> ((s, d) =>
      TextFunctions.repetitionSignals(tbl(s, d, "documents"), "doc_id", "text")),

    // Held-out set = doc_id % 10 == 7; 5-gram overlap (the data's planted
    // near-dups make this a discriminative flag — 3-grams over the tiny
    // synthetic vocabulary would mark most of the corpus).
    // Cross-corpus span dedup: first occurrence of every distinct chunk.
    "d10_chunk_dedup" -> ((s, d) =>
      Dedup.firstOccurrenceChunks(tbl(s, d, "documents"), "doc_id", "text",
        chunkChars = 512, overlapChars = 64)),

    // Sliding-window exact substring dedup (the Lee-et-al rule d10's
    // aligned chunks approximate): every overlapping 5-gram anchors,
    // non-first occurrences mark their token window, islands merge, and
    // the output is the kept-span complement per document.
    "d18_substring_spans" -> ((s, d) =>
      Dedup.exactSubstringSpans(tbl(s, d, "documents"), "doc_id", "text",
        n = 5)),

    "d09_decontaminate" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 5)
    }),

    // SEMANTIC decontamination (d20): corpus embeddings within 0.45
    // cosine of any held-out embedding — the paraphrase-leakage scrub
    // lexical n-gram decon (d09) can't see. Banded hyperplane-LSH
    // candidates across the two sets, exact-cosine verify, one aggregate
    // per corpus id; the oracle is the brute-force cross join.
    "d20_semantic_decon" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Dedup.semanticDecontaminate(
        e.filter(col("vec_id") % 10 =!= 7), e.filter(col("vec_id") % 10 === 7),
        "vec_id", "embedding", threshold = 0.45)
    }),

    // Fuzzy decontamination: near-dup pairs ACROSS the same split.
    "d11_fuzzy_decon" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      Dedup.crossCorpusNearDups(docs, docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 3, threshold = 0.8)
    }),

    // Bloom-filter decontamination, the constant-size-probe companion to
    // d09: (d12) the set-bit table of a 2^16-slot / 3-probe filter over
    // the held-out 5-grams — exact integers, gates the salted double-hash
    // and the mod-m split; (d12b) the corpus probe counting grams whose 3
    // positions are ALL set — flagged_ngrams >= d09's shared_ngrams
    // row-wise (bloom one-sided error), and the oracle replays filter AND
    // probe so even the false positives must match bit-for-bit.
    "d12_bloom_bits" -> ((s, d) =>
      Dedup.bloomBits(
        tbl(s, d, "documents").filter(col("doc_id") % 10 === 7),
        "text", n = 5, mBits = 1 << 16, kHashes = 3)),

    "d12b_bloom_decon" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val bits = Dedup.bloomBits(docs.filter(col("doc_id") % 10 === 7),
        "text", n = 5, mBits = 1 << 16, kHashes = 3)
      Dedup.bloomDecontaminate(docs.filter(col("doc_id") % 10 =!= 7), bits,
        "doc_id", "text", n = 5, mBits = 1 << 16, kHashes = 3)
    }),

    // Quality-aware near-dup removal: each Jaccard cluster keeps its
    // argmax-quality member (ties to the smaller id), not the min id —
    // the keep-the-cleanest-copy curation rule.
    "d14_keep_best" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      Dedup.keepBestNearDuplicates(docs, "doc_id", "text",
        TextFunctions.qualityScore(col("text")))
    }),

    // SemDeDup: k-means cells (k01's deterministic init, nIter=0) bound
    // the quadratic term; within each cell the greedy keep-lowest-id rule
    // drops any vector with a lower-id cell-mate at rounded cosine >= 0.45
    // (the d05 threshold, so the gate provably removes rows on this corpus:
    // near-dup pairs cluster into the same cell).
    "d13_semantic_dedup" -> ((s, d) =>
      Dedup.semanticDedup(tbl(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, threshold = 0.45)),

    "s04_bm25_topk" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      Retrieval.bm25TopK(docs, docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", k = 5)
    }),

    // Exact embedding mean-pooling per class label (chunk->doc /
    // class-centroid aggregation): quantized micro-lattice + vector_sum
    // partials + floor-divided means — engine-exact like k01's update.
    "e01_mean_pool" -> ((s, d) => {
      import graft.functions.VectorSumAgg.vector_sum
      val q = KMeans.quantize(
        tbl(s, d, "embeddings").select(col("label").cast(LongType).as("label"),
          col("embedding")), "label", "embedding")
      q.groupBy("id").agg(vector_sum(col("vq")).as("vs"), count(lit(1)).as("cnt"))
        .select(col("id").as("label"), col("cnt"), posexplode(col("vs")))
        .select(col("label"), col("pos").cast(LongType).as("dim"),
          floor(col("col").cast("double") / col("cnt").cast("double"))
            .cast(LongType).as("mean_micros"))
    }),

    "k01_kmeans" -> ((s, d) =>
      KMeans.fitAssign(tbl(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, nIter = 2)
        .select(col("vec_id"), col("cell").cast(LongType).as("cell"), col("d2"))),

    // Frozen-centroid PREDICT (the s17 discipline for clustering):
    // train on the %4!=0 subset, assign the held-out quarter with no
    // retrain — oracle = the k01 chain with every training CTE
    // restricted to the subset and the final assignment over the
    // holdout.
    "k02_kmeans_predict" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val cents = KMeans.fitCentroids(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", k = 8, nIter = 2)
      KMeans.predictAssign(e.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", cents)
        .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
          col("d2"))
    }),

    // ... and the holdout INERTIA per cell (exact integer SSE) — the
    // retrain-pressure measurement for clustering.
    "k02b_cluster_inertia" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val cents = KMeans.fitCentroids(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", k = 8, nIter = 2)
      KMeans.clusterInertia(KMeans.predictAssign(
        e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", cents))
    }),

    // WARM-START k-means (k03 — continual training for the clustering
    // family): yesterday's fit (2 Lloyd rounds on the %4!=0 subset, the
    // k02 training chain verbatim) resumes with ONE more Lloyd round
    // over the FULL grown corpus, then assigns everything. Lloyd is a
    // pure function of (points, centroids), so the oracle replays the
    // exact resumed step — any re-init, seed, or tie-break drift
    // diverges.
    "k03_kmeans_warm" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val prev = KMeans.fitCentroids(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", k = 8, nIter = 2)
      val warm = KMeans.fitCentroids(e, "vec_id", "embedding",
        k = 8, nIter = 1, initOpt = Some(prev))
      KMeans.predictAssign(e, "vec_id", "embedding", warm)
        .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
          col("d2"))
    }),

    // Trainer -> index: IVF-FLAT probing k-means-trained centroids (the
    // production IVF wiring, vs s03's smallest-id-vectors index). The
    // oracle replays BOTH stages: the k01 centroid chain rescaled to
    // doubles, then the s03 probe/score/rank pipeline over those cells.
    "s05_ivf_trained" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val cents = KMeans.centroidsDF(s,
        KMeans.fitCentroids(e, "vec_id", "embedding", k = 8, nIter = 2))
        .select(col("cell").cast(LongType).as("vec_id"),
          col("centroid").as("embedding"))
      Similarity.ivfCosineTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2,
        centroidsDF = Some(cents))
        .withColumnRenamed("rank", "rnk")
    }),

    // End-to-end training-data pipeline, one composite gate: quality
    // filter (>= 0.6) -> corpus near-dup removal (over the FILTERED set)
    // -> deterministic hash split -> per-split doc/token counts. Every
    // stage is individually oracle-proven (t02 / d08 / p01 / t01); this
    // gate proves the COMPOSITION.
    "p03_pipeline" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val clean = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.6)
      val unique = Dedup.dropNearDuplicates(clean, "doc_id", "text",
        n = 3, threshold = 0.8)
      Sampling.hashSplit(unique, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("tokens"))
    })
  )

  /** The t18 HTML->text replay (see the comment above the gate): the
    * synthesis template verbatim, then the kernel in RE2 — block drops
    * (dotall), per-line link-density filter, tag strip, entity decode
    * (&amp; last), whitespace squeeze. Shared verbatim by the st15
    * streaming-ingest twin.
    */
  private val t18OracleSql: String =
    """WITH h AS (SELECT doc_id,
          |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>' || chr(10) ||
          |  '<style>' || chr(10) || 'p { color: red; }' || chr(10) || '</style>' || chr(10) ||
          |  '<script>' || chr(10) || 'var x = 1; if (x < 2) { x = 3; }' || chr(10) || '</script>' || chr(10) ||
          |  '</head><body>' || chr(10) ||
          |  '<!-- boilerplate' || chr(10) || 'nav comment -->' || chr(10) ||
          |  '<div><a href="/home">Home</a> | <a href="/about">About us</a> | <a href="/contact">Contact</a></div>' || chr(10) ||
          |  '<h1>Title &amp; subtitle ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
          |  '<p>' || text || '</p>' || chr(10) ||
          |  '<p>Footer &nbsp;entities&nbsp; stay &lt;escaped&gt; &quot;quoted&quot;</p>' || chr(10) ||
          |  '<div>Read more: <a href="/next">next page</a> and other stories follow here</div>' || chr(10) ||
          |  '</body></html>' AS html FROM documents),
          |nb AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
          |  '(?is)<!--.*?-->', ' ', 'g'),
          |  '(?is)<script\b[^>"]*(?:"[^"]*"[^>"]*)*>.*?</script>', ' ', 'g'),
          |  '(?is)<style\b[^>"]*(?:"[^"]*"[^>"]*)*>.*?</style>', ' ', 'g') AS s FROM h),
          |ls AS (SELECT doc_id, string_split(s, chr(10)) AS lines FROM nb),
          |kd AS (SELECT doc_id,
          |  list_filter(lines, l ->
          |    length(trim(regexp_replace(regexp_replace(l, '<[^>"]*(?:"[^"]*"[^>"]*)*>', ' ', 'g'), '[ \t\r]+', ' ', 'g'))) > 0
          |    AND 2 * length(trim(regexp_replace(regexp_replace(coalesce(array_to_string(regexp_extract_all(l, '(?is)<a\b[^>"]*(?:"[^"]*"[^>"]*)*>(.*?)</a>', 1), ' '), ''), '<[^>"]*(?:"[^"]*"[^>"]*)*>', ' ', 'g'), '[ \t\r]+', ' ', 'g')))
          |      <= length(trim(regexp_replace(regexp_replace(l, '<[^>"]*(?:"[^"]*"[^>"]*)*>', ' ', 'g'), '[ \t\r]+', ' ', 'g')))) AS kept,
          |  list_filter(lines, l ->
          |    length(trim(regexp_replace(regexp_replace(l, '<[^>"]*(?:"[^"]*"[^>"]*)*>', ' ', 'g'), '[ \t\r]+', ' ', 'g'))) > 0
          |    AND 2 * length(trim(regexp_replace(regexp_replace(coalesce(array_to_string(regexp_extract_all(l, '(?is)<a\b[^>"]*(?:"[^"]*"[^>"]*)*>(.*?)</a>', 1), ' '), ''), '<[^>"]*(?:"[^"]*"[^>"]*)*>', ' ', 'g'), '[ \t\r]+', ' ', 'g')))
          |      > length(trim(regexp_replace(regexp_replace(l, '<[^>"]*(?:"[^"]*"[^>"]*)*>', ' ', 'g'), '[ \t\r]+', ' ', 'g')))) AS dropped
          |  FROM ls)
          |SELECT doc_id,
          |  trim(regexp_replace(
          |    replace(replace(replace(replace(replace(replace(
          |      coalesce(array_to_string(list_transform(kept, l ->
          |        trim(regexp_replace(regexp_replace(l, '<[^>"]*(?:"[^"]*"[^>"]*)*>', ' ', 'g'), '[ \t\r]+', ' ', 'g'))), ' '), ''),
          |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
          |    '[ \t\r]+', ' ', 'g')) AS clean_text,
          |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
          |  CAST(len(dropped) AS BIGINT) AS n_boiler_lines
          |FROM kd""".stripMargin

  /** The p11 priority-sampling replay (Duffield–Lund–Thorup): shared
    * verbatim by st24 — the streaming candidate path must be INVISIBLE
    * to the final sample, which sharing the oracle text asserts.
    * 1152921504606846976 = 2^60 (exactly representable; the division by
    * it is an exponent shift, exact in both engines).
    */
  private val p11OracleSql: String =
    """WITH s AS (SELECT doc_id, n_chars AS weight,
      |  ('0x' || substr(md5('p11e0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS u
      |FROM documents),
      |q AS (SELECT doc_id, weight,
      |  CAST(weight AS DOUBLE) / (CAST(u AS DOUBLE) / 1152921504606846976.0) AS priority
      |FROM s),
      |r AS (SELECT doc_id, weight, priority,
      |  row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM q),
      |t AS (SELECT coalesce(max(CASE WHEN rn = 65 THEN priority END), 0.0) AS tau
      |  FROM r WHERE rn <= 65)
      |SELECT r.doc_id, r.weight, r.priority,
      |  greatest(CAST(r.weight AS DOUBLE), t.tau) AS est_weight
      |FROM r, t WHERE r.rn <= 64""".stripMargin

  /** The s13 IVF-PQ replay: smallest-id coarse/codebook seeds, integer-
    * lattice encode, 2-probe ADC search, rank (d2 ASC, id ASC). Shared
    * verbatim by s20 (persist + reload must be INVISIBLE to search —
    * the reloaded-index result hash-equals the in-session one, which is
    * exactly what sharing the oracle text asserts).
    */
  private val s13OracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
      |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
      |  FROM e ORDER BY vec_id LIMIT 4),
      |cd AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2
      |  FROM e CROSS JOIN cc c),
      |asg AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cd) WHERE rn = 1),
      |res AS (SELECT e.vec_id, a.cell, list_transform(range(1, 65),
      |  i -> e.vq[i] - c.cv[i]) AS rv
      |  FROM e JOIN asg a USING (vec_id) JOIN cc c ON c.cell = a.cell),
      |bk AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, rv AS bv
      |  FROM res ORDER BY vec_id LIMIT 8),
      |ed AS (SELECT r.vec_id, r.cell, sj.s, b.j,
      |  list_sum(list_transform(range(1, 17),
      |    i -> (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i])
      |       * (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
      |  FROM res r CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
      |code AS (SELECT vec_id, cell, s, j AS code
      |  FROM (SELECT vec_id, cell, s, j, row_number() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM ed)
      |  WHERE rn = 1),
      |probes AS (SELECT vec_id AS qid, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cd WHERE vec_id <= 3) WHERE rn <= 2),
      |qres AS (SELECT p.qid, p.cell, list_transform(range(1, 65),
      |  i -> e.vq[i] - c.cv[i]) AS qr
      |  FROM probes p JOIN e ON e.vec_id = p.qid
      |  JOIN cc c ON c.cell = p.cell),
      |qt AS (SELECT q.qid, q.cell, sj.s, b.j,
      |  list_sum(list_transform(range(1, 17),
      |    i -> (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i])
      |       * (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
      |  FROM qres q CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
      |appr AS (SELECT qt.qid, code.vec_id AS nid, CAST(sum(qt.d2) AS BIGINT) AS d2
      |  FROM code JOIN qt ON qt.cell = code.cell AND qt.s = code.s
      |    AND qt.j = code.code
      |  WHERE code.vec_id <> qt.qid
      |  GROUP BY 1, 2),
      |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
      |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM appr)
      |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
      |FROM rk WHERE rnk <= 5""".stripMargin

  /** The s16 filtered IVF-PQ replay (see the comment above the gate):
    * the s13 chain with the label predicate folded into the candidate
    * join. Shared verbatim by the st16 streaming twin.
    */
  private val s16OracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
          |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
          |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
          |  FROM e ORDER BY vec_id LIMIT 4),
          |cd AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
          |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2
          |  FROM e CROSS JOIN cc c),
          |asg AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
          |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          |  FROM cd) WHERE rn = 1),
          |res AS (SELECT e.vec_id, a.cell, list_transform(range(1, 65),
          |  i -> e.vq[i] - c.cv[i]) AS rv
          |  FROM e JOIN asg a USING (vec_id) JOIN cc c ON c.cell = a.cell),
          |bk AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, rv AS bv
          |  FROM res ORDER BY vec_id LIMIT 8),
          |ed AS (SELECT r.vec_id, r.cell, sj.s, b.j,
          |  list_sum(list_transform(range(1, 17),
          |    i -> (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i])
          |       * (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
          |  FROM res r CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
          |code AS (SELECT vec_id, cell, s, j AS code
          |  FROM (SELECT vec_id, cell, s, j, row_number() OVER
          |    (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM ed)
          |  WHERE rn = 1),
          |probes AS (SELECT vec_id AS qid, cell FROM (SELECT vec_id, cell,
          |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          |  FROM cd WHERE vec_id <= 3) WHERE rn <= 2),
          |qres AS (SELECT p.qid, p.cell, list_transform(range(1, 65),
          |  i -> e.vq[i] - c.cv[i]) AS qr
          |  FROM probes p JOIN e ON e.vec_id = p.qid
          |  JOIN cc c ON c.cell = p.cell),
          |qt AS (SELECT q.qid, q.cell, sj.s, b.j,
          |  list_sum(list_transform(range(1, 17),
          |    i -> (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i])
          |       * (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
          |  FROM qres q CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
          |appr AS (SELECT qt.qid, code.vec_id AS nid, CAST(sum(qt.d2) AS BIGINT) AS d2
          |  FROM code JOIN qt ON qt.cell = code.cell AND qt.s = code.s
          |    AND qt.j = code.code
          |  JOIN embeddings fe ON fe.vec_id = code.vec_id
          |  WHERE code.vec_id <> qt.qid AND fe.label % 2 = 0
          |  GROUP BY 1, 2),
          |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
          |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM appr)
          |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
          |FROM rk WHERE rnk <= 5""".stripMargin

  // Shared by t19 (batch) and st19 (streaming): synthesis CASEs +
  // per-class counts on the raw augmented text + the sequential
  // email -> ip -> phone redaction, md5-pinned ('g' = DuckDB's global
  // flag; Spark's regexp_replace is global by default).
  private val t19OracleSql: String =
    """WITH aug AS (SELECT doc_id, text ||
      |  CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@ex' || (doc_id % 7) || '.com' ELSE '' END ||
      |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.4' ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || (1000 + doc_id % 9000) ELSE '' END AS t
      |FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS emails,
      |  CAST(len(regexp_extract_all(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS ips,
      |  CAST(len(regexp_extract_all(t, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4,6}\b')) AS BIGINT) AS phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
      |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4,6}\b', '[PHONE]', 'g')) AS red_md5
      |FROM aug""".stripMargin

  // Shared by s17 (batch add) and st18 (streaming ingest): the s13 chain
  // with BOTH seed CTEs (coarse cc, residual codebook bk) restricted to
  // the "existing" subset (vec_id % 4 <> 0) — the books the index was
  // trained on — while the encode covers ALL rows. Per-row encode under
  // frozen books is order- and batching-free, so build+append (batch) and
  // build+per-micro-batch-encode (stream) both equal it exactly.
  private val s17OracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
      |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
      |  FROM e WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 4),
      |cd AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2
      |  FROM e CROSS JOIN cc c),
      |asg AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cd) WHERE rn = 1),
      |res AS (SELECT e.vec_id, a.cell, list_transform(range(1, 65),
      |  i -> e.vq[i] - c.cv[i]) AS rv
      |  FROM e JOIN asg a USING (vec_id) JOIN cc c ON c.cell = a.cell),
      |bk AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, rv AS bv
      |  FROM res WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 8),
      |ed AS (SELECT r.vec_id, r.cell, sj.s, b.j,
      |  list_sum(list_transform(range(1, 17),
      |    i -> (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i])
      |       * (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
      |  FROM res r CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
      |code AS (SELECT vec_id, cell, s, j AS code
      |  FROM (SELECT vec_id, cell, s, j, row_number() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM ed)
      |  WHERE rn = 1),
      |probes AS (SELECT vec_id AS qid, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cd WHERE vec_id <= 3) WHERE rn <= 2),
      |qres AS (SELECT p.qid, p.cell, list_transform(range(1, 65),
      |  i -> e.vq[i] - c.cv[i]) AS qr
      |  FROM probes p JOIN e ON e.vec_id = p.qid
      |  JOIN cc c ON c.cell = p.cell),
      |qt AS (SELECT q.qid, q.cell, sj.s, b.j,
      |  list_sum(list_transform(range(1, 17),
      |    i -> (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i])
      |       * (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
      |  FROM qres q CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
      |appr AS (SELECT qt.qid, code.vec_id AS nid, CAST(sum(qt.d2) AS BIGINT) AS d2
      |  FROM code JOIN qt ON qt.cell = code.cell AND qt.s = code.s
      |    AND qt.j = code.code
      |  WHERE code.vec_id <> qt.qid
      |  GROUP BY 1, 2),
      |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
      |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM appr)
      |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
      |FROM rk WHERE rnk <= 5""".stripMargin

  // s18 upsert replay: books train on the ORIGINAL old subset (cc/bk via
  // the e/res0 chain, exactly s17's derivation), but the ENCODE runs over
  // the UPSERTED corpus em — vec_id % 8 = 1 rows carry vq + 1e6 per dim
  // (the +1.0 re-embedding is exact integer arithmetic on the micro
  // lattice, so DuckDB replays it without float math). Queries keep their
  // ORIGINAL vectors (probes/qres from e): a changed corpus row must be
  // found at its NEW position, by its OLD query.
  private val s18OracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
      |em AS (SELECT vec_id, CASE WHEN vec_id % 8 = 1
      |  THEN list_transform(vq, v -> v + 1000000) ELSE vq END AS vq FROM e),
      |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
      |  FROM e WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 4),
      |cd0 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2
      |  FROM e CROSS JOIN cc c),
      |asg0 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cd0) WHERE rn = 1),
      |res0 AS (SELECT e.vec_id, a.cell, list_transform(range(1, 65),
      |  i -> e.vq[i] - c.cv[i]) AS rv
      |  FROM e JOIN asg0 a USING (vec_id) JOIN cc c ON c.cell = a.cell),
      |bk AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, rv AS bv
      |  FROM res0 WHERE vec_id % 4 <> 0 ORDER BY vec_id LIMIT 8),
      |cdm AS (SELECT em.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (em.vq[i] - c.cv[i]) * (em.vq[i] - c.cv[i]))) AS d2
      |  FROM em CROSS JOIN cc c),
      |asgm AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cdm) WHERE rn = 1),
      |resm AS (SELECT em.vec_id, a.cell, list_transform(range(1, 65),
      |  i -> em.vq[i] - c.cv[i]) AS rv
      |  FROM em JOIN asgm a USING (vec_id) JOIN cc c ON c.cell = a.cell),
      |ed AS (SELECT r.vec_id, r.cell, sj.s, b.j,
      |  list_sum(list_transform(range(1, 17),
      |    i -> (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i])
      |       * (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
      |  FROM resm r CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
      |code AS (SELECT vec_id, cell, s, j AS code
      |  FROM (SELECT vec_id, cell, s, j, row_number() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM ed)
      |  WHERE rn = 1),
      |probes AS (SELECT vec_id AS qid, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cd0 WHERE vec_id <= 3) WHERE rn <= 2),
      |qres AS (SELECT p.qid, p.cell, list_transform(range(1, 65),
      |  i -> e.vq[i] - c.cv[i]) AS qr
      |  FROM probes p JOIN e ON e.vec_id = p.qid
      |  JOIN cc c ON c.cell = p.cell),
      |qt AS (SELECT q.qid, q.cell, sj.s, b.j,
      |  list_sum(list_transform(range(1, 17),
      |    i -> (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i])
      |       * (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
      |  FROM qres q CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
      |appr AS (SELECT qt.qid, code.vec_id AS nid, CAST(sum(qt.d2) AS BIGINT) AS d2
      |  FROM code JOIN qt ON qt.cell = code.cell AND qt.s = code.s
      |    AND qt.j = code.code
      |  WHERE code.vec_id <> qt.qid
      |  GROUP BY 1, 2),
      |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
      |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM appr)
      |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
      |FROM rk WHERE rnk <= 5""".stripMargin

  // Shared by p08 (batch) and st17 (streaming): ONE global running sum
  // over the (hash, key) order, then the div/% coordinate math — both
  // engines' two-level layouts must collapse to exactly this.
  // Shared by t20 and d19: synthesize the messy URL from doc_id (same
  // CASE branches as urlSynth) and replay every canonicalization rule
  // with the SAME RE2-portable decomposition the Column formula uses —
  // fragment strip, lowercased scheme/hostport, default-port strip, one
  // trailing path slash, order-preserving tracking-param filter.
  // Parameterized on the SYNTH id expression: t20/d19/st20 key the URL
  // off doc_id itself; st21 coarsens to (doc_id % 37) so canons recur
  // within and across micro-batches (the TTL gate needs both chain
  // continuations and horizon splits).
  private def urlCanonCtesFor(idE: String): String =
    raw"""WITH s AS (SELECT doc_id,
      |  (CASE WHEN $idE % 2 = 0 THEN 'HtTpS' ELSE 'hTtP' END ||
      |   '://WwW.ExAmPlE' || CAST($idE % 7 AS VARCHAR) || '.CoM' ||
      |   CASE WHEN $idE % 3 = 0 THEN
      |          (CASE WHEN $idE % 2 = 0 THEN ':443' ELSE ':80' END)
      |        WHEN $idE % 3 = 1 THEN ':8080' ELSE '' END ||
      |   '/Dir/Page' || CAST($idE % 5 AS VARCHAR) ||
      |   CASE WHEN $idE % 4 = 0 THEN '/' ELSE '' END ||
      |   CASE WHEN $idE % 5 = 0 THEN
      |          '?utm_source=feed&id=' || CAST($idE % 11 AS VARCHAR)
      |        WHEN $idE % 5 = 1 THEN
      |          '?id=' || CAST($idE % 11 AS VARCHAR) || '&gclid=abc&q=x'
      |        WHEN $idE % 5 = 2 THEN '?fbclid=zz'
      |        WHEN $idE % 5 = 4 THEN '?a=1&utm_campaign=c&b=2'
      |        ELSE '' END ||
      |   CASE WHEN $idE % 6 = 0 THEN '#Section2' ELSE '' END) AS url
      |  FROM documents),
      |c AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS u FROM s),
      |x AS (SELECT doc_id, url,
      |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_extract(lower(regexp_extract(u,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '([^@]*)$$', 1) AS hostport,
      |  regexp_replace(regexp_extract(u,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$$', '') AS path,
      |  regexp_extract(u, '\?([^#]*)', 1) AS query
      |  FROM c),
      |y AS (SELECT doc_id, url, scheme,
      |  regexp_extract(hostport, '^(\[[^\]]*\]|[^:]*)', 1) AS host,
      |  regexp_extract(hostport, '^(\[[^\]]*\]|[^:]*):([0-9]+)$$', 2) AS port,
      |  path, query,
      |  COALESCE(array_to_string(list_filter(string_split(query, '&'),
      |    p -> NOT (substr(p, 1, 4) = 'utm_' OR substr(p, 1, 7) = 'fbclid='
      |           OR substr(p, 1, 6) = 'gclid=')), '&'), '') AS keptq
      |  FROM x),
      |z AS (SELECT doc_id, url,
      |  scheme || '://' || host ||
      |  CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
      |        AND NOT (scheme = 'https' AND port = '443')
      |       THEN ':' || port ELSE '' END ||
      |  path ||
      |  CASE WHEN query = '' OR keptq = '' THEN '' ELSE '?' || keptq END
      |    AS canon
      |  FROM y)""".stripMargin

  private val urlCanonCtes: String = urlCanonCtesFor("doc_id")

  // Shared by s19/s19b: sign-bit packing (two 32-bit words) + pairwise
  // XOR-popcount Hamming against the vec_id <= 3 query set — ONE text so
  // a packing fix can never drift between the two gates.
  private val binaryHammingCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bc AS (SELECT vec_id, list_transform(range(0, 2), w ->
      |    CAST(list_sum(list_transform(range(0, 32),
      |      i -> CASE WHEN v[w*32 + i + 1] > 0 THEN 1::BIGINT << i
      |           ELSE 0::BIGINT END)) AS BIGINT)) AS code
      |  FROM e),
      |hm AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
      |  CAST(bit_count(xor(c.code[1], q.code[1]))
      |     + bit_count(xor(c.code[2], q.code[2])) AS BIGINT) AS ham
      |  FROM bc c JOIN (SELECT * FROM bc WHERE vec_id <= 3) q
      |    ON c.vec_id <> q.vec_id)""".stripMargin

  private val p08OracleSql: String =
    s"""WITH c AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS w,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |FROM documents),
       |g AS (SELECT doc_id, h, w,
       |  CAST(COALESCE(sum(w) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g0
       |FROM c)
       |SELECT doc_id, CAST(h // ${((1L << 60) + 31) / 32} AS BIGINT) AS shard,
       |  CAST(g0 // 1024 AS BIGINT) AS seq_id,
       |  CAST(g0 % 1024 AS BIGINT) AS seq_off,
       |  CAST((g0 + w - 1) // 1024 - g0 // 1024 + 1 AS BIGINT) AS n_seqs
       |FROM g""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  max(l_discount) AS max_disc,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_filter_project" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent'
        |       WHEN o_orderpriority LIKE '2%' THEN 'high'
        |       ELSE 'normal' END AS prio,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_cents
        |FROM orders WHERE o_totalprice > 50000.0""".stripMargin,

    "q03_join_inner_agg" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nation_id, count(*) AS order_cnt,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spent_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin,

    "q04_join_left_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS order_cnt,
        |  CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS spent_cents
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1""".stripMargin,

    "q05_join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)""".stripMargin,

    "q06_cross_normalize" ->
      """WITH o AS (SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS tc FROM orders),
        |t AS (SELECT CAST(sum(tc) AS BIGINT) AS tot FROM o)
        |SELECT o_orderkey, tc * 1000000 // tot AS share_ppm FROM o, t""".stripMargin,

    "q07_union_distinct" ->
      """WITH e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem)
        |SELECT DISTINCT src, dst FROM (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)""".stripMargin,

    "q08_theta_join" ->
      """SELECT CAST(a.n_regionkey AS BIGINT) AS region_id,
        |  CAST(a.n_nationkey AS BIGINT) AS n1, CAST(b.n_nationkey AS BIGINT) AS n2
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""".stripMargin,

    "q09_window_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_ns(ts) // 1000000000 AS sec,
        |  lag(epoch_ns(ts) // 1000000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_s IS NULL OR sec - prev_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM e GROUP BY 1""".stripMargin,

    // Funnel replay: same session numbering (epoch_ns floor lattice),
    // same strictly-after conversion predicate; NULL first_click never
    // converts (NULL comparison is false in the CASE).
    "q18_funnel" ->
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
        |FROM sess GROUP BY 1""".stripMargin,

    "q10_window_topk" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,

    "q11_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
        |  count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,

    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q12b_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    // Weighted-percentile replay: ONE global cumulative window over the
    // value-grouped weights — the chunk-parallel plan must equal it
    // bit-for-bit. T = ceil(pct·W/100) as (pct*W + 99) // 100; the
    // crossing predicate (cum >= T AND cum - ws < T) picks exactly the
    // first value reaching each target.
    "q31_weighted_pctl" ->
      """WITH src AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |  CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |g AS (SELECT v, CAST(sum(w) AS BIGINT) AS ws FROM src GROUP BY 1),
        |c AS (SELECT v, ws, CAST(sum(ws) OVER (ORDER BY v) AS BIGINT) AS cum_w FROM g),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM src),
        |p AS (SELECT * FROM (VALUES (25), (50), (90), (99)) AS p(pct))
        |SELECT p.pct, c.v AS value, c.cum_w, t.total_w
        |FROM p, t, c
        |WHERE c.cum_w >= (p.pct * t.total_w + 99) // 100
        |  AND c.cum_w - c.ws < (p.pct * t.total_w + 99) // 100""".stripMargin,

    // Grouped weighted-percentile replay: the per-group cumulative
    // window the group-partitioned chunk plan must equal bit-for-bit.
    "q34_grouped_wpctl" ->
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
        |  AND c.cum_w - c.ws < (p.pct * t.total_w + 99) // 100""".stripMargin,

    // Grouping-sets replay: same asymmetric slice list, same bitmask.
    "q30_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM lineitem GROUP BY GROUPING SETS
        |  ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,

    // Pivot replay: the listed-value form IS conditional aggregation.
    "q26_pivot" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS f_cents,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS o_cents
        |FROM lineitem GROUP BY 1""".stripMargin,

    // Unpivot replay: melt = UNION ALL of one arm per value column,
    // NULL cells dropped (the engine filter mirrors it).
    "q26b_unpivot" ->
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
        |WHERE o IS NOT NULL""".stripMargin,

    // Same integer rank arithmetic: ties in the row_number order cannot
    // change the SELECTED VALUE at a rank boundary.
    "q13_percentiles" ->
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
        |FROM r GROUP BY 1""".stripMargin,

    "g01_in_degrees" ->
      """SELECT l_suppkey AS id, count(*) AS in_degree FROM lineitem GROUP BY 1""".stripMargin,

    "g02_out_degrees" ->
      """SELECT 1000000 + l_partkey AS id, count(*) AS out_degree FROM lineitem GROUP BY 1""".stripMargin,

    "g03_degrees_sym" ->
      """WITH e AS (SELECT DISTINCT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |ud AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
        |SELECT src AS id, count(*) AS degree FROM ud GROUP BY 1""".stripMargin,

    "g04_triplets_flat" ->
      """SELECT c_custkey AS src_id, c_name AS src_name,
        |  CAST(3000000 + c_nationkey AS BIGINT) AS dst_id, n_name AS dst_name
        |FROM customer JOIN nation ON n_nationkey = c_nationkey""".stripMargin,

    "g05_pregel_indegree" ->
      """WITH e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |ind AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1)
        |SELECT v.id, CAST(coalesce(ind.c, 0) AS BIGINT) AS in_degree
        |FROM v LEFT JOIN ind ON v.id = ind.id""".stripMargin,

    "g06_bfs" ->
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
        |FROM v LEFT JOIN r ON r.id = v.id GROUP BY v.id""".stripMargin,

    // g43: the md5-ranked layered sample replayed exactly — same
    // preimage "src:dst:seed:layer", same 15-hex-digit BIGINT, same
    // (hash, dst) tie order, row_number <= fanout per src per layer.
    "g43_neighbor_sample" ->
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
        |SELECT CAST(2 AS BIGINT) AS layer, src, dst FROM s2""".stripMargin,

    // g44: hop = min-dist(src) + 1 over the reach set capped at
    // depth - 1; each edge once.
    "g44_ego_subgraph" ->
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
        |FROM e JOIN d ON d.id = e.src WHERE d.dist <= 1""".stripMargin,

    // Warm BFS converges to the exact distances of the full graph, so
    // the oracle is the cold recursive BFS over every edge (depth 20 ≫
    // the cust→order→part DAG's depth).
    "g42_bfs_warm" ->
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
        |FROM v LEFT JOIN r ON r.id = v.id GROUP BY v.id""".stripMargin,

    "g07_wcc" -> g07OracleSql,

    // Incremental composition must equal the full recompute exactly.
    "g34_wcc_incremental" -> g07OracleSql,

    "g37_wcc_incremental_del" -> g37OracleSql,
    // st32 ends on the SAME net edge set (all adds, then the %7==1
    // takedown) — the CDC maintenance must land exactly where the g37
    // batch compose lands.
    "st32_stream_wcc_cdc" -> g37OracleSql,

    // Compaction preserves the net graph exactly: the cold recompute
    // off the compacted log must land where the maintained labels are.
    "st36_cdc_log_compact" -> g37OracleSql,

    "g08_pagerank" ->
      """WITH e AS (SELECT c_custkey AS src, CAST(3000000 + c_nationkey AS BIGINT) AS dst FROM customer),
        |v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |ind AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1),
        |pr AS (SELECT v.id, 0.15 + 0.85 * 0.15 * coalesce(ind.c, 0) AS p
        |       FROM v LEFT JOIN ind ON v.id = ind.id),
        |t AS (SELECT sum(p) AS tot FROM pr)
        |SELECT id, round(p / tot, 6) AS pagerank FROM pr, t""".stripMargin,

    // Warm-start replay: cold 2-iter loop on the base slice (iteration 1
    // unfiltered — participation inits true on the cold path), the
    // residual pass d0 = 0.15 + α·Pᵀg − g over the full graph, then two
    // warm iterations whose senders replay abs(dl) > tol. α is written
    // (1.0 - 0.15) exactly as the engine computes it.
    "g40_pagerank_warm" ->
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
        |SELECT id, round(pr / tot, 6) AS pagerank FROM w2, t""".stripMargin,

    // st35 drains to the 3-stage warm chain: per batch the edge set is
    // the cumulative (src+dst)%3 <= k-1 slice union, and each stage is
    // the g40 program — residual pass over the stage's graph from the
    // previous stage's raw mass (stage 1: g = 0, the cold special
    // case), then 2 fixed iterations with the abs(dl) > tol
    // participation filter. Generated, not hand-unrolled; per-stage
    // CTEs MATERIALIZED (the kcore-oracle inlining lesson).
    "st35_stream_pagerank_maintain" -> prWarmChainOracleSql(3, 2),

    "g09b_kcore_capped" -> kcoreOracle(2),
    // Run-to-convergence kcore: the H-index fixpoint IS the coreness (Lü et
    // al. 2016), and the fixpoint is stable under extra rounds — the sf0.01
    // graph converges in 3 H-index iterations (measured via iterate-to-
    // fixpoint in DuckDB), so an 8-round unroll is exact with 2.5x margin.
    "g09_kcore" -> kcoreOracle(8),

    // Warm-start k-core is exact-converged, so the oracle is the cold
    // unrolled recompute over the EDITED edge set (bucket (src+dst)%7:
    // !=0 base, ==0 added, ==1 removed => edited = all but ==1), with
    // iteration margin past convergence.
    "g41_kcore_warm" ->
      kcoreOracle(12, "WHERE (1000000 + l_partkey + l_suppkey) % 7 <> 1"),
    "g10b_mis_det" -> misOracle(5, seed = 22L),
    // The bench-scale MIS query (hybrid driver path) is the SAME pure
    // function of (graph, seed) as the distributed rounds — the hybrid
    // replays them exactly — so it takes the same unrolled oracle on the
    // part–supplier graph: seed 42 converges in 5 rounds at sf0.01
    // (simulated exactly), 7 unrolled = margin.
    "g10_mis" -> misOracle(7, graphBase = misPartSuppBase),
    "g12_labelprop" -> lpaOracle,
    "g15_ppr" -> pprOracle(3),
    "g16_hits" -> hitsOracle(2),
    "g27_katz" -> katzOracle(3),

    // HyperBall replay: the register-max merge rounds in SQL — s0 =
    // every vertex's own (register, rank) from the shared md5 formula
    // (p=4: low 4 bits pick the register, rank = 57 - len(bin(h >> 4))),
    // each round = self ∪ out-neighbor sketches, grouped max; absent
    // registers contribute 2^57 to the harmonic sum (the sparse-state
    // closed form). est6 replays the alpha_16 division ::DOUBLE in the
    // engine's association order.
    "g29_hyperball" ->
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
        |FROM est""".stripMargin,

    "g30_neighborhood_fn" -> g30OracleSql,
    "g31_hyperball_harmonic" -> g31OracleSql,
    "g32_hyperball_closeness" -> g32OracleSql,
    "g33_hyperball_lin" -> g33OracleSql,

    // Resource-Allocation replay: symmetrize (drop loops, canonical
    // distinct, both directions), full-adjacency degrees, capped wedge
    // centers, per-pair integer-lattice sums, known edges anti-joined
    // out, top-100 by (score, a, b). `//` floor-div == Spark `div` on
    // the positive domain.
    "g28_link_predict" ->
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
        |ORDER BY ra_micros DESC, a, b LIMIT 100""".stripMargin,
    "g16b_hits_norm" -> hitsOracleImpl(2, normalized = true),
    "g17_wsssp" -> wssspOracle(4),
    "g18_wpagerank" -> wprOracle(3),

    "g13_subgraph" ->
      """WITH v AS (
        |  SELECT 1000000 + p_partkey AS id FROM part WHERE p_retailprice > 950.0
        |  UNION ALL
        |  SELECT s_suppkey AS id FROM supplier WHERE s_acctbal > 950.0),
        |e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem)
        |SELECT e.src, e.dst FROM e
        |WHERE e.src IN (SELECT id FROM v) AND e.dst IN (SELECT id FROM v)
        |  AND e.dst % 2 = 0""".stripMargin,

    // k-truss replay, 2 unrolled rounds: per-edge support = common
    // neighbors via the adjacency self-join, peel below k-2, recompute on
    // the survivors; output the round-2 survivors with round-2 support.
    // MATERIALIZED: e/a CTEs are each read twice downstream.
    // The capped projection replayed: distinct membership, group sizes,
    // self-join under the cap, canonical pair, weight filter.
    "g24_copurchase" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |sz AS (SELECT g, count(*) AS n FROM m GROUP BY 1),
        |k AS (SELECT m.g, m.i FROM m JOIN sz USING (g) WHERE sz.n <= 5)
        |SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS weight
        |FROM k a JOIN k b ON a.g = b.g AND a.i < b.i
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // BFS replay: minimal level is 2 by construction (customer ids and
    // part ids are disjoint bands), so paths = order x lineitem joins.
    "g26_bfs_paths" ->
      """SELECT o.o_custkey AS from_id,
        |  CAST(o.o_orderkey + 4000000 AS BIGINT) AS order_id,
        |  CAST(l.l_partkey + 1000000 AS BIGINT) AS to_id
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey <= 50 AND l.l_partkey % 10 = 0""".stripMargin,

    // Motif 2-hop replay: every path is one (order, lineitem) pair.
    "g25_motif_2hop" ->
      """SELECT o.o_custkey AS cust, CAST(count(*) AS BIGINT) AS n_paths,
        |  CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    // Predicate-pushdown replay: same 2-hop join, line edges filtered on
    // the integer-cents weight (the g17/g18 cents lattice).
    "g25c_motif_pred" ->
      """SELECT o.o_custkey AS cust, CAST(count(*) AS BIGINT) AS n_paths,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE round(l.l_extendedprice * 100, 0) > 5000000
        |GROUP BY 1""".stripMargin,

    // Open-wedge replay with NOT EXISTS for the negated term.
    "g25b_motif_negated" ->
      """WITH ks AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= 100),
        |e AS (SELECT k AS src, k + 1 AS dst FROM ks WHERE k < 100
        |      UNION ALL SELECT k, k + 2 FROM ks WHERE k % 3 = 0 AND k <= 98)
        |SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |FROM e e1 JOIN e e2 ON e2.src = e1.dst
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)""".stripMargin,

    // Ground truth from the closure: scc_id(u) = max over u and all
    // mutually-reachable v — the same canonical representative the
    // coloring algorithm's roots produce. (Explicit DISTINCT subquery for
    // v: see g21's WITH RECURSIVE UNION note.)
    "g23_scc" ->
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
        |FROM vv LEFT JOIN m ON m.u = vv.id""".stripMargin,

    // Same ground truth for the forced-distributed FW-BW arm.
    "g23b_scc_dist" ->
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
        |FROM vv LEFT JOIN m ON m.u = vv.id""".stripMargin,

    // g11's generic wedge-closure triangle count over g19's edge set
    // (already canonical: cust < 3e6+nation < 3.5e6+region), then degrees
    // from both edge directions and the micro-lattice ratio.
    "g22_clustering_coeff" ->
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
        |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id""".stripMargin,

    // Multi-landmark BFS replayed as ONE recursive CTE over the
    // symmetrized edge set (state = (landmark, vertex, depth), UNION
    // dedup, 4-hop cap), then reciprocal micro-lattice sums.
    "g21_harmonic" ->
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
        |FROM v LEFT JOIN m ON m.id = v.id GROUP BY 1""".stripMargin,

    // Walks replayed step-for-step; the union enumerates step 0 (starts)
    // plus each survived frontier.
    "g20_walks" -> {
      val stepSelects = (1 to 4).map(t =>
        s"SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS vertex FROM s$t")
        .mkString("\nUNION ALL\n")
      s"""WITH ${walkOracleCtes(4)}
         |SELECT walk_id, CAST(0 AS BIGINT) AS step, walk_id AS vertex FROM s0
         |UNION ALL
         |$stepSelects""".stripMargin
    },

    "g19_ktruss" ->
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
        |WHERE sup >= 1""".stripMargin,

    "g11_triangles" -> g11OracleSql,

    // Incremental composition must equal the full recompute over the
    // union — the same replay, verbatim.
    "g35_triangles_incremental" -> g11OracleSql,

    "g38_triangles_incremental_del" -> g38OracleSql,
    "st33_stream_tri_cdc" -> g38OracleSql,

    // st34 drains to the exact coreness of the net edge set (nation
    // same-region cliques minus the %7==1 takedowns): the cold unrolled
    // h-index recompute, vertices = surviving-edge endpoints (6 rounds
    // is past convergence on the 5-clique geometry).
    "st34_stream_kcore_cdc" -> kcoreOracleFrom(
      """SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
        |  FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |  WHERE (a.n_nationkey + b.n_nationkey) % 7 <> 1""".stripMargin, 6),

    // Incremental LCC replay: the g11 triangle chain + endpoint degrees
    // over the FULL union edge set, folded through the g22 micro
    // formula — any drift in either composed input diverges.
    // g36's full LCC replay restricted to the EDITED edge set
    // (everything but the removed %7==1 slice); vertex universe =
    // edited-graph endpoints (deg is an inner scan of e0).
    "g39_lcc_incremental_del" ->
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
        |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id""".stripMargin,

    "g36_lcc_incremental" ->
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
        |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id""".stripMargin,

    "d01_exact_dedup" ->
      """SELECT md5(text) AS fingerprint, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    "d02_ngram_jaccard" -> jaccardOracle,
    "d03_minhash_lsh" -> jaccardOracle,

    // Corpus k-minwise replay: per-doc distinct 3-gram hashes, 16 salted
    // positions, min per position over the whole corpus and each half.
    "d15_minhash_union" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT))) AS h FROM toks),
        |sal AS (SELECT doc_id, r.p,
        |  ('0x' || substr(md5(CAST(r.p AS VARCHAR) || ':' || CAST(h AS VARCHAR)), 1, 15))::BIGINT AS sh
        |  FROM hs CROSS JOIN range(0, 16) r(p)),
        |allm AS (SELECT p AS pos, min(sh) AS sig_all FROM sal GROUP BY 1),
        |h1 AS (SELECT p AS pos, min(sh) AS s1 FROM sal WHERE doc_id % 2 = 0 GROUP BY 1),
        |h2 AS (SELECT p AS pos, min(sh) AS s2 FROM sal WHERE doc_id % 2 = 1 GROUP BY 1)
        |SELECT CAST(allm.pos AS BIGINT) AS pos, sig_all, least(s1, s2) AS sig_merged
        |FROM allm JOIN h1 USING (pos) JOIN h2 USING (pos)""".stripMargin,

    // Same chain, folded to the position-agreement estimate.
    "d16_corpus_resemblance" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT))) AS h FROM toks),
        |sal AS (SELECT doc_id, r.p,
        |  ('0x' || substr(md5(CAST(r.p AS VARCHAR) || ':' || CAST(h AS VARCHAR)), 1, 15))::BIGINT AS sh
        |  FROM hs CROSS JOIN range(0, 16) r(p)),
        |h1 AS (SELECT p AS pos, min(sh) AS s1 FROM sal WHERE doc_id % 2 = 0 GROUP BY 1),
        |h2 AS (SELECT p AS pos, min(sh) AS s2 FROM sal WHERE doc_id % 2 = 1 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN s1 = s2 THEN 1 ELSE 0 END) AS BIGINT) AS matches,
        |  CAST(sum(CASE WHEN s1 = s2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS resemblance_ppm
        |FROM h1 JOIN h2 USING (pos)""".stripMargin,

    // The d16 chain sliced 3 ways (slice = doc_id % 3), every unordered
    // pair's position-agreement estimate.
    "d17_resemblance_matrix" ->
      """WITH toks AS (SELECT doc_id % 3 AS slice,
        |  regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT slice, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT))) AS h FROM toks),
        |sal AS (SELECT slice, r.p,
        |  ('0x' || substr(md5(CAST(r.p AS VARCHAR) || ':' || CAST(h AS VARCHAR)), 1, 15))::BIGINT AS sh
        |  FROM hs CROSS JOIN range(0, 16) r(p)),
        |sig AS (SELECT CAST(slice AS BIGINT) AS slice, p AS pos, min(sh) AS sig
        |  FROM sal GROUP BY 1, 2)
        |SELECT a.slice AS slice_a, b.slice AS slice_b,
        |  CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT) AS matches,
        |  CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS resemblance_ppm
        |FROM sig a JOIN sig b ON a.pos = b.pos AND a.slice < b.slice
        |GROUP BY 1, 2""".stripMargin,

    "d06_neardup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
        |ud AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |r(id, lab) AS (
        |  SELECT DISTINCT src, src FROM ud
        |  UNION
        |  SELECT ud.src, r.lab FROM ud JOIN r ON r.id = ud.dst),
        |comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster FROM r GROUP BY id)
        |SELECT d.doc_id AS id, coalesce(comp.cluster, d.doc_id) AS cluster
        |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id""".stripMargin,

    // d06's cluster closure + t02's quality formula + per-cluster argmax
    // (quality DESC, id ASC) — the window replay of max(struct(score,-id)).
    "d14_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
        |ud AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |r(id, lab) AS (
        |  SELECT DISTINCT src, src FROM ud
        |  UNION
        |  SELECT ud.src, r.lab FROM ud JOIN r ON r.id = ud.dst),
        |comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster FROM r GROUP BY id),
        |cl AS (SELECT d.doc_id AS id, coalesce(comp.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
        |st AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS BIGINT) AS alnum,
        |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it|that|for)\\b')) AS BIGINT) AS hits_en
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  round(0.4 * (CASE WHEN n_chars > 0 THEN CAST(alnum AS DOUBLE)/n_chars ELSE 0.0 END)
        |      + 0.3 * least((CASE WHEN n_tok > 0 THEN CAST(hits_en AS DOUBLE)/n_tok ELSE 0.0 END) * 5.0, 1.0)
        |      + 0.3 * least(CAST(n_chars AS DOUBLE)/500.0, 1.0), 6) AS quality
        |  FROM st)
        |SELECT cluster, doc_id, score6 FROM (
        |  SELECT cl.cluster, cl.id AS doc_id, q.quality AS score6,
        |    row_number() OVER (PARTITION BY cl.cluster
        |      ORDER BY q.quality DESC, cl.id) AS rn
        |  FROM cl JOIN q ON q.doc_id = cl.id) WHERE rn = 1""".stripMargin,

    "d08_drop_neardups" ->
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
        |ud AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |r(id, lab) AS (
        |  SELECT DISTINCT src, src FROM ud
        |  UNION
        |  SELECT ud.src, r.lab FROM ud JOIN r ON r.id = ud.dst),
        |comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster FROM r GROUP BY id),
        |clu AS (SELECT d.doc_id AS id, coalesce(comp.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id)
        |SELECT d.doc_id, md5(d.text) AS fp FROM documents d
        |JOIN clu ON clu.id = d.doc_id WHERE clu.id = clu.cluster""".stripMargin,

    // SimHash over ENGINE-PORTABLE 60-bit md5 shingle hashes (see
    // PortableHashes): the oracle recomputes the same fingerprints from
    // scratch in SQL — per-bit majority vote, then brute-force hamming.
    "d04_simhash" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM toks)),
        |bits AS (SELECT doc_id, CAST(r.b AS INT) AS b,
        |  sum(CASE WHEN (h >> CAST(r.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM sh CROSS JOIN range(64) r(b) GROUP BY 1, 2),
        |sim0 AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh64
        |  FROM bits GROUP BY 1),
        |sim AS (SELECT d.doc_id, coalesce(sim0.sh64, 0) AS sh64
        |  FROM documents d LEFT JOIN sim0 ON sim0.doc_id = d.doc_id)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.sh64, b.sh64)) AS BIGINT) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh64, b.sh64)) <= 3""".stripMargin,

    // Exact cross-split jaccard pairs (one endpoint in held-out).
    // DATA-DEPENDENT like d03: the engine's LSH misses a pair AT the 0.8
    // threshold with ~5% probability (1-(1-0.8^8)^16 under r=8/b=16); the
    // strict hash gate holds because planted pairs sit far above
    // threshold. On regenerated borderline data, engine ⊂ oracle would be
    // expected recall loss, not wrongness (see Dedup.crossCorpusNearDups).
    "d11_fuzzy_decon" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
        |  GROUP BY 1, 2)
        |SELECT id1, id2, round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
        |FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
        |WHERE round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) >= 0.8""".stripMargin,

    "d05_embed_neardup" -> embedPairsOracle,
    // The LSH path verifies candidates with the same exact cosine, and the
    // (r=2, b=32) banding misses a qualifying pair w.p. < 3e-8 — the gate
    // compares against the full exact pair set (see Dedup.embeddingNearDupLsh).
    "d07_embed_neardup_lsh" -> embedPairsOracle,

    "s01_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
        |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
        |  FROM q JOIN n c ON c.vec_id <> q.vec_id),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // PQ code replay: micro-lattice quantize, first-8 codebook, per-
    // (vector, subspace) integer argmin with the smaller-code tiebreak.
    "s10_pq_codes" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |dd AS (SELECT e.vec_id, r.s, c0.j,
        |  list_sum(list_transform(range(1, 17),
        |    i -> (e.vq[r.s*16 + i] - c0.cv[r.s*16 + i])
        |       * (e.vq[r.s*16 + i] - c0.cv[r.s*16 + i]))) AS d2
        |  FROM e CROSS JOIN range(0, 4) r(s) CROSS JOIN c0)
        |SELECT vec_id, CAST(s AS BIGINT) AS s, CAST(j AS BIGINT) AS code
        |FROM (SELECT vec_id, s, j, row_number() OVER
        |  (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM dd)
        |WHERE rn = 1""".stripMargin,

    // Streaming twin: identical code projection, AvailableNow drain.
    // PQ code replay: micro-lattice quantize, first-8 codebook, per-
    // (vector, subspace) integer argmin with the smaller-code tiebreak.
    "st13_stream_pq_codes" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |dd AS (SELECT e.vec_id, r.s, c0.j,
        |  list_sum(list_transform(range(1, 17),
        |    i -> (e.vq[r.s*16 + i] - c0.cv[r.s*16 + i])
        |       * (e.vq[r.s*16 + i] - c0.cv[r.s*16 + i]))) AS d2
        |  FROM e CROSS JOIN range(0, 4) r(s) CROSS JOIN c0)
        |SELECT vec_id, CAST(s AS BIGINT) AS s, CAST(j AS BIGINT) AS code
        |FROM (SELECT vec_id, s, j, row_number() OVER
        |  (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM dd)
        |WHERE rn = 1""".stripMargin,

    // ADC replay: the same dd table doubles as the query distance tables;
    // approx distance = sum over subspaces of dd(q, s, code(v, s)).
    "s11_pq_adc" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |dd AS (SELECT e.vec_id, r.s, c0.j,
        |  list_sum(list_transform(range(1, 17),
        |    i -> (e.vq[r.s*16 + i] - c0.cv[r.s*16 + i])
        |       * (e.vq[r.s*16 + i] - c0.cv[r.s*16 + i]))) AS d2
        |  FROM e CROSS JOIN range(0, 4) r(s) CROSS JOIN c0),
        |code AS (SELECT vec_id, s, j AS code
        |  FROM (SELECT vec_id, s, j, row_number() OVER
        |    (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM dd)
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS qid, s, j, d2 FROM dd WHERE vec_id <= 3),
        |appr AS (SELECT qd.qid, code.vec_id AS nid, CAST(sum(qd.d2) AS BIGINT) AS d2
        |  FROM code JOIN qd ON qd.s = code.s AND qd.j = code.code
        |  WHERE code.vec_id <> qd.qid
        |  GROUP BY 1, 2),
        |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM appr)
        |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
        |FROM rk WHERE rnk <= 5""".stripMargin,

    // Rerank replay: the s11 chain at (m=8, kCent=16) shortlists 50 by
    // approximate distance, then exact 64-dim lattice L2 re-ranks.
    "s12_pq_rerank" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 16),
        |dd AS (SELECT e.vec_id, r.s, c0.j,
        |  list_sum(list_transform(range(1, 9),
        |    i -> (e.vq[r.s*8 + i] - c0.cv[r.s*8 + i])
        |       * (e.vq[r.s*8 + i] - c0.cv[r.s*8 + i]))) AS d2
        |  FROM e CROSS JOIN range(0, 8) r(s) CROSS JOIN c0),
        |code AS (SELECT vec_id, s, j AS code
        |  FROM (SELECT vec_id, s, j, row_number() OVER
        |    (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM dd)
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS qid, s, j, d2 FROM dd WHERE vec_id <= 3),
        |appr AS (SELECT qd.qid, code.vec_id AS nid, sum(qd.d2) AS ad2
        |  FROM code JOIN qd ON qd.s = code.s AND qd.j = code.code
        |  WHERE code.vec_id <> qd.qid
        |  GROUP BY 1, 2),
        |sl AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER
        |  (PARTITION BY qid ORDER BY ad2, nid) AS rn FROM appr) WHERE rn <= 50),
        |ex AS (SELECT sl.qid, sl.nid,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> (c.vq[i] - q.vq[i]) * (c.vq[i] - q.vq[i]))) AS BIGINT) AS d2
        |  FROM sl JOIN e c ON c.vec_id = sl.nid JOIN e q ON q.vec_id = sl.qid),
        |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM ex)
        |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
        |FROM rk WHERE rnk <= 5""".stripMargin,

    // IVF-PQ replay: coarse assignment (first-4 centroids, integer L2
    // argmin, ties to the smaller cell), residual = vq - coarse(cell),
    // residual codebook = residuals of the first-8 vectors, per-subspace
    // code argmin, then per-(query, probed-cell) ADC tables summed over
    // the m lookup rows — candidates restricted to probed cells by the
    // cell equi-join, exactly the Spark plan's pruning.
    "s13_ivfpq" -> s13OracleSql,

    // Durable index: persist + reload must be INVISIBLE to search — the
    // oracle IS the s13 SQL verbatim (a drifted sidecar round-trip or a
    // bucket-pruning wrong-result would move codes/candidates and fail
    // the hash).
    "s20_ivfpq_persist" -> s13OracleSql,

    // Streaming serve off the persisted table: the same claim through
    // one more seam — micro-batch queries against the reloaded scan.
    "st23_stream_table_ann" -> s13OracleSql,
    "st23b_stream_table_ann_pruned" -> s13OracleSql,

    // Pinned-generation serve: the s13 SQL verbatim — the pin froze the
    // full-corpus generation, so post-pin maintenance (tombstones,
    // compaction's full rewrite, appends) must be invisible to the
    // serving read; any leak of the live generation moves candidates
    // and fails the hash.
    "s29_ivfpq_pinned_serve" -> s13OracleSql,

    // Delete: the s13 chain verbatim — full-corpus seeds (the books a
    // remove must NOT re-derive) — with removed ids excluded from the
    // CANDIDATE set only. The single-site string surgery keeps every
    // other clause bit-identical to s13's.
    "s21_ivfpq_remove" -> s13OracleSql.replace(
      "WHERE code.vec_id <> qt.qid",
      "WHERE code.vec_id <> qt.qid AND code.vec_id % 5 <> 2"),
    // The durable tombstone twin gates on the SAME survivor restriction:
    // log-append + serve == in-session remove == never-indexed.
    "s26_ivfpq_table_remove" -> s13OracleSql.replace(
      "WHERE code.vec_id <> qt.qid",
      "WHERE code.vec_id <> qt.qid AND code.vec_id % 5 <> 2"),

    // Filtered IVF-PQ replay: the s13 chain verbatim — index built on the
    // FULL corpus (the index is filter-agnostic; predicates vary per
    // query batch) — with the label predicate folded into the candidate
    // join, so ranks recompute over survivors (filter-then-rank, the
    // semantics post-filtering a ranked list cannot reproduce).
    "s16_ivfpq_filtered" -> s16OracleSql,
    // Filtered search through storage (s28) and through storage +
    // streaming + per-batch pruning (st23c): both must be invisible.
    "s28_ivfpq_table_filtered" -> s16OracleSql,
    "st23c_stream_filtered_pruned" -> s16OracleSql,

    // Trained-coarse IVF-PQ replay: the k01 chain at k=4 for ONE Lloyd
    // iteration (integer argmin assignment, floor-div update, empty-cell
    // carryover) produces the trained coarse table cc, then the s13
    // chain runs verbatim against it — residuals, residual codebook,
    // codes, probes, ADC — all on the integer lattice.
    "s15_ivfpq_trained" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 4),
        |dd1 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2
        |  FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM dd1) WHERE rn = 1),
        |s1 AS (SELECT a.cell, i.i,
        |  CAST(floor(CAST(sum(e.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a1 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i)
        |  GROUP BY 1, 2),
        |u1 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s1 GROUP BY 1),
        |cc AS (SELECT c0.cell, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 USING (cell)),
        |cd AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2
        |  FROM e CROSS JOIN cc c),
        |asg AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM cd) WHERE rn = 1),
        |res AS (SELECT e.vec_id, a.cell, list_transform(range(1, 65),
        |  i -> e.vq[i] - c.cv[i]) AS rv
        |  FROM e JOIN asg a USING (vec_id) JOIN cc c ON c.cell = a.cell),
        |bk AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, rv AS bv
        |  FROM res ORDER BY vec_id LIMIT 8),
        |ed AS (SELECT r.vec_id, r.cell, sj.s, b.j,
        |  list_sum(list_transform(range(1, 17),
        |    i -> (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i])
        |       * (r.rv[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
        |  FROM res r CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
        |code AS (SELECT vec_id, cell, s, j AS code
        |  FROM (SELECT vec_id, cell, s, j, row_number() OVER
        |    (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM ed)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id AS qid, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM cd WHERE vec_id <= 3) WHERE rn <= 2),
        |qres AS (SELECT p.qid, p.cell, list_transform(range(1, 65),
        |  i -> e.vq[i] - c.cv[i]) AS qr
        |  FROM probes p JOIN e ON e.vec_id = p.qid
        |  JOIN cc c ON c.cell = p.cell),
        |qt AS (SELECT q.qid, q.cell, sj.s, b.j,
        |  list_sum(list_transform(range(1, 17),
        |    i -> (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i])
        |       * (q.qr[sj.s*16 + i] - b.bv[sj.s*16 + i]))) AS d2
        |  FROM qres q CROSS JOIN range(0, 4) sj(s) CROSS JOIN bk b),
        |appr AS (SELECT qt.qid, code.vec_id AS nid, CAST(sum(qt.d2) AS BIGINT) AS d2
        |  FROM code JOIN qt ON qt.cell = code.cell AND qt.s = code.s
        |    AND qt.j = code.code
        |  WHERE code.vec_id <> qt.qid
        |  GROUP BY 1, 2),
        |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM appr)
        |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
        |FROM rk WHERE rnk <= 5""".stripMargin,

    // Incremental-add replay: the s13 chain with BOTH seed CTEs (coarse
    // centroids cc, residual codebook bk) restricted to the "existing"
    // subset (vec_id % 4 <> 0) — the books the index was trained on —
    // while the encode (asg/res/ed/code) covers ALL rows. Per-row encode
    // under frozen books is order-free, so build-then-append == encode-
    // everything-under-old-books; a drifted book (full-corpus seeds)
    // would produce different codes and fail the hash.
    "s17_ivfpq_add" -> s17OracleSql,

    // Upsert: books from the original old subset, encode over the
    // upserted corpus, original queries — see s18OracleSql.
    "s18_ivfpq_upsert" -> s18OracleSql,

    // The durable remove -> compact -> re-add cadence must equal the
    // in-session upsert: s18's replay gates it verbatim.
    "s27_ivfpq_table_upsert" -> s18OracleSql,

    // Streaming index ingest: the s17 batch SQL verbatim — per-micro-batch
    // frozen-book encode is per-row deterministic, so stream==batch IS
    // the contract (the st15/st16 discipline applied to the WRITE side).
    "st18_stream_index_add" -> s17OracleSql,

    // Durable append: the s17 SQL verbatim — the storage round-trip and
    // the bucketed-append must be invisible to search.
    "s22_ivfpq_table_add" -> s17OracleSql,

    // Compaction rewrites bytes, never codes: the s17 claim still holds
    // through build + persist + append + compact.
    "s23_ivfpq_compact" -> s17OracleSql,

    // nProbe-tune replay: the s13 chain swept at nProbe 1..4 (the one
    // "WHERE rn <= 2" probe-depth literal rewritten per sweep point),
    // each joined against the exact chain for per-query recall (rounded
    // 6 like the engine, zero-hit queries kept), averaged, and the
    // smallest nprobe meeting the 0.6 target marked chosen (-1 sentinel
    // when none does, so chosen is false everywhere, never NULL).
    "s25_ivfpq_tune" -> {
      def chainAt(p: Int) = s13OracleSql.replace(
        "WHERE rn <= 2)", s"WHERE rn <= $p)")
      val sweeps = (1 to 4).map { p =>
        s"""a$p AS (
           |${chainAt(p)}
           |), m$p AS (SELECT $p AS nprobe, round(avg(rec), 6) AS mean_recall
           |  FROM (SELECT ex.query_id,
           |      round(CAST(COALESCE(h.c, 0) AS DOUBLE) / ex.n, 6) AS rec
           |    FROM (SELECT query_id, count(*) AS n FROM exact GROUP BY 1) ex
           |    LEFT JOIN (SELECT e2.query_id, CAST(count(*) AS BIGINT) AS c
           |      FROM exact e2 JOIN a$p a ON a.query_id = e2.query_id
           |        AND a.neighbor_id = e2.neighbor_id GROUP BY 1) h
           |    USING (query_id)))""".stripMargin
      }.mkString(",\n")
      s"""WITH exact AS (
         |WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |q AS (SELECT * FROM n WHERE vec_id <= 3),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
         |  FROM q JOIN n c ON c.vec_id <> q.vec_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM sc)
         |SELECT query_id, neighbor_id FROM rk WHERE rnk <= 5
         |),
         |$sweeps,
         |c AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2
         |  UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4)
         |SELECT CAST(nprobe AS BIGINT) AS nprobe, mean_recall,
         |  nprobe = COALESCE(
         |    (SELECT min(nprobe) FROM c WHERE mean_recall >= 0.6), -1) AS chosen
         |FROM c""".stripMargin
    },

    // Recall eval: the s13 approximate chain (verbatim, nested CTE) and
    // the s01 exact-cosine chain on the same query set, joined on
    // (query, neighbor) — hits / exact_n per query, zero-hit queries
    // kept by the left join.
    "s24_ann_recall" ->
      s"""WITH approx AS (
         |$s13OracleSql
         |), exact AS (
         |WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |q AS (SELECT * FROM n WHERE vec_id <= 3),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
         |  FROM q JOIN n c ON c.vec_id <> q.vec_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM sc)
         |SELECT query_id, neighbor_id FROM rk WHERE rnk <= 5
         |), hits AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM exact e JOIN approx a ON a.query_id = e.query_id
         |    AND a.neighbor_id = e.neighbor_id GROUP BY 1),
         |ex AS (SELECT query_id, CAST(count(*) AS BIGINT) AS exact_n
         |  FROM exact GROUP BY 1)
         |SELECT ex.query_id, CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits,
         |  ex.exact_n,
         |  round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / ex.exact_n, 6) AS recall
         |FROM ex LEFT JOIN hits USING (query_id)""".stripMargin,

    // Binary-quantization replay: pack the sign bit of each of the 64
    // dims into two 32-bit words (bit i of word w = [v[32w+i] > 0]),
    // Hamming = popcount of the per-word XOR, rank (ham ASC, id ASC).
    "s19_binary_hamming" ->
      (binaryHammingCtes +
        """,
        |rk AS (SELECT qid, nid, ham, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY ham, nid) AS BIGINT) AS rnk FROM hm)
        |SELECT qid AS query_id, nid AS neighbor_id, ham, rnk
        |FROM rk WHERE rnk <= 5""".stripMargin),

    // Binary rerank replay: the s19 Hamming chain (shared CTEs above)
    // shortlists 50, then exact 64-dim micro-lattice L2 re-ranks (the
    // s12 tail verbatim).
    "s19b_binary_rerank" ->
      (binaryHammingCtes +
        """,
        |eq AS (SELECT vec_id, list_transform(v,
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM e),
        |sl AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER
        |  (PARTITION BY qid ORDER BY ham, nid) AS rn FROM hm) WHERE rn <= 50),
        |ex AS (SELECT sl.qid, sl.nid,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> (c.vq[i] - q.vq[i]) * (c.vq[i] - q.vq[i]))) AS BIGINT) AS d2
        |  FROM sl JOIN eq c ON c.vec_id = sl.nid JOIN eq q ON q.vec_id = sl.qid),
        |rk AS (SELECT qid, nid, d2, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk FROM ex)
        |SELECT qid AS query_id, nid AS neighbor_id, d2, rnk
        |FROM rk WHERE rnk <= 5""".stripMargin),

    // Trained-PQ replay: per subspace, ONE unrolled Lloyd iteration from
    // the first-8 init (integer argmin assignment with smaller-cell ties,
    // floor-divided centroid update, empty-cell carryover via LEFT JOIN +
    // coalesce — the k01 discipline per subspace), then the code argmin
    // against the TRAINED book.
    "s14_pq_trained_codes" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |sub AS (SELECT e.vec_id, sj.s, list_transform(range(1, 17),
        |  i -> e.vq[sj.s*16 + i]) AS sv
        |  FROM e CROSS JOIN range(0, 4) sj(s)),
        |c0 AS (SELECT s, j, cv FROM (SELECT s, sv AS cv, row_number() OVER
        |  (PARTITION BY s ORDER BY vec_id) - 1 AS j FROM sub) WHERE j < 8),
        |d1 AS (SELECT sub.vec_id, sub.s, c.j,
        |  list_sum(list_transform(range(1, 17),
        |    i -> (sub.sv[i] - c.cv[i]) * (sub.sv[i] - c.cv[i]))) AS d2
        |  FROM sub JOIN c0 c ON c.s = sub.s),
        |a1 AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
        |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        |  FROM d1) WHERE rn = 1),
        |s1 AS (SELECT a.s, a.j, i.i,
        |  CAST(floor(CAST(sum(sub.sv[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a1 a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s
        |  CROSS JOIN range(1, 17) i(i) GROUP BY 1, 2, 3),
        |u1 AS (SELECT s, j, list(cd ORDER BY i) AS cv FROM s1 GROUP BY 1, 2),
        |c1 AS (SELECT c0.s, c0.j, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 ON u1.s = c0.s AND u1.j = c0.j),
        |d2t AS (SELECT sub.vec_id, sub.s, c.j,
        |  list_sum(list_transform(range(1, 17),
        |    i -> (sub.sv[i] - c.cv[i]) * (sub.sv[i] - c.cv[i]))) AS d2
        |  FROM sub JOIN c1 c ON c.s = sub.s)
        |SELECT vec_id, CAST(s AS BIGINT) AS s, CAST(j AS BIGINT) AS code
        |FROM (SELECT vec_id, s, j, row_number() OVER
        |  (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM d2t)
        |WHERE rn = 1""".stripMargin,

    // MaxSim replay: per-(query, label) max of the rounded cosines, then
    // the per-query top-3 window with the (max DESC, label ASC) tiebreak.
    // Phrase occurrences = start positions i with tk[i]='big', tk[i+1]=
    // 'query' over the same [a-z0-9]+ tokenization; 1-based list indexing,
    // range end exclusive, so starts run 1..len-1.
    "s08_phrase_match" ->
      """SELECT doc_id, n_matches FROM (
        |  SELECT doc_id, CAST(len(list_filter(range(1, len(tk)),
        |      i -> tk[i] = 'big' AND tk[i+1] = 'query')) AS BIGINT) AS n_matches
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        |        FROM documents))
        |WHERE n_matches >= 1""".stripMargin,

    "s07_maxsim_topk" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
        |sc AS (SELECT q.vec_id AS query_id, c.label,
        |  round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
        |  FROM q JOIN n c ON c.vec_id <> q.vec_id),
        |mx AS (SELECT query_id, label, max(cosine) AS max_cosine FROM sc GROUP BY 1, 2),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY max_cosine DESC, label) AS BIGINT) AS rnk FROM mx)
        |SELECT query_id, label, max_cosine, rnk FROM rk WHERE rnk <= 3""".stripMargin,

    // int8 replay: floor(127*x/max|v| + 0.5) quantization (floor is the
    // one rounding rule every engine computes identically), integer dots.
    "s06_int8_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mx AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e),
        |qz AS (SELECT vec_id, CASE WHEN m > 0 THEN
        |    list_transform(v, x -> floor(x * 127.0 / m + 0.5))
        |  ELSE list_transform(v, x -> 0.0) END AS q FROM mx),
        |n AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM qz),
        |qs AS (SELECT * FROM n WHERE vec_id % 50 = 0),
        |sc AS (SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CASE WHEN qs.nrm > 0 AND c.nrm > 0 THEN
        |    round(list_dot_product(qs.q, c.q) / (qs.nrm * c.nrm), 6)
        |  ELSE 0.0 END AS cosine
        |  FROM qs JOIN n c ON c.vec_id <> qs.vec_id),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // Full SQL replay of the ANN pipeline — possible because the hyperplane
    // signs are ENGINE-PORTABLE md5 planes (TextHashes.cosineLshKernel:
    // sign(j,i) = bit 0 of portableHash60("plane:j:i")). bits → 3-bit bands
    // (nBits=60, bands=20) → band-OR candidates → exact-cosine rerank,
    // branch-for-branch identical with Similarity.annCosineTopK — so the
    // gate is an exact hash compare, not just a recall bound.
    "s02_ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |pl AS (SELECT j.j, i.i,
        |  CASE WHEN ('0x' || substr(md5('plane:' || j.j || ':' || i.i), 1, 15))::BIGINT % 2 = 0
        |       THEN 1.0 ELSE -1.0 END AS s
        |  FROM range(60) j(j) CROSS JOIN range(64) i(i)),
        |bits AS (SELECT e.vec_id, pl.j,
        |  CASE WHEN sum(pl.s * e.v[pl.i + 1]) > 0 THEN 1 ELSE 0 END AS b
        |  FROM e CROSS JOIN pl GROUP BY 1, 2),
        |bnd AS (SELECT vec_id, j // 3 AS band, sum(b * (1 << (j % 3))) AS bh
        |  FROM bits GROUP BY 1, 2),
        |qids AS (SELECT vec_id FROM e WHERE vec_id % 50 = 0),
        |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS id
        |  FROM bnd q JOIN bnd c ON q.band = c.band AND q.bh = c.bh
        |  JOIN qids ON q.vec_id = qids.vec_id
        |  WHERE c.vec_id <> q.vec_id),
        |sc AS (SELECT cand.qid AS query_id, cand.id AS neighbor_id,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |  FROM cand JOIN n a ON a.vec_id = cand.qid JOIN n b ON b.vec_id = cand.id),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // Full SQL replay of the IVF pipeline: the 16 smallest-id vectors ARE
    // the coarse centroids (cid = id rank), assignment = argmax of
    // dot(v, c)/|c| with smaller-cid tie-break, each query probes its 4
    // nearest cells, exact cosine within the probed cells, rank (cosine
    // DESC, id ASC) — branch-for-branch the Similarity.ivfCosineTopK plan.
    "s03_ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |  v AS cv, sqrt(list_dot_product(v, v)) AS cn
        |  FROM e ORDER BY vec_id LIMIT 16),
        |cs AS (SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cv) / c.cn AS s
        |  FROM e CROSS JOIN cent c),
        |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM cs) WHERE rn = 1),
        |qids AS (SELECT vec_id FROM e WHERE vec_id % 50 = 0),
        |probes AS (SELECT vec_id AS qid, cid FROM (SELECT cs.vec_id, cs.cid,
        |  row_number() OVER (PARTITION BY cs.vec_id ORDER BY cs.s DESC, cs.cid) AS rn
        |  FROM cs JOIN qids ON cs.vec_id = qids.vec_id) WHERE rn <= 4),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cand AS (SELECT p.qid, a.vec_id AS id FROM probes p
        |  JOIN asg a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
        |sc AS (SELECT cand.qid AS query_id, cand.id AS neighbor_id,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |  FROM cand JOIN n a ON a.vec_id = cand.qid JOIN n b ON b.vec_id = cand.id),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    "t01_token_stats" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok_cnt FROM documents)
        |SELECT doc_id, tok_cnt,
        |  CAST(len(list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS BIGINT) AS ngram3_cnt
        |FROM t""".stripMargin,

    // Same regex strings verbatim; DuckDB regexp_replace needs the 'g'
    // flag to match Spark's replace-all semantics.
    "t08_redact" ->
      """WITH a AS (SELECT doc_id,
        |  text || ' contact: User' || doc_id || '@Example.COM or +1-555-00'
        |       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  md5(regexp_replace(regexp_replace(aug,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][-. ()]?(?:[0-9][-. ()]?){5,13}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM a""".stripMargin,

    // The oracle's cumsum is ONE windowed SUM (fine at sf0.01) replaying
    // the engine's two-phase distributed scan exactly.
    "t09_pack" ->
      """WITH c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS cnt FROM documents),
        |nz AS (SELECT doc_id, cnt FROM c WHERE cnt > 0),
        |g AS (SELECT doc_id, cnt,
        |  CAST(COALESCE(sum(cnt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM nz),
        |g2 AS (SELECT doc_id, cnt, s,
        |  unnest(range(s // 128, (s + cnt - 1) // 128 + 1)) AS seq_id FROM g)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |  CAST(greatest(seq_id * 128, s) - s AS BIGINT) AS start_tok,
        |  CAST(least((seq_id + 1) * 128, s + cnt)
        |    - greatest(seq_id * 128, s) AS BIGINT) AS n_toks
        |FROM g2""".stripMargin,

    // Bigram construction mirrors tokenNgrams(2) (1-based slice, space
    // join); counts exact BIGINTs; pmi6 written in the SAME association
    // order as the Spark expression (doubles from the first cast onward).
    "t10_pmi" ->
      """WITH t AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |u AS (SELECT uw AS w, CAST(count(*) AS BIGINT) AS u_cnt
        |      FROM (SELECT unnest(w) AS uw FROM t) GROUP BY 1),
        |nu AS (SELECT CAST(sum(u_cnt) AS BIGINT) AS nu FROM u),
        |bgl AS (SELECT list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bgs FROM t),
        |nb AS (SELECT CAST(sum(len(bgs)) AS BIGINT) AS nb FROM bgl),
        |b AS (SELECT bg, CAST(count(*) AS BIGINT) AS b_cnt
        |      FROM (SELECT unnest(bgs) AS bg FROM bgl) GROUP BY 1 HAVING count(*) >= 3),
        |s AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2, b_cnt FROM b)
        |SELECT w1, w2, b_cnt, u1.u_cnt AS u1_cnt, u2.u_cnt AS u2_cnt,
        |  round(ln(CAST(b_cnt AS DOUBLE) * nu.nu * nu.nu /
        |    (CAST(nb.nb AS DOUBLE) * u1.u_cnt * u2.u_cnt)), 6) AS pmi6
        |FROM s JOIN u u1 ON s.w1 = u1.w JOIN u u2 ON s.w2 = u2.w, nu, nb""".stripMargin,

    // Bigram-LM NLL replay: same count tables, same add-one conditional,
    // per-pair floor onto the micro-lattice BEFORE the integer sum (the
    // only way a float-scored doc aggregate can hash-match), one
    // fixed-order float average at the end. Inner joins suffice — the
    // corpus scores itself, so every pair and head exists in the model.
    "t11_perplexity" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |uni AS (SELECT DISTINCT unnest(w) AS tok FROM t),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |pairs AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg FROM t),
        |b AS (SELECT bg, CAST(count(*) AS BIGINT) AS cuv FROM pairs GROUP BY 1),
        |hd AS (SELECT split_part(bg, ' ', 1) AS u, CAST(sum(cuv) AS BIGINT) AS cu FROM b GROUP BY 1),
        |terms AS (SELECT p.doc_id,
        |  CAST(floor(ln(CAST(b.cuv + 1 AS DOUBLE) / CAST(hd.cu + v.v AS DOUBLE)) * -1000000.0) AS BIGINT) AS tm
        |  FROM pairs p JOIN b USING (bg) JOIN hd ON split_part(p.bg, ' ', 1) = hd.u CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(tm) AS BIGINT) AS nll_micros,
        |  round((CAST(sum(tm) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE), 6) AS avg_nll6
        |FROM terms GROUP BY 1""".stripMargin,

    // Line synthesis replayed (regexp newline insertion, zipped-unnest
    // line numbering, conditional '.'), then the C4 rules and the
    // keep-first as a window (the engine's min(struct) equivalent).
    "t16_line_dedup" ->
      """WITH ml AS (SELECT doc_id,
        |  string_split(regexp_replace(text, '((\S+\s+){7}\S+)\s+', '\1' || chr(10), 'g'), chr(10)) AS ls
        |  FROM documents),
        |l0 AS (SELECT doc_id, unnest(range(len(ls))) AS line_no, unnest(ls) AS line FROM ml),
        |l AS (SELECT doc_id, CAST(line_no AS BIGINT) AS line_no,
        |  CASE WHEN (doc_id + line_no) % 3 <> 0 THEN line || '.' ELSE line END AS line FROM l0),
        |q AS (SELECT doc_id, line_no, md5(line) AS line_md5 FROM l
        |  WHERE regexp_matches(line, '[.!?"]$')
        |    AND len(regexp_extract_all(line, '\S+')) >= 3),
        |r AS (SELECT doc_id, line_no, line_md5, row_number() OVER
        |  (PARTITION BY line_md5 ORDER BY doc_id, line_no) AS rn FROM q)
        |SELECT doc_id, line_no, line_md5 FROM r WHERE rn = 1""".stripMargin,

    // TF-IDF replay: identical smooth-idf chain and floor lattice; rank
    // window with the same (score DESC, term ASC) tiebreak.
    "t15_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |sc AS (SELECT doc_id, term,
        |  CAST(floor(CAST(tf AS DOUBLE) *
        |    (ln((1.0::DOUBLE + CAST(n AS DOUBLE)) / (1.0::DOUBLE + CAST(df AS DOUBLE))) + 1.0::DOUBLE) *
        |    1000000.0::DOUBLE) AS BIGINT) AS score_micro
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY doc_id ORDER BY score_micro DESC, term) AS BIGINT) AS rnk FROM sc)
        |SELECT doc_id, term, score_micro, rnk FROM rk WHERE rnk <= 3""".stripMargin,

    // Composite filter: t02's quality + t05's fractions + alnum-token
    // stats, thresholds on the same rounded/exact values, bit weights
    // 1/2/4/8/16.
    "t14_quality_mask" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tc AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, sum(cnt) AS n_tok, max(cnt) AS top_tok, count(*) AS n_dist FROM tc GROUP BY 1),
        |tl AS (SELECT doc_id, CAST(sum(length(term)) AS BIGINT) AS sum_len FROM tok GROUP BY 1),
        |big AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS term
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents)),
        |bc AS (SELECT doc_id, term, count(*) AS cnt FROM big GROUP BY 1, 2),
        |bs AS (SELECT doc_id, sum(cnt) AS n_big, max(cnt) AS top_big FROM bc GROUP BY 1),
        |q AS (SELECT doc_id,
        |  round(0.4 * (CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS DOUBLE)/length(text) ELSE 0.0 END)
        |      + 0.3 * least((CASE WHEN len(regexp_extract_all(text, '\S+')) > 0 THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it|that|for)\b')) AS DOUBLE)/len(regexp_extract_all(text, '\S+')) ELSE 0.0 END) * 5.0, 1.0)
        |      + 0.3 * least(CAST(length(text) AS DOUBLE)/500.0, 1.0), 6) AS quality
        |  FROM documents),
        |m AS (SELECT d.doc_id,
        |  COALESCE(ts.n_tok, 0) AS n_tok,
        |  CASE WHEN COALESCE(ts.n_tok, 0) > 0 THEN CAST(tl.sum_len AS DOUBLE) / CAST(ts.n_tok AS DOUBLE) ELSE 0.0 END AS mean_len,
        |  q.quality,
        |  round(CASE WHEN ts.n_tok > 0 THEN CAST(ts.n_tok - ts.n_dist AS DOUBLE) / CAST(ts.n_tok AS DOUBLE) ELSE 0.0 END, 6) AS dup_frac,
        |  round(CASE WHEN bs.n_big > 0 THEN CAST(bs.top_big AS DOUBLE) / CAST(bs.n_big AS DOUBLE) ELSE 0.0 END, 6) AS top_big_frac
        |  FROM documents d LEFT JOIN ts USING (doc_id) LEFT JOIN tl USING (doc_id)
        |  LEFT JOIN bs USING (doc_id) JOIN q USING (doc_id))
        |SELECT doc_id,
        |  CAST(CASE WHEN n_tok < 5 OR n_tok > 5000 THEN 1 ELSE 0 END
        |     + CASE WHEN mean_len < 2.0 OR mean_len > 12.0 THEN 2 ELSE 0 END
        |     + CASE WHEN quality < 0.5 THEN 4 ELSE 0 END
        |     + CASE WHEN dup_frac > 0.3 THEN 8 ELSE 0 END
        |     + CASE WHEN top_big_frac > 0.18 THEN 16 ELSE 0 END AS BIGINT) AS fail_mask,
        |  CAST(CASE WHEN n_tok >= 5 AND n_tok <= 5000 AND mean_len >= 2.0 AND mean_len <= 12.0
        |    AND quality >= 0.5 AND dup_frac <= 0.3 AND top_big_frac <= 0.18 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m""".stripMargin,

    // BPE merge training, K=10 rounds unrolled (the g09b/g12 pattern):
    // each round CTE recomputes pair frequencies from the previous round's
    // vocabulary, picks the (freq DESC, pair ASC) argmax, and applies it
    // with the same left-to-right non-overlapping replace on the bracketed
    // representation. Generated programmatically — the SQL is mechanical.
    "t12_bpe_merges" -> {
      val union = (1 to BpeRounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
      s"""WITH ${bpeTrainingCtes(BpeRounds)}
         |SELECT CAST(merge_round AS BIGINT) AS merge_round,
         |  replace(replace(replace(pair, '><', ' '), '<', ''), '>', '') AS pair, freq
         |FROM ($union)""".stripMargin
    },

    // BPE apply: re-derive the same 10 merges (identical CTE chain), then
    // replay them per word in training order — the nested replace chain —
    // and sum chars/post-merge tokens per document.
    "t13_bpe_segment" -> {
      val applyChain = (1 to BpeRounds).foldLeft(
        "regexp_replace(w, '(.)', '<\\1>', 'g')") { (acc, r) =>
        s"replace($acc, (SELECT pair FROM m$r), replace((SELECT pair FROM m$r), '><', ''))"
      }
      s"""WITH ${bpeTrainingCtes(BpeRounds)},
         |tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |        FROM documents),
         |seg AS (SELECT doc_id, len(w) AS chars,
         |  len(regexp_extract_all($applyChain, '<[^<>]+>')) AS toks FROM tok)
         |SELECT doc_id, CAST(sum(chars) AS BIGINT) AS char_cnt,
         |  CAST(sum(toks) AS BIGINT) AS bpe_len
         |FROM seg GROUP BY 1""".stripMargin
    },

    // Streaming HLL gate: the drained stream state must equal the batch
    // register construction — q14's replay, verbatim.
    "st07_stream_hll" ->
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1)
        |SELECT CAST(range AS BIGINT) AS register, COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |FROM range(256) LEFT JOIN agg ON range = register""".stripMargin,

    // Streaming CMS gate: the drained additive state must equal the batch
    // grid — q15's replay, verbatim.
    "st08_stream_cms" ->
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
        |LEFT JOIN seen ON rr.range = seen.row AND cc.range = seen.col""".stripMargin,

    // Streaming histogram gate: the drained additive bin state must equal
    // the batch register table — q16's replay, verbatim.
    "st09_stream_hist" ->
      """WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0 THEN 0 ELSE least(255, v // 200) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1)
        |SELECT CAST(r.range AS BIGINT) AS bin, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM range(256) r LEFT JOIN b ON r.range = b.bin""".stripMargin,

    // The exact register table: portable 60-bit md5 hash, low 8 bits pick
    // the register, rank = leading zeros of the 52-bit suffix + 1 via
    // bin() (no float log2); empty registers materialized as max_rank 0.
    "q14_hll_registers" ->
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1)
        |SELECT CAST(range AS BIGINT) AS register, COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |FROM range(256) LEFT JOIN agg ON range = register""".stripMargin,

    // KMV replay: exact bottom-64 per slice (ORDER BY h LIMIT k), the
    // merged union re-truncated, theta/n_both, and the two estimators
    // with every float spelled ::DOUBLE in the engine's op order.
    // Shared VERBATIM by st25: the streaming candidate path must be
    // invisible to the estimates.
    "q35_kmv_setops" -> q35OracleSql,
    "st25_stream_kmv" -> q35OracleSql,

    // Rollup-sliced HLL replay: the three lattice levels as three
    // grouped register chains (p=6), dense 64-register grids per slice,
    // per-slice integer harmonic sums, one rounded division each.
    // IS NOT DISTINCT FROM joins keep NULL-valued DATA groups separate
    // from the NULL subtotal columns (gid is the discriminator).
    "q33_rollup_distinct" -> q33OracleSql,

    // Streaming rollup HLL: stream == batch on the same data IS the
    // gate, so q33's replay gates the drained state verbatim.
    "st27_stream_rollup_hll" -> q33OracleSql,


    // Harmonic sum scaled to exact integers (sum of 2^(53 - M_j) as
    // BIGINT — a double sum would be summation-order-dependent), one
    // rounded float division at the end in the same association order.
    "q14b_hll_estimate" ->
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
        |FROM e""".stripMargin,

    // Same register pipeline on l_suppkey + the linear-counting CASE: the
    // branch condition reads the already-rounded est6 (bit-identical
    // operands both sides), correction = m * ln(m / n_zero) in the same
    // association order as the engine.
    "q14c_hll_corrected" ->
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
        |FROM est""".stripMargin,

    // The exact 4x1024 count-min grid: per-row salted portable hash
    // (md5 of "row:gram"), mod width, zeros materialized by the grid
    // cross join.
    "q15_cms_registers" ->
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
        |LEFT JOIN seen ON rr.range = seen.row AND cc.range = seen.col""".stripMargin,

    // Exact top-20 bigrams (t06's ordering: cnt desc, gram asc) + the CMS
    // point estimate: min over the 4 salted counters.
    "q15b_cms_topk" ->
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
        |GROUP BY th.gram, th.cnt""".stripMargin,

    // Histogram registers: the same cents lattice, clamp-below-lo to bin 0,
    // integer-div binning capped at the last bin, zero-filled via range().
    "q16_hist_registers" ->
      """WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0 THEN 0 ELSE least(255, v // 200) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1)
        |SELECT CAST(r.range AS BIGINT) AS bin, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM range(256) r LEFT JOIN b ON r.range = b.bin""".stripMargin,

    // Grouped histogram: q16's clamp/div lattice per event type, empty
    // bins materialized per group.
    "q17e_hist_grouped" ->
      """WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, CASE WHEN v < 0 THEN 0 ELSE least(63, v // 800) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2),
        |g AS (SELECT DISTINCT event_type FROM b)
        |SELECT g.event_type, CAST(r.range AS BIGINT) AS bin,
        |  CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM g CROSS JOIN range(64) r
        |LEFT JOIN b ON b.event_type = g.event_type AND b.bin = r.range""".stripMargin,

    // Per-slice quantiles off the grouped registers: q16b's integer-exact
    // convention keyed by the group.
    "q17f_hist_grouped_q" ->
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
        |GROUP BY 1, 2, 3""".stripMargin,

    // Quantiles off the registers: integer target rank (p*N+999)//1000,
    // smallest bin whose running total reaches it, UPPER-edge estimate
    // lo+(bin+1)*width — the engine's one-sided convention, all BIGINT.
    "q16b_hist_quantiles" ->
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
        |GROUP BY t.permille, t.target_rank""".stripMargin,

    // Same RE2 pattern verbatim — alternation order and greediness match.
    "t07_bpe_tokens" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), ' ?[a-z0-9]+| ?[^a-z0-9\s]+') AS bt
        |  FROM documents)
        |SELECT doc_id, CAST(len(bt) AS BIGINT) AS bpe_cnt,
        |  CAST(len(list_distinct(bt)) AS BIGINT) AS bpe_vocab
        |FROM t""".stripMargin,

    // Winnowing fingerprints over the same portable 60-bit md5 hashes:
    // per-window minima of the ordered n-gram hash sequence, deduped.
    "t03_fingerprints" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_transform(range(1, len(w) - 1),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT) AS h FROM toks),
        |fp AS (SELECT doc_id, list_distinct(list_transform(range(1, len(h) - 2),
        |  i -> list_min(h[i:i+3]))) AS f FROM hs)
        |SELECT doc_id, CAST(len(f) AS BIGINT) AS fp_cnt, list_min(f) AS min_fp FROM fp""".stripMargin,

    "t02_quality_langid" ->
      """WITH s AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS BIGINT) AS alnum,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it|that|for)\b')) AS BIGINT) AS hits_en,
        |  CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|y|que|los|en|un|una|es)\b')) AS BIGINT) AS hits_es,
        |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|eine|zu|den)\b')) AS BIGINT) AS hits_de,
        |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|un|une|est|dans|que)\b')) AS BIGINT) AS hits_fr,
        |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS cjk
        |FROM documents)
        |SELECT doc_id,
        |  round(0.4 * (CASE WHEN n_chars > 0 THEN CAST(alnum AS DOUBLE)/n_chars ELSE 0.0 END)
        |      + 0.3 * least((CASE WHEN n_tok > 0 THEN CAST(hits_en AS DOUBLE)/n_tok ELSE 0.0 END) * 5.0, 1.0)
        |      + 0.3 * least(CAST(n_chars AS DOUBLE)/500.0, 1.0), 6) AS quality,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
        |       WHEN hits_es >= hits_de AND hits_es >= hits_fr AND hits_es > 0 THEN 'es'
        |       WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
        |       WHEN hits_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin,

    // IHDR fields are the synthesis parameters; grayscale 8-bit is PNG
    // color type 0, bit depth 8.
    "m10_png_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(12 + doc_id % 8 AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth, CAST(0 AS BIGINT) AS color_type
        |FROM documents""".stripMargin,

    // Every SOF0/segment field is a pure function of the id (see
    // synthesizeJpeg): segments = APP0 + (id mod 3) COMs + DQT + SOF0 +
    // SOS. The engine only matches by really walking the marker frames.
    "m15_jpeg_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(64 + doc_id % 64 AS BIGINT) AS width,
        |  CAST(48 + doc_id % 32 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_comp,
        |  CAST(8 AS BIGINT) AS precision,
        |  CAST(4 + doc_id % 3 AS BIGINT) AS n_segments
        |FROM documents""".stripMargin,

    // Every planted EXIF field is a closed form of the id (see
    // synthesizeExifJpeg) — the engine only matches if the TIFF walk
    // actually resolves both endiannesses, the offset values, and the
    // sub-IFD pointer.
    "m16_exif_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        |  CAST(72 + doc_id % 10 AS BIGINT) AS xres_num,
        |  CAST(1 AS BIGINT) AS xres_den,
        |  'sw-' || CAST(doc_id % 100 AS VARCHAR) AS software,
        |  CAST(64 + doc_id % 64 AS BIGINT) AS pixel_x,
        |  CAST(48 + doc_id % 32 AS BIGINT) AS pixel_y
        |FROM documents""".stripMargin,

    // Every mvhd field is a pure function of the id (see synthesizeMp4),
    // so the oracle replays the box-walk's OUTPUT in closed form — the
    // engine only matches if the big-endian box parse actually recovers
    // the fields it wrote.
    "m09_mp4_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS brand, CAST(3 AS BIGINT) AS n_top_boxes,
        |  CAST(600 + (doc_id % 10) * 100 AS BIGINT) AS timescale,
        |  CAST((doc_id * 37) % 100000 + 600 AS BIGINT) AS duration,
        |  CAST(((doc_id * 37) % 100000 + 600) * 1000
        |    // (600 + (doc_id % 10) * 100) AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    // Sample-table fields are pure functions of the id (synthesizeMp4Track):
    // nSamples = id%7+2 sizes (id*13+5i)%200+50, chunks id%3+1 from
    // 1000+id%100, ticks = (nSamples-1)*(id%5+1) + 100 — closed-form
    // replay; the engine only matches if the stbl walk actually decodes
    // the three big-endian tables it wrote.
    "m11_mp4_stbl" ->
      """SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track,
        |  CAST(doc_id % 7 + 2 AS BIGINT) AS sample_count,
        |  CAST(list_sum(list_transform(range(0, CAST(doc_id % 7 + 2 AS BIGINT)),
        |    i -> (doc_id * 13 + 5 * i) % 200 + 50)) AS BIGINT) AS total_sample_bytes,
        |  CAST(doc_id % 3 + 1 AS BIGINT) AS n_chunks,
        |  CAST(1000 + doc_id % 100 AS BIGINT) AS first_chunk_offset,
        |  CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) + 100 AS BIGINT) AS total_ticks
        |FROM documents""".stripMargin,

    // Sample-extraction replay: sample i spans payload positions
    // [P_i, P_i + s_i) with P_i the stsz prefix sum; payload byte p is
    // (7p + id) mod 256 by synthesis — byte sums in closed form.
    "m12_mp4_samples" ->
      """WITH s AS (SELECT doc_id, r.i,
        |  (doc_id * 13 + 5 * r.i) % 200 + 50 AS sz,
        |  CAST(coalesce(list_sum(list_transform(range(0, r.i),
        |    j -> (doc_id * 13 + 5 * j) % 200 + 50)), 0) AS BIGINT) AS p0
        |  FROM documents CROSS JOIN range(0, 8) r(i)
        |  WHERE r.i < doc_id % 7 + 2)
        |SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track,
        |  CAST(i AS BIGINT) AS sample, CAST(0 AS BIGINT) AS chunk,
        |  CAST(sz AS BIGINT) AS nbytes,
        |  CAST(list_sum(list_transform(range(p0, p0 + sz),
        |    p -> (7 * p + doc_id) % 256)) AS BIGINT) AS byte_sum
        |FROM s""".stripMargin,

    // Chunked replay: sample content is chunk-layout-invariant (the
    // synthesizer lays the sample stream out chunk-by-chunk and the gaps
    // are junk), so byte sums reuse the m12 prefix-sum formula; chunk =
    // min(i div (n div nc), nc-1) replays the stsc run expansion.
    "m13_mp4_chunked" ->
      """WITH s AS (SELECT doc_id, r.i,
        |  (doc_id * 13 + 5 * r.i) % 200 + 50 AS sz,
        |  CAST(coalesce(list_sum(list_transform(range(0, r.i),
        |    j -> (doc_id * 13 + 5 * j) % 200 + 50)), 0) AS BIGINT) AS p0,
        |  doc_id % 7 + 2 AS n,
        |  least(doc_id % 3 + 1, doc_id % 7 + 2) AS nc
        |  FROM documents CROSS JOIN range(0, 8) r(i)
        |  WHERE r.i < doc_id % 7 + 2)
        |SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track,
        |  CAST(i AS BIGINT) AS sample,
        |  CAST(least(i // (n // nc), nc - 1) AS BIGINT) AS chunk,
        |  CAST(sz AS BIGINT) AS nbytes,
        |  CAST(list_sum(list_transform(range(p0, p0 + sz),
        |    p -> (7 * p + doc_id) % 256)) AS BIGINT) AS byte_sum
        |FROM s""".stripMargin,

    // Frame-decode replay: frame i of doc d is a 16x12 gray PNG with
    // pixel (7x+13y+d+31i) mod 256; the oracle histograms that formula
    // directly — it never sees the PNG bytes, so agreement proves the
    // engine's container walk + pread + image decode are all correct.
    "m14_mp4_frame_decode" ->
      """WITH f AS (SELECT doc_id, r.i FROM documents CROSS JOIN range(0, 4) r(i)
        |  WHERE r.i < doc_id % 3 + 2),
        |px AS (SELECT doc_id, i,
        |  (gx.x * 7 + gy.y * 13 + doc_id + 31 * i) % 256 AS v
        |  FROM f, generate_series(0, 15) gx(x), generate_series(0, 11) gy(y))
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS sample,
        |  CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  round(CAST(sum(CASE WHEN v // 16 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN v // 16 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN v // 16 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b15
        |FROM px GROUP BY doc_id, i""".stripMargin,

    // Streaming twin: identical extraction, AvailableNow drain.
    "st14_stream_mp4_samples" ->
      """WITH s AS (SELECT doc_id, r.i,
        |  (doc_id * 13 + 5 * r.i) % 200 + 50 AS sz,
        |  CAST(coalesce(list_sum(list_transform(range(0, r.i),
        |    j -> (doc_id * 13 + 5 * j) % 200 + 50)), 0) AS BIGINT) AS p0
        |  FROM documents CROSS JOIN range(0, 8) r(i)
        |  WHERE r.i < doc_id % 7 + 2)
        |SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track,
        |  CAST(i AS BIGINT) AS sample, CAST(0 AS BIGINT) AS chunk,
        |  CAST(sz AS BIGINT) AS nbytes,
        |  CAST(list_sum(list_transform(range(p0, p0 + sz),
        |    p -> (7 * p + doc_id) % 256)) AS BIGINT) AS byte_sum
        |FROM s""".stripMargin,

    "m01_media_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS checksum
        |FROM documents""".stripMargin,

    "m02_media_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  round(CAST(len(regexp_extract_all(text, '[`a-o]')) AS DOUBLE)
        |    / octet_length(encode(text)), 6) AS f6
        |FROM documents""".stripMargin,

    // Sampling: the oracle replays the exact portable-hash formula; the
    // thresholds interpolate from the SAME Scala doubles the plan compares
    // against (0.8 + 0.1 in IEEE, not a hand-written 0.9).
    "p01_hash_split" ->
      s"""WITH h AS (SELECT doc_id,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |FROM documents)
         |SELECT doc_id, CASE WHEN h < ${Sampling.threshold(0.8)} THEN 'train'
         |  WHEN h < ${Sampling.threshold(0.8 + 0.1)} THEN 'val'
         |  ELSE 'test' END AS split FROM h""".stripMargin,

    // The heap orders (score DESC, id ASC) with score = -hash AS DOUBLE;
    // the window replays that exact ordering.
    "p02_stratified_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |FROM documents),
        |r AS (SELECT source, doc_id, row_number() OVER (
        |  PARTITION BY source ORDER BY CAST(h AS DOUBLE) ASC, doc_id ASC) AS rn
        |FROM h)
        |SELECT source, doc_id FROM r WHERE rn <= 5""".stripMargin,

    // Quota selection semantics in one window: smallest hashes first,
    // ties by key, per-category quota cutoff. The engine's
    // histogram-refinement execution must reproduce this row set exactly.
    "p04_quota_sample" ->
      """WITH q(lang, quota) AS (VALUES
        |  ('en', 100), ('zh', 40), ('es', 30), ('de', 20), ('fr', 5000)),
        |h AS (SELECT lang, doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |FROM documents),
        |r AS (SELECT lang, doc_id, quota, row_number() OVER (
        |  PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rn
        |FROM h JOIN q USING (lang))
        |SELECT lang, doc_id FROM r WHERE rn <= quota""".stripMargin,

    // Temperature mixture: integer micro-weight lattice, one rounded
    // division.
    "p06_temp_mixture" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_micro
        |  FROM c),
        |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tw FROM w)
        |SELECT source, n_docs, w_micro,
        |  round(CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share6
        |FROM w CROSS JOIN t""".stripMargin,

    // Take-until-budget semantics in one window: a doc is selected iff
    // the token mass BEFORE it (hash-rank order) is under the budget.
    "p05_token_budget" ->
      """WITH b(lang, budget) AS (VALUES
        |  ('en', 5000), ('zh', 2000), ('es', 1500), ('de', 100), ('fr', 1000000)),
        |h AS (SELECT lang, doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS w,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |FROM documents),
        |c AS (SELECT lang, doc_id, budget,
        |  CAST(sum(w) OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC
        |    ROWS UNBOUNDED PRECEDING) - w AS BIGINT) AS cum_before
        |FROM h JOIN b USING (lang))
        |SELECT lang, doc_id FROM c WHERE cum_before < budget""".stripMargin,

    "b01_bucketed_degrees" ->
      "SELECT 1000000 + l_partkey AS id, count(*) AS out_degree FROM lineitem GROUP BY 1",

    // JSONL round trip: the classification (every 97th doc truncated ->
    // corrupt) replayed off the original table; good rows must carry
    // their parsed fields, corrupt rows only a count.
    // Snapshot replay: the pinned view is the even generation alone,
    // the live view everything — any snapshot that sees appended files
    // (or misses pinned ones) diverges.
    "b10_snapshot_read" ->
      """SELECT 'snap' AS view, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'curr', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin,

    // The delta between the pins is exactly the appended odd half.
    "b12_snapshot_delta" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 <> 0""".stripMargin,

    // The b10 replay verbatim: retention must make compaction invisible
    // to both the pinned read and the live one.
    "b11_snapshot_compact" ->
      """SELECT 'snap' AS view, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'curr', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin,

    // Full-rewrite replay: the pinned view is the pre-rewrite even
    // generation, the live view the rewritten odd content — a rewrite
    // that killed the pin (or leaked it into the new content) diverges.
    "b13_snapshot_rewrite" ->
      """SELECT 'snap' AS view, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'curr', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 <> 0""".stripMargin,

    // Partition-overwrite replay: the expected post-overwrite mix —
    // original rows everywhere except click, which holds exactly the
    // reprocessed slice. Anything static-mode-shaped (truncated other
    // partitions, click originals surviving) diverges.
    "b09_partition_overwrite" ->
      """WITH mixed AS (
        |  SELECT event_type, value FROM events WHERE event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, value * 2 AS value FROM events
        |  WHERE event_type = 'click' AND event_id % 2 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM mixed GROUP BY 1""".stripMargin,

    // Schema-evolution replay: generation membership is doc_id parity,
    // so the merged-schema read's NULL lattice is a closed form — gen-1
    // rows contribute NULL n_toks (skipped by count, 0 in the sum).
    "b08_schema_evolution" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS BIGINT) AS with_toks,
        |  CAST(sum(CASE WHEN doc_id % 2 <> 0
        |    THEN len(regexp_extract_all(text, '\S+')) ELSE 0 END) AS BIGINT) AS toks
        |FROM documents GROUP BY 1""".stripMargin,

    "b03_jsonl_ingest" ->
      """SELECT CASE WHEN doc_id % 97 = 0 THEN '__corrupt' ELSE lang END AS lang,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n_chars END), 0) AS BIGINT) AS chars,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 THEN NULL ELSE length(text) END), 0) AS BIGINT) AS text_chars
        |FROM documents GROUP BY 1""".stripMargin,

    // Pruning may only skip files, never rows: the oracle is the plain
    // range filter over the original table. The range mirrors the gate:
    // [min_pk, min_pk + (max_pk - min_pk)/8].
    "b06_manifest_pruned" ->
      """WITH mm AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem, mm
        |WHERE l_partkey >= mm.mnp AND l_partkey <= mm.mnp + (mm.mxp - mm.mnp) // 8
        |GROUP BY 1""".stripMargin,

    // Bloom point lookup: pruning may only SKIP files, never change
    // rows — the oracle is the plain equality filter on the source.
    "b14_bloom_point_lookup" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey = (SELECT min(o_custkey) FROM orders)""".stripMargin,

    // Batched lookup: same skip-only contract over the 5 smallest
    // custkeys — the oracle is the plain IN filter on the source.
    "b14b_bloom_batch_lookup" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 5)""".stripMargin,

    // The CSV round trip must agree with the ORIGINAL table — text length
    // totals catch any quoting/escaping loss.
    "b07_csv_roundtrip" ->
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(length(text)) AS BIGINT) AS text_chars
        |FROM documents GROUP BY 1""".stripMargin,

    // The ORC round trip must agree with the ORIGINAL table.
    "b05_orc_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs
        |FROM orders GROUP BY 1""".stripMargin,

    // Generated from the SAME per-bit interleave formula as the plan
    // (ZOrderedTables.zValueSql) — the z-cell aggregate over the original
    // table; the Spark side computes it over the read-back layout.
    "b04_zorder_roundtrip" -> {
      val z = graft.sources.ZOrderedTables.zValueSql(
        Seq(("l_partkey", "mm.mnp", "mm.mxp"),
          ("l_suppkey", "mm.mns", "mm.mxs")), 8)
      s"""WITH mm AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
         |  min(l_suppkey) AS mns, max(l_suppkey) AS mxs FROM lineitem)
         |SELECT ($z) >> 10 AS zcell, count(*) AS cnt,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM lineitem, mm GROUP BY 1""".stripMargin
    },

    // The partitioned round trip must agree with the ORIGINAL table.
    "b02_partitioned_roundtrip" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1""".stripMargin,

    // Streaming queries: the oracle IS the batch semantics — AvailableNow
    // drains the whole table through the micro-batch engine, so the result
    // must equal the equivalent batch query.
    // Chunk count is pure integer arithmetic — both engines enumerate the
    // identical row set; chunks compare by md5.
    "t04_chunking" ->
      """WITH d AS (SELECT doc_id, text,
        |  greatest(1, (length(text) - 64 + 447) // 448) AS nc FROM documents),
        |c AS (SELECT doc_id, unnest(range(nc)) AS chunk_idx, text FROM d),
        |ch AS (SELECT doc_id, chunk_idx,
        |  substr(text, CAST(1 + chunk_idx * 448 AS BIGINT), 512) AS chunk FROM c)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len, md5(chunk) AS chunk_md5
        |FROM ch""".stripMargin,

    "st01_stream_dedup" ->
      "SELECT DISTINCT md5(text) AS fingerprint FROM documents",

    // t04's chunk CTE x t02's language decision tree, rolled up per doc.
    "t17_mixed_language" ->
      """WITH d AS (SELECT doc_id, text,
        |  greatest(1, (length(text) - 64 + 447) // 448) AS nc FROM documents),
        |c AS (SELECT doc_id, unnest(range(nc)) AS chunk_idx, text FROM d),
        |ch AS (SELECT doc_id,
        |  substr(text, CAST(1 + chunk_idx * 448 AS BIGINT), 512) AS chunk FROM c),
        |sc AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(chunk), '\b(the|a|of|and|to|in|is|it|that|for)\b')) AS BIGINT) AS hits_en,
        |  CAST(len(regexp_extract_all(lower(chunk), '\b(el|la|de|y|que|los|en|un|una|es)\b')) AS BIGINT) AS hits_es,
        |  CAST(len(regexp_extract_all(lower(chunk), '\b(der|die|das|und|ist|nicht|ein|eine|zu|den)\b')) AS BIGINT) AS hits_de,
        |  CAST(len(regexp_extract_all(lower(chunk), '\b(le|la|et|les|des|un|une|est|dans|que)\b')) AS BIGINT) AS hits_fr,
        |  CAST(len(regexp_extract_all(chunk, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS cjk
        |  FROM ch),
        |lid AS (SELECT doc_id, CASE WHEN cjk > 0 THEN 'zh'
        |  WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
        |  WHEN hits_es >= hits_de AND hits_es >= hits_fr AND hits_es > 0 THEN 'es'
        |  WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
        |  WHEN hits_fr > 0 THEN 'fr' ELSE 'und' END AS lg FROM sc),
        |per AS (SELECT doc_id, lg, count(*) AS c FROM lid GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_langs,
        |  CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS majority_ppm,
        |  count(*) > 1 AS mixed
        |FROM per GROUP BY 1""".stripMargin,

    // The synthesis template verbatim, then the kernel replayed in RE2:
    // block drops (dotall), per-line link-density filter (list_filter
    // lambdas — the same visible/anchor length arithmetic), tag strip,
    // entity decode (&amp; last), whitespace squeeze.
    "t18_html_extract" -> t18OracleSql,

    // PII replay: the same synthesis CASEs, then each class counted on
    // the raw augmented text and the same email -> ip -> phone
    // sequential redaction ('g' = DuckDB's global flag; Spark's
    // regexp_replace is global by default).
    "t19_pii_redact" -> t19OracleSql,

    // URL canonicalization replay: see urlCanonCtes.
    "t20_url_canon" ->
      (urlCanonCtes + "\nSELECT doc_id, url, canon FROM z"),

    // NFC replay: DuckDB's nfc_normalize (utf8proc) against the
    // engine's java.text.Normalizer — both implement Unicode canonical
    // composition; the planted variant pairs must collapse to one
    // dedup_key. chr() builds the decomposed sequences (DuckDB string
    // literals don't interpret \u escapes).
    "t21_nfc_normalize" ->
      """WITH r AS (SELECT doc_id, substr(text, 1, 16) || ' ' ||
        |  CASE CAST(doc_id % 5 AS INTEGER)
        |    WHEN 0 THEN 'cafe' || chr(769)
        |    WHEN 1 THEN 'caf' || chr(233)
        |    WHEN 2 THEN 'A' || chr(778) || 'berg'
        |    WHEN 3 THEN chr(197) || 'berg'
        |    ELSE 'ascii' END AS raw FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm,
        |  (nfc_normalize(raw) <> raw) AS changed,
        |  md5(nfc_normalize(raw)) AS dedup_key
        |FROM r""".stripMargin,

    // Drift replay: per-half term counts, slice totals, the same
    // overflow-safe ppm split (`//` == `div` on non-negatives), |Δ|.
    "t23_token_drift" ->
      (t23DriftCtes + """
        |SELECT term, rate_a_ppm, rate_b_ppm,
        |  abs(rate_a_ppm - rate_b_ppm) AS drift_ppm
        |FROM r ORDER BY abs(rate_a_ppm - rate_b_ppm) DESC, term
        |LIMIT 20""".stripMargin),

    "t23b_corpus_drift_tv" ->
      (t23DriftCtes + """
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(coalesce(sum(abs(rate_a_ppm - rate_b_ppm)), 0) AS BIGINT) AS tv_ppm
        |FROM r""".stripMargin),

    // The streaming drift monitor finalizes to the SAME scalar.
    "st28_stream_drift" ->
      (t23DriftCtes + """
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(coalesce(sum(abs(rate_a_ppm - rate_b_ppm)), 0) AS BIGINT) AS tv_ppm
        |FROM r""".stripMargin),

    // The t23 drift replay with the group key riding every stage:
    // per-(group, slice) totals, the within-group full-outer term join,
    // the same exact-ppm split, folded per group.
    "t24_grouped_drift" -> t24OracleSql,

    // The grouped streaming monitor finalizes to the same per-group TV.
    "st28b_stream_grouped_drift" -> t24OracleSql,

    // CMS-drift replay: per-slice salted grids (the st08 hash verbatim,
    // salted per depth row), per-row slice totals, the same
    // overflow-safe exact-ppm split per CELL, |Δ| folded per row — the
    // grid and tail are deterministic, so the lower-bound estimator
    // replays exactly (one-sided error is semantics, not tolerance).
    "st28c_stream_drift_cms" ->
      """WITH t AS (SELECT CAST(doc_id % 2 AS VARCHAR) AS s,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |p AS (SELECT s, r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || term), 1, 15))::BIGINT % 1024 AS col
        |  FROM t CROSS JOIN range(4) r),
        |g AS (SELECT s, row, col, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2, 3),
        |a AS (SELECT row, col, c AS ca FROM g WHERE s = '0'),
        |b AS (SELECT row, col, c AS cb FROM g WHERE s = '1'),
        |ta AS (SELECT row, CAST(sum(ca) AS BIGINT) AS na FROM a GROUP BY 1),
        |tb AS (SELECT row, CAST(sum(cb) AS BIGINT) AS nb FROM b GROUP BY 1),
        |j AS (SELECT coalesce(a.row, b.row) AS row,
        |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.row = b.row AND a.col = b.col),
        |r AS (SELECT j.row, ta.na, tb.nb,
        |  CAST(CASE WHEN ta.na IS NULL THEN 0 ELSE
        |    ca * (1000000 // ta.na) + (ca * (1000000 % ta.na)) // ta.na
        |    END AS BIGINT) AS ra,
        |  CAST(CASE WHEN tb.nb IS NULL THEN 0 ELSE
        |    cb * (1000000 // tb.nb) + (cb * (1000000 % tb.nb)) // tb.nb
        |    END AS BIGINT) AS rb
        |  FROM j LEFT JOIN ta ON ta.row = j.row
        |  LEFT JOIN tb ON tb.row = j.row)
        |SELECT row, CAST(coalesce(max(na), 0) AS BIGINT) AS na,
        |  CAST(coalesce(max(nb), 0) AS BIGINT) AS nb,
        |  CAST(coalesce(sum(abs(ra - rb)), 0) AS BIGINT) AS tv_ppm
        |FROM r GROUP BY 1""".stripMargin,

    // The grouped CMS-drift replay: the same grid + tail with the group
    // key riding every stage (NULL-safe group joins, IS NOT DISTINCT
    // FROM — the t24 discipline).
    "st28d_stream_grouped_drift_cms" ->
      """WITH t AS (SELECT source AS g, CAST(doc_id % 2 AS VARCHAR) AS s,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |p AS (SELECT g, s, r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || term), 1, 15))::BIGINT % 1024 AS col
        |  FROM t CROSS JOIN range(4) r),
        |gr AS (SELECT g, s, row, col, CAST(count(*) AS BIGINT) AS c
        |  FROM p GROUP BY 1, 2, 3, 4),
        |a AS (SELECT g, row, col, c AS ca FROM gr WHERE s = '0'),
        |b AS (SELECT g, row, col, c AS cb FROM gr WHERE s = '1'),
        |ta AS (SELECT g, row, CAST(sum(ca) AS BIGINT) AS na FROM a GROUP BY 1, 2),
        |tb AS (SELECT g, row, CAST(sum(cb) AS BIGINT) AS nb FROM b GROUP BY 1, 2),
        |j AS (SELECT coalesce(a.g, b.g) AS g, coalesce(a.row, b.row) AS row,
        |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.g IS NOT DISTINCT FROM b.g
        |    AND a.row = b.row AND a.col = b.col),
        |r AS (SELECT j.g, j.row, ta.na, tb.nb,
        |  CAST(CASE WHEN ta.na IS NULL THEN 0 ELSE
        |    ca * (1000000 // ta.na) + (ca * (1000000 % ta.na)) // ta.na
        |    END AS BIGINT) AS ra,
        |  CAST(CASE WHEN tb.nb IS NULL THEN 0 ELSE
        |    cb * (1000000 // tb.nb) + (cb * (1000000 % tb.nb)) // tb.nb
        |    END AS BIGINT) AS rb
        |  FROM j LEFT JOIN ta ON ta.g IS NOT DISTINCT FROM j.g AND ta.row = j.row
        |  LEFT JOIN tb ON tb.g IS NOT DISTINCT FROM j.g AND tb.row = j.row)
        |SELECT g AS source, row, CAST(coalesce(max(na), 0) AS BIGINT) AS na,
        |  CAST(coalesce(max(nb), 0) AS BIGINT) AS nb,
        |  CAST(coalesce(sum(abs(ra - rb)), 0) AS BIGINT) AS tv_ppm
        |FROM r GROUP BY 1, 2""".stripMargin,

    // Vocab-coverage replay: exact token counts, (cnt DESC, term) rank,
    // per-size covered sums via the rank theta join, one rounded ratio.
    "t22_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |tt AS (SELECT coalesce(CAST(sum(cnt) AS BIGINT), 0) AS total_occ FROM c),
        |r AS (SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rn FROM c),
        |sz AS (SELECT * FROM (VALUES (5), (10), (20), (40)) AS v(v_size)),
        |cov AS (SELECT sz.v_size, coalesce(CAST(sum(r.cnt) AS BIGINT), 0) AS covered_occ
        |  FROM sz LEFT JOIN r ON r.rn <= sz.v_size GROUP BY 1)
        |SELECT cov.v_size, cov.covered_occ, tt.total_occ,
        |  CASE WHEN tt.total_occ = 0 THEN 0.0
        |    ELSE round(CAST(cov.covered_occ AS DOUBLE) / CAST(tt.total_occ AS DOUBLE), 6)
        |  END AS coverage
        |FROM cov, tt""".stripMargin,

    // Semantic decon: brute-force corpus x held-out cosine at the 0.45
    // threshold — the exact set the banded LSH scan must reproduce
    // (defaults put per-pair miss probability < 3e-8; see
    // embeddingNearDupLsh's cost model).
    "d20_semantic_decon" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c AS (SELECT * FROM n WHERE vec_id % 10 <> 7),
        |h AS (SELECT * FROM n WHERE vec_id % 10 = 7),
        |p AS (SELECT c.vec_id,
        |  round(list_dot_product(c.v, h.v) / (c.nrm * h.nrm), 6) AS cos
        |  FROM c CROSS JOIN h)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_contaminating,
        |  max(cos) AS max_cosine
        |FROM p WHERE cos >= 0.45 GROUP BY 1""".stripMargin,

    "d21_lsh_calibration" -> d21OracleSql,

    // Canonical-URL dedup: first occurrence + duplicate count per canon.
    "d19_url_dedup" ->
      (urlCanonCtes + "\nSELECT canon, min(doc_id) AS keep_id, " +
        "count(*) AS n_dups FROM z GROUP BY 1"),

    // Streaming URL dedup: the d19 SQL verbatim — per-canon (min, count)
    // state is order-free, so stream==batch IS the contract.
    "st20_stream_url_dedup" ->
      (urlCanonCtes + "\nSELECT canon, min(doc_id) AS keep_id, " +
        "count(*) AS n_dups FROM z GROUP BY 1"),

    // Restart resume: the d19 aggregate on the % 37 canon keys — the
    // checkpointed two-job drive must equal the one-shot batch exactly
    // (a lost state restarts cnt and undercounts; a re-read file
    // double-counts; both diverge from this SQL).
    "st22_stream_restart" ->
      (urlCanonCtesFor("(doc_id % 37)") +
        "\nSELECT canon, min(doc_id) AS keep_id, " +
        "count(*) AS n_dups FROM z GROUP BY 1"),

    // TTL first-seen replay: the d19 aggregate RESTRICTED TO THE HORIZON.
    // Batch b = doc_id div (max_id div 4 + 1) — the gate's file split.
    // Watermark at batch b (wmb) = max sec over EARLIER batches - 5 (the
    // eviction watermark Spark exposes during batch b). Consecutive
    // occurrences of a canon split into separate visit chains iff
    // wmb(later) > prev_sec + 20 (state evicted — by the timeout firing
    // in an interior batch, or eagerly on the data call; both reduce to
    // this inequality because the watermark is monotone). A chain emits
    // iff CLOSED: final watermark (global max sec - 5) > last_sec + 20 —
    // chains still open at end-of-stream never emit.
    "st21_stream_firstseen_ttl" ->
      (urlCanonCtesFor("(doc_id % 37)") + """,
        |p AS (SELECT doc_id, canon, doc_id + 1000 AS sec,
        |  doc_id // ((SELECT max(doc_id) FROM documents) // 4 + 1) AS b
        |  FROM z),
        |bm AS (SELECT b, max(sec) AS bmax FROM p GROUP BY 1),
        |wmt AS (SELECT b, max(bmax) OVER (ORDER BY b
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 5 AS wmb
        |  FROM bm),
        |o AS (SELECT p.doc_id, p.canon, p.sec, p.b,
        |  lag(p.sec) OVER (PARTITION BY p.canon ORDER BY p.doc_id) AS psec,
        |  lag(p.b) OVER (PARTITION BY p.canon ORDER BY p.doc_id) AS pb
        |  FROM p),
        |nn AS (SELECT o.*, CASE WHEN o.psec IS NULL
        |    OR (o.b > o.pb AND COALESCE(w.wmb, -1) > o.psec + 20)
        |  THEN 1 ELSE 0 END AS nc
        |  FROM o LEFT JOIN wmt w ON w.b = o.b),
        |ch AS (SELECT *, sum(nc) OVER (PARTITION BY canon ORDER BY doc_id
        |  ROWS UNBOUNDED PRECEDING) AS cid FROM nn),
        |g AS (SELECT canon, cid, CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(count(*) AS BIGINT) AS cnt, max(sec) AS last
        |  FROM ch GROUP BY 1, 2)
        |SELECT canon AS key, min_id, cnt FROM g
        |WHERE last + 20 < (SELECT max(doc_id) + 1000 - 5 FROM documents)"""
        .stripMargin),

    // Streaming PII at ingest: t19's SQL verbatim (stateless transform).
    "st19_stream_pii_redact" -> t19OracleSql,

    // Streaming ingest twin (st15): the same kernel per micro-batch —
    // stream==batch is the contract, so the oracle IS the t18 SQL.
    "st15_stream_html_extract" -> t18OracleSql,

    // Streaming filtered-ANN twin (st16): same index, same predicate,
    // same top-k — the oracle IS the s16 SQL (stream==batch contract).
    "st16_stream_filtered_ann" -> s16OracleSql,

    // Streaming phash dedup gate: first-seen-per-hash == DISTINCT hash;
    // the hash bits replay from the synthesis formula (m07's CTEs).
    "st10_stream_phash_dedup" ->
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, gx.x AS x, gy.y AS y,
        |    (gx.x * 28 + gy.y * 39 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total FROM px GROUP BY 1),
        |b AS (SELECT px.media_id,
        |  string_agg(CASE WHEN v * 64 > total THEN '1' ELSE '0' END, '' ORDER BY y, x) AS phash
        |  FROM px JOIN s USING (media_id) GROUP BY px.media_id)
        |SELECT DISTINCT phash FROM b""".stripMargin,

    // One drained batch == the batch compaction (q23's oracle verbatim).
    "st12_stream_latest" ->
      """SELECT user_id, last_ts, last_event_id, last_type, last_value_cents FROM (
        |  SELECT user_id, epoch_ns(ts) AS last_ts, event_id AS last_event_id,
        |    event_type AS last_type, CAST(round(value * 100) AS BIGINT) AS last_value_cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    // The prefix rule as a window: admit docs while the per-lang running
    // token total (ordered by doc_id) stays within budget.
    "st11_stream_budget" ->
      """SELECT doc_id, cat, toks, cum FROM (
        |  SELECT doc_id, lang AS cat,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS toks,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |      OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM documents)
        |WHERE cum <= 2000""".stripMargin,

    // Batch replay of successor-closed sessionization: q09's gap/session
    // numbering, grouped to sessions, with each user's LAST session
    // excluded (it is still open in the stream's state).
    "st04_stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec FROM events),
        |x AS (SELECT user_id, sec, event_id,
        |  CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |         OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
        |       THEN 1 ELSE 0 END AS is_new FROM e),
        |s AS (SELECT user_id, sec, is_new, sum(is_new) OVER
        |  (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM x),
        |g AS (SELECT user_id, sid, min(sec) AS session_start, max(sec) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events FROM s GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1)
        |SELECT g.user_id, g.session_start, g.session_end, g.n_events
        |FROM g JOIN mx ON g.user_id = mx.user_id AND g.sid < mx.last_sid""".stripMargin,

    // Append-mode drain: keep only windows the final watermark (max event
    // time - 30min lateness) has finalized; boundary we == watermark emits
    // (StreamsSpec-pinned Spark semantics).
    "st02_stream_window" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS sec, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
        |wm AS (SELECT max(sec) - 1800 AS w FROM e),
        |w AS (SELECT sec, event_type, value_c,
        |  (sec // 1800) * 1800 - k * 1800 AS ws
        |  FROM e, (SELECT unnest([0, 1]) AS k) offs)
        |SELECT ws, ws + 3600 AS we, event_type, count(*) AS cnt,
        |  CAST(sum(value_c) AS BIGINT) AS value_sum
        |FROM w, wm WHERE ws + 3600 <= wm.w GROUP BY 1, 2, 3""".stripMargin,

    "st03_stream_quality" ->
      """WITH s AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS BIGINT) AS alnum,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it|that|for)\b')) AS BIGINT) AS hits_en
        |FROM documents),
        |q AS (SELECT doc_id,
        |  0.4 * (CASE WHEN n_chars > 0 THEN CAST(alnum AS DOUBLE)/n_chars ELSE 0.0 END)
        |    + 0.3 * least((CASE WHEN n_tok > 0 THEN CAST(hits_en AS DOUBLE)/n_tok ELSE 0.0 END) * 5.0, 1.0)
        |    + 0.3 * least(CAST(n_chars AS DOUBLE)/500.0, 1.0) AS qraw
        |FROM s)
        |SELECT doc_id, round(qraw, 6) AS quality FROM q
        |WHERE round(qraw, 6) >= 0.5""".stripMargin,

    "m03_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS tot FROM documents),
        |st AS (SELECT *, greatest((tot - 64) // 3, 1) AS stride FROM m WHERE tot >= 64),
        |f AS (SELECT media_id, text, stride, tot, unnest([0,1,2,3]) AS frame_idx FROM st)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(substr(text, CAST(frame_idx * stride + 1 AS INT), 64)) AS frame_md5
        |FROM f WHERE frame_idx * stride + 64 <= tot""".stripMargin,

    // Pixel histogram of the synthesized 32x24 gray PNG, straight from the
    // synthesis formula — never touches a decoder; the engine must have
    // decoded the actual PNG bytes to agree. One IEEE division per bin
    // (no sum-order hazard), rounded like every float gate.
    "m04_png_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, (gx.x * 7 + gy.y * 13 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 31) gx(x), generate_series(0, 23) gy(y))
        |SELECT media_id,
        |  round(CAST(sum(CASE WHEN v // 16 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 768.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN v // 16 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 768.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN v // 16 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 768.0, 6) AS b15
        |FROM px GROUP BY media_id""".stripMargin,

    // The resize chain replayed from the formula: 2:1 nearest-neighbour
    // keeps source pixels (2x, 2y), i.e. v = (14x + 26y + id) mod 256
    // over the 16x12 output grid (192 pixels).
    "m05_png_resize" ->
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, (gx.x * 14 + gy.y * 26 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 15) gx(x), generate_series(0, 11) gy(y))
        |SELECT media_id,
        |  round(CAST(sum(CASE WHEN v // 16 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN v // 16 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN v // 16 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 192.0, 6) AS b15
        |FROM px GROUP BY media_id""".stripMargin,

    // aHash bits replayed from the synthesis formula over the 8x8
    // downsample grid; threshold in integers (v*64 > sum), bit string in
    // (y, x) raster order.
    "m07_phash" ->
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, gx.x AS x, gy.y AS y,
        |    (gx.x * 28 + gy.y * 39 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total FROM px GROUP BY 1)
        |SELECT px.media_id,
        |  string_agg(CASE WHEN v * 64 > total THEN '1' ELSE '0' END, '' ORDER BY y, x) AS phash
        |FROM px JOIN s USING (media_id) GROUP BY px.media_id""".stripMargin,

    "m07b_phash_dups" ->
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, gx.x AS x, gy.y AS y,
        |    (gx.x * 28 + gy.y * 39 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total FROM px GROUP BY 1),
        |b AS (SELECT px.media_id,
        |  string_agg(CASE WHEN v * 64 > total THEN '1' ELSE '0' END, '' ORDER BY y, x) AS phash
        |  FROM px JOIN s USING (media_id) GROUP BY px.media_id)
        |SELECT phash, CAST(count(*) AS BIGINT) AS dup_cnt,
        |  CAST(min(media_id) AS BIGINT) AS rep_id
        |FROM b GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // The synth formula + the quantized energy profile replayed in integer
    // SQL: frame(i) = (i*8)//480, digit_f = (frame-abs-sum * 4096) //
    // track total, 4-digit zero-padded.
    "m08_wav_dedup" ->
      """WITH g AS (SELECT DISTINCT doc_id % 100 AS gid FROM documents),
        |sm AS (SELECT g.gid, gi.i, ((gi.i * 31 + g.gid * 17) % 65536) - 32768 AS s
        |  FROM g, generate_series(0, 479) gi(i)),
        |fr AS (SELECT gid, (i * 8) // 480 AS f, sum(abs(s)) AS e FROM sm GROUP BY 1, 2),
        |tot AS (SELECT gid, sum(e) AS te FROM fr GROUP BY 1),
        |fp AS (SELECT fr.gid,
        |  string_agg(lpad(CAST((e * 4096) // te AS VARCHAR), 4, '0'), '' ORDER BY f) AS afp
        |  FROM fr JOIN tot USING (gid) GROUP BY 1)
        |SELECT afp, CAST(min(d.doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents d JOIN fp ON d.doc_id % 100 = fp.gid
        |GROUP BY 1""".stripMargin,

    // Sketch-merge gates: the oracle is the WHOLE-corpus sketch (q14/q15/
    // q16 SQL verbatim) — the engine's merged half-sketches must equal it
    // bit for bit, which is the mergeability law under the hard gate.
    "q19_hll_merge" ->
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1)
        |SELECT CAST(range AS BIGINT) AS register, COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |FROM range(256) LEFT JOIN agg ON range = register""".stripMargin,

    "q19b_cms_merge" ->
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
        |LEFT JOIN seen ON rr.range = seen.row AND cc.range = seen.col""".stripMargin,

    "q19c_hist_merge" ->
      """WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0 THEN 0 ELSE least(255, v // 200) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1)
        |SELECT CAST(r.range AS BIGINT) AS bin, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM range(256) r LEFT JOIN b ON r.range = b.bin""".stripMargin,

    // The as-of join against DuckDB's NATIVE ASOF LEFT JOIN — the one
    // oracle that is itself a dedicated engine operator, not a SQL
    // re-derivation. Build dedup winner = max event_id per (user, ts);
    // arg_max carries its cents.
    "q20_asof_join" -> q20OracleSql,

    // The streaming enrichment must be invisible to the as-of semantics:
    // the same native ASOF LEFT JOIN replay, verbatim.
    // Stream == batch IS the maintenance contract: the drained labels /
    // counts tables must equal the full recomputes their batch gates
    // (g07/g11) replay.
    "st30_stream_wcc_maintain" -> g07OracleSql,
    "st31_stream_tri_maintain" -> g11OracleSql,

    "st29_stream_asof_enrich" -> q20OracleSql,

    // Forward-asof replay: bounded candidate enumeration (pairs within
    // the 2 h window) + per-probe argmin over b.t — the naive plan the
    // merge-shaped operator exists to avoid, which makes it the right
    // oracle: any carry/tie/tolerance drift diverges.
    "q32_asof_forward" -> q32OracleSql,

    // The streaming forward enrichment must be invisible too.
    "st29b_stream_asof_forward" -> q32OracleSql,

    // Nearest-asof replay: bounded |Δ| candidate enumeration, per-probe
    // argmin by (distance ASC, build time ASC — ties to the earlier
    // match), the naive plan the merge shape exists to avoid.
    "q36_asof_nearest" -> q36OracleSql,

    // The streaming nearest enrichment: the same replay, verbatim.
    "st29c_stream_asof_nearest" -> q36OracleSql,

    // session_window replay: the gap-session rule on the micros
    // lattice — an interval of EXACTLY the gap still MERGES (Spark
    // merges touching event windows, inclusive; spec-pinned), so a new
    // session starts only STRICTLY past the gap; end = last event + gap.
    "q29_session_window" ->
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
        |FROM sn GROUP BY user_id, sid""".stripMargin,

    // RANGE-frame replay: value-based trailing hour; RANGE includes
    // equal-ts peers identically in both engines, so ties are safe.
    "q28_trailing_window" ->
      """WITH e AS (SELECT event_id, event_type, epoch_ns(ts) AS ts,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT event_id, event_type,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(v) OVER w AS BIGINT) AS cents_1h
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts
        |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // Interval-join replay: the plain theta-join — the binning is an
    // execution strategy, not a semantics change.
    "q27_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS ws,
        |  ts + 7200000000000 AS we FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, c.click_id, p.purchase_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.ws <= p.ts AND p.ts < c.we""".stripMargin,

    // Same week lattice off epoch_ns; // matches Spark's div on the
    // non-negative nanos domain.
    "q25_cohort_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS w FROM events),
        |c AS (SELECT user_id, min(w) AS c0 FROM wk GROUP BY 1)
        |SELECT c.c0 AS cohort_week, CAST(wk.w - c.c0 AS BIGINT) AS offset,
        |  CAST(count(DISTINCT wk.user_id) AS BIGINT) AS n_users
        |FROM wk JOIN c ON wk.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    // MERGE resolved set-wise: base minus deletes, updates override via
    // left join, inserts append.
    "q24_merge_apply" ->
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
        |SELECT k, price_cents, prio FROM ins""".stripMargin,

    // The Gram chain + 3 unrolled integer power-iteration rounds.
    // DuckDB's BIGINT // TRUNCATES toward zero (probed: (-7)//2 = -3) —
    // matching the plan's Java `/`; do NOT "fix" either side to floorDiv,
    // negative components would then diverge by one.
    "e03_top_eigenvector" -> {
      val rounds = (1 to 3).map { t =>
        s"""u$t AS (SELECT g.i, CAST(sum(g.gv * v${t - 1}.v) AS BIGINT) AS u
           |  FROM g JOIN v${t - 1} ON v${t - 1}.i = g.j GROUP BY 1),
           |m$t AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(u)) // 1000) AS s FROM u$t),
           |v$t AS (SELECT i, CAST(u // s AS BIGINT) AS v FROM u$t, m$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
         |g AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM e CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |v0 AS (SELECT CAST(range AS BIGINT) AS i, CAST(1000 AS BIGINT) AS v FROM range(64)),
         |$rounds
         |SELECT i, v AS eig_micros FROM v3""".stripMargin
    },

    // e04: yesterday's 3-round chain over the subset Gram, resumed 2
    // rounds over the full Gram — both integer-exact, `//` truncating.
    "e04_eigenvector_warm" -> {
      def chain(pre: String, gname: String, n: Int, from: String) =
        (1 to n).map { t =>
          val prev = if (t == 1) from else s"$pre${t - 1}"
          s"""${pre}u$t AS (SELECT g.i, CAST(sum(g.gv * p.v) AS BIGINT) AS u
             |  FROM $gname g JOIN $prev p ON p.i = g.j GROUP BY 1),
             |${pre}m$t AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(u)) // 1000) AS s FROM ${pre}u$t),
             |$pre$t AS (SELECT i, CAST(u // s AS BIGINT) AS v FROM ${pre}u$t, ${pre}m$t)""".stripMargin
        }.mkString(",\n")
      s"""WITH eb AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
         |  FROM embeddings WHERE vec_id % 4 <> 0),
         |gb AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM eb CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |ef AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
         |gf AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM ef CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |bv0 AS (SELECT CAST(range AS BIGINT) AS i, CAST(1000 AS BIGINT) AS v FROM range(64)),
         |${chain("bv", "gb", 3, "bv0")},
         |${chain("wv", "gf", 2, "bv3")}
         |SELECT i, v AS eig_micros FROM wv2""".stripMargin
    },

    // e03's chain + the per-vector dot against v3 — exact integers in the
    // double domain (all partials < 2^53), // truncating like the plan.
    "e03b_pca_scores" -> {
      val rounds = (1 to 3).map { t =>
        s"""u$t AS (SELECT g.i, CAST(sum(g.gv * v${t - 1}.v) AS BIGINT) AS u
           |  FROM g JOIN v${t - 1} ON v${t - 1}.i = g.j GROUP BY 1),
           |m$t AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(u)) // 1000) AS s FROM u$t),
           |v$t AS (SELECT i, CAST(u // s AS BIGINT) AS v FROM u$t, m$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH eq AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
         |e AS (SELECT vq FROM eq),
         |g AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM e CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |v0 AS (SELECT CAST(range AS BIGINT) AS i, CAST(1000 AS BIGINT) AS v FROM range(64)),
         |$rounds,
         |ev AS (SELECT list(v ORDER BY i) AS evec FROM v3)
         |SELECT vec_id,
         |  CAST(CAST(list_dot_product(list_transform(vq, x -> CAST(x AS DOUBLE)),
         |    list_transform(evec, x -> CAST(x AS DOUBLE))) AS BIGINT) // 1000 AS BIGINT)
         |    AS score_micros
         |FROM eq, ev""".stripMargin
    },

    // The Gram sums replayed cell-by-cell on the same micro lattice.
    "e02_gram_matrix" ->
      """WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings)
        |SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
        |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gram
        |FROM e CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
        |WHERE i.i <= j.j GROUP BY 1, 2""".stripMargin,

    // Midpoint-rule interleave keys off the same (hash, id) category rank;
    // same overflow-free quotient/remainder decomposition as the plan.
    "p07_interleave" ->
      """SELECT lang, doc_id, cat_rank,
        |  (2 * cat_rank - 1) * (1000000000000 // (2 * cnt))
        |    + ((2 * cat_rank - 1) * (1000000000000 % (2 * cnt))) // (2 * cnt) AS interleave_key
        |FROM (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id)
        |      AS BIGINT) AS cat_rank,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)""".stripMargin,

    // Sequence-packing replay: the engine's two-level prefix sum (one
    // window per hash-range shard + driver prefix over shard totals) must
    // equal ONE global running sum over the (hash, key) order — range
    // shards concatenate in hash order, so the equality is exact. g0 =
    // tokens strictly before the doc; the div/% coordinate math mirrors
    // the BIGINT expressions verbatim. shard = h div ceil(2^60/32).
    "p08_sequence_pack" -> p08OracleSql,

    // Epoch-shuffle replay: seeded hash60 axis, ONE global row_number —
    // the single-reducer form the sharded engine plan must equal.
    "p10_epoch_shuffle" ->
      s"""WITH c AS (SELECT doc_id,
         |  ('0x' || substr(md5('epoch-0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |FROM documents)
         |SELECT doc_id, CAST(h // ${((1L << 60) + 31) / 32} AS BIGINT) AS shard,
         |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |FROM c""".stripMargin,

    // Stratified-priority replay: the p11 construction per source —
    // per-group rank window, per-group tau at rank k+1. Shared VERBATIM
    // by st26 (the streaming candidate path must be invisible to the
    // final per-category sample).
    "st26_stream_strat_priority" -> p12OracleSql,
    "p12_stratified_priority" -> p12OracleSql,

    // Priority-sampling replay: u = hash60(seed:key)+1, priority =
    // w / (u / 2^60) — int64→double casts, an EXACT power-of-two
    // division, one IEEE-rounded division; bit-identical in both
    // engines, so rank, tau (the 65th priority), and est_weight =
    // greatest(w, tau) hash-match without rounding. The st24 streaming
    // twin shares this oracle verbatim (same seed, same k): its drained
    // candidate union provably contains the global top-65, and the
    // shared finalize tail makes its output the identical pure function
    // of the document set.
    "p11_priority_sample" -> p11OracleSql,
    "st24_stream_priority_sample" -> p11OracleSql,

    // Negative-sampling replay: ranks on the (md5-hash60, key) axis,
    // h0 = hash60('p09') mod (n-1), slot j's partner at rank
    // (r + 1 + (h0 + j) mod (n-1)) mod n, same-label pairs dropped
    // NULL-safely (IS DISTINCT FROM == Spark's !(a <=> b)).
    "p09_negative_pairs" ->
      """WITH e AS (SELECT vec_id, label,
        |  ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM e),
        |rk AS (SELECT vec_id, label,
        |  row_number() OVER (ORDER BY h, vec_id) - 1 AS r FROM e),
        |p AS (SELECT a.vec_id, a.label, j.j AS slot,
        |    (a.r + 1 + ((('0x' || substr(md5('p09'), 1, 15))::BIGINT
        |      % (nn.n - 1)) + j.j) % (nn.n - 1)) % nn.n AS t
        |  FROM rk a CROSS JOIN range(0, 4) j(j) CROSS JOIN nn)
        |SELECT p.vec_id, CAST(p.slot AS BIGINT) AS slot,
        |  b.vec_id AS neg_vec_id, b.label AS neg_label
        |FROM p JOIN rk b ON b.r = p.t
        |WHERE b.label IS DISTINCT FROM p.label""".stripMargin,

    // Streaming sequence packing: p08's SQL verbatim — the per-shard
    // running totals live as streaming state, the finalize replays the
    // same base prefix + coordinates, so stream==batch is the gate.
    "st17_stream_seq_pack" -> p08OracleSql,

    // Salting is invisible to semantics: the oracle is the plain join.
    "q22_salted_join" ->
      """SELECT o_orderpriority, l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    // Latest row per user, ties on ts broken by event_id — the window
    // replay of the max_by(struct) aggregate.
    "q23_latest_version" ->
      """SELECT user_id, last_ts, last_event_id, last_type, last_value_cents FROM (
        |  SELECT user_id, epoch_ns(ts) AS last_ts, event_id AS last_event_id,
        |    event_type AS last_type, CAST(round(value * 100) AS BIGINT) AS last_value_cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    // The bloom is invisible to semantics: the oracle is the plain
    // IN-subquery semi join the operator must equal bit-for-bit.
    "q21_bloom_semijoin" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,

    // Grouped HLL: q14's register construction with a group key; the
    // group list is derived from the aggregated observations, zero
    // registers materialized per group. p=6: mask 63, shift 6, rank base
    // 55 (= 60-6+1).
    "q17_hll_grouped" ->
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
        |LEFT JOIN agg ON agg.grp = g.grp AND rg.range = agg.register""".stripMargin,

    // ... and q14b's estimate math per group: alpha(64) = 0.709 (the
    // paper's canonical small-m constant), 2^55 scale.
    "q17b_hll_grouped_est" ->
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
        |FROM e""".stripMargin,

    // Grouped CMS: q15's salted-row hashing with a group key; zero cells
    // materialized per observed group.
    "q17c_cms_grouped" ->
      """WITH cells AS (SELECT l_returnflag AS grp, r.range AS row,
        |  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 64 AS col
        |  FROM lineitem CROSS JOIN range(4) r),
        |agg AS (SELECT grp, row, col, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2, 3),
        |g AS (SELECT DISTINCT grp FROM agg)
        |SELECT g.grp AS l_returnflag, CAST(r.range AS BIGINT) AS row,
        |  CAST(c.range AS BIGINT) AS col, COALESCE(agg.cnt, CAST(0 AS BIGINT)) AS cnt
        |FROM g CROSS JOIN range(4) r CROSS JOIN range(64) c
        |LEFT JOIN agg ON agg.grp = g.grp AND agg.row = r.range AND agg.col = c.range""".stripMargin,

    // Heavy-hitters: per-group exact top-5 (same window tiebreak), each
    // probed at its 4 cells, min over depth. Probed cells are never zero
    // (a probe's own count is in them), so the no-zeros agg suffices.
    "q17d_cms_grouped_est" ->
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
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // The WAV chain replayed from the synthesis formula: 16 histogram bins
    // over (sample + 32768) // 4096; since sample = raw - 32768 with
    // raw = (31i + 17id) mod 65536, the bin is just raw // 4096.
    "m06_wav_decode" ->
      """WITH sm AS (
        |  SELECT d.doc_id AS media_id, (gi.i * 31 + d.doc_id * 17) % 65536 AS raw
        |  FROM documents d, generate_series(0, 479) gi(i))
        |SELECT media_id,
        |  round(CAST(sum(CASE WHEN raw // 4096 = 0  THEN 1 ELSE 0 END) AS DOUBLE) / 480.0, 6) AS b0,
        |  round(CAST(sum(CASE WHEN raw // 4096 = 7  THEN 1 ELSE 0 END) AS DOUBLE) / 480.0, 6) AS b7,
        |  round(CAST(sum(CASE WHEN raw // 4096 = 15 THEN 1 ELSE 0 END) AS DOUBLE) / 480.0, 6) AS b15
        |FROM sm GROUP BY media_id""".stripMargin,

    // Message stream = every edge delivered both ways (src id to dst, dst
    // id to src), then one per-vertex sum/count.
    "g14_aggmsg" ->
      """WITH e AS (SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |msgs AS (SELECT dst AS id, src AS msg FROM e
        |  UNION ALL SELECT src AS id, dst AS msg FROM e)
        |SELECT id, CAST(sum(msg) AS BIGINT) AS nbr_id_sum,
        |  CAST(count(*) AS BIGINT) AS msg_cnt
        |FROM msgs GROUP BY id""".stripMargin,

    "t06_top_ngrams" ->
      """WITH g AS (SELECT unnest(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents)),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
        |SELECT gram, cnt FROM c ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,

    // Token/bigram frequency tables -> per-doc repetition fractions; LEFT
    // JOINs keep token-less documents with all-zero signals.
    "t05_repetition" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tc AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, sum(cnt) AS n_tok, max(cnt) AS top_tok, count(*) AS n_dist FROM tc GROUP BY 1),
        |big AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS term
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents)),
        |bc AS (SELECT doc_id, term, count(*) AS cnt FROM big GROUP BY 1, 2),
        |bs AS (SELECT doc_id, sum(cnt) AS n_big, max(cnt) AS top_big FROM bc GROUP BY 1)
        |SELECT d.doc_id,
        |  round(CASE WHEN ts.n_tok > 0 THEN CAST(ts.n_tok - ts.n_dist AS DOUBLE) / CAST(ts.n_tok AS DOUBLE) ELSE 0.0 END, 6) AS dup_tok_frac,
        |  round(CASE WHEN ts.n_tok > 0 THEN CAST(ts.top_tok AS DOUBLE) / CAST(ts.n_tok AS DOUBLE) ELSE 0.0 END, 6) AS top_tok_frac,
        |  round(CASE WHEN bs.n_big > 0 THEN CAST(bs.top_big AS DOUBLE) / CAST(bs.n_big AS DOUBLE) ELSE 0.0 END, 6) AS top_bigram_frac
        |FROM documents d LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)""".stripMargin,

    // t04's chunk enumeration + first-occurrence selection by
    // (doc_id, chunk_idx) — the same lexicographic order as the engine's
    // min(struct(...)).
    "d10_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, text,
        |  greatest(1, (length(text) - 64 + 447) // 448) AS nc FROM documents),
        |c AS (SELECT doc_id, unnest(range(nc)) AS chunk_idx, text FROM d),
        |ch AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  md5(substr(text, CAST(1 + chunk_idx * 448 AS BIGINT), 512)) AS chunk_md5 FROM c),
        |r AS (SELECT doc_id, chunk_idx, chunk_md5, row_number() OVER
        |  (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn FROM ch)
        |SELECT doc_id, chunk_idx, chunk_md5 FROM r WHERE rn = 1""".stripMargin,

    // Windowed-SQL replay of anchor + merge: overlapping 5-gram md5s,
    // row_number per hash ordered (doc_id, pos) — rn=1 IS min(struct) —
    // dup windows [pos, pos+4], gaps-and-islands merge (running max end),
    // kept spans = island complement + full spans for dup-free docs.
    "d18_substring_spans" ->
      """WITH toks AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |tc AS (SELECT doc_id, len(w) AS nt, w FROM toks WHERE len(w) > 0),
        |ah AS (SELECT doc_id, pos,
        |  md5(array_to_string(w[pos+1:pos+5], ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(0, nt - 4)) AS pos
        |        FROM tc WHERE nt >= 5)),
        |d AS (SELECT doc_id, pos AS s, pos + 4 AS e
        |  FROM (SELECT doc_id, pos, row_number() OVER
        |          (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM ah)
        |  WHERE rn > 1),
        |m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM d),
        |fl AS (SELECT doc_id, s, e,
        |  CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS nf FROM m),
        |isl AS (SELECT doc_id, s, e,
        |  sum(nf) OVER (PARTITION BY doc_id ORDER BY s) AS iid FROM fl),
        |ia AS (SELECT doc_id, iid, min(s) AS is_, max(e) AS ie
        |  FROM isl GROUP BY 1, 2),
        |gaps AS (SELECT doc_id,
        |  lag(ie, 1, -1) OVER (PARTITION BY doc_id ORDER BY is_) + 1 AS start_tok,
        |  is_ - 1 AS end_tok FROM ia),
        |tails AS (SELECT ia.doc_id, max(ie) + 1 AS start_tok,
        |  any_value(nt) - 1 AS end_tok FROM ia JOIN tc USING (doc_id)
        |  GROUP BY ia.doc_id),
        |fulls AS (SELECT doc_id, 0 AS start_tok, nt - 1 AS end_tok FROM tc
        |  WHERE doc_id NOT IN (SELECT doc_id FROM ia)),
        |k AS (SELECT * FROM gaps UNION ALL SELECT * FROM tails
        |  UNION ALL SELECT * FROM fulls)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok) - 1
        |    AS BIGINT) AS span_idx,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(end_tok AS BIGINT) AS end_tok,
        |  CAST(end_tok - start_tok + 1 AS BIGINT) AS n_kept
        |FROM k WHERE start_tok <= end_tok""".stripMargin,

    // Distinct portable 5-gram hashes per doc; train docs (id % 10 <> 7)
    // counted by distinct hashes shared with the held-out side.
    "d09_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
        |test AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 7)
        |SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
        |FROM ex JOIN test USING (g) WHERE ex.doc_id % 10 <> 7 GROUP BY 1""".stripMargin,

    // Bloom bit set: salted double-hash of every distinct held-out 5-gram
    // hash, mod 2^16, distinct positions. The gram hash feeds the position
    // hash AS ITS DECIMAL STRING (CAST to VARCHAR both sides).
    "d12_bloom_bits" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |test AS (SELECT DISTINCT unnest(h) AS g FROM hs WHERE doc_id % 10 = 7)
        |SELECT DISTINCT
        |  ('0x' || substr(md5(CAST(r.s AS VARCHAR) || ':' || CAST(g AS VARCHAR)), 1, 15))::BIGINT % 65536 AS pos
        |FROM test CROSS JOIN range(0, 3) AS r(s)""".stripMargin,

    // Bloom probe replay: same bit set, then every corpus gram's 3 salted
    // positions joined against it; a gram is flagged when all 3 probe rows
    // hit. Replays false positives too — the gate is exact, not bounded.
    "d12b_bloom_decon" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
        |test AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 7),
        |bits AS (SELECT DISTINCT
        |  ('0x' || substr(md5(CAST(r.s AS VARCHAR) || ':' || CAST(g AS VARCHAR)), 1, 15))::BIGINT % 65536 AS pos
        |  FROM test CROSS JOIN range(0, 3) AS r(s)),
        |probes AS (SELECT doc_id, g,
        |  ('0x' || substr(md5(CAST(r.s AS VARCHAR) || ':' || CAST(g AS VARCHAR)), 1, 15))::BIGINT % 65536 AS pos
        |  FROM ex CROSS JOIN range(0, 3) AS r(s) WHERE doc_id % 10 <> 7),
        |hits AS (SELECT doc_id, g, count(*) AS c
        |  FROM probes JOIN bits USING (pos) GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS flagged_ngrams
        |FROM hits WHERE c = 3 GROUP BY 1""".stripMargin,

    // k01's nIter=0 assignment chain (c0 -> dd -> argmin), then the
    // within-cell greedy removal as one EXISTS-style pair join.
    "d13_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |dd AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c0 c),
        |a AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd) WHERE rn = 1),
        |n AS (SELECT e.vec_id, a.cell, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm
        |  FROM e JOIN a USING (vec_id)),
        |rm AS (SELECT DISTINCT b.vec_id FROM n a JOIN n b ON a.cell = b.cell
        |  AND a.vec_id < b.vec_id AND a.nrm > 0 AND b.nrm > 0
        |  AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45)
        |SELECT n.vec_id, CAST(n.cell AS BIGINT) AS cell,
        |  (rm.vec_id IS NULL) AS keep
        |FROM n LEFT JOIN rm ON n.vec_id = rm.vec_id""".stripMargin,

    // Batch replay of the attribution join: identical equi + time-range
    // predicate, gap in whole seconds.
    "st06_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_ns(ts) // 1000000000 AS sec FROM events)
        |SELECT a.user_id, a.event_id AS from_id, b.event_id AS to_id,
        |  CAST(b.sec - a.sec AS BIGINT) AS gap_sec
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_type = 'click'
        |  AND b.event_type = 'purchase'
        |  AND b.sec >= a.sec AND b.sec <= a.sec + 3600""".stripMargin,

    // The streaming semi-join flags the same documents, without counts.
    "st05_stream_decon" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
        |test AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 7)
        |SELECT DISTINCT ex.doc_id
        |FROM ex JOIN test USING (g) WHERE ex.doc_id % 10 <> 7""".stripMargin,

    // The scale-path equi-join flags the identical document set.
    "st05b_stream_decon_join" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
        |test AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 7)
        |SELECT DISTINCT ex.doc_id
        |FROM ex JOIN test USING (g) WHERE ex.doc_id % 10 <> 7""".stripMargin,

    // Full BM25 replay: postings/doc-length/corpus-stats CTEs, df counted
    // over query-term postings only (identical to the engine's pruned
    // plan), every float op CAST and parenthesized in the same order as
    // the Column expression (doubles are not associative), rank on the
    // ROUNDED score with doc-id tie-break.
    "s04_bm25_topk" ->
      s"""WITH $bm25OracleCtes
         |SELECT query_id, doc_id, score, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // RRF fusion of the s04 BM25 top-5 and an s01-plan dense top-5 on the
    // same %100 query ids: per listed doc 1e6 // (60 + rnk) micros per
    // list, summed, re-ranked (score DESC, doc ASC) — all BIGINT.
    "s09_rrf_fusion" -> {
      val cosineCtes =
        """ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |cn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ce),
          |cq AS (SELECT * FROM cn WHERE vec_id % 100 = 0),
          |csc AS (SELECT cq.vec_id AS query_id, c.vec_id AS doc_id,
          |  round(list_dot_product(cq.v, c.v) / (cq.nrm * c.nrm), 6) AS cosine
          |  FROM cq JOIN cn c ON c.vec_id <> cq.vec_id),
          |crk AS (SELECT query_id, doc_id, CAST(row_number() OVER
          |  (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS BIGINT) AS rnk FROM csc)""".stripMargin
      s"""WITH $bm25OracleCtes,
         |$cosineCtes,
         |u AS (SELECT query_id, doc_id, rnk FROM rk WHERE rnk <= 5
         |      UNION ALL SELECT query_id, doc_id, rnk FROM crk WHERE rnk <= 5),
         |f AS (SELECT query_id, doc_id, CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_micros
         |      FROM u GROUP BY 1, 2),
         |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |  ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS frnk FROM f)
         |SELECT query_id, doc_id, rrf_micros, frnk AS rnk FROM fr WHERE frnk <= 5""".stripMargin
    },

    // Quantized mean-pool replay: per-(label, dim) integer sums,
    // floor-divided — posexplode's pos is 0-based, range is 1-based.
    "e01_mean_pool" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        |  list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |s AS (SELECT label, i.i,
        |  CAST(floor(CAST(sum(vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS mean_micros
        |  FROM e CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2)
        |SELECT label, CAST(i - 1 AS BIGINT) AS dim, mean_micros FROM s""".stripMargin,

    // Quantized-Lloyd's replay, 2 unrolled iterations: micro-lattice
    // points, k=8 smallest-id init, exact integer squared-L2 assignment
    // (ties to the smaller cell), floor-divided centroid update with
    // empty-cell carryover — every step integer-exact, so the hash gate is
    // strict equality (see graft.operators.KMeans).
    "k01_kmeans" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |dd1 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd1) WHERE rn = 1),
        |s1 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(e.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a1 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u1 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s1 GROUP BY 1),
        |c1 AS (SELECT c0.cell, coalesce(u1.cv, c0.cv) AS cv FROM c0 LEFT JOIN u1 USING (cell)),
        |dd2 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd2) WHERE rn = 1),
        |s2 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(e.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a2 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u2 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s2 GROUP BY 1),
        |c2 AS (SELECT c1.cell, coalesce(u2.cv, c1.cv) AS cv FROM c1 LEFT JOIN u2 USING (cell)),
        |dd3 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c2 c),
        |a3 AS (SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd3) WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(d2 AS BIGINT) AS d2 FROM a3""".stripMargin,

    // Frozen-centroid predict replay: the k01 training chain with every
    // CTE restricted to the %4!=0 subset (init, both Lloyd rounds), and
    // the final assignment over the %4==0 HOLDOUT — any retrain, seed
    // drift, or tie-break drift diverges.
    "k02_kmeans_predict" ->
      (k02OracleChain + "\nSELECT vec_id, CAST(cell AS BIGINT) AS cell, " +
        "CAST(d2 AS BIGINT) AS d2 FROM a3"),

    // Warm-resume replay: the k02 training chain's c2 (yesterday's fit
    // on the %4!=0 subset), ONE more Lloyd round over the FULL corpus
    // (dd4/a4/s4/u4 -> c3), final assignment of everything to c3.
    "k03_kmeans_warm" ->
      (k02OracleChain + """,
        |dd4 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c2 c),
        |a4 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd4) WHERE rn = 1),
        |s4 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(e.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a4 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u4 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s4 GROUP BY 1),
        |c3 AS (SELECT c2.cell, coalesce(u4.cv, c2.cv) AS cv FROM c2 LEFT JOIN u4 USING (cell)),
        |dd5 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c3 c),
        |a5 AS (SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd5) WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(d2 AS BIGINT) AS d2 FROM a5""".stripMargin),

    // The same chain folded to per-cell holdout inertia.
    "k02b_cluster_inertia" ->
      (k02OracleChain + """
        |SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(sum(d2) AS BIGINT) AS sse
        |FROM a3 GROUP BY 1""".stripMargin),

    // k01's trained-centroid chain (through c2), rescaled micros -> doubles,
    // driving the s03 IVF probe/score/rank replay with nProbe = 2.
    "s05_ivf_trained" ->
      """WITH eq AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
        |  FROM eq ORDER BY vec_id LIMIT 8),
        |dd1 AS (SELECT eq.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (eq.vq[i] - c.cv[i]) * (eq.vq[i] - c.cv[i]))) AS d2 FROM eq CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd1) WHERE rn = 1),
        |s1 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(eq.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a1 a JOIN eq USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u1 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s1 GROUP BY 1),
        |c1 AS (SELECT c0.cell, coalesce(u1.cv, c0.cv) AS cv FROM c0 LEFT JOIN u1 USING (cell)),
        |dd2 AS (SELECT eq.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (eq.vq[i] - c.cv[i]) * (eq.vq[i] - c.cv[i]))) AS d2 FROM eq CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd2) WHERE rn = 1),
        |s2 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(eq.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a2 a JOIN eq USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u2 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s2 GROUP BY 1),
        |c2 AS (SELECT c1.cell, coalesce(u2.cv, c1.cv) AS cv FROM c1 LEFT JOIN u2 USING (cell)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT cell AS cid, list_transform(cv, x -> CAST(x AS DOUBLE) / 1000000.0) AS cv FROM c2),
        |centn AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent),
        |cs AS (SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cv) / c.cn AS s
        |  FROM e CROSS JOIN centn c),
        |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM cs) WHERE rn = 1),
        |qids AS (SELECT vec_id FROM e WHERE vec_id % 50 = 0),
        |probes AS (SELECT vec_id AS qid, cid FROM (SELECT cs.vec_id, cs.cid,
        |  row_number() OVER (PARTITION BY cs.vec_id ORDER BY cs.s DESC, cs.cid) AS rn
        |  FROM cs JOIN qids ON cs.vec_id = qids.vec_id) WHERE rn <= 2),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cand AS (SELECT p.qid, a.vec_id AS id FROM probes p
        |  JOIN asg a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
        |sc AS (SELECT cand.qid AS query_id, cand.id AS neighbor_id,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |  FROM cand JOIN n a ON a.vec_id = cand.qid JOIN n b ON b.vec_id = cand.id),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // Composite pipeline replay: the t02 quality formula filters, the d08
    // closure dedups OVER THE FILTERED SET, the p01 thresholds split, and
    // t01's token count aggregates per split.
    "p03_pipeline" ->
      s"""WITH RECURSIVE sq AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS BIGINT) AS alnum,
        |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it|that|for)\\b')) AS BIGINT) AS hits_en
        |FROM documents),
        |clean AS (SELECT doc_id, text FROM sq WHERE
        |  round(0.4 * (CASE WHEN n_chars > 0 THEN CAST(alnum AS DOUBLE)/n_chars ELSE 0.0 END)
        |      + 0.3 * least((CASE WHEN n_tok > 0 THEN CAST(hits_en AS DOUBLE)/n_tok ELSE 0.0 END) * 5.0, 1.0)
        |      + 0.3 * least(CAST(n_chars AS DOUBLE)/500.0, 1.0), 6) >= 0.6),
        |pairs AS (${jaccardOracleOver("clean")}),
        |ud AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |r(id, lab) AS (
        |  SELECT DISTINCT src, src FROM ud
        |  UNION
        |  SELECT ud.src, r.lab FROM ud JOIN r ON r.id = ud.dst),
        |comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster FROM r GROUP BY id),
        |clu AS (SELECT d.doc_id AS id, coalesce(comp.cluster, d.doc_id) AS cluster
        |  FROM clean d LEFT JOIN comp ON comp.id = d.doc_id),
        |uniq AS (SELECT d.doc_id, d.text FROM clean d
        |  JOIN clu ON clu.id = d.doc_id WHERE clu.id = clu.cluster),
        |h AS (SELECT doc_id, text,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM uniq),
        |sp AS (SELECT CASE WHEN h < ${Sampling.threshold(0.8)} THEN 'train'
        |  WHEN h < ${Sampling.threshold(0.8 + 0.1)} THEN 'val'
        |  ELSE 'test' END AS split, text FROM h)
        |SELECT split, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS tokens
        |FROM sp GROUP BY split""".stripMargin
  )

  /** `iters` unrolled iterations of the distributed k-core update: new core
    * = min(current, H-index of neighbour cores) — `max(least(rn, nc))` over
    * descending-sorted neighbour cores is the classic H-index identity, and
    * equals `kcore_merge`'s capped-histogram scan (see KCoreMerge scaladoc).
    * Vertices with no incoming message keep their core (LEFT JOIN+coalesce,
    * mirroring Pregel's NULL-message delivery). With `iters` at or beyond
    * the graph's convergence round the result is the exact coreness.
    */
  /** The st35 streaming warm-PageRank chain, generated: `nStages`
    * cumulative (src+dst)%3 slices of the cust→nation→region graph;
    * each stage replays the g40 float program over its graph — the
    * residual pass `d0 = reset + α·Pᵀg − g` from the previous stage's
    * raw mass (stage 1: g = 0, which IS the cold init — reset lands
    * everywhere, the mass term is exactly zero), then `iters` fixed
    * rounds with the `abs(dl) > 1e-9` participation filter the engine
    * applies from the first warm round. Literal forms copied from the
    * hand-written g40 oracle so every float op matches in evaluation
    * order; the final stage normalizes `round(pr/sum(pr), 6)`.
    */
  private def prWarmChainOracleSql(nStages: Int, iters: Int): String = {
    val A = "(CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE))"
    val R = "CAST(0.15 AS DOUBLE)"
    val head =
      """WITH e_all AS (
        |  SELECT c_custkey AS src, CAST(3000000 + c_nationkey AS BIGINT) AS dst FROM customer
        |  UNION ALL
        |  SELECT CAST(3000000 + n_nationkey AS BIGINT), CAST(3500000 + n_regionkey AS BIGINT) FROM nation)""".stripMargin
    val stages = (1 to nStages).map { k =>
      val prevG =
        if (k == 1) s"SELECT id, CAST(0.0 AS DOUBLE) AS g FROM v$k"
        else s"""SELECT v$k.id, coalesce(p.pr, CAST(0.0 AS DOUBLE)) AS g
                |  FROM v$k LEFT JOIN s${k - 1}_$iters p ON p.id = v$k.id""".stripMargin
      val loop = (1 to iters).map { i =>
        s"""m${k}_$i AS (SELECT e.dst AS id, sum(p.dl / od$k.d) AS ms FROM e$k e
           |  JOIN s${k}_${i - 1} p ON p.id = e.src AND abs(p.dl) > 1e-9
           |  JOIN od$k ON od$k.id = e.src GROUP BY 1),
           |s${k}_$i AS MATERIALIZED (SELECT p.id,
           |  p.pr + $A * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS pr,
           |  $A * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS dl
           |  FROM s${k}_${i - 1} p LEFT JOIN m${k}_$i m ON m.id = p.id)""".stripMargin
      }.mkString(",\n")
      s"""e$k AS MATERIALIZED (SELECT src, dst FROM e_all WHERE (src + dst) % 3 <= ${k - 1}),
         |v$k AS (SELECT DISTINCT src AS id FROM e$k UNION SELECT dst FROM e$k),
         |od$k AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM e$k GROUP BY 1),
         |g$k AS ($prevG),
         |wi$k AS (SELECT e.dst AS id, sum(gg.g / od$k.d) AS ms FROM e$k e
         |  JOIN g$k gg ON gg.id = e.src
         |  JOIN od$k ON od$k.id = e.src GROUP BY 1),
         |s${k}_0 AS MATERIALIZED (SELECT gg.id,
         |  gg.g + ($R + $A * coalesce(w.ms, CAST(0.0 AS DOUBLE)) - gg.g) AS pr,
         |  $R + $A * coalesce(w.ms, CAST(0.0 AS DOUBLE)) - gg.g AS dl
         |  FROM g$k gg LEFT JOIN wi$k w ON w.id = gg.id),
         |$loop""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$stages,
       |t AS (SELECT sum(pr) AS tot FROM s${nStages}_$iters)
       |SELECT id, round(pr / tot, 6) AS pagerank FROM s${nStages}_$iters, t""".stripMargin
  }

  private def kcoreOracle(iters: Int, where: String = ""): String =
    kcoreOracleFrom(
      s"SELECT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem $where",
      iters)

  /** Unrolled h-index coreness oracle over an arbitrary `e0` edge
    * select. Every per-iteration CTE is MATERIALIZED — `c_k` is
    * referenced twice per level, so DuckDB's inliner otherwise doubles
    * the plan per round (12 rounds exhausted its fd budget).
    */
  private def kcoreOracleFrom(e0Select: String, iters: Int): String = {
    val base =
      s"""WITH e0 AS MATERIALIZED ($e0Select),
        |ud AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e0 WHERE src <> dst
        |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
        |v AS (SELECT DISTINCT src AS id FROM e0 UNION SELECT dst FROM e0),
        |deg AS (SELECT src AS id, count(*) AS d FROM ud GROUP BY 1),
        |c0 AS (SELECT v.id, CAST(coalesce(deg.d, 0) AS BIGINT) AS core
        |  FROM v LEFT JOIN deg ON deg.id = v.id)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""h$k AS (SELECT ud.dst AS id, c.core AS nc,
         |  row_number() OVER (PARTITION BY ud.dst ORDER BY c.core DESC) AS rn
         |  FROM ud JOIN c${k - 1} c ON c.id = ud.src),
         |m$k AS (SELECT id, max(least(rn, nc)) AS h FROM h$k GROUP BY 1),
         |c$k AS MATERIALIZED (SELECT p.id, CAST(least(p.core, coalesce(m.h, p.core)) AS BIGINT) AS core
         |  FROM c${k - 1} p LEFT JOIN m$k m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT id, core AS kcore FROM c$iters"
  }

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

  /** The s04 BM25 chain (tok → tf → dl → stats → qt → pr → dfq → sc → rk),
    * shared verbatim by the s09 fusion oracle so the two can never drift.
    */
  private lazy val bm25OracleCtes: String =
    """tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
      |qt AS (SELECT DISTINCT doc_id AS qid, term FROM tok WHERE doc_id % 100 = 0),
      |pr AS (SELECT tf.* FROM tf WHERE term IN (SELECT term FROM qt)),
      |dfq AS (SELECT term, count(*) AS df FROM pr GROUP BY 1),
      |sc AS (SELECT qt.qid AS query_id, pr.doc_id,
      |  round(sum(
      |    ln(CAST(1.0 AS DOUBLE) + (CAST(stats.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |    * (CAST(pr.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |    / (CAST(pr.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) * CAST(stats.n AS DOUBLE) / CAST(stats.sdl AS DOUBLE)))
      |  ), 6) AS score
      |  FROM pr JOIN qt USING (term) JOIN dl ON pr.doc_id = dl.doc_id
      |  JOIN dfq ON pr.term = dfq.term CROSS JOIN stats
      |  GROUP BY 1, 2),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rnk FROM sc)""".stripMargin

  private lazy val embedPairsOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45""".stripMargin

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

  /** 3-gram Jaccard >= 0.8 pair oracle over any documents-shaped relation
    * (`doc_id`, `text`) — shared by d02/d06/d08 (over `documents`) and the
    * p03 pipeline (over its quality-filtered CTE).
    */
  private def jaccardOracleOver(rel: String): String =
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM $rel),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id1, id2, round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
      |FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
      |WHERE round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) >= 0.8""".stripMargin

  private lazy val q35OracleSql: String =
    """WITH h AS (SELECT l_returnflag AS slice,
      |  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      |d AS (SELECT DISTINCT slice, h FROM h),
      |ka AS (SELECT h FROM d WHERE slice = 'A' ORDER BY h LIMIT 64),
      |kb AS (SELECT h FROM d WHERE slice = 'R' ORDER BY h LIMIT 64),
      |u AS (SELECT DISTINCT h FROM
      |  (SELECT * FROM ka UNION ALL SELECT * FROM kb) ORDER BY h LIMIT 64),
      |th AS (SELECT max(h) AS theta, CAST(count(*) AS BIGINT) AS n_union FROM u),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_both FROM u
      |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
      |SELECT 64 AS k_used, th.theta, th.n_union, nb.n_both,
      |  CASE WHEN th.n_union < 64 THEN CAST(th.n_union AS DOUBLE)
      |    ELSE round(63.0::DOUBLE * 1152921504606846976.0::DOUBLE /
      |      CAST(th.theta AS DOUBLE), 6) END AS est_union6,
      |  CASE WHEN th.n_union < 64 THEN CAST(nb.n_both AS DOUBLE)
      |    ELSE round(CAST(nb.n_both AS DOUBLE) *
      |      (63.0::DOUBLE * 1152921504606846976.0::DOUBLE /
      |       CAST(th.theta AS DOUBLE)) / 64.0::DOUBLE, 6) END AS est_inter6
      |FROM th, nb""".stripMargin

  /** The t23/t23b shared drift chain through `r` (per-term ppm rates). */
  /** The q33 rollup-HLL replay, shared verbatim by st27 (stream ==
    * batch IS the streaming gate's contract): the three lattice levels
    * as three grouped register chains (p=6), dense 64-register grids
    * per slice, per-slice integer harmonic sums, one rounded division
    * each. IS NOT DISTINCT FROM joins keep NULL-valued DATA groups
    * separate from the NULL subtotal columns (gid discriminates).
    */
  private lazy val q33OracleSql: String =
    """WITH h AS (SELECT l_returnflag AS g1, l_linestatus AS g2,
      |  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |o AS (SELECT g1, g2, h & 63 AS register,
      |  55 - CASE WHEN (h >> 6) = 0 THEN 0 ELSE len(bin(h >> 6)) END AS rank
      |  FROM h),
      |lvl0 AS (SELECT g1, g2, 0 AS gid, register, max(rank) AS mr
      |  FROM o GROUP BY 1, 2, 4),
      |lvl1 AS (SELECT g1, CAST(NULL AS VARCHAR) AS g2, 1 AS gid, register,
      |  max(rank) AS mr FROM o GROUP BY 1, 4),
      |lvl2 AS (SELECT CAST(NULL AS VARCHAR) AS g1, CAST(NULL AS VARCHAR) AS g2,
      |  3 AS gid, register, max(rank) AS mr FROM o GROUP BY 4),
      |sp AS (SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1
      |  UNION ALL SELECT * FROM lvl2),
      |slices AS (SELECT DISTINCT g1, g2, gid FROM sp),
      |grid AS (SELECT s.g1, s.g2, s.gid, r.range AS register
      |  FROM slices s CROSS JOIN range(64) r),
      |regs AS (SELECT grid.g1, grid.g2, grid.gid, COALESCE(sp.mr, 0) AS max_rank
      |  FROM grid LEFT JOIN sp ON sp.g1 IS NOT DISTINCT FROM grid.g1
      |    AND sp.g2 IS NOT DISTINCT FROM grid.g2 AND sp.gid = grid.gid
      |    AND sp.register = grid.register),
      |e AS (SELECT g1, g2, gid, CAST(count(*) AS BIGINT) AS m,
      |  CAST(sum(CAST(1 AS BIGINT) << CAST(55 - max_rank AS INT)) AS BIGINT) AS sum_scaled,
      |  CAST(sum(CASE WHEN max_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |  FROM regs GROUP BY 1, 2, 3)
      |SELECT g1 AS l_returnflag, g2 AS l_linestatus, CAST(gid AS BIGINT) AS gid,
      |  m, sum_scaled, n_zero,
      |  round(0.709::DOUBLE * 64.0::DOUBLE * 64.0::DOUBLE *
      |    36028797018963968.0::DOUBLE / CAST(sum_scaled AS DOUBLE), 6) AS est6
      |FROM e""".stripMargin

  /** The t24 grouped-drift replay, shared verbatim by st28b: the t23
    * chain with the group key riding every stage — per-(group, slice)
    * totals, the within-group full-outer term join, the same exact-ppm
    * split, folded per group.
    */
  private lazy val t24OracleSql: String =
    """WITH t AS (SELECT source AS g, CAST(doc_id % 2 AS VARCHAR) AS s,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |c AS (SELECT g, s, term, CAST(count(*) AS BIGINT) AS c
      |  FROM t GROUP BY 1, 2, 3),
      |ta AS (SELECT g, CAST(sum(c) AS BIGINT) AS na FROM c WHERE s = '0' GROUP BY 1),
      |tb AS (SELECT g, CAST(sum(c) AS BIGINT) AS nb FROM c WHERE s = '1' GROUP BY 1),
      |a AS (SELECT g, term, c AS ca FROM c WHERE s = '0'),
      |b AS (SELECT g, term, c AS cb FROM c WHERE s = '1'),
      |j AS (SELECT coalesce(a.g, b.g) AS g, coalesce(a.term, b.term) AS term,
      |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      |  FROM a FULL OUTER JOIN b
      |  ON a.g IS NOT DISTINCT FROM b.g AND a.term = b.term),
      |r AS (SELECT j.g, term,
      |  CAST(CASE WHEN ta.na IS NULL THEN 0 ELSE
      |    ca * (1000000 // ta.na) + (ca * (1000000 % ta.na)) // ta.na
      |    END AS BIGINT) AS rate_a_ppm,
      |  CAST(CASE WHEN tb.nb IS NULL THEN 0 ELSE
      |    cb * (1000000 // tb.nb) + (cb * (1000000 % tb.nb)) // tb.nb
      |    END AS BIGINT) AS rate_b_ppm
      |  FROM j LEFT JOIN ta ON ta.g IS NOT DISTINCT FROM j.g
      |  LEFT JOIN tb ON tb.g IS NOT DISTINCT FROM j.g)
      |SELECT g AS source, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(coalesce(sum(abs(rate_a_ppm - rate_b_ppm)), 0) AS BIGINT) AS tv_ppm
      |FROM r GROUP BY 1""".stripMargin

  /** The per-vertex triangle-count replay on the nation same-region
    * graph (degree-free three-way self-join enumeration, every corner
    * credited, zero-coalesced over all vertices). Shared verbatim by
    * g35 (incremental composition must equal the full recompute over
    * base ∪ delta).
    */
  private lazy val g11OracleSql: String =
    """WITH e0 AS (SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
      |  FROM nation a JOIN nation b
      |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM e0 e1 JOIN e0 e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |  JOIN e0 e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
      |v AS (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS id FROM nation)
      |SELECT v.id, CAST(coalesce(cnt, 0) AS BIGINT) AS triangles
      |FROM v LEFT JOIN (SELECT id, count(*) AS cnt FROM corners GROUP BY 1) c ON v.id = c.id""".stripMargin

  /** Forward-asof replay: bounded candidate enumeration (pairs within
    * the 2 h window) + per-probe argmin over b.t — the naive plan the
    * merge-shaped operator exists to avoid, which makes it the right
    * oracle: any carry/tie/tolerance drift diverges. Shared verbatim by
    * st29b (the streaming forward enrichment).
    */
  private lazy val q32OracleSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts FROM events),
      |b AS (SELECT user_id, epoch_ns(ts) AS t,
      |  CAST(max(event_id) AS BIGINT) AS purchase_id,
      |  CAST(arg_max(CAST(round(value*100) AS BIGINT), event_id) AS BIGINT) AS purchase_cents
      |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |cand AS (SELECT p.event_id, b.purchase_id, b.purchase_cents, b.t,
      |  row_number() OVER (PARTITION BY p.event_id ORDER BY b.t) AS rn
      |  FROM p JOIN b ON p.user_id = b.user_id AND b.t >= p.ts
      |    AND b.t - p.ts <= 7200000000000)
      |SELECT p.event_id, p.user_id, p.ts, c.purchase_id,
      |  c.purchase_cents, c.t AS asof_t
      |FROM p LEFT JOIN cand c ON c.event_id = p.event_id AND c.rn = 1""".stripMargin

  /** Nearest-asof replay: bounded |Δ| candidate enumeration, per-probe
    * argmin by (distance ASC, build time ASC — ties to the earlier
    * match). Shared verbatim by st29c (the streaming nearest
    * enrichment).
    */
  private lazy val q36OracleSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts FROM events),
      |b AS (SELECT user_id, epoch_ns(ts) AS t,
      |  CAST(max(event_id) AS BIGINT) AS purchase_id,
      |  CAST(arg_max(CAST(round(value*100) AS BIGINT), event_id) AS BIGINT) AS purchase_cents
      |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |cand AS (SELECT p.event_id, b.purchase_id, b.purchase_cents, b.t,
      |  row_number() OVER (PARTITION BY p.event_id
      |    ORDER BY abs(b.t - p.ts), b.t) AS rn
      |  FROM p JOIN b ON p.user_id = b.user_id
      |    AND abs(b.t - p.ts) <= 7200000000000)
      |SELECT p.event_id, p.user_id, p.ts, c.purchase_id,
      |  c.purchase_cents, c.t AS asof_t
      |FROM p LEFT JOIN cand c ON c.event_id = p.event_id AND c.rn = 1""".stripMargin

  /** The as-of join against DuckDB's NATIVE ASOF LEFT JOIN — the one
    * oracle that is itself a dedicated engine operator, not a SQL
    * re-derivation. Build dedup winner = max event_id per (user, ts);
    * arg_max carries its cents. Shared verbatim by st29 (the streaming
    * enrichment — stream == batch IS the streaming gate's contract).
    */
  private lazy val q20OracleSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts FROM events),
      |b AS (SELECT user_id, epoch_ns(ts) AS t,
      |  CAST(max(event_id) AS BIGINT) AS purchase_id,
      |  CAST(arg_max(CAST(round(value*100) AS BIGINT), event_id) AS BIGINT) AS purchase_cents
      |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts,
      |  b.purchase_id, b.purchase_cents, b.t AS asof_t
      |FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.ts >= b.t""".stripMargin

  /** g37's oracle: full recursive-CTE recompute over the EDITED edge
    * set (everything but the removed %7==1 slice), vertex universe =
    * every original endpoint (stranded vertices are singleton
    * components). Shared verbatim by st32 (the CDC maintenance ends on
    * the same net edge set).
    */
  private lazy val g37OracleSql: String =
    """WITH RECURSIVE e_all AS (
      |  SELECT c_custkey AS src, CAST(3000000 + c_nationkey AS BIGINT) AS dst FROM customer
      |  UNION ALL
      |  SELECT CAST(3000000 + n_nationkey AS BIGINT), CAST(3500000 + n_regionkey AS BIGINT) FROM nation),
      |v AS (SELECT DISTINCT src AS id FROM e_all UNION SELECT dst FROM e_all),
      |e AS (SELECT src, dst FROM e_all WHERE (src + dst) % 7 <> 1),
      |ud AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |r(id, lab) AS (
      |  SELECT DISTINCT src, src FROM ud
      |  UNION
      |  SELECT ud.src, r.lab FROM ud JOIN r ON r.id = ud.dst)
      |SELECT v.id, CAST(coalesce(min(r.lab), v.id) AS BIGINT) AS component
      |FROM v LEFT JOIN r ON r.id = v.id GROUP BY v.id""".stripMargin

  /** g38's oracle: g11's full triangle recompute restricted to the
    * edited edge set; shared verbatim by st33.
    */
  private lazy val g38OracleSql: String =
    """WITH e_all AS (SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
      |  FROM nation a JOIN nation b
      |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey),
      |e0 AS (SELECT src, dst FROM e_all WHERE (src + dst) % 7 <> 1),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM e0 e1 JOIN e0 e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |  JOIN e0 e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
      |v AS (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS id FROM nation)
      |SELECT v.id, CAST(coalesce(cnt, 0) AS BIGINT) AS triangles
      |FROM v LEFT JOIN (SELECT id, count(*) AS cnt FROM corners GROUP BY 1) c ON v.id = c.id""".stripMargin

  /** The full-WCC recursive-CTE replay on the customer→nation→region
    * graph, shared verbatim by g34 (incremental composition must equal
    * the full recompute).
    */
  private lazy val g07OracleSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT c_custkey AS src, CAST(3000000 + c_nationkey AS BIGINT) AS dst FROM customer
      |  UNION ALL
      |  SELECT CAST(3000000 + n_nationkey AS BIGINT), CAST(3500000 + n_regionkey AS BIGINT) FROM nation),
      |ud AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |r(id, lab) AS (
      |  SELECT DISTINCT src, src FROM ud
      |  UNION
      |  SELECT ud.src, r.lab FROM ud JOIN r ON r.id = ud.dst)
      |SELECT id, CAST(min(lab) AS BIGINT) AS component FROM r GROUP BY id""".stripMargin

  private lazy val t23DriftCtes: String =
    """WITH t AS (SELECT CAST(doc_id % 2 AS VARCHAR) AS s,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |c AS (SELECT s, term, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
      |ta AS (SELECT CAST(sum(c) AS BIGINT) AS na FROM c WHERE s = '0'),
      |tb AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM c WHERE s = '1'),
      |a AS (SELECT term, c AS ca FROM c WHERE s = '0'),
      |b AS (SELECT term, c AS cb FROM c WHERE s = '1'),
      |j AS (SELECT coalesce(a.term, b.term) AS term,
      |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      |  FROM a FULL OUTER JOIN b ON a.term = b.term),
      |r AS (SELECT term,
      |  CAST(CASE WHEN ta.na IS NULL THEN 0 ELSE
      |    ca * (1000000 // ta.na) + (ca * (1000000 % ta.na)) // ta.na
      |    END AS BIGINT) AS rate_a_ppm,
      |  CAST(CASE WHEN tb.nb IS NULL THEN 0 ELSE
      |    cb * (1000000 // tb.nb) + (cb * (1000000 % tb.nb)) // tb.nb
      |    END AS BIGINT) AS rate_b_ppm
      |  FROM j LEFT JOIN ta ON true LEFT JOIN tb ON true)""".stripMargin

  /** The p12 stratified-priority replay, shared verbatim by st26. */
  private lazy val p12OracleSql: String =
    """WITH s AS (SELECT source, doc_id, n_chars AS weight,
        |  ('0x' || substr(md5('p12e0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS u
        |FROM documents),
        |q AS (SELECT source, doc_id, weight,
        |  CAST(weight AS DOUBLE) / (CAST(u AS DOUBLE) / 1152921504606846976.0) AS priority
        |FROM s),
        |r AS (SELECT source, doc_id, weight, priority,
        |  row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn
        |FROM q),
        |t AS (SELECT source, coalesce(max(CASE WHEN rn = 9 THEN priority END), 0.0) AS tau
        |  FROM r WHERE rn <= 9 GROUP BY 1)
        |SELECT r.source, r.doc_id, r.weight, r.priority,
        |  greatest(CAST(r.weight AS DOUBLE), t.tau) AS est_weight
        |FROM r JOIN t ON t.source = r.source WHERE r.rn <= 8""".stripMargin

  private lazy val jaccardOracle: String = jaccardOracleOver("documents")

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

  /** The k02 shared chain: k01's two Lloyd rounds with init and both
    * updates restricted to the %4!=0 TRAINING subset, then the final
    * nearest-centroid assignment (`a3`) over the %4==0 holdout.
    */
  private lazy val k02OracleChain: String =
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
      |et AS (SELECT * FROM e WHERE vec_id % 4 <> 0),
      |eh AS (SELECT * FROM e WHERE vec_id % 4 = 0),
      |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
      |  FROM et ORDER BY vec_id LIMIT 8),
      |dd1 AS (SELECT et.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (et.vq[i] - c.cv[i]) * (et.vq[i] - c.cv[i]))) AS d2 FROM et CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd1) WHERE rn = 1),
      |s1 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(et.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
      |  FROM a1 a JOIN et USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
      |u1 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s1 GROUP BY 1),
      |c1 AS (SELECT c0.cell, coalesce(u1.cv, c0.cv) AS cv FROM c0 LEFT JOIN u1 USING (cell)),
      |dd2 AS (SELECT et.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (et.vq[i] - c.cv[i]) * (et.vq[i] - c.cv[i]))) AS d2 FROM et CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd2) WHERE rn = 1),
      |s2 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(et.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
      |  FROM a2 a JOIN et USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
      |u2 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s2 GROUP BY 1),
      |c2 AS (SELECT c1.cell, coalesce(u2.cv, c1.cv) AS cv FROM c1 LEFT JOIN u2 USING (cell)),
      |dd3 AS (SELECT eh.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (eh.vq[i] - c.cv[i]) * (eh.vq[i] - c.cv[i]))) AS d2 FROM eh CROSS JOIN c2 c),
      |a3 AS (SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd3) WHERE rn = 1)""".stripMargin

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

  /** The d21 calibration replay: per-doc k=16 salted-md5 signatures (the
    * d15 draw family sliced by doc), md5 band keys per option, candidate
    * pair sets, the exact >= 0.8 truth, integer ppm recalls, and the
    * min-band deploy pick — parametrized over b in {2, 4, 8}.
    */
  private lazy val d21OracleSql: String = {
    val k = 16
    def bandCtes(b: Int): String = {
      val r = k / b
      val keyExpr = (1 to r).map(j => s"CAST(s[gb.b * $r + $j] AS VARCHAR)")
        .mkString("md5(concat_ws(':', ", ", ", "))")
      s"""kb$b AS (SELECT doc_id, gb.b AS band, $keyExpr AS bkey
         |  FROM sig CROSS JOIN range(0, $b) gb(b)),
         |c$b AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
         |  FROM kb$b a JOIN kb$b b2 ON a.band = b2.band
         |    AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id),
         |m$b AS (SELECT $b AS bands, $r AS rows_per_band,
         |  CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(sum(CASE WHEN ex.id1 IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
         |  FROM c$b LEFT JOIN ex ON ex.id1 = c$b.id1 AND ex.id2 = c$b.id2)""".stripMargin
    }
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
       |hs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
       |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT))) AS h FROM toks),
       |sal AS (SELECT doc_id, r.p,
       |  ('0x' || substr(md5(CAST(r.p AS VARCHAR) || ':' || CAST(h AS VARCHAR)), 1, 15))::BIGINT AS sh
       |  FROM hs CROSS JOIN range(0, $k) r(p)),
       |sig AS (SELECT doc_id, list(m ORDER BY p) AS s FROM
       |  (SELECT doc_id, p, min(sh) AS m FROM sal GROUP BY 1, 2) GROUP BY 1),
       |shg AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |  FROM shg a JOIN shg b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |ex AS (SELECT id1, id2
       |  FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
       |  WHERE round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) >= 0.8),
       |exn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex),
       |${bandCtes(2)},
       |${bandCtes(4)},
       |${bandCtes(8)},
       |u AS (SELECT * FROM m2 UNION ALL SELECT * FROM m4 UNION ALL SELECT * FROM m8),
       |f AS (SELECT u.*, e.n AS exact_n,
       |  CASE WHEN e.n = 0 THEN 1000000 ELSE u.hits * 1000000 // e.n END AS recall_ppm
       |  FROM u, exn e),
       |dd AS (SELECT min(CASE WHEN recall_ppm >= 950000 THEN bands END) AS db FROM f)
       |SELECT f.bands, CAST(f.rows_per_band AS BIGINT) AS rows_per_band,
       |  f.n_candidates, f.hits, f.exact_n,
       |  CAST(f.recall_ppm AS BIGINT) AS recall_ppm,
       |  coalesce(f.bands = dd.db, false) AS deploy
       |FROM f, dd""".stripMargin
  }
}
