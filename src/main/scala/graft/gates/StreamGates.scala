package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.graph.GraphFrame
import graft.multimodal.Multimodal
import graft.operators.{Sampling, Similarity}
import graft.pregel.Pregel
import graft.text.TextFunctions
import GateHelpers._

/** The `st` gates (streaming). */
object StreamGates extends GateFamily("st") {
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

  /** See [[graft.sources.FileStaging.stageMtimeFiles]] — the shared
    * deterministic micro-batch staging (st21's drive; st22 additionally
    * restarts the query between files).
    */
  private def stageMtimeFiles(docs: DataFrame, tag: String,
      nFiles: Int, idCol: String = "doc_id"): String =
    graft.sources.FileStaging.stageMtimeFiles(docs, tag, nFiles, idCol)

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

  val gates: Seq[Gate] = Seq(
    // Streaming stratified priority sampling: per-category monotone
    // top-(k+1) candidate state at ingest; the drained union finalizes
    // through the BATCH p12 selection verbatim (same seed ⇒ identical
    // priorities; containment per category) — p12's oracle unchanged.
    Gate("st26_stream_strat_priority", (s, d) => {
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
    },
      // Stratified-priority replay: the p11 construction per source —
      // per-group rank window, per-group tau at rank k+1. Shared VERBATIM
      // by st26 (the streaming candidate path must be invisible to the
      // final per-category sample).
      p12OracleSql),

    // Streaming KMV maintenance (the sketch-state trio's min-k member,
    // next to st07 HLL max-state and st08 CMS sum-state): per-slice
    // bottom-64 candidate state, drained union fed to the SHARED
    // kmvSetEstimates tail — order-free by the bottom-k containment
    // argument, so q35's oracle gates it verbatim.
    Gate("st25_stream_kmv", (s, d) => {
      val cand = drainStream(
        graft.streaming.Streams.streamingKmvCandidates(
          streamTbl(s, d, "lineitem")
            .filter(col("l_returnflag").isin("A", "R"))
            .select(col("l_returnflag"), col("l_partkey")),
          "l_returnflag", "l_partkey", k = 64).toDF(),
        "st25_sink", "append")
      graft.operators.Sketches.kmvSetEstimates(
        cand.select(col("slice"), col("h")), "A", "R", k = 64)
    },
      q35OracleSql),

    // Streaming twin of p11: per-shard monotone top-(k+1) candidate
    // state (nShards*(k+1) entries TOTAL, stream-length-independent),
    // candidates drained then finalized with the SHARED batch tail —
    // order-free, so the p11 oracle gates it verbatim.
    Gate("st24_stream_priority_sample", (s, d) => {
      val cand = drainStream(
        graft.streaming.Streams.streamingPriorityCandidates(
          streamTbl(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 64, seed = "p11e0").toDF(),
        "st24_sink", "append")
      Sampling.priorityFinalize(
        cand.select(col("key").as("doc_id"), col("weight"), col("priority")),
        "doc_id", k = 64)
    },
      p11OracleSql),

    // ---- structured streaming (drained with AvailableNow; see drainStream) ----
    // Event time is synthesized from doc_id so the watermark machinery runs
    // on a deterministic clock. The lateness horizon (2h) COVERS the full
    // synthesized span (1h): the batch-distinct oracle equality must hold
    // even if the source ever delivers the file as multiple micro-batches
    // (an advanced watermark could otherwise drop "late" rows / evict
    // duplicate state mid-stream).
    Gate("st01_stream_dedup", (s, d) => {
      val docs = streamTbl(s, d, "documents")
        .withColumn("ets", timestamp_seconds(col("doc_id") % 3600))
      drainStream(
        graft.streaming.Streams.streamingExactDedup(docs, "ets", "text",
          lateness = "2 hours")
          .select(col("fingerprint")),
        "st01_sink", "append")
    },
      "SELECT DISTINCT md5(text) AS fingerprint FROM documents"),

    // Streaming IMAGE dedup at ingest: the media synthesis + REAL PNG
    // decode + aHash chain runs per micro-batch (mapPartitions is a
    // narrow streaming transform), then first-seen-phash admission —
    // multimodal and streaming composing through one fingerprint column.
    Gate("st10_stream_phash_dedup", (s, d) => {
      val ids = streamTbl(s, d, "documents").select(col("doc_id"))
      val hashed = Multimodal.perceptualHash(
        Multimodal.synthesizePngMedia(ids, "doc_id", w = 32, h = 24))
        .withColumn("ets", timestamp_seconds(col("media_id") % 3600))
      drainStream(
        graft.streaming.Streams.streamingFingerprintDedup(
          hashed, "ets", "phash", lateness = "2 hours")
          .select(col("phash")),
        "st10_sink", "append")
    },
      // Streaming phash dedup gate: first-seen-per-hash == DISTINCT hash;
      // the hash bits replay from the synthesis formula (m07's CTEs).
      """WITH px AS (
        |  SELECT d.doc_id AS media_id, gx.x AS x, gy.y AS y,
        |    (gx.x * 28 + gy.y * 39 + d.doc_id) % 256 AS v
        |  FROM documents d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |s AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total FROM px GROUP BY 1),
        |b AS (SELECT px.media_id,
        |  string_agg(CASE WHEN v * 64 > total THEN '1' ELSE '0' END, '' ORDER BY y, x) AS phash
        |  FROM px JOIN s USING (media_id) GROUP BY px.media_id)
        |SELECT DISTINCT phash FROM b""".stripMargin),

    // Streaming latest-version compaction (the q23 twin): per-user upsert
    // state, emission only on change; one AvailableNow batch == q23.
    Gate("st12_stream_latest", (s, d) =>
      drainStream(
        graft.streaming.Streams.streamingLatestVersion(
          streamTbl(s, d, "events").withColumn("cents", cents(col("value"))),
          "user_id", "ts", "event_id", "event_type", "cents").toDF(),
        "st12_sink", "append"),
      // One drained batch == the batch compaction (q23's oracle verbatim).
      """SELECT user_id, last_ts, last_event_id, last_type, last_value_cents FROM (
        |  SELECT user_id, epoch_ns(ts) AS last_ts, event_id AS last_event_id,
        |    event_type AS last_type, CAST(round(value * 100) AS BIGINT) AS last_value_cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    // Streaming per-category token-budget admission: one long of state per
    // lang; the prefix rule makes the admitted set a pure function of the
    // document set, replayed as a cumulative-sum window in the oracle.
    Gate("st11_stream_budget", (s, d) =>
      drainStream(
        graft.streaming.Streams.streamingTokenBudget(
          streamTbl(s, d, "documents"), "doc_id", "lang", "text",
          budget = 2000L).toDF(),
        "st11_sink", "append"),
      // The prefix rule as a window: admit docs while the per-lang running
      // token total (ordered by doc_id) stays within budget.
      """SELECT doc_id, cat, toks, cum FROM (
        |  SELECT doc_id, lang AS cat,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS toks,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |      OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM documents)
        |WHERE cum <= 2000""".stripMargin),

    // Sliding 1h/30min windows over events. value is pre-scaled to integer
    // hundredths (`cents` discipline) so the windowed sum is exact; window
    // bounds compare as epoch seconds (engine-neutral, tz-free). APPEND
    // mode: only watermark-finalized windows emit (window_end <= max event
    // time - 30min lateness, boundary inclusive — pinned by StreamsSpec),
    // so state store size stays O(active windows) on an unbounded stream
    // where complete mode would retain and re-emit every window ever seen.
    Gate("st02_stream_window", (s, d) => {
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
    },
      // Append-mode drain: keep only windows the final watermark (max event
      // time - 30min lateness) has finalized; boundary we == watermark emits
      // (StreamsSpec-pinned Spark semantics).
      """WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS sec, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
        |wm AS (SELECT max(sec) - 1800 AS w FROM e),
        |w AS (SELECT sec, event_type, value_c,
        |  (sec // 1800) * 1800 - k * 1800 AS ws
        |  FROM e, (SELECT unnest([0, 1]) AS k) offs)
        |SELECT ws, ws + 3600 AS we, event_type, count(*) AS cnt,
        |  CAST(sum(value_c) AS BIGINT) AS value_sum
        |FROM w, wm WHERE ws + 3600 <= wm.w GROUP BY 1, 2, 3""".stripMargin),

    // Custom-state streaming (flatMapGroupsWithState): per-user sessions
    // on 30-min gaps; only successor-closed sessions emit, so the result
    // is a pure function of the event set (see Streams.streamingSessionize).
    Gate("st04_stream_sessionize", (s, d) => {
      val ev = streamTbl(s, d, "events")
        .withColumn("ets", timestamp_seconds(expr("ts div 1000000000")))
      drainStream(
        graft.streaming.Streams.streamingSessionize(
          ev, "ets", "user_id", "event_id", gapSec = 1800L).toDF(),
        "st04_sink", "append")
    },
      // Batch replay of successor-closed sessionization: q09's gap/session
      // numbering, grouped to sessions, with each user's LAST session
      // excluded (it is still open in the stream's state).
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
        |FROM g JOIN mx ON g.user_id = mx.user_id AND g.sid < mx.last_sid""".stripMargin),

    // STREAM-STREAM watermarked inner join: click->purchase attribution
    // within 1 hour per user; the time-range condition bounds both sides'
    // state to lateness + horizon.
    Gate("st06_stream_join", (s, d) => {
      val ev = streamTbl(s, d, "events")
        .withColumn("ets", timestamp_seconds(expr("ts div 1000000000")))
      drainStream(
        graft.streaming.Streams.streamingAttribution(
          ev, "ets", "user_id", "event_id", "event_type",
          fromType = "click", toType = "purchase", horizonSec = 3600L),
        "st06_sink", "append")
    },
      // Batch replay of the attribution join: identical equi + time-range
      // predicate, gap in whole seconds.
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_ns(ts) // 1000000000 AS sec FROM events)
        |SELECT a.user_id, a.event_id AS from_id, b.event_id AS to_id,
        |  CAST(b.sec - a.sec AS BIGINT) AS gap_sec
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_type = 'click'
        |  AND b.event_type = 'purchase'
        |  AND b.sec >= a.sec AND b.sec <= a.sec + 3600""".stripMargin),

    // Streaming HLL: the register table as bounded streaming state (2^p
    // rows forever), drained complete and zero-materialized downstream.
    // The oracle is the BATCH register construction (q14's SQL verbatim):
    // stream == batch on the same data IS the gate.
    Gate("st07_stream_hll", (s, d) => {
      val drained = drainStream(
        graft.streaming.Streams.streamingHllRegisters(
          streamTbl(s, d, "lineitem"), "l_partkey", p = 8),
        "st07_sink", "complete")
      s.range(256).select(col("id").as("register"))
        .join(drained, Seq("register"), "left")
        .select(col("register"),
          coalesce(col("max_rank"), lit(0L)).as("max_rank"))
    },
      // Streaming HLL gate: the drained stream state must equal the batch
      // register construction — q14's replay, verbatim.
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |           FROM lineitem),
        |r AS (SELECT h & 255 AS register,
        |             53 - CASE WHEN (h >> 8) = 0 THEN 0 ELSE len(bin(h >> 8)) END AS rank
        |      FROM h),
        |agg AS (SELECT register, CAST(max(rank) AS BIGINT) AS max_rank FROM r GROUP BY 1)
        |SELECT CAST(range AS BIGINT) AS register, COALESCE(max_rank, CAST(0 AS BIGINT)) AS max_rank
        |FROM range(256) LEFT JOIN agg ON range = register""".stripMargin),

    // Streaming count-min over the document bigram stream: additive grid
    // state (depth x width cells forever), drained complete and
    // zero-materialized. Oracle = the batch grid (q15's SQL verbatim).
    Gate("st08_stream_cms", (s, d) => {
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
    },
      // Streaming CMS gate: the drained additive state must equal the batch
      // grid — q15's replay, verbatim.
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

    // Streaming histogram over the event value stream: additive bin state
    // (binCount rows forever) — the quantile member of the sketch family
    // as streaming state, completing the batch+streaming symmetry (q14/
    // st07 HLL, q15/st08 CMS, q16/st09 histogram). Oracle = the batch
    // register construction (q16's SQL verbatim).
    Gate("st09_stream_hist", (s, d) => {
      val vals = streamTbl(s, d, "events").select(cents(col("value")).as("v"))
      val drained = drainStream(
        graft.streaming.Streams.streamingHistRegisters(
          vals, "v", lo = 0L, binWidth = 200L, binCount = 256),
        "st09_sink", "complete")
      s.range(256).select(col("id").as("bin"))
        .join(drained, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    },
      // Streaming histogram gate: the drained additive bin state must equal
      // the batch register table — q16's replay, verbatim.
      """WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0 THEN 0 ELSE least(255, v // 200) END AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1)
        |SELECT CAST(r.range AS BIGINT) AS bin, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        |FROM range(256) r LEFT JOIN b ON r.range = b.bin""".stripMargin),

    // Streaming DRIFT monitor (st28): the t23b dump-over-dump TV check
    // at ingest — (slice, term) counts as additive streaming state
    // (bounded by slices x vocabulary, the batch monitor's own reduce
    // bound), drained complete and finalized through the batch
    // rate/ppm/TV tail. Oracle = t23b's SQL verbatim: stream == batch
    // IS the contract.
    Gate("st28_stream_drift", (s, d) => {
      val counts = drainStream(
        graft.streaming.Streams.streamingDriftCounts(
          streamTbl(s, d, "documents")
            .withColumn("half", (col("doc_id") % 2).cast("string")),
          "half", "text", "0", "1"),
        "st28_sink", "complete")
      TextFunctions.driftRatesFromCounts(counts, "0", "1")
        .agg(count(lit(1)).as("n_terms"),
          coalesce(sum(col("drift_ppm")), lit(0L)).as("tv_ppm"))
    },
      // The streaming drift monitor finalizes to the SAME scalar.
      (t23DriftCtes + """
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(coalesce(sum(abs(rate_a_ppm - rate_b_ppm)), 0) AS BIGINT) AS tv_ppm
        |FROM r""".stripMargin)),

    // ... and its GROUPED form (st28b — t24 at ingest): per-source
    // (group, slice, term) counts as additive state, the drained state
    // finalized through the same grouped ppm/TV tail. Oracle = t24's
    // SQL verbatim.
    Gate("st28b_stream_grouped_drift", (s, d) => {
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
    },
      // The grouped streaming monitor finalizes to the same per-group TV.
      t24OracleSql),

    // CMS-backed streaming drift (st28c — st28's OPEN-VOCABULARY form):
    // per-slice count-min grids as additive streaming state (bounded by
    // slices x depth x width forever, vocabulary-independent —
    // spec-pinned), drained complete and finalized through the cell-TV
    // ppm tail (a lower-bound estimate; one-sided error is the
    // operator's semantics). Oracle = the same grid + tail replayed
    // exactly (the q15/st08 discipline).
    Gate("st28c_stream_drift_cms", (s, d) => {
      val counts = drainStream(
        graft.streaming.Streams.streamingDriftCmsCounts(
          streamTbl(s, d, "documents")
            .withColumn("half", (col("doc_id") % 2).cast("string")),
          "half", "text", "0", "1", depth = 4, width = 1024),
        "st28c_sink", "complete")
      TextFunctions.driftTvFromCmsGrids(counts, "0", "1")
    },
      // CMS-drift replay: per-slice salted grids (the st08 hash verbatim,
      // salted per depth row), per-row slice totals, the same
      // overflow-safe exact-ppm split per CELL, |Δ| folded per row — the
      // grid and tail are deterministic, so the lower-bound estimator
      // replays exactly (one-sided error is semantics, not tolerance).
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
        |FROM r GROUP BY 1""".stripMargin),

    // ... and the GROUPED CMS drift (st28d — t24 x st28c): per-source
    // grids as additive state (groups x slices x depth x width rows,
    // vocabulary-independent), finalized through the grouped cell-TV
    // tail with NULL-safe group joins.
    Gate("st28d_stream_grouped_drift_cms", (s, d) => {
      val counts = drainStream(
        graft.streaming.Streams.streamingGroupedDriftCmsCounts(
          streamTbl(s, d, "documents")
            .withColumn("half", (col("doc_id") % 2).cast("string")),
          "source", "half", "text", "0", "1", depth = 4, width = 1024),
        "st28d_sink", "complete")
      TextFunctions.driftTvFromCmsGrids(counts, "0", "1", grouped = true)
        .withColumnRenamed("__td_g", "source")
    },
      // The grouped CMS-drift replay: the same grid + tail with the group
      // key riding every stage (NULL-safe group joins, IS NOT DISTINCT
      // FROM — the t24 discipline).
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
        |FROM r GROUP BY 1, 2""".stripMargin),

    // Streaming ROLLUP HLL: the q33 OLAP-lattice register table as
    // streaming state — ONE Expand-fed aggregate maintains all three
    // lattice levels' monotone register maxes (state = slices x 2^p
    // rows forever, no watermark). Drained complete, then the BATCH
    // densify + estimate tail; q33's oracle gates the streaming path
    // verbatim — the sketch family's batch/stream symmetry closed.
    Gate("st27_stream_rollup_hll", (s, d) => {
      val drained = drainStream(
        graft.streaming.Streams.streamingHllRollupRegisters(
          streamTbl(s, d, "lineitem"), "l_returnflag", "l_linestatus",
          "l_partkey", p = 6),
        "st27_sink", "complete")
      graft.operators.Sketches.hllRollupEstimate(
        graft.operators.Sketches.hllRollupDensify(
          drained, "l_returnflag", "l_linestatus", p = 6),
        "l_returnflag", "l_linestatus", p = 6)
    },
      // Streaming rollup HLL: stream == batch on the same data IS the
      // gate, so q33's replay gates the drained state verbatim.
      q33OracleSql),

    // Stateless stream-static LEFT SEMI join: decontamination at ingest.
    // The held-out hash table is a STATIC broadcast side; contaminated
    // documents emit per micro-batch with zero state.
    Gate("st05_stream_decon", (s, d) => {
      val stream = streamTbl(s, d, "documents").filter(col("doc_id") % 10 =!= 7)
      val heldOut = tbl(s, d, "documents").filter(col("doc_id") % 10 === 7)
      drainStream(
        graft.streaming.Streams.streamingDecontaminate(
          stream, heldOut, "doc_id", "text", n = 5),
        "st05_sink", "append")
    },
      // The streaming semi-join flags the same documents, without counts.
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
        |test AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 7)
        |SELECT DISTINCT ex.doc_id
        |FROM ex JOIN test USING (g) WHERE ex.doc_id % 10 <> 7""".stripMargin),

    // st05's SCALE PATH: the same decontamination as a per-micro-batch
    // exploded equi-join in foreachBatch — the held-out hash side stays a
    // distributed relation (persisted, never driver-collected), so the
    // operator has no driver-memory ceiling. Same oracle flag set as st05.
    Gate("st05b_stream_decon_join", (s, d) => {
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
    },
      // The scale-path equi-join flags the identical document set.
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
        |test AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 7)
        |SELECT DISTINCT ex.doc_id
        |FROM ex JOIN test USING (g) WHERE ex.doc_id % 10 <> 7""".stripMargin),

    // Stateless streaming PQ ENCODING at ingest — the vector-family
    // member of the batch/stream operator symmetry (st03 = quality
    // formula, st13 = the s10 code projection): the codebook trains on
    // the static corpus and folds into the streaming projection as
    // literals; each arriving vector encodes with zero state. Oracle =
    // s10's SQL verbatim.
    Gate("st13_stream_pq_codes", (s, d) => {
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
    },
      // Streaming twin: identical code projection, AvailableNow drain.
      // PQ code replay: micro-lattice quantize, first-8 codebook, per-
      // (vector, subspace) integer argmin with the smaller-code tiebreak.
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
        |WHERE rn = 1""".stripMargin),

    // Streaming twin of m12: container synthesis + the stbl-indexed
    // sample extraction running STATELESS at ingest (mapPartitions over
    // each micro-batch, no state store) — the shape a video ingest
    // pipeline uses to index samples as files arrive.
    Gate("st14_stream_mp4_samples", (s, d) =>
      drainStream(
        Multimodal.extractMp4Samples(
          Multimodal.synthesizeMp4FramesMedia(
            streamTbl(s, d, "documents").select(col("doc_id")), "doc_id")),
        "st14_sink", "append"),
      // Streaming twin: identical extraction, AvailableNow drain.
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
        |FROM s""".stripMargin),

    // Stateless streaming HTML → text extraction at ingest — the t18
    // kernel running on each arriving micro-batch (the st03/st13/st14
    // discipline: a pure per-row Column formula needs no state store, so
    // the web-crawl ingest tier cleans HTML as files land). Oracle = the
    // t18 batch SQL verbatim; stream==batch IS the contract.
    Gate("st15_stream_html_extract", (s, d) =>
      drainStream(htmlExtract(streamTbl(s, d, "documents")),
        "st15_sink", "append"),
      // Streaming ingest twin (st15): the same kernel per micro-batch —
      // stream==batch is the contract, so the oracle IS the t18 SQL.
      t18OracleSql),

    // Streaming PII scrub at ingest — the t19 body per micro-batch (the
    // st15/t18 stateless ingest-transform discipline). Oracle = t19 SQL
    // verbatim.
    Gate("st19_stream_pii_redact", (s, d) =>
      drainStream(piiExtract(streamTbl(s, d, "documents")),
        "st19_sink", "append"),
      // Streaming PII at ingest: t19's SQL verbatim (stateless transform).
      t19OracleSql),

    // Streaming FILTERED vector search — the RAG serving shape end to
    // end: the IVF-PQ index (with its label payload) builds ONCE from
    // the static corpus; arriving queries probe it per micro-batch
    // through a stream-static cell equi-join with the metadata predicate
    // pruning the index side, and the per-query top-k aggregates in
    // complete mode (state = queries x k, bounded). Oracle = the s16
    // batch SQL verbatim; stream==batch IS the contract.
    Gate("st16_stream_filtered_ann", (s, d) => {
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
    },
      // Streaming filtered-ANN twin (st16): same index, same predicate,
      // same top-k — the oracle IS the s16 SQL (stream==batch contract).
      s16OracleSql),

    // Streaming serve off the PERSISTED index (st23 — the lifecycle's
    // last seam): st18 ingests INTO the table, s20 serves a batch off
    // it; this serves a query STREAM off it — the stream-static join
    // where the static side is the reloaded bucketed artifact scan.
    // The fixed streaming plan cannot know a batch's queries, so the
    // literal cell pruning is absent HERE (ivfPqProbeCells' contract)
    // and the cell equi-join bounds compute only — st23b below is the
    // SCALE PATH that recovers per-batch pruning via foreachBatch.
    // Oracle = the s13 SQL verbatim: storage + streaming invisible.
    Gate("st23_stream_table_ann", (s, d) => {
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
    },
      // Streaming serve off the persisted table: the same claim through
      // one more seam — micro-batch queries against the reloaded scan.
      s13OracleSql),

    // st23's SCALE PATH (st23b): the same persisted-index serve driven
    // through foreachBatch, where each micro-batch's queries ARE
    // driver-known — so the batch path's probed-cell literal pushdown
    // applies per batch and the scan reads ONLY probed buckets
    // (SelectedBucketsCount < total per batch, spec-pinned) instead of
    // every bucket file per micro-batch. Same oracle as st23/s13:
    // pruning, storage, and streaming must all be invisible to search.
    Gate("st23b_stream_table_ann_pruned", (s, d) => {
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
    },
      s13OracleSql),

    // ... and the FILTERED form (st23c — st16 x st23b): the metadata
    // predicate rides the persisted artifact and prunes index-side
    // before ADC scoring, per micro-batch, composed with the
    // probed-cell literal pushdown. Oracle = the s16 SQL verbatim.
    Gate("st23c_stream_filtered_pruned", (s, d) => {
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
    },
      s16OracleSql),

    // Streaming AS-OF ENRICHMENT (st29 — the feature-store lookup at
    // ingest): the event stream joined per micro-batch to the
    // latest-at-or-before row of the purchase feature TABLE via the
    // batch as-of operator inside foreachBatch (the batch IS
    // driver-known — the st23b discipline), the feature table reloaded
    // per batch so upserts become visible. Oracle = q20's DuckDB native
    // ASOF LEFT JOIN SQL verbatim: storage + streaming invisible to the
    // as-of semantics.
    Gate("st29_stream_asof_enrich", (s, d) =>
      asOfEnrichGate(s, d, "st29", "backward", None),
      q20OracleSql),

    // ... its FORWARD form (st29b — attribution at ingest: each arriving
    // event joined to the NEXT purchase within 2 h). Oracle = q32's
    // bounded-candidate replay verbatim.
    Gate("st29b_stream_asof_forward", (s, d) =>
      asOfEnrichGate(s, d, "st29b", "forward", Some(7200000000000L)),
      // The streaming forward enrichment must be invisible too.
      q32OracleSql),

    // ... and the NEAREST form (st29c — sensor/price alignment at
    // ingest: |Δt|-argmin within 2 h, ties to the earlier match),
    // completing the streaming as-of trio. Oracle = q36's replay
    // verbatim.
    Gate("st29c_stream_asof_nearest", (s, d) =>
      asOfEnrichGate(s, d, "st29c", "nearest", Some(7200000000000L)),
      // The streaming nearest enrichment: the same replay, verbatim.
      q36OracleSql),

    // Streaming sequence packing: the p08 two-level prefix sum with its
    // per-shard running totals as streaming state (ONE long per shard,
    // the st11 discipline) — sequences continue across micro-batches
    // where the previous epoch's totals ended. The drained offsets
    // finalize through Sampling.packCoords (driver prefix over the 32
    // shard totals + div/% coordinates). Oracle = the p08 batch SQL
    // verbatim; stream==batch IS the contract.
    Gate("st17_stream_seq_pack", (s, d) => {
      val docs = streamTbl(s, d, "documents")
        .withColumn("n_toks", TextFunctions.tokenCount(col("text")))
      val offsets = drainStream(
        graft.streaming.Streams.streamingSequenceOffsets(
          docs, "doc_id", "n_toks").toDF(),
        "st17_sink", "append")
      Sampling.packCoords(offsets, "doc_id", seqLen = 1024L)
    },
      // Streaming sequence packing: p08's SQL verbatim — the per-shard
      // running totals live as streaming state, the finalize replays the
      // same base prefix + coordinates, so stream==batch is the gate.
      p08OracleSql),

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
    Gate("st30_stream_wcc_maintain", (s, d) => {
      stageAndDrain(s, custNationRegionEdges(s, d), "graft-st30",
          nFiles = 4, idCol = "src") { stream =>
        graft.streaming.Streams.initWccLabelsTable(s, "st30_labels")
        graft.streaming.Streams.streamingWccMaintain(stream, "st30_labels")
      }
      // The maintenance loop rewrote the table from a cloned session;
      // this (outer) session's relation cache is stale the same way.
      s.catalog.refreshTable("st30_labels")
      s.table("st30_labels")
    },
      // The streaming enrichment must be invisible to the as-of semantics:
      // the same native ASOF LEFT JOIN replay, verbatim.
      // Stream == batch IS the maintenance contract: the drained labels /
      // counts tables must equal the full recomputes their batch gates
      // (g07/g11) replay.
      g07OracleSql),

    // STREAMING TRIANGLE MAINTENANCE (st31): the nation same-region
    // clique edges arrive in 4 micro-batches; each batch composes the
    // durable counts against the durable symmetrized adjacency (both
    // maintained here). Drained counts == the g11 full recompute over
    // all edges. Oracle = g11 verbatim.
    Gate("st31_stream_tri_maintain", (s, d) => {
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
    },
      g11OracleSql),

    // STREAMING CDC WCC MAINTENANCE (st32 — st30's change-stream form):
    // all edges arrive as adds in 3 micro-batches, then a takedown
    // batch REMOVES the %7==1 slice. The labels table must end exactly
    // where the g37 batch compose ends — the full recompute over the
    // net edge set, stranded vertices as singletons. Oracle = g37's.
    Gate("st32_stream_wcc_cdc", (s, d) => {
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
    },
      // st32 ends on the SAME net edge set (all adds, then the %7==1
      // takedown) — the CDC maintenance must land exactly where the g37
      // batch compose lands.
      g37OracleSql),

    // CDC LOG COMPACTION (st36): the st32 chain drained, then the
    // tombstones FOLDED into the edge log — and the net graph must be
    // bit-preserved, proven by COLD-recomputing WCC from the compacted
    // log alone (tombstones now empty) and landing exactly on the g37
    // oracle. Stranded vertices have no edges in the compacted log, so
    // they re-enter as singletons off the maintained labels' universe.
    Gate("st36_cdc_log_compact", (s, d) => {
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
    },
      // Compaction preserves the net graph exactly: the cold recompute
      // off the compacted log must land where the maintained labels are.
      g37OracleSql),

    // STREAMING CDC TRIANGLE MAINTENANCE (st33 — st31's change-stream
    // form): nation-clique adds in 3 batches, the %7==1 takedown in
    // batch 4; destroyed triangles debit at ingest. Oracle = g38's.
    Gate("st33_stream_tri_cdc", (s, d) => {
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
    },
      g38OracleSql),

    // STREAMING PAGERANK MAINTENANCE (st35 — the ranking family at
    // ingest): the cust→nation→region edges arrive in 3 cumulative
    // slices ((src+dst)%3); each batch re-ranks the growing graph warm
    // from the previous batch's raw mass via the g40 residual restart,
    // 2 fixed iterations per batch. The drained raw mass normalized =
    // the oracle's 3-stage chained unroll — every float op of every
    // stage replayed in evaluation order (batch 1 is the g = 0 cold
    // special case, emitted uniformly).
    Gate("st35_stream_pagerank_maintain", (s, d) => {
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
    },
      // st35 drains to the 3-stage warm chain: per batch the edge set is
      // the cumulative (src+dst)%3 <= k-1 slice union, and each stage is
      // the g40 program — residual pass over the stage's graph from the
      // previous stage's raw mass (stage 1: g = 0, the cold special
      // case), then 2 fixed iterations with the abs(dl) > tol
      // participation filter. Generated, not hand-unrolled; per-stage
      // CTEs MATERIALIZED (the kcore-oracle inlining lesson).
      prWarmChainOracleSql(3, 2)),

    // STREAMING CDC K-CORE MAINTENANCE (st34 — the warm-start family at
    // ingest, completing the maintenance set): nation-clique adds in 3
    // batches, the %7==1 takedown in batch 4; every batch re-derives
    // exact coreness WARM from the previous batch's cores (the g41
    // seed). The drained table must equal the cold h-index recompute
    // over the net edge set — endpoints of surviving edges only,
    // exactly what the oracle's vertex frame derives.
    Gate("st34_stream_kcore_cdc", (s, d) => {
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
    },
      // st34 drains to the exact coreness of the net edge set (nation
      // same-region cliques minus the %7==1 takedowns): the cold unrolled
      // h-index recompute, vertices = surviving-edge endpoints (6 rounds
      // is past convergence on the 5-clique geometry).
      kcoreOracleFrom(
      """SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
        |  FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |  WHERE (a.n_nationkey + b.n_nationkey) % 7 <> 1""".stripMargin, 6)),

    Gate("st20_stream_url_dedup", (s, d) => {
      val docs = streamTbl(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.canonicalizeUrl(urlSynth(col("doc_id"))).as("canon"))
      val sink = drainStream(
        graft.streaming.Streams.streamingFirstSeen(docs, "doc_id", "canon")
          .toDF(),
        "st20_sink", "append")
      sink.groupBy(col("key").as("canon"))
        .agg(min("min_id").as("keep_id"), max("cnt").as("n_dups"))
    },
      // Streaming URL dedup: the d19 SQL verbatim — per-canon (min, count)
      // state is order-free, so stream==batch IS the contract.
      (urlCanonCtes + "\nSELECT canon, min(doc_id) AS keep_id, " +
        "count(*) AS n_dups FROM z GROUP BY 1")),

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
    Gate("st21_stream_firstseen_ttl", (s, d) => {
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
    },
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
        .stripMargin)),

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
    Gate("st22_stream_restart", (s, d) => {
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
    },
      // Restart resume: the d19 aggregate on the % 37 canon keys — the
      // checkpointed two-job drive must equal the one-shot batch exactly
      // (a lost state restarts cnt and undercounts; a re-read file
      // double-counts; both diverge from this SQL).
      (urlCanonCtesFor("(doc_id % 37)") +
        "\nSELECT canon, min(doc_id) AS keep_id, " +
        "count(*) AS n_dups FROM z GROUP BY 1")),

    // Streaming INDEX INGEST — the write side of the RAG pair (st16 is
    // the read side): new embedding rows arriving on a stream encode per
    // micro-batch against the FROZEN trained books (ivfPqAppend is a pure
    // stateless projection, so it runs as a narrow streaming transform),
    // the drained delta unions onto the static artifact, and search
    // probes the merged index. Oracle = the s17 batch SQL verbatim.
    Gate("st18_stream_index_add", (s, d) => {
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
    },
      // Streaming index ingest: the s17 batch SQL verbatim — per-micro-batch
      // frozen-book encode is per-row deterministic, so stream==batch IS
      // the contract (the st15/st16 discipline applied to the WRITE side).
      s17OracleSql),

    // Stateless streaming filter: the batch quality formula at ingest.
    Gate("st03_stream_quality", (s, d) =>
      drainStream(
        graft.streaming.Streams.qualityFilter(streamTbl(s, d, "documents"), "text", 0.5)
          .select(col("doc_id"), round(col("quality"), 6).as("quality")),
        "st03_sink", "append"),
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
        |WHERE round(qraw, 6) >= 0.5""".stripMargin)
  )
}
