package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.graph.GraphFrame
import graft.text.TextFunctions
import GateHelpers._

/** The `b` gates (tables). */
object TableGates extends GateFamily("b") {
  val gates: Seq[Gate] = Seq(
    // Partitioned sink -> source round trip: events written partitioned
    // by event_type, reloaded, filtered to two types — the filter prunes
    // DIRECTORIES at planning time (PartitionFilters, plan-spec'd), and
    // the aggregate must equal the oracle on the ORIGINAL table (nothing
    // lost or duplicated by the layout change). ts arrives normalized
    // (LONG) so the round trip also freezes the schema contract into
    // storage.
    Gate("b02_partitioned_roundtrip", (s, d) => {
      val path = graft.sources.PartitionedTables.writePartitioned(
        tbl(s, d, "events"), "b02_events_parted", Seq("event_type"))
      graft.sources.PartitionedTables.readPartitioned(s, path)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("value_cents"))
    },
      // The partitioned round trip must agree with the ORIGINAL table.
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1""".stripMargin),

    // SNAPSHOT / time-travel read (b10): pin generation 1's file set,
    // append generation 2, then read BOTH views — the snapshot must see
    // exactly the pre-append rows (training-run reproducibility while
    // ingest keeps appending), the live table the union.
    Gate("b10_snapshot_read", (s, d) => {
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
    },
      // JSONL round trip: the classification (every 97th doc truncated ->
      // corrupt) replayed off the original table; good rows must carry
      // their parsed fields, corrupt rows only a count.
      // Snapshot replay: the pinned view is the even generation alone,
      // the live view everything — any snapshot that sees appended files
      // (or misses pinned ones) diverges.
      """SELECT 'snap' AS view, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'curr', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin),

    // SNAPSHOT DELTA read (b12 — the incremental-training primitive):
    // between two pins of an append-only cadence the row delta IS the
    // file delta (parquet files immutable, appends only add), so the
    // daily incremental read scans ONLY the new files — no diff join,
    // no base re-read. Non-append-ordered pins fail loud (compaction
    // re-homes rows; the law breaks); same-tag delta is legally empty.
    Gate("b12_snapshot_delta", (s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("n_chars"))
      graft.sources.BucketedTables.writeBucketed(
        docs.filter(col("doc_id") % 2 === 0), "b12_tbl", 4, Seq("doc_id"))
      graft.sources.BucketedTables.snapshot(s, "b12_tbl", "t1")
      graft.sources.BucketedTables.appendBucketed(
        docs.filter(col("doc_id") % 2 =!= 0), "b12_tbl")
      graft.sources.BucketedTables.snapshot(s, "b12_tbl", "t2")
      graft.sources.BucketedTables.readSnapshotDelta(s, "b12_tbl", "t1", "t2")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
    },
      // The delta between the pins is exactly the appended odd half.
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 <> 0""".stripMargin),

    // SNAPSHOT-AWARE COMPACTION (b11 — closing the b10 × s23 seam):
    // snapshot, keep ingesting, COMPACT — the swap now moves pinned
    // files to the retained dir and re-points the manifest, so the
    // training job's frozen read survives the maintenance cadence
    // (until round 17 it failed loud; real formats retain until
    // expiry, and expireSnapshot is the GC). snap must still read the
    // pre-append rows; curr reads the compacted whole.
    Gate("b11_snapshot_compact", (s, d) => {
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
    },
      // The b10 replay verbatim: retention must make compaction invisible
      // to both the pinned read and the live one.
      """SELECT 'snap' AS view, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'curr', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin),

    // SNAPSHOT vs FULL REWRITE (b13 — the last seam in the snapshot
    // lifecycle): writeBucketed over a pinned table used to silently
    // kill the pins (the one maintenance op that orphaned a training
    // job's frozen read); the rewrite path now runs the b11 retention
    // discipline, so the pinned read survives even a complete content
    // replacement. snap must read the pre-rewrite (even) rows, curr
    // the rewritten (odd) content.
    Gate("b13_snapshot_rewrite", (s, d) => {
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
    },
      // Full-rewrite replay: the pinned view is the pre-rewrite even
      // generation, the live view the rewritten odd content — a rewrite
      // that killed the pin (or leaked it into the new content) diverges.
      """SELECT 'snap' AS view, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'curr', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 <> 0""".stripMargin),

    // DYNAMIC partition overwrite (b09): generation 1 writes every
    // event_type; generation 2 overwrites ONLY the click partition with
    // the reprocessed slice (even event_ids, values doubled). The read
    // must see the mix — reprocessed clicks, all other partitions'
    // original files untouched (static mode would have truncated them;
    // the byte-identity of untouched files is spec-pinned).
    Gate("b09_partition_overwrite", (s, d) => {
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
    },
      // Partition-overwrite replay: the expected post-overwrite mix —
      // original rows everywhere except click, which holds exactly the
      // reprocessed slice. Anything static-mode-shaped (truncated other
      // partitions, click originals surviving) diverges.
      """WITH mixed AS (
        |  SELECT event_type, value FROM events WHERE event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, value * 2 AS value FROM events
        |  WHERE event_type = 'click' AND event_id % 2 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM mixed GROUP BY 1""".stripMargin),

    // Schema EVOLUTION across ingest generations (b08): generation 1
    // wrote [doc_id, lang]; generation 2 appended with an added n_toks
    // column — the day-one lifecycle event of every long-lived table.
    // The reader must see the UNION schema (mergeSchema=true — off by
    // default because footer merging costs a metadata pass, so the gate
    // pins the opt-in actually working) with generation-1 rows NULL in
    // the new column; the aggregate proves both generations' rows and
    // the NULL-vs-0 semantics survive (count(col) skips NULLs, the
    // coalesced sum treats them as 0).
    Gate("b08_schema_evolution", (s, d) => {
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
    },
      // Schema-evolution replay: generation membership is doc_id parity,
      // so the merged-schema read's NULL lattice is a closed form — gen-1
      // rows contribute NULL n_toks (skipped by count, 0 in the sum).
      """SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS BIGINT) AS with_toks,
        |  CAST(sum(CASE WHEN doc_id % 2 <> 0
        |    THEN len(regexp_extract_all(text, '\S+')) ELSE 0 END) AS BIGINT) AS toks
        |FROM documents GROUP BY 1""".stripMargin),

    // JSONL corpus ingestion with corrupt-record accounting: documents
    // serialized to JSONL with every 97th line TRUNCATED (cutting the
    // closing brace + tail — guaranteed-malformed JSON), then read back
    // under the declared schema in PERMISSIVE mode. Good lines must parse
    // field-for-field (lang groups, n_chars sum, text length sum prove
    // lang/int/string survive the round trip); malformed lines must land
    // in _corrupt_record — counted under lang='__corrupt', never dropped,
    // never parsed. Oracle replays the classification off the ORIGINAL
    // parquet (doc_id % 97 picks the corrupted lines).
    Gate("b03_jsonl_ingest", (s, d) => {
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
    },
      """SELECT CASE WHEN doc_id % 97 = 0 THEN '__corrupt' ELSE lang END AS lang,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n_chars END), 0) AS BIGINT) AS chars,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 THEN NULL ELSE length(text) END), 0) AS BIGINT) AS text_chars
        |FROM documents GROUP BY 1""".stripMargin),

    // Manifest-pruned read: lineitem z-ordered on (partkey, suppkey) and
    // manifested; a partkey range then reads only the files whose span
    // intersects — planning-time file skipping with no table format. The
    // residual predicate re-applies on the scan, so pruning can only skip
    // work, never change the result: the gate is the unpruned oracle.
    Gate("b06_manifest_pruned", (s, d) => {
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
    },
      // Pruning may only skip files, never rows: the oracle is the plain
      // range filter over the original table. The range mirrors the gate:
      // [min_pk, min_pk + (max_pk - min_pk)/8].
      """WITH mm AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem, mm
        |WHERE l_partkey >= mm.mnp AND l_partkey <= mm.mnp + (mm.mxp - mm.mnp) // 8
        |GROUP BY 1""".stripMargin),

    // BLOOM POINT LOOKUP (b14 — the skipping min/max cannot do): the
    // table writes HASH-placed on the lookup key, so every file's
    // [min, max] spans the whole key domain and range skipping keeps ALL
    // files — the per-file bloom sidecar is the only thing that prunes a
    // tombstone-check / dedup-key-probe shaped equality lookup. The
    // pruned read must equal the plain filter (blooms have no false
    // negatives; the predicate re-applies on the scan) — the specs pin
    // the files-opened metric, the oracle pins exactness.
    Gate("b14_bloom_point_lookup", (s, d) => {
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
    },
      // Bloom point lookup: pruning may only SKIP files, never change
      // rows — the oracle is the plain equality filter on the source.
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey = (SELECT min(o_custkey) FROM orders)""".stripMargin),

    // BATCHED BLOOM LOOKUP (b14b — the form that scales): a single point
    // probe pays one full manifest scan (the bitsets ARE the manifest
    // bytes at 10^5 files), so real tombstone-check / dedup-key batches
    // probe MANY driver-known keys in one pass — per-file verdict = an
    // `exists` over the key array, bitset read in place, file union
    // opened once with the IN predicate re-applied. Exactness contract
    // identical to b14: pruning may only skip files.
    Gate("b14b_bloom_batch_lookup", (s, d) => {
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
    },
      // Batched lookup: same skip-only contract over the 5 smallest
      // custkeys — the oracle is the plain IN filter on the source.
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 5)""".stripMargin),

    // CSV round trip with explicit schema + header: the interchange
    // format corpora actually arrive in. Quoting/escaping must survive
    // (documents text carries arbitrary punctuation); the reader declares
    // the schema — no inference, the same discipline as the JSONL source.
    Gate("b07_csv_roundtrip", (s, d) => {
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
    },
      // The CSV round trip must agree with the ORIGINAL table — text length
      // totals catch any quoting/escaping loss.
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(length(text)) AS BIGINT) AS text_chars
        |FROM documents GROUP BY 1""".stripMargin),

    // ORC round trip: the second columnar format Spark ships a native
    // vectorized reader for — a corpus archived as ORC must re-enter the
    // pipeline losslessly. The aggregate runs over the READ-BACK ORC and
    // must equal the oracle over the original parquet (schema, values,
    // and NULL-handling all survive the format hop).
    Gate("b05_orc_roundtrip", (s, d) => {
      val base = s.conf.get("spark.sql.warehouse.dir")
      val path = s"$base/b05_orders_orc"
      tbl(s, d, "orders").write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("price_cents"),
          countDistinct("o_custkey").as("custs"))
    },
      // The ORC round trip must agree with the ORIGINAL table.
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs
        |FROM orders GROUP BY 1""".stripMargin),

    // Z-order clustered layout: lineitem rewritten as 8 files range-
    // partitioned AND sorted by the Morton interleave of the scaled
    // (l_partkey, l_suppkey) pair. The gate re-derives the z-value from
    // the READ-BACK files and aggregates per coarse z-cell — content
    // loss, mis-scaling, or any interleave drift breaks the hash. The
    // clustering-quality property (tight per-file natural-column spans)
    // needs file identity, so it is pinned in the sources spec instead.
    Gate("b04_zorder_roundtrip", (s, d) => {
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
    },
      // Generated from the SAME per-bit interleave formula as the plan
      // (ZOrderedTables.zValueSql) — the z-cell aggregate over the original
      // table; the Spark side computes it over the read-back layout.
      {
      val z = graft.sources.ZOrderedTables.zValueSql(
        Seq(("l_partkey", "mm.mnp", "mm.mxp"),
          ("l_suppkey", "mm.mns", "mm.mxs")), 8)
      s"""WITH mm AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
         |  min(l_suppkey) AS mns, max(l_suppkey) AS mxs FROM lineitem)
         |SELECT ($z) >> 10 AS zcell, count(*) AS cnt,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM lineitem, mm GROUP BY 1""".stripMargin
    }),

    // Bucketed sink -> source round trip: degrees computed from the
    // RELOADED graph, whose scan carries the bucket layout (no exchange).
    Gate("b01_bucketed_degrees", (s, d) => {
      val n = org.apache.spark.sql.graft.checkpointing.shufflePartitions(s)
      graft.sources.BucketedTables.saveGraph(
        GraphFrame.fromEdges(partSuppEdges(s, d)), "b01_graph", n)
      graft.sources.BucketedTables.loadGraph(s, "b01_graph").outDegrees
    },
      "SELECT 1000000 + l_partkey AS id, count(*) AS out_degree FROM lineitem GROUP BY 1")
  )
}
