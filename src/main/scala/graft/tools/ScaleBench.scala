package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.GraphFrame

/** Distributed-path scale probe: WCC and k-core on a seeded synthetic
  * random graph (xxhash64-derived endpoints, Erdos-Renyi-ish), far above
  * the hybrid small-graph threshold — evidence the iterative loops hold
  * when the driver fallback cannot apply. Usage:
  * `runMain graft.tools.ScaleBench [nVertices] [nEdges] [algo]`.
  */
object ScaleBench {

  /** Seeded synthetic float vectors shared by the vector probes (kmeans
    * keeps its unquantized variant): `vec[i] = hash(id, i)/1e6 - 0.5` —
    * deterministic, so probe results are reproducible across runs/hosts.
    */
  def syntheticVectors(spark: SparkSession, n: Long,
      dim: Int): org.apache.spark.sql.DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(col("id"), i), lit(1000000L)).cast("double")
          / lit(1000000.0) - lit(0.5)).cast("float")).as("embedding"))

  /** Seeded synthetic edge set shared by the CLI probes and the recorded
    * scale gate ([[graft.algorithms.ScaleRecordSpec]]): uniform
    * Erdos-Renyi-ish xxhash64 endpoints; `skew` draws the dst from a
    * power-law-ish transform (u^4 concentrates mass near 0, so low-id
    * vertices become hubs — top degree ≈ m·n^(-1/4), ~370 k at the 16.8 M
    * default): the adversarial shape for per-vertex aggregation state and
    * wedge enumeration. Fully deterministic — the pinned component counts
    * in SCALE_RECORD.md are a property of (n, m) alone.
    */
  def syntheticEdges(spark: SparkSession, n: Long, m: Long,
      skew: Boolean): org.apache.spark.sql.DataFrame = {
    val u = pmod(xxhash64(col("id"), lit(2)), lit(1000000L)).cast("double") /
      lit(1000000.0)
    val dstCol =
      if (skew) (pow(u, 4.0) * n).cast("long")
      else pmod(xxhash64(col("id"), lit(2)), lit(n))
    spark.range(m).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
      dstCol.as("dst"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1L << 22)  // 4.2M vertices
    val m = args.lift(1).map(_.toLong).getOrElse(1L << 24)  // 16.8M edges
    val algo = args.lift(2).getOrElse("wcc")
    val threshold = args.lift(3).map(_.toLong).getOrElse(0L) // 0 = force distributed
    val spark = graft.SparkDefaults(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64"))
      .config("spark.ui.enabled", "false")
      // Probes that persist tables (ivfpq-durable) must not litter the
      // launch directory with a spark-warehouse/.
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-scalebench-warehouse-" +
          ProcessHandle.current().pid())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val skew = algo.endsWith("-skew")
    val edges = syntheticEdges(spark, n, m, skew)
    val vertices = spark.range(n).select(col("id"))
    val g = GraphFrame(vertices, edges)

    val t0 = System.nanoTime()
    algo match {
      case "wcc" =>
        val r = g.connectedComponents.smallGraphThreshold(threshold).run()
        val comps = r.components.select(countDistinct("component")).head.getLong(0)
        println(f"SCALE-OK wcc n=$n m=$m thr=$threshold iters=${r.iterations} components=$comps sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "kcore" | "kcore-skew" =>
        val r = g.kCore.smallGraphThreshold(0).run()
        val maxCore = r.vertices.select(max("kcore")).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m iters=${r.iterations} maxCore=$maxCore sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "pagerank" =>
        val r = g.pageRank.maxIterations(10).run()
        val cnt = r.ranks.count()
        println(f"SCALE-OK pagerank n=$n m=$m iters=${r.iterations} rows=$cnt sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "pregel-bidi" =>
        // Both-direction message scale probe: the one-generate message path
        // (no shipped algorithm is bidirectional; g16 HITS has its own
        // direction-alternating loop and never touches Pregel). 4 rounds
        // of neighbor-count diffusion both ways; the checksum pins the
        // result.
        import graft.pregel.{MessageDirection, Pregel}
        val r = g.pregel
          .maxIterations(4)
          .addVertexColumn("value", lit(1L),
            col("value") + coalesce(Pregel.msg("m"), lit(0L)))
          .addNamedMessage("m", Pregel.src("value"), MessageDirection.Bidirectional)
          .addNamedAggregateExpr("m", org.apache.spark.sql.functions.sum(Pregel.msg("m")))
          .skipDestState()
          .run()
        val checksum = r.vertices.select(sum(col("value"))).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m iters=${r.iterations} checksum=$checksum sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "hits" =>
        // HITS at probe scale — the record the g16 gate class lacked (the
        // r14 commit misattributed a Pregel change to it; this pins what
        // the direction-alternating two-join loop actually costs). 2
        // integer-exact iterations; checksum pins the path counts.
        val r = g.hits.iterations(2).run()
        val cs = r.select(sum(col("auth") + col("hub"))).head.getLong(0)
        println(f"SCALE-OK hits n=$n m=$m iters=2 checksum=$cs sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "katz" | "katz-skew" =>
        // Katz at probe scale: 3 integer-lattice rounds of the one-join
        // aggregateMessages loop (half the per-round join count of hits).
        // aDen=4 keeps the skewed hub's geometric growth inside Long at
        // 16.8 M edges. Checksum pins the exact lattice masses.
        val r = g.katz.iterations(3).alphaDenominator(4).run()
        val cs = r.select(sum(col("katz"))).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m iters=3 checksum=$cs " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "lpa" | "lpa-skew" =>
        // 4 synchronous rounds, forced distributed. The -skew variant's
        // ~370 k-degree hub is the label_mode aggregate's stress shape:
        // the hub's per-round aggregation state is its distinct
        // neighbour-label count (collapsing fast after round 1), never
        // its degree — collect_list would ship 370 k labels per round.
        val r = g.labelPropagation.maxIterations(4).smallGraphThreshold(0).run()
        val nLabels = r.vertices.select(countDistinct("label")).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m iters=${r.iterations} labels=$nLabels sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "wsssp" =>
        // Weighted SSSP from vertex 0: xxhash-derived integer weights in
        // [1, 1000]. BFS-like round count (small-world ER graph), but each
        // round carries the edge weight column through the message join —
        // the probe shows the extra column costs shuffle width, not rounds.
        val wEdges = edges.withColumn("weight",
          (pmod(xxhash64(col("src"), col("dst")), lit(1000L)) + 1L))
        val wg = GraphFrame(vertices, wEdges)
        val r = wg.weightedShortestPaths(Seq(0L)).smallGraphThreshold(0).run()
        val reached = r.vertices.filter(col("dist_0") < Long.MaxValue).count()
        println(f"SCALE-OK wsssp n=$n m=$m iters=${r.iterations} reached=$reached sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "wpagerank" =>
        val wEdges = edges.withColumn("weight",
          (pmod(xxhash64(col("src"), col("dst")), lit(1000L)) + 1L))
        val r = GraphFrame(vertices, wEdges).pageRank.maxIterations(10)
          .weighted("weight").run()
        val cnt = r.ranks.count()
        println(f"SCALE-OK wpagerank n=$n m=$m iters=${r.iterations} rows=$cnt sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "mis" =>
        val r = g.maximalIndependentSet.smallGraphThreshold(0).run()
        val size = r.vertices.count()
        println(f"SCALE-OK mis n=$n m=$m iters=${r.iterations} size=$size sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "triangles" | "triangles-skew" =>
        val t = g.triangleCount.run()
        val total = t.agg(sum("triangles")).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m total=$total sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "tri-inc" | "tri-inc-skew" =>
        // Incremental triangle counts (g35) at record scale — the
        // wcc-inc discipline: yesterday = full run over the base,
        // today = the 1/frac hash-selected delta (frac = 4th arg,
        // default 16; a realistic daily delta is 1/256+). Claims
        // anchored: (a) the compose prices like delta-fanout joins +
        // adjacency scans — no O(m^1.5) wedge re-enumeration; (b) the
        // composed counts are bit-identical to the full recompute
        // (exact frame equality, both directions).
        val frac = if (threshold > 0) threshold else 16L
        val isDelta = pmod(col("src") + col("dst"), lit(frac)) === 0L
        val tf0 = System.nanoTime()
        val full = g.triangleCount.run().localCheckpoint(true)
        val fullSec = (System.nanoTime() - tf0) / 1e9
        val total = full.agg(sum("triangles")).head.getLong(0)
        val base = edges.filter(!isDelta)
        val tb0 = System.nanoTime()
        val prev = GraphFrame(vertices, base).triangleCount.run()
          .localCheckpoint(true)
        val baseSec = (System.nanoTime() - tb0) / 1e9
        val ti0 = System.nanoTime()
        val inc = graft.algorithms.TriangleCount.incremental(
          prev, base, edges.filter(isDelta)).localCheckpoint(true)
        val incSec = (System.nanoTime() - ti0) / 1e9
        // WARM shape — the daily cadence: the symmetrized adjacency is
        // already materialized (a persisted saveGraph table in the real
        // pipeline; eager checkpoint here), so the compose pays only
        // the delta-fanout joins + the degree pass, no base re-dedup.
        val symWarm = graft.graph.GraphFrame
          .symmetrizeEdges(base, doDistinct = true).localCheckpoint(true)
        val tw0 = System.nanoTime()
        val incWarm = graft.algorithms.TriangleCount.incremental(
          prev, base, edges.filter(isDelta), Some(symWarm))
          .localCheckpoint(true)
        val warmSec = (System.nanoTime() - tw0) / 1e9
        val d1 = inc.exceptAll(full).count()
        val d2 = full.exceptAll(inc).count()
        require(d1 == 0L && d2 == 0L,
          s"incremental counts diverge from full: $d1/$d2 rows")
        require(incWarm.exceptAll(full).count() == 0L &&
          full.exceptAll(incWarm).count() == 0L,
          "warm-adjacency compose diverges from full")
        println(f"SCALE-OK $algo n=$n m=$m frac=$frac total=$total " +
          f"full=$fullSec%.1f base=$baseSec%.1f " +
          f"incCompose=$incSec%.1f incComposeWarm=$warmSec%.1f")
      case "asof-serve" =>
        // st29 anchor (the r18-verdict gap: the streaming as-of trio's
        // headline claim — the per-batch key semi-prune keeps cost
        // |batch|-bounded against a large feature table — was
        // design-argued but unmeasured). n = feature keys, m = feature
        // rows (m/n history rows per key), table bucketed by key like
        // the production layout. Arms:
        //   narrow  = 1k-event batch over random keys (the serving
        //             geometry the prune exists for)
        //   broad   = one event per key (the adverse geometry: the
        //             prune's semi-join keeps ~everything)
        // each pruned vs full-table, steady (2nd) run reported; plus
        // the streaming foreachBatch machinery itself on 3 narrow
        // micro-batches (per-batch seconds, semi-prune included).
        import graft.sources.BucketedTables
        val hist = math.max(1L, m / n)
        val feats = spark.range(m).selectExpr(
          s"id % ${n}L AS user_id", s"(id div ${n}L) * 10L AS t",
          "id AS feat")
        BucketedTables.writeBucketed(feats, "sb_asof_features", 32,
          Seq("user_id"))
        val table = spark.table("sb_asof_features")
        table.queryExecution.toRdd.count() // warm footers/codegen
        def mkBatch(sz: Long): org.apache.spark.sql.DataFrame =
          spark.range(sz).select(
            col("id").as("event_id"),
            pmod(xxhash64(col("id"), lit(7)), lit(n)).as("user_id"),
            pmod(xxhash64(col("id"), lit(8)), lit(hist * 10L)).as("t"))
            .localCheckpoint(true)
        val narrow = mkBatch(1024L)
        val broad = mkBatch(n)
        def arm(b: org.apache.spark.sql.DataFrame, pruned: Boolean): Double =
          (1 to 2).map { _ =>
            val build =
              if (pruned) table.join(b.select("user_id").distinct(),
                Seq("user_id"), "left_semi")
              else table
            val ta = System.nanoTime()
            graft.operators.AsOfJoin.lastAtOrBefore(b, build,
              "user_id", "t", Seq("event_id", "user_id", "t"), Seq("feat"))
              .queryExecution.toRdd.count()
            (System.nanoTime() - ta) / 1e9
          }.last
        val np = arm(narrow, pruned = true)
        val nf = arm(narrow, pruned = false)
        val bp = arm(broad, pruned = true)
        val bf = arm(broad, pruned = false)
        // Streaming arm: the actual st29 path (cloned session, per-batch
        // refreshTable, semi-prune, carry) on 3 narrow batches.
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Long)]
        var rows = 0L
        val writer = graft.streaming.Streams.streamingAsOfEnrich(
          input.toDF().toDF("event_id", "user_id", "t"),
          "sb_asof_features", keyCol = "user_id", timeCol = "t",
          probeCols = Seq("event_id", "user_id", "t"),
          buildCols = Seq("feat")) { (res, _) =>
          rows += res.queryExecution.toRdd.count()
        }
        val q = writer.start()
        val batchSecs = try {
          (1 to 3).map { i =>
            val rowsB = narrow.select(col("event_id") + lit(i * 1000000L),
              col("user_id"), col("t"))
              .as[(Long, Long, Long)].collect().toSeq
            val tb = System.nanoTime()
            input.addData(rowsB: _*)
            q.processAllAvailable()
            (System.nanoTime() - tb) / 1e9
          }
        } finally q.stop()
        println(f"SCALE-OK asof-serve n=$n m=$m hist=$hist rows=$rows " +
          f"narrowPruned=$np%.1f narrowFull=$nf%.1f " +
          f"broadPruned=$bp%.1f broadFull=$bf%.1f " +
          f"streamBatchSecs=${batchSecs.map(s => f"$s%.1f").mkString(",")}")

      case "ktruss" | "ktruss-skew" =>
        // 3-round capped peel, full re-enumeration arm (the round-9
        // formulation; kept so this row stays comparable across rounds):
        // each round is a full degree-oriented triangle enumeration on
        // the survivors.
        val r = graft.algorithms.KTruss.runReenumerate(edges, k = 4, maxRounds = 3)
        println(f"SCALE-OK $algo n=$n m=$m edges=${r.count()} sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "ktruss-inc" | "ktruss-inc-skew" =>
        // Same 3-round cap on the incremental-support arm: one seed
        // enumeration, then rounds only touch the removal frontier.
        val r = graft.algorithms.KTruss.run(edges, k = 4, maxRounds = 3)
        println(f"SCALE-OK $algo n=$n m=$m edges=${r.count()} sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "ktruss-deep" | "ktruss-deep-skew" =>
        // DEEP fixpoint peel (k=4 to convergence): the shape where
        // re-enumeration pays O(m^1.5) once per cascade round.
        val r = graft.algorithms.KTruss.runReenumerate(edges, k = 4, maxRounds = 1000)
        println(f"SCALE-OK $algo n=$n m=$m edges=${r.count()} sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "ktruss-inc-deep" | "ktruss-inc-deep-skew" =>
        val r = graft.algorithms.KTruss.run(edges, k = 4, maxRounds = 1000)
        println(f"SCALE-OK $algo n=$n m=$m edges=${r.count()} sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "kmeans" =>
        // n synthetic 64-dim points (xxhash-derived uniform components in
        // [-0.5, 0.5]), k=64, 3 Lloyd iterations: each round is one
        // literal-centroid codegen projection (64 dots/row) plus a k x dim
        // long shuffle — the probe shows assignment scan throughput, not
        // shuffle, is the scaling axis.
        val dim = 64
        val iters = args.lift(3).map(_.toInt).getOrElse(3) // 4th arg = Lloyd iterations here
        val pts = spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => pmod(xxhash64(col("id"), i), lit(1000000L)).cast("double") / lit(1000000.0) - lit(0.5)).as("v"))
        val cents = graft.operators.KMeans.fitCentroids(pts, "id", "v", k = 64, nIter = iters)
        println(f"SCALE-OK kmeans n=$n dim=$dim k=64 iters=$iters cells=${cents.length} sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "semdedup" =>
        // SemDeDup at its documented operating point (k growing with n):
        // probes whether the literal-centroid codegen assignment survives
        // k in the hundreds (when-chain size) and what the within-cell
        // pair stage costs. 4th arg = k.
        val dim = 64
        val kk = args.lift(3).map(_.toInt).getOrElse(256)
        val pts = syntheticVectors(spark, n, dim)
        val out = graft.operators.Dedup.semanticDedup(
          pts, "vec_id", "embedding", k = kk, threshold = 0.95)
        val dropped = out.filter(!col("keep")).count()
        println(f"SCALE-OK semdedup n=$n k=$kk dropped=$dropped " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "pq" =>
        // PQ at corpus scale: encode n 64-dim vectors (m=8 x kCent=16
        // codebook folded into one codegen projection — the per-row cost
        // is kCent*dim multiplies, same as scalar k-means assignment),
        // then ADC+exact-rerank search for 16 queries. Probes that the
        // code scan, the broadcast distance tables, and the candidate-
        // sized rerank hold when the corpus is millions of vectors.
        val dim = 64
        val pts = syntheticVectors(spark, n, dim)
        // max(1, ...): a tiny smoke n must not divide by zero (ANSI mod)
        // or turn every vector into a query.
        val stride = math.max(1L, n / 16)
        val (codes, nCodes) = org.apache.spark.sql.graft.checkpointing
          .localCheckpointCounted(graft.operators.Similarity.pqCodes(
            pts, "vec_id", "embedding", m = 8, kCent = 16))
        val tEnc = (System.nanoTime() - t0) / 1e9
        // The encoded table is PASSED to the search (codesOf) so the
        // search figure measures query cost, not a hidden re-encode.
        val t1 = System.nanoTime()
        val hits = graft.operators.Similarity.pqTopKReranked(
          pts, pts.filter(col("vec_id") % stride === 0),
          "vec_id", "embedding", k = 10, m = 8, kCent = 16, shortlist = 100,
          codesOf = Some(codes))
          .count()
        val tSearch = (System.nanoTime() - t1) / 1e9
        println(f"SCALE-OK pq n=$n dim=$dim codes=$nCodes encode=$tEnc%.1f " +
          f"search16q=$tSearch%.1f sec")

      case "ivf" =>
        // IVF-FLAT at corpus scale (the pq probe's coarse-quantization
        // sibling): assign n 64-dim vectors to 64 cells via the codegen
        // two-stage argmax, probe 8 cells per query — exercises the
        // corpus-side assignment path that previously ran the interpreted
        // array_sort comparator per vector.
        val dim = 64
        val pts = syntheticVectors(spark, n, dim)
        val hits = graft.operators.Similarity.ivfCosineTopK(
          pts, pts.filter(col("vec_id") % math.max(1L, n / 16) === 0),
          "vec_id", "embedding", k = 10, nCells = 64, nProbe = 8)
          .count()
        println(f"SCALE-OK ivf n=$n dim=$dim hits=$hits " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "ivfpq" =>
        // IVF-PQ at corpus scale — the composed index's cost story next
        // to the flat `pq` and `ivf` probes: encode n 64-dim vectors into
        // (cell, residual codes) in one scan (coarse argmin + CASE-chain
        // residual + PQ argmin, all codegen), then search 16 queries
        // probing 8 of 64 cells with m=8 x 16 residual ADC tables. The
        // cell equi-join means only ~nProbe/nCells of the code table is
        // scored per query — the pruning `pq` alone cannot do.
        val dim = 64
        val pts = syntheticVectors(spark, n, dim)
        val hits = graft.operators.Similarity.ivfPqTopK(
          pts, pts.filter(col("vec_id") % math.max(1L, n / 16) === 0),
          "vec_id", "embedding", k = 10, nCells = 64, nProbe = 8,
          m = 8, kCent = 16)
          .count()
        println(f"SCALE-OK ivfpq n=$n dim=$dim cells=64 probe=8 m=8 " +
          f"hits=$hits sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "pii" =>
        // t19 scrub-rate anchor: 3-regex count + sequential redaction
        // over n synthetic docs (~220 chars each, PII planted at the
        // t19 rates). Map-only — the number is regex throughput per
        // core, the capacity-plan unit for scan-bound scrub passes.
        import graft.text.TextFunctions
        val docs = spark.range(n).select(col("id").as("doc_id"),
          concat(lit("the quick brown fox jumps over the lazy dog and " * 4),
            when(col("id") % 3 === 0, concat(lit(" u"), col("id").cast("string"),
              lit("@ex.com"))).otherwise(lit("")),
            when(col("id") % 4 === 0, concat(lit(" 10.1."),
              (col("id") % 256).cast("string"), lit(".9"))).otherwise(lit("")),
            when(col("id") % 5 === 0, lit(" +1-555-1234")).otherwise(lit("")))
            .as("text"))
        val out = docs.select(TextFunctions.piiCounts(col("text")).as("c"),
          length(TextFunctions.piiRedact(col("text"))).as("l"))
        val r = out.agg(sum(col("c.emails")), sum(col("c.ips")),
          sum(col("c.phones")), sum(col("l"))).head
        require(r.getLong(0) == (n + 2) / 3 && r.getLong(1) == (n + 3) / 4 &&
          r.getLong(2) == (n + 4) / 5,
          s"pins: ${r.getLong(0)}/${r.getLong(1)}/${r.getLong(2)} for n=$n")
        println(f"SCALE-OK pii n=$n emails=${r.getLong(0)} ips=${r.getLong(1)} " +
          f"phones=${r.getLong(2)} sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "st-kmv" =>
        // st25's monotone bottom-k candidate state at corpus scale:
        // 4.2 M keys over 4 slices drain in REAL micro-batches (8
        // files, maxFilesPerTrigger=1 — per-slice bottom-64 state
        // carried across ~8 commits). Pins: the finalized set estimates
        // EQUAL the batch kmvSketchBy/kmvSetEstimates row (the
        // order-free claim at scale), and emission follows the
        // RECORD-COUNT law — under hash-shuffled arrival the i-th row
        // enters the bottom-k with probability ~k/i, so a slice of m
        // rows emits ~k·ln(m/k) candidates (~620 here, measured 2726
        // total over 4 slices), not O(m): the claim that distinguishes
        // monotone state from "emit everything, dedup later". The pin
        // allows 2x over the expectation.
        val dirK = java.nio.file.Files
          .createTempDirectory("graft-stkmv").toString
        val rowsK = spark.range(n).select(
          pmod(xxhash64(col("id"), lit(9)), lit(4L)).cast("string").as("slice"),
          col("id").as("key"))
        (1 to 8).foreach { b =>
          rowsK.filter(pmod(xxhash64(col("key"), lit(11)), lit(8L)) === (b - 1))
            .coalesce(1).write.mode("append").parquet(s"$dirK/in")
          Thread.sleep(1100)
        }
        val schemaK = spark.read.parquet(s"$dirK/in").schema
        val streamK = spark.readStream.schema(schemaK)
          .option("maxFilesPerTrigger", "1").parquet(s"$dirK/in")
        val qK = graft.streaming.Streams
          .streamingKmvCandidates(streamK, "slice", "key", 64).toDF()
          .writeStream.format("memory").queryName("stkmv")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        qK.awaitTermination()
        val nBatchesK = qK.recentProgress.count(_.numInputRows > 0)
        require(nBatchesK >= 2, s"need real micro-batches, got $nBatchesK")
        val emitted = spark.table("stkmv").count()
        // Expectation = the k initial fills per slice PLUS the
        // record-count tail k·ln(m/k); the max(1, ...) keeps the log
        // term sane when a small CLI n puts m below k.
        val expectEmit = (4.0 * 64.0 *
          (1.0 + math.log(math.max(1.0, n / 4.0 / 64.0)))).toLong
        require(emitted <= 2L * expectEmit,
          s"emission $emitted exceeds 2x the ~$expectEmit record-count law")
        val streamedEst = graft.operators.Sketches.kmvSetEstimates(
          spark.table("stkmv").select(col("slice"), col("h")), "0", "1", 64)
          .collect().map(_.toString).toSeq
        val batchEst = graft.operators.Sketches.kmvSetEstimates(
          graft.operators.Sketches.kmvSketchBy(rowsK, "slice", "key", 64),
          "0", "1", 64).collect().map(_.toString).toSeq
        require(streamedEst == batchEst, "stream vs batch estimates differ")
        println(f"SCALE-OK st-kmv n=$n slices=4 batches=$nBatchesK " +
          f"emitted=$emitted sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "st-seqpack" =>
        // The STREAMING state path at corpus scale — the st-family's
        // 100 TB story previously rested on gate-scale runs + the
        // config matrix: 4.2 M docs drain through
        // streamingSequenceOffsets in REAL micro-batches (8 source
        // files, maxFilesPerTrigger=1, so per-shard running totals must
        // carry across ~8 state commits), then packCoords finalizes and
        // the coordinates must EQUAL batch packSequences row-for-row
        // (zero symmetric difference), plus the seqpack token-
        // conservation pin.
        // Delivery honors the operator's documented contract: across
        // micro-batches each SHARD's rows arrive in (hash, key) order.
        // ntile(8) over the per-shard hash order assigns every shard a
        // slice of EVERY batch (the strong continuation shape: 32
        // running totals each carried across all 8 commits); files are
        // written sequentially with distinct mtimes so the source
        // (latestFirst=false) replays them in slice order.
        val dir = java.nio.file.Files
          .createTempDirectory("graft-stseq").toString
        val toks = spark.range(n).select(col("id").as("doc_id"),
          (pmod(xxhash64(col("id")), lit(2048L)) + 1L).as("n_toks"))
        val shardW = graft.operators.Sampling.shardWidth(32)
        val wsh = org.apache.spark.sql.expressions.Window
          .partitionBy(expr(s"__h div ${shardW}L"))
          .orderBy(col("__h"), col("doc_id"))
        val sliced = toks
          .withColumn("__h", graft.operators.Sampling.keyHash60(col("doc_id")))
          .withColumn("__f", ntile(8).over(wsh))
          .drop("__h")
        (1 to 8).foreach { k =>
          sliced.filter(col("__f") === k).drop("__f")
            .coalesce(1).write.mode("append").parquet(s"$dir/in")
          Thread.sleep(1100) // distinct mtimes -> deterministic replay order
        }
        val schema = spark.read.parquet(s"$dir/in").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
        val q = graft.streaming.Streams
          .streamingSequenceOffsets(stream, "doc_id", "n_toks").toDF()
          .writeStream.format("memory").queryName("stseq")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        val streamed = graft.operators.Sampling.packCoords(
          spark.table("stseq"), "doc_id", seqLen = 2048L)
        val batch = graft.operators.Sampling.packSequences(
          toks, "doc_id", "n_toks", seqLen = 2048L)
        val diff = streamed.unionAll(batch)
          .groupBy("doc_id", "shard", "seq_id", "seq_off", "n_seqs")
          .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
        require(diff == 0L, s"stream vs batch coordinates differ on $diff rows")
        require(nBatches >= 2,
          s"probe needs real micro-batches, got $nBatches")
        val totalToks = toks.agg(sum(col("n_toks"))).head.getLong(0)
        val maxEnd = streamed.agg(max(col("seq_id") + col("n_seqs") - 1L))
          .head.getLong(0)
        require(maxEnd == (totalToks - 1) / 2048L, "token conservation broke")
        println(f"SCALE-OK st-seqpack n=$n batches=$nBatches toks=$totalToks " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "st-firstseen" =>
        // The ORDER-FREE streaming state design at corpus scale — the
        // st-seqpack contrast: streamingFirstSeen's per-key (min, count)
        // folds are commutative+associative, so an ARBITRARY 8-way file
        // split with NO delivery ordering (no mtime spacing, hash-random
        // row placement — exactly the split that diverges st-seqpack on
        // every row) must still finalize to the batch aggregate exactly.
        val dir = java.nio.file.Files
          .createTempDirectory("graft-stfs").toString
        val keys = math.max(1L, n / 8)
        val rows = spark.range(n).select(col("id").as("doc_id"),
          pmod(xxhash64(col("id"), lit(31)), lit(keys))
            .cast("string").as("canon"))
        rows.withColumn("__f", pmod(xxhash64(col("doc_id"), lit(32)), lit(8)))
          .repartition(8, col("__f")).drop("__f")
          .write.mode("overwrite").parquet(s"$dir/in")
        val schema = spark.read.parquet(s"$dir/in").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
        val q = graft.streaming.Streams
          .streamingFirstSeen(stream, "doc_id", "canon").toDF()
          .writeStream.format("memory").queryName("stfs")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        val streamed = spark.table("stfs").groupBy("key")
          .agg(min("min_id").as("keep_id"), max("cnt").as("n_dups"))
        val batch = rows.groupBy(col("canon").as("key"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        val diff = streamed.unionAll(batch)
          .groupBy("key", "keep_id", "n_dups")
          .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
        require(diff == 0L, s"stream vs batch first-seen differ on $diff keys")
        require(nBatches >= 2,
          s"probe needs real micro-batches, got $nBatches")
        println(f"SCALE-OK st-firstseen n=$n keys=$keys batches=$nBatches " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "st-restart" =>
        // Exactly-once resume at corpus scale (st22): first-seen over n
        // docs and n/8 keys as TWO jobs sharing a durable checkpoint —
        // job 1 drains 4 of the 8 files and stops, the rest "arrive",
        // job 2 resumes from the checkpoint: committed files must be
        // skipped (source exactly-once) and ~n/8 keys of per-key state
        // restored from the state store before the first new batch.
        // Finalize over the durable sink must equal batch exactly —
        // lost state undercounts cnt on the ~100% of keys that recur
        // across the restart boundary.
        val dir = java.nio.file.Files
          .createTempDirectory("graft-strs").toString
        val keys = math.max(1L, n / 8)
        val rows = spark.range(n).select(col("id").as("doc_id"),
          pmod(xxhash64(col("id"), lit(31)), lit(keys))
            .cast("string").as("canon"))
        rows.withColumn("__f", pmod(xxhash64(col("doc_id"), lit(32)), lit(8)))
          .repartition(8, col("__f")).drop("__f")
          .write.mode("overwrite").parquet(s"$dir/in")
        // 8 hash values land in <= 8 partitions (hash collisions legal);
        // hold the back HALF of whatever files exist until job 1 stops.
        val parts = new java.io.File(s"$dir/in").listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        require(parts.length >= 2, s"need >= 2 part files, got ${parts.length}")
        val held = parts.drop(parts.length / 2)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$dir/pending"))
        held.foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/pending/${f.getName}"))
        }
        val schema = spark.read.parquet(s"$dir/in").schema
        def job(): Double = {
          val t = System.nanoTime()
          val q = graft.streaming.Streams.streamingFirstSeen(
              spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
              "doc_id", "canon").toDF()
            .writeStream.format("parquet").option("path", s"$dir/out")
            .option("checkpointLocation", s"$dir/ckpt").outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (System.nanoTime() - t) / 1e9
        }
        val job1Sec = job()
        held.foreach { f =>
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"$dir/pending/${f.getName}"), f.toPath)
        }
        val job2Sec = job()
        val streamed = spark.read.parquet(s"$dir/out").groupBy("key")
          .agg(min("min_id").as("keep_id"), max("cnt").as("n_dups"))
        val batch = rows.groupBy(col("canon").as("key"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        val diff = streamed.unionAll(batch).groupBy("key", "keep_id", "n_dups")
          .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
        require(diff == 0L, s"restart resume diverged from batch on $diff keys")
        println(f"SCALE-OK st-restart n=$n keys=$keys job1=$job1Sec%.1f " +
          f"job2=$job2Sec%.1f sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "st-firstseen-ttl" =>
        // st21 at corpus scale: n docs over n/256 keys (key = id mod K,
        // so each key recurs ~every K seconds on the sec = id + 1000
        // lattice), 8 event-time-ordered micro-batches, ttl 3600 s.
        // Batch spans (n/8 s) dwarf the ttl, so chains fold ~256
        // occurrences within a batch and split at (almost) every batch
        // boundary — heavy eviction traffic. PINS: (a) emissions equal
        // the deterministic chain replay (the st21 oracle formula run in
        // Spark) row-for-row; (b) final state cardinality ~= the keys
        // active in the last ttl window (~3600), NOT the all-time key
        // count (~16 k at n=2^22) — the bounded-state claim measured.
        val keys = math.max(1L, n / 256)
        val ttl = 3600L
        val rows = spark.range(n).select(col("id").as("doc_id"),
          pmod(col("id"), lit(keys)).cast("string").as("k"),
          timestamp_seconds(col("id") + 1000L).as("ts"))
        val dirT = graft.sources.FileStaging.stageMtimeFiles(
          rows, "graft-stttl", nFiles = 8)
        val schemaT = spark.read.parquet(s"$dirT/in").schema
        val streamT = spark.readStream.schema(schemaT)
          .option("maxFilesPerTrigger", "1").parquet(s"$dirT/in")
        val q = graft.streaming.Streams
          .streamingFirstSeenTtl(streamT, "doc_id", "k", "ts",
            ttlSec = ttl, lateness = "5 seconds").toDF()
          .writeStream.format("memory").queryName("stttl")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val tStream = (System.nanoTime() - t0) / 1e9
        val streamed = spark.table("stttl")
        val nChains = streamed.count()
        // Deterministic replay of the chain rule (the st21 oracle formula
        // as Spark SQL): batch, per-batch running-max watermark, split on
        // wm > prev + ttl, closed on final wm > last + ttl.
        val t1 = System.nanoTime()
        // FileStaging's split: contiguous id ranges of maxId/nFiles + 1.
        val bSize = (n - 1) / 8 + 1
        val p = rows.select(col("doc_id"), col("k"),
          (col("doc_id") + 1000L).as("sec"),
          expr(s"doc_id div ${bSize}L").as("b"))
        val wmb = p.groupBy("b").agg(max("sec").as("bmax"))
          .select(col("b"), (max(col("bmax")).over(
            org.apache.spark.sql.expressions.Window.orderBy("b")
              .rowsBetween(Long.MinValue, -1)) - lit(5L)).as("wmb"))
        val wk = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("doc_id")
        val o = p.join(wmb, Seq("b"), "left")
          .withColumn("psec", lag(col("sec"), 1).over(wk))
          .withColumn("pb", lag(col("b"), 1).over(wk))
          .withColumn("nc", when(col("psec").isNull ||
            (col("b") > col("pb") &&
              coalesce(col("wmb"), lit(-1L)) > col("psec") + lit(ttl)),
            1L).otherwise(0L))
          .withColumn("cid", sum(col("nc")).over(
            wk.rowsBetween(Long.MinValue, 0)))
        val finalWm = n - 1L + 1000L - 5L
        val replay = o.groupBy("k", "cid")
          .agg(min("doc_id").as("min_id"), count(lit(1)).as("cnt"),
            max("sec").as("last"))
          .filter(col("last") + lit(ttl) < lit(finalWm))
          .select(col("k").as("key"), col("min_id"), col("cnt"))
        val diff = streamed.select("key", "min_id", "cnt").unionAll(replay)
          .groupBy("key", "min_id", "cnt").agg(count(lit(1)).as("c"))
          .filter(col("c") =!= 2).count()
        val tChk = (System.nanoTime() - t1) / 1e9
        require(diff == 0L, s"stream vs chain replay differ on $diff rows")
        val stateRows = q.recentProgress.flatMap(_.stateOperators)
          .last.numRowsTotal
        require(stateRows < keys / 2,
          s"TTL failed to bound state: $stateRows rows vs $keys keys")
        println(f"SCALE-OK st-firstseen-ttl n=$n keys=$keys chains=$nChains " +
          f"stateRows=$stateRows stream=$tStream%.1f check=$tChk%.1f sec")

      case "sesswin" =>
        // q29's native session_window merge at corpus scale, CROSS-
        // CHECKED against the q18-style lag-replay sessionization —
        // two independent implementations (native merge state vs
        // window-function running sum) must produce the identical
        // session table over 4.2 M events / ~4 k users (~1 k
        // events/user, gap tuned for ~double-digit sessions/user).
        val users = math.max(1L, n / 1024)
        val span = 1L << 40 // ~12.7 days in micros
        val gap = "30 minutes"
        val gapUs = 1800000000L
        val ev = spark.range(n).select(
          pmod(xxhash64(col("id"), lit(21)), lit(users)).as("u"),
          pmod(xxhash64(col("id"), lit(22)), lit(span)).as("us"))
        val native = ev
          .select(col("u"), timestamp_micros(col("us")).as("t"))
          .groupBy(col("u"), session_window(col("t"), gap))
          .agg(count(lit(1)).as("n"))
          .select(col("u"), unix_micros(col("session_window.start")).as("s"),
            unix_micros(col("session_window.end")).as("e"), col("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("u").orderBy("us")
        val replay = ev
          .withColumn("brk", when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) > gapUs, 1L).otherwise(0L))
          .withColumn("sid", sum(col("brk")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
          .groupBy("u", "sid")
          .agg(min(col("us")).as("s"), (max(col("us")) + gapUs).as("e"),
            count(lit(1)).as("n"))
          .select(col("u"), col("s"), col("e"), col("n"))
        val nNative = native.count()
        val tNat = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val diff = native.unionAll(replay)
          .groupBy("u", "s", "e", "n").agg(count(lit(1)).as("c"))
          .filter(col("c") =!= 2).count()
        val tChk = (System.nanoTime() - t1) / 1e9
        require(diff == 0L, s"native vs replay disagree on $diff sessions")
        println(f"SCALE-OK sesswin n=$n users=$users sessions=$nNative " +
          f"native=$tNat%.1f check=$tChk%.1f sec")

      case "trailwin" | "trailwin-naive" =>
        // q28's trailing RANGE frame at corpus scale: n events over 5
        // event types (the gate's real cardinality) on a ~12.7-day micros
        // axis, 1-hour trailing frame. The CHUNKED form must (a) equal
        // the naive global window row-for-row and (b) parallelize beyond
        // 5 tasks — the naive variant exists to measure the 5-task wall
        // it replaces (at n=2^22 the naive plan sorts ~840k rows per
        // task in 5 tasks; at 100x that per-task sort is the job).
        val span = 1L << 40 // micros
        val frameW = 3600000000L // 1 hour in micros
        val ev = spark.range(n).select(col("id").as("event_id"),
          concat(lit("t"), pmod(xxhash64(col("id"), lit(31)), lit(5L))
            .cast("string")).as("et"),
          pmod(xxhash64(col("id"), lit(32)), lit(span)).as("ts"),
          pmod(xxhash64(col("id"), lit(33)), lit(1000L)).as("v"))
        def naiveW = org.apache.spark.sql.expressions.Window
          .partitionBy("et").orderBy("ts").rangeBetween(-frameW, 0)
        if (algo == "trailwin-naive") {
          val c = ev.select(col("event_id"),
              count(lit(1)).over(naiveW).as("n1h"),
              sum(col("v")).over(naiveW).as("s1h"))
            .agg(sum(col("n1h")), sum(col("s1h"))).head()
          println(f"SCALE-OK trailwin-naive n=$n frames=${c.getLong(0)} " +
            f"sec=${(System.nanoTime() - t0) / 1e9}%.1f (5-task wall)")
        } else {
          val chunked = graft.operators.ChunkedWindow.trailingRange(
            ev, "ts", Seq("et"), frameW) { w =>
            Seq(count(lit(1)).over(w).as("n1h"), sum(col("v")).over(w).as("s1h"))
          }
          val c = chunked.agg(sum(col("n1h")), sum(col("s1h"))).head()
          val tChunk = (System.nanoTime() - t0) / 1e9
          // Row-level equality vs the naive window (symmetric-difference
          // count, the sesswin discipline).
          val t1 = System.nanoTime()
          val naive = ev.select(col("event_id"),
            count(lit(1)).over(naiveW).as("n1h"),
            sum(col("v")).over(naiveW).as("s1h"))
          val diff = chunked.select(col("event_id"), col("n1h"), col("s1h"))
            .unionAll(naive)
            .groupBy("event_id", "n1h", "s1h").agg(count(lit(1)).as("c"))
            .filter(col("c") =!= 2).count()
          val tChk = (System.nanoTime() - t1) / 1e9
          require(diff == 0L, s"chunked vs naive disagree on $diff rows")
          println(f"SCALE-OK trailwin n=$n frames=${c.getLong(0)} " +
            f"chunked=$tChunk%.1f check=$tChk%.1f sec")
        }

      case "ivjoin" | "ivjoin-skew" =>
        // q27 binned interval join at corpus scale: n points x n/4
        // intervals on a 2^48-wide axis, interval lengths up to 2^32
        // (avg ~2^31). PIN: the match count is binWidth-INVARIANT —
        // binning is an execution strategy, so w=2^32 (replication <= 2)
        // and w=2^30 (<= 5) must count identically. The skew variant
        // drops half the points AND all interval starts into the first
        // 2^36 slice of the axis (hot buckets on both sides — the
        // shape AQE's skew split exists for).
        val T = 1L << 48
        val hot = 1L << 36
        val ptT = if (skew)
          when(col("id") % 2 === 0,
            pmod(xxhash64(col("id"), lit(11)), lit(hot)))
            .otherwise(pmod(xxhash64(col("id"), lit(11)), lit(T)))
        else pmod(xxhash64(col("id"), lit(11)), lit(T))
        val pts = spark.range(n).select(col("id").as("p_id"), ptT.as("t"))
        val ivStart = if (skew) pmod(xxhash64(col("id"), lit(12)), lit(hot))
          else pmod(xxhash64(col("id"), lit(12)), lit(T))
        val ivs = spark.range(n / 4).select(col("id").as("iv_id"),
          ivStart.as("s"),
          (ivStart + pmod(xxhash64(col("id"), lit(13)), lit(1L << 32)) + 1L)
            .as("e"))
        val c1 = graft.operators.IntervalJoin.pointInInterval(
          pts, ivs, "t", "s", "e", binWidth = 1L << 32).count()
        val tW1 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val c2 = graft.operators.IntervalJoin.pointInInterval(
          pts, ivs, "t", "s", "e", binWidth = 1L << 30).count()
        val tW2 = (System.nanoTime() - t1) / 1e9
        require(c1 == c2, s"binWidth changed the match count: $c1 vs $c2")
        require(c1 > 0L, "degenerate probe: no matches")
        println(f"SCALE-OK $algo n=$n iv=${n / 4} matches=$c1 " +
          f"w32=$tW1%.1f w30=$tW2%.1f sec")

      case "negpairs" =>
        // p09 negative sampling at corpus scale: k=4 seeded cyclic-offset
        // partners for each of n rows — the sharded rank prefix sum, the
        // map-side k-slot fan-out, and ONE dense-integer rank equi-join
        // moving n*k rows. Pins are the permutation-balance law: exactly
        // n*k pairs, no self-pairs (count of anchor==negative is 0),
        // and every row appears as a negative exactly k times (checked
        // via min==max==k over the per-negative counts).
        val ids = spark.range(n).select(col("id").as("doc_id"))
        val pairs = graft.operators.Sampling.negativePairs(
          ids, "doc_id", k = 4, seed = "probe")
        val agg = pairs.agg(count(lit(1)).as("c"),
          sum(when(col("doc_id") === col("neg_doc_id"), 1L)
            .otherwise(0L)).as("selfp")).head
        val bal = pairs.groupBy("neg_doc_id").agg(count(lit(1)).as("m"))
          .agg(min("m"), max("m"), count(lit(1))).head
        require(agg.getLong(0) == n * 4, s"pairs ${agg.getLong(0)} != ${n * 4}")
        require(agg.getLong(1) == 0L, s"${agg.getLong(1)} self-pairs")
        require(bal.getLong(0) == 4L && bal.getLong(1) == 4L &&
          bal.getLong(2) == n, "pairing not a balanced 4-regular cover")
        println(f"SCALE-OK negpairs n=$n k=4 pairs=${agg.getLong(0)} " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "seqpack" | "seqpack-1shard" =>
        // p08 sequence packing at corpus scale: n docs with deterministic
        // token counts in [1, 2048]. The sharded two-level prefix sum vs
        // the nShards=1 degenerate (ONE global window partition = a
        // single-reducer sort — the plan the shard design exists to
        // avoid; identical output by the invariance contract). Pins:
        // row count, total token conservation ((last seq_id, seq_off+w)
        // via max over (g0+w) == sum(w)), and first coordinate at 0.
        val toks = spark.range(n).select(col("id").as("doc_id"),
          (pmod(xxhash64(col("id")), lit(2048L)) + 1L).as("n_toks"))
        val shards = if (algo.endsWith("-1shard")) 1 else 32
        val out = graft.operators.Sampling.packSequences(
          toks, "doc_id", "n_toks", seqLen = 2048L, nShards = shards)
        // Token-conservation pin: the highest END coordinate (a doc's
        // last spanned sequence, seq_id + n_seqs - 1) must land exactly
        // on the global axis's last sequence (T-1) div seqLen. max of
        // seq_id alone would under-read when the last doc STARTS in the
        // previous sequence and straddles the boundary.
        val got = out.agg(count(lit(1)),
          max(col("seq_id") + col("n_seqs") - 1L)).head
        val totalToks = toks.agg(sum(col("n_toks"))).head.getLong(0)
        require(got.getLong(0) == n, s"rows ${got.getLong(0)} != $n")
        require(got.getLong(1) == (totalToks - 1) / 2048L,
          s"max end seq ${got.getLong(1)} != ${(totalToks - 1) / 2048L}")
        println(f"SCALE-OK $algo n=$n shards=$shards toks=$totalToks " +
          f"maxSeq=${got.getLong(1)} sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "psample" =>
        // p11 priority sampling at corpus scale: k=64 over n docs with
        // deterministic weights in [1, 4096] — the TakeOrderedAndProject
        // path (bounded per-partition heaps, no global sort). Pins:
        // exactly k rows; est_weight >= weight everywhere; and the DLT
        // estimator property on the FULL sample — sum(est_weight) is a
        // deterministic draw of an unbiased estimator of total weight
        // with relative SE ~ 1/sqrt(k-1) ≈ 13%, so the fixed-hash value
        // must sit inside a wide (2x) band of the true mass.
        val docs = spark.range(n).select(col("id").as("doc_id"),
          (pmod(xxhash64(col("id")), lit(4096L)) + 1L).as("w"))
        val sampled = graft.operators.Sampling.prioritySample(
          docs, "doc_id", "w", k = 64, seed = "probe")
        val got = sampled.agg(count(lit(1)),
          sum(when(col("est_weight") < col("weight").cast("double"), 1L)
            .otherwise(0L)),
          sum(col("est_weight"))).head
        val trueW = docs.agg(sum(col("w"))).head.getLong(0)
        require(got.getLong(0) == 64L, s"rows ${got.getLong(0)} != 64")
        require(got.getLong(1) == 0L, "est_weight below weight")
        val est = got.getDouble(2)
        require(est > trueW * 0.5 && est < trueW * 2.0,
          s"estimator $est outside the 2x band of $trueW")
        println(f"SCALE-OK psample n=$n k=64 est=$est%.3e trueW=$trueW " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "wpctl" | "wpctl-1chunk" =>
        // q31 exact weighted percentiles at corpus scale: n rows,
        // deterministic values over a ~1e6-wide lattice, weights in
        // [1, 9]. `wpctl` = the range-chunked two-level plan (the
        // shipped shape); `wpctl-1chunk` = chunkWidth far above the
        // domain, collapsing to ONE within-chunk window partition — the
        // single-reducer sort the chunk design exists to avoid, and the
        // invariance twin (identical output required by construction).
        val rowsW = spark.range(n).select(
          pmod(xxhash64(col("id"), lit(3)), lit(1000000L)).as("v"),
          (pmod(xxhash64(col("id"), lit(4)), lit(9L)) + 1L).as("w"))
        val cw = if (algo.endsWith("-1chunk")) 1L << 60 else 1L << 14
        val out = graft.operators.WeightedQuantiles.weightedPercentiles(
            rowsW, "v", "w", Seq(25, 50, 90, 99), chunkWidth = cw)
          .orderBy("pct")
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        require(out.size == 4, s"expected 4 percentile rows, got $out")
        require(out.map(_._2) == out.map(_._2).sorted,
          "percentile values not monotone")
        println(f"SCALE-OK $algo n=$n cw=$cw " +
          out.map(r => s"p${r._1}=${r._2}").mkString(" ") +
          f" sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "wpctl-by" =>
        // q34 grouped percentiles at corpus scale: 8 groups over n rows —
        // the carry window partitions by group, so NO single-task stage
        // remains (the ungrouped wpctl keeps one bounded chunk-axis
        // task). Pins: 8 groups x 2 pcts rows, per-group monotone
        // values.
        val rowsG = spark.range(n).select(
          pmod(xxhash64(col("id"), lit(5)), lit(8L)).cast("string").as("g"),
          pmod(xxhash64(col("id"), lit(3)), lit(1000000L)).as("v"),
          (pmod(xxhash64(col("id"), lit(4)), lit(9L)) + 1L).as("w"))
        val out = graft.operators.WeightedQuantiles.weightedPercentilesBy(
            rowsG, "g", "v", "w", Seq(50, 99), chunkWidth = 1L << 14)
          .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        require(out.length == 16, s"expected 16 rows, got ${out.length}")
        val byG = out.groupBy(_._1)
        require(byG.size == 8 && byG.values.forall(rs =>
          rs.sortBy(_._2).map(_._3).toSeq ==
            rs.sortBy(_._2).map(_._3).sorted.toSeq),
          "per-group percentiles not monotone")
        println(f"SCALE-OK wpctl-by n=$n groups=8 " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "linkpred" | "linkpred-skew" =>
        // g28 Resource-Allocation at graph scale: top-100 over the m-edge
        // synthetic graph. Uniform: degrees ~ Poisson(2m/n), every center
        // survives the cap, wedge count ~ m * avg-degree. Skew: the u^4
        // hub graph whose top vertex (~370k degree at the 16.8M default)
        // would alone emit ~7e10 wedges — degreeCap=256 excludes hub
        // CENTERS (their per-neighbor 1/deg terms are negligible), the
        // documented approximation/skew knob, keeping enumeration
        // bounded by cap * capped-edge count. Pins: exactly topK rows,
        // positive lattice scores, (score, a, b) ordering.
        val lp = graft.algorithms.LinkPrediction.resourceAllocation(
          edges, topK = 100, degreeCap = 256)
        val rowsL = lp.select("a", "b", "common_nbrs", "ra_micros")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
        require(rowsL.length == 100, s"rows ${rowsL.length} != 100")
        require(rowsL.forall(r => r._4 > 0L && r._3 > 0L), "empty scores")
        require(rowsL.sortBy(r => (-r._4, r._1, r._2)).toSeq ==
          rowsL.toSeq, "not ranked (ra DESC, a, b)")
        println(f"SCALE-OK $algo n=$n m=$m top=${rowsL.head._4} " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "hyperball" | "hyperball-skew" =>
        // g29 at graph scale: 2-hop out-ball sketches at p=4 — state is
        // <= V*16 (register, rank) rows; each round is ONE edge⋈state
        // join + a max-merge aggregate whose map-side combiner collapses
        // hub fan-in (the g27 Katz skew argument — max is idempotent, so
        // the skew graph's 370k-degree hub merges locally). Pins: one
        // estimate row per vertex, estimates within the sane range
        // [1, n], and a global mean ball size that must exceed 1 (edges
        // exist, so SOME balls grew).
        val hb = g.hyperBall.radius(2).precision(4).run()
        val agg = hb.agg(count(lit(1)), min(col("est6")), max(col("est6")),
          avg(col("est6"))).head
        require(agg.getLong(0) == n, s"rows ${agg.getLong(0)} != $n")
        require(agg.getDouble(1) >= 0.9 && agg.getDouble(2) <= 2.0 * n,
          s"estimates out of range: min=${agg.getDouble(1)} max=${agg.getDouble(2)}")
        require(agg.getDouble(3) > 1.0, "mean ball size did not grow")
        println(f"SCALE-OK $algo n=$n m=$m meanBall=${agg.getDouble(3)}%.1f " +
          f"maxBall=${agg.getDouble(2)}%.0f sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "binary" =>
        // s19 binary quantization at corpus scale: pack n 64-dim vectors
        // into 2x32-bit sign words (16 B/vector — the whole 4.2 M-vector
        // artifact is ~67 MB, trivially cache-resident where float32
        // would be 1 GB), then the two-stage search for 16 queries:
        // XOR+POPCNT Hamming shortlist of 100 over ALL n (the 1-bit scan
        // IS the brute force — no cell pruning, the cost being probed),
        // exact micro-lattice rerank of 16x100. Encode and search are
        // timed apart like the pq probe. Pins: code rows == n, every
        // query returns exactly k hits.
        val dim = 64
        val pts = syntheticVectors(spark, n, dim)
        val (codes, nCodes) = org.apache.spark.sql.graft.checkpointing
          .localCheckpointCounted(graft.operators.Similarity.binaryCodes(
            pts, "vec_id", "embedding", dim))
        val tEnc = (System.nanoTime() - t0) / 1e9
        require(nCodes == n, s"code rows $nCodes != $n")
        val stride = math.max(1L, n / 16)
        val t1 = System.nanoTime()
        val hits = graft.operators.Similarity.binaryHammingTopKReranked(
          pts, pts.filter(col("vec_id") % stride === 0),
          "vec_id", "embedding", dim, k = 10, shortlist = 100,
          codesOf = Some(codes))
          .count()
        val tSearch = (System.nanoTime() - t1) / 1e9
        val nq = (n + stride - 1) / stride
        require(hits == nq * 10, s"hits $hits != ${nq * 10}")
        println(f"SCALE-OK binary n=$n dim=$dim codes=$nCodes " +
          f"encode=$tEnc%.1f search16q=$tSearch%.1f sec")

      case "ivfpq-qbatch" =>
        // Query-BATCH scaling of the ADC search (the second arg is the
        // query count): per-query cost is ~(nProbe/nCells) x corpus, so
        // a batch of Q queries scores ~Q x nProbe/nCells x n candidate
        // pairs — the law this probe pins, and a check that the
        // broadcast of Q x nProbe per-probe distance tables (the
        // query-side build) has no cliff at serving-realistic sizes.
        // Corpus-scale batches should stream st16-style micro-batches
        // instead; see the ivfPqTopK scaladoc.
        val dim = 64
        val qn = math.max(1L, m)
        val pts = syntheticVectors(spark, n, dim)
        val hits = graft.operators.Similarity.ivfPqTopK(
          pts, pts.filter(col("vec_id") < qn),
          "vec_id", "embedding", k = 10, nCells = 64, nProbe = 8,
          m = 8, kCent = 16)
          .count()
        println(f"SCALE-OK ivfpq-qbatch n=$n dim=$dim q=$qn cells=64 " +
          f"probe=8 hits=$hits sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "ivfpq-add" =>
        // Index MAINTENANCE at corpus scale (s17): build on 7n/8, append
        // the n/8 delta under the frozen books, and rebuild from scratch
        // for the comparison — the capacity-plan number for "what does
        // keeping the index fresh cost". The append must price like a
        // delta-sized encode scan (no retrain, no seed collect, no
        // shuffle), NOT like the build; row pins make the three artifacts
        // mutually consistent.
        val dim = 64
        val pts = syntheticVectors(spark, n, dim)
        val old = pts.filter(col("vec_id") % 8 =!= 0)
        val delta = pts.filter(col("vec_id") % 8 === 0)
        val tb0 = System.nanoTime()
        val idx = graft.operators.Similarity.ivfPqIndex(
          old, "vec_id", "embedding", nCells = 64, m = 8, kCent = 16)
        val oldRows = idx._1.count()
        val buildSec = (System.nanoTime() - tb0) / 1e9
        val ta0 = System.nanoTime()
        val merged = graft.operators.Similarity.ivfPqAdd(
          idx, delta, "vec_id", "embedding")
        val mergedRows = merged._1.count()
        val appendSec = (System.nanoTime() - ta0) / 1e9
        val tr0 = System.nanoTime()
        val rebuiltRows = graft.operators.Similarity.ivfPqIndex(
          pts, "vec_id", "embedding", nCells = 64, m = 8, kCent = 16)
          ._1.count()
        val rebuildSec = (System.nanoTime() - tr0) / 1e9
        // vec_ids are 0..n-1, so % 8 == 0 rows number ceil(n/8).
        require(oldRows == n - (n + 7) / 8 && mergedRows == n &&
          rebuiltRows == n,
          s"row pins: old=$oldRows merged=$mergedRows rebuilt=$rebuiltRows n=$n")
        println(f"SCALE-OK ivfpq-add n=$n dim=$dim cells=64 m=8 " +
          f"build7of8=$buildSec%.1f append1of8=$appendSec%.1f " +
          f"rebuild=$rebuildSec%.1f")

      case "ivfpq-durable" =>
        // The DURABLE index lifecycle at corpus scale (s20/s22): build on
        // 7n/8, PERSIST bucketed-by-cell, table-append the n/8 delta under
        // the frozen sidecar books, then serve a 1k-query batch from the
        // RELOADED table. The claims this anchors: (a) save prices like
        // one bucketed shuffle-write of the artifact, (b) the append
        // prices like the delta-sized encode (never like a table rewrite),
        // (c) serving reads only the probed cells' buckets
        // (SelectedBucketsCount pinned < total), which is the property a
        // 10^11-row artifact lives or dies by.
        val dim = 64
        val pts = syntheticVectors(spark, n, dim)
        val old = pts.filter(col("vec_id") % 8 =!= 0)
        val delta = pts.filter(col("vec_id") % 8 === 0)
        val idx = graft.operators.Similarity.ivfPqIndex(
          old, "vec_id", "embedding", nCells = 64, m = 8, kCent = 16)
        idx._1.count() // materialize the build outside the save timing
        val ts0 = System.nanoTime()
        graft.operators.Similarity.ivfPqSave(
          idx, "scale_ivfpq_idx", numBuckets = 64)
        val saveSec = (System.nanoTime() - ts0) / 1e9
        val ta0 = System.nanoTime()
        graft.operators.Similarity.ivfPqAddToTable(
          delta, "scale_ivfpq_idx", "vec_id", "embedding")
        val appendSec = (System.nanoTime() - ta0) / 1e9
        val tableRows = spark.table("scale_ivfpq_idx").count()
        require(tableRows == n, s"table rows $tableRows != n=$n")
        val tq0 = System.nanoTime()
        val res = graft.operators.Similarity.ivfPqSearchTable(
          pts.filter(col("vec_id") < 1024), "scale_ivfpq_idx",
          "vec_id", "embedding", k = 10, nProbe = 8)
        val hits = res.count()
        val searchSec = (System.nanoTime() - tq0) / 1e9
        val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
          .findFirstMatchIn(res.queryExecution.executedPlan.toString)
        require(sel.isDefined &&
          sel.get.group(1).toInt < sel.get.group(2).toInt,
          "bucket pruning must fire on the reloaded table")
        println(f"SCALE-OK ivfpq-durable n=$n dim=$dim cells=64 m=8 " +
          f"save7of8=$saveSec%.1f tableAppend1of8=$appendSec%.1f " +
          f"search1k=$searchSec%.1f buckets=${sel.get.group(1)}/" +
          f"${sel.get.group(2)} hits=$hits")

      case "ivfpq-compact" =>
        // COMPACTION at corpus scale (s23): build on 6n/8, persist, then
        // TWO n/8 table-appends — the nightly-ingest cadence that leaves
        // 3 files per bucket — and serve a 1k-query batch off the
        // fragmented table vs the compacted one. The claims this anchors:
        // (a) fragmentation is real (file count = 3x buckets before, =
        // buckets after), (b) compaction prices like ONE bucketed
        // shuffle-write of the artifact (the save shape — amortized over
        // every append it absorbs), (c) serving is never WRONG on a
        // fragmented table, just slower per file — hit counts must match
        // bit-for-bit across the rewrite, and bucket pruning must fire on
        // both layouts.
        val dim = 64
        val pts = syntheticVectors(spark, n, dim)
        val idx = graft.operators.Similarity.ivfPqIndex(
          pts.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
          nCells = 64, m = 8, kCent = 16)
        idx._1.count()
        graft.operators.Similarity.ivfPqSave(
          idx, "scale_cmp_idx", numBuckets = 64)
        // One file per NON-EMPTY bucket per write (cells hash into
        // buckets, so empties are legal); at 4.2 M rows both deltas hit
        // every occupied cell, so two appends triple the file count.
        val fSave = graft.sources.BucketedTables
          .dataFileCount(spark, "scale_cmp_idx")
        graft.operators.Similarity.ivfPqAddToTable(
          pts.filter(col("vec_id") % 8 === 0), "scale_cmp_idx",
          "vec_id", "embedding")
        graft.operators.Similarity.ivfPqAddToTable(
          pts.filter(col("vec_id") % 8 === 4), "scale_cmp_idx",
          "vec_id", "embedding")
        val filesBefore = graft.sources.BucketedTables
          .dataFileCount(spark, "scale_cmp_idx")
        require(filesBefore == 3 * fSave,
          s"expected 3 x $fSave files after two appends, got $filesBefore")
        def serve() = {
          val t0 = System.nanoTime()
          val res = graft.operators.Similarity.ivfPqSearchTable(
            pts.filter(col("vec_id") < 1024), "scale_cmp_idx",
            "vec_id", "embedding", k = 10, nProbe = 8)
          val hits = res.count()
          val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
            .findFirstMatchIn(res.queryExecution.executedPlan.toString)
          require(sel.isDefined &&
            sel.get.group(1).toInt < sel.get.group(2).toInt,
            "bucket pruning must fire")
          (hits, (System.nanoTime() - t0) / 1e9)
        }
        val (hitsFrag, serveFragSec) = serve()
        val tc0 = System.nanoTime()
        graft.operators.Similarity.ivfPqCompact(spark, "scale_cmp_idx")
        val compactSec = (System.nanoTime() - tc0) / 1e9
        val filesAfter = graft.sources.BucketedTables
          .dataFileCount(spark, "scale_cmp_idx")
        require(filesAfter == fSave,
          s"expected the save-time count $fSave after compaction, got $filesAfter")
        require(spark.table("scale_cmp_idx").count() == n,
          "compaction must move bytes, not rows")
        val (hitsCompact, serveCompactSec) = serve()
        require(hitsFrag == hitsCompact,
          s"serve diverged across compaction: $hitsFrag vs $hitsCompact")
        println(f"SCALE-OK ivfpq-compact n=$n dim=$dim cells=64 " +
          f"files=$filesBefore->$filesAfter compact=$compactSec%.1f " +
          f"serveFrag=$serveFragSec%.1f serveCompact=$serveCompactSec%.1f " +
          f"hits=$hitsCompact")

      case "wcc-inc" =>
        // Incremental WCC (g34) at record scale: yesterday = WCC over
        // ~15/16 of the edges, today = the 1/16 hash-selected delta.
        // The claims this anchors: (a) the incremental compose prices
        // like the DELTA plus one V-sized label pass — a small fraction
        // of the full recompute on the same host; (b) the composed
        // labels are bit-identical to the full recompute (exact frame
        // equality, 4.2 M rows both directions), which at the default
        // (n, m) also re-pins the recorded 1424 components.
        val isDelta = pmod(col("src") + col("dst"), lit(16L)) === 0L
        val tf0 = System.nanoTime()
        val full = GraphFrame(vertices, edges)
          .connectedComponents.run().components
          .localCheckpoint(true)
        val fullSec = (System.nanoTime() - tf0) / 1e9
        val nComp = full.select(countDistinct(col("component"))).head.getLong(0)
        val tb0 = System.nanoTime()
        val prev = GraphFrame.fromEdges(edges.filter(!isDelta))
          .connectedComponents.run().components
          .localCheckpoint(true)
        val baseSec = (System.nanoTime() - tb0) / 1e9
        val ti0 = System.nanoTime()
        val inc = graft.algorithms.ConnectedComponents.incremental(
          prev, edges.filter(isDelta)).localCheckpoint(true)
        val incSec = (System.nanoTime() - ti0) / 1e9
        // Exact frame equality both directions (note: base-only
        // isolated vertices exist in `full` via the explicit vertex
        // frame but not in fromEdges(base) — compare over the edge-
        // covered vertex set the two constructions share).
        val cols = Seq("id", "component")
        val d1 = inc.select(cols.map(col): _*)
          .exceptAll(full.select(cols.map(col): _*)).count()
        require(d1 == 0L, s"incremental labels diverge from full: $d1 rows")
        val nEndpoints = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id")))
          .distinct().count()
        require(inc.count() == nEndpoints,
          "incremental output must cover every edge endpoint exactly once")
        println(f"SCALE-OK wcc-inc n=$n m=$m components=$nComp " +
          f"full=$fullSec%.1f base15of16=$baseSec%.1f " +
          f"incCompose=$incSec%.1f")

      case "kcore-warm" | "kcore-warm-add" =>
        // Warm-start k-core (g41) at record scale. Two honest arms:
        // `kcore-warm` = a 1/256 takedown sweep, no additions — the seed
        // stays at yesterday's coreness (prev is an upper bound under
        // deletions) and the warm loop should settle in few rounds;
        // `kcore-warm-add` = a 1/256 INSERT batch — the sound global
        // budget (prev + 65k) exceeds every degree on this graph, the
        // seed collapses to degree, and warm should run at parity with
        // cold (recorded as the documented degenerate bound, the
        // wcc-inc-del-uniform discipline). Both arms pin warm == cold
        // exactly (frame equality over the shared vertex set).
        val addsArm = algo == "kcore-warm-add"
        val hSlice = pmod(xxhash64(col("src"), col("dst"), lit(11)), lit(256L))
        val yesterdayE = if (addsArm) edges.filter(hSlice =!= 0L) else edges
        val todayE = if (addsArm) edges else edges.filter(hSlice =!= 0L)
        val addedE = if (addsArm) edges.filter(hSlice === 0L)
          else edges.filter(lit(false))
        var tk = System.nanoTime()
        val prevCores = GraphFrame.fromEdges(yesterdayE).kCore
          .smallGraphThreshold(0).run()
          .vertices.select(col("id"), col("kcore")).localCheckpoint(true)
        val tPrevK = (System.nanoTime() - tk) / 1e9
        tk = System.nanoTime()
        val coldRes = GraphFrame.fromEdges(todayE).kCore
          .smallGraphThreshold(0).run()
        val coldCores = coldRes.vertices.select(col("id"), col("kcore"))
          .localCheckpoint(true)
        val tColdK = (System.nanoTime() - tk) / 1e9
        tk = System.nanoTime()
        val warmRes = GraphFrame.fromEdges(todayE).kCore
          .smallGraphThreshold(0)
          .warmStart(prevCores, addedE).run()
        val warmCores = warmRes.vertices.select(col("id"), col("kcore"))
          .localCheckpoint(true)
        val tWarmK = (System.nanoTime() - tk) / 1e9
        val diffK = warmCores.exceptAll(coldCores).count() +
          coldCores.exceptAll(warmCores).count()
        require(diffK == 0L, s"warm coreness diverges from cold: $diffK rows")
        val maxCore = coldCores.agg(max("kcore")).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m maxCore=$maxCore " +
          f"prev=$tPrevK%.1f coldIters=${coldRes.iterations} " +
          f"warmIters=${warmRes.iterations} cold=$tColdK%.1f warm=$tWarmK%.1f")

      case "nsample" | "nsample-skew" =>
        // Layered neighbor sampling (g43) at record scale: 4096 seeds,
        // fanouts (15, 10) over the 16.8 M-edge graph. The bounds that
        // matter: per-(layer, src) rows never exceed the fanout (the
        // top-k works per vertex, not per degree), and total rows stay
        // under seeds × Π fanouts however the frontier lands. The skew
        // arm walks INTO in-degree hubs: many layer-1 targets collapse
        // onto few hub ids, so the deduped layer-2 frontier (and its
        // row count) SHRINKS vs uniform — the dedup is what keeps a
        // hub-heavy batch from re-sampling the same vertex per path.
        val seedsN = spark.range(4096L).select((col("id") * 1024L).as("id"))
        val tn0 = System.nanoTime()
        val sample = graft.algorithms.GraphSampling
          .neighborSample(edges, seedsN, Seq(15, 10), 7L)
          .localCheckpoint(true)
        val nRows = sample.count()
        val tSample = (System.nanoTime() - tn0) / 1e9
        val maxPerSrc = sample.groupBy("layer", "src")
          .count().agg(max("count")).head.getLong(0)
        require(maxPerSrc <= 15L,
          s"fanout bound violated: $maxPerSrc rows for one (layer, src)")
        val l1 = sample.filter(col("layer") === 1L).count()
        val l2 = nRows - l1
        require(l1 <= 4096L * 15 && l2 <= 4096L * 15 * 10,
          s"frontier growth unbounded: l1=$l1 l2=$l2")
        println(f"SCALE-OK $algo n=$n m=$m seeds=4096 fanouts=15,10 " +
          f"rows=$nRows l1=$l1 l2=$l2 maxPerSrc=$maxPerSrc sec=$tSample%.1f")

      case "st-pr-maintain" =>
        // st35's headline at scale: an edge stream lands on a big graph
        // and each micro-batch refreshes ranks with TWO warm iterations
        // off the durable raw mass. Yesterday = cold-to-tol on ~1023/
        // 1024 of the edges (the one-time cost the cadence amortizes);
        // today = 4 batches of ~m/1024 each through the REAL streaming
        // loop (MemoryStream + foreachBatch + table round-trips).
        // Recorded: per-batch wall, the drained chain's rank distance
        // from a cold to-convergence run on the final graph, and that
        // cold run's iterations/wall — the per-batch alternative the
        // 2-iteration refresh replaces.
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val sliceP = pmod(xxhash64(col("src"), col("dst"), lit(17)), lit(1024L))
        val basePE = edges.filter(sliceP >= 4L)
        var tsp = System.nanoTime()
        val baseMass = GraphFrame.fromEdges(basePE).pageRank
          .tolerance(1e-6).run().rawMass.localCheckpoint(true)
        val tBaseP = (System.nanoTime() - tsp) / 1e9
        graft.streaming.Streams.initPageRankTables(spark,
          "scale_pr_mass", "scale_pr_edges")
        baseMass.write.mode("overwrite").saveAsTable("scale_pr_mass")
        basePE.write.mode("overwrite").saveAsTable("scale_pr_edges")
        val inputP = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long)]
        val qP = graft.streaming.Streams.streamingPageRankMaintain(
          inputP.toDF().toDF("src", "dst"), "scale_pr_mass",
          "scale_pr_edges", iterations = 2, tol = 1e-9).start()
        val batchWalls = (0L until 4L).map { b =>
          val rows = edges.filter(sliceP === b)
            .as[(Long, Long)].collect().toSeq
          val t1 = System.nanoTime()
          inputP.addData(rows: _*)
          qP.processAllAvailable()
          (System.nanoTime() - t1) / 1e9
        }
        qP.stop()
        spark.catalog.refreshTable("scale_pr_mass")
        val chain = spark.table("scale_pr_mass")
        val chainTot = chain.agg(sum("pagerank")).head.getDouble(0)
        tsp = System.nanoTime()
        val coldP = GraphFrame.fromEdges(edges).pageRank
          .tolerance(1e-6).run()
        val coldRanks = coldP.ranks.localCheckpoint(true)
        val tColdP = (System.nanoTime() - tsp) / 1e9
        val maxDiff = chain
          .select(col("id"), (col("pagerank") / lit(chainTot)).as("p"))
          .join(coldRanks.withColumnRenamed("pagerank", "q"), Seq("id"),
            "full")
          .agg(max(abs(coalesce(col("p"), lit(0.0))
            - coalesce(col("q"), lit(0.0))))).head.getDouble(0)
        println(f"SCALE-OK st-pr-maintain n=$n m=$m batches=4 " +
          f"base=$tBaseP%.1f perBatch=[${batchWalls.map(w => f"$w%.1f").mkString(",")}] " +
          f"coldIters=${coldP.iterations} cold=$tColdP%.1f " +
          f"maxRankDiff=$maxDiff%.2e")

      case "bfs-warm" =>
        // Warm-start shortest paths (g42) at record scale: yesterday =
        // converged 4-landmark distances over 255/256 of the ER edges,
        // today = the full set. Round-1 frontier = the 65 k delta
        // sources; the claim is rounds ≈ cascade depth instead of
        // graph diameter — and exact equality with the cold recompute.
        val isDeltaB = pmod(xxhash64(col("src"), col("dst"), lit(13)),
          lit(256L)) === 0L
        val lms = Seq(0L, 1L, 2L, 3L)
        var tb = System.nanoTime()
        val prevB = GraphFrame.fromEdges(edges.filter(!isDeltaB))
          .shortestPaths(lms).smallGraphThreshold(0).run()
        val prevV = prevB.vertices.localCheckpoint(true)
        val tPrevB = (System.nanoTime() - tb) / 1e9
        tb = System.nanoTime()
        val coldB = GraphFrame.fromEdges(edges)
          .shortestPaths(lms).smallGraphThreshold(0).run()
        val coldV = coldB.vertices.localCheckpoint(true)
        val tColdB = (System.nanoTime() - tb) / 1e9
        tb = System.nanoTime()
        val warmB = GraphFrame.fromEdges(edges)
          .shortestPaths(lms).smallGraphThreshold(0)
          .warmStart(prevV, edges.filter(isDeltaB)).run()
        val warmV = warmB.vertices.localCheckpoint(true)
        val tWarmB = (System.nanoTime() - tb) / 1e9
        val diffB = warmV.exceptAll(coldV).count() +
          coldV.exceptAll(warmV).count()
        require(diffB == 0L, s"warm distances diverge from cold: $diffB rows")
        println(f"SCALE-OK bfs-warm n=$n m=$m landmarks=${lms.size} " +
          f"prev=$tPrevB%.1f coldIters=${coldB.iterations} " +
          f"warmIters=${warmB.iterations} cold=$tColdB%.1f warm=$tWarmB%.1f")

      case "wcc-inc-del" | "wcc-inc-del-clustered" =>
        // Deletion-aware incremental WCC (g37) at record scale. The
        // compose is bounded by the AFFECTED components' size, so the
        // geometry decides everything and both are recorded honestly:
        //   wcc-inc-del            — uniform m=4n graph: ONE giant
        //     component, every removal touches it, the "affected
        //     subgraph" is ~the whole graph → compose ≈ full + overhead
        //     (the degenerate case, by design impossible to beat);
        //   wcc-inc-del-clustered  — 64-vertex groups (the dedup-
        //     cluster geometry deletions actually serve: millions of
        //     small near-dup clusters, takedowns remove members):
        //     affected = only the touched clusters.
        // 4th arg = delta fraction (default 256 — a daily cadence).
        // Exactness pinned in-probe: compose == full recompute over the
        // edited graph on the shared vertex universe.
        val frac = if (threshold > 0) threshold else 256L
        val eDel =
          if (!algo.endsWith("-clustered")) edges
          else {
            val kk = 64L
            val grp = pmod(xxhash64(col("id"), lit(3)), lit(n / kk))
            spark.range(m).select(
              (grp * kk + pmod(xxhash64(col("id"), lit(1)), lit(kk))).as("src"),
              (grp * kk + pmod(xxhash64(col("id"), lit(2)), lit(kk))).as("dst"))
          }
        val bucket = pmod(col("src") + col("dst"), lit(frac))
        val base = eDel.filter(bucket =!= 0L)
        val added = eDel.filter(bucket === 0L)
        val removed = base.filter(bucket === 1L)
        val edited = GraphFrame.withoutPairs(base,
            GraphFrame.canonicalPairs(removed))
          .unionByName(added)
        val universe = base.select(col("src").as("id"))
          .unionByName(base.select(col("dst").as("id")))
          .unionByName(added.select(col("src").as("id")))
          .unionByName(added.select(col("dst").as("id")))
          .distinct().localCheckpoint(true)
        val tf0 = System.nanoTime()
        val fullLabels = GraphFrame.fromEdges(edited)
          .connectedComponents.run().components
          .select(col("id"), col("component").as("c"))
        val full = universe.join(fullLabels, Seq("id"), "left")
          .select(col("id"), coalesce(col("c"), col("id")).as("component"))
          .localCheckpoint(true)
        val fullSec = (System.nanoTime() - tf0) / 1e9
        val tb0 = System.nanoTime()
        val prev = GraphFrame.fromEdges(base)
          .connectedComponents.run().components.localCheckpoint(true)
        val baseSec = (System.nanoTime() - tb0) / 1e9
        val ti0 = System.nanoTime()
        val inc = graft.algorithms.ConnectedComponents
          .incrementalWithDeletions(prev, base, added, removed)
        val incSec = (System.nanoTime() - ti0) / 1e9
        val d1 = inc.exceptAll(full).count()
        val d2 = full.exceptAll(inc).count()
        require(d1 == 0L && d2 == 0L,
          s"deletion compose diverges from full: $d1/$d2 rows")
        val nComp = full.select(countDistinct(col("component"))).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m frac=$frac components=$nComp " +
          f"full=$fullSec%.1f base=$baseSec%.1f incCompose=$incSec%.1f")

      case "tri-inc-del-warm" | "tri-inc-del-warm-skew" =>
        // Focused warm-cadence arm of tri-inc-del (no full/cold frames
        // resident): isolates the compose's own cost from the composite
        // probe's memory pressure when the two disagree.
        val frac = if (threshold > 0) threshold else 256L
        val bucket = pmod(col("src") + col("dst"), lit(frac))
        val base = edges.filter(bucket =!= 0L)
        val added = edges.filter(bucket === 0L)
        val removed = base.filter(bucket === 1L)
        val prev = GraphFrame(vertices, base).triangleCount.run()
          .localCheckpoint(true)
        val symWarm = graft.graph.GraphFrame
          .symmetrizeEdges(base, doDistinct = true).localCheckpoint(true)
        val tw0 = System.nanoTime()
        val incWarm = graft.algorithms.TriangleCount.incrementalWithDeletions(
          prev, base, added, removed, Some(symWarm)).localCheckpoint(true)
        val warmSec = (System.nanoTime() - tw0) / 1e9
        val total = incWarm.agg(sum("triangles")).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m frac=$frac total=$total " +
          f"incComposeWarm=$warmSec%.1f")

      case "tri-inc-del" | "tri-inc-del-skew" =>
        // Deletion-aware incremental triangles (g38) at record scale —
        // the tri-inc discipline with a removed slice: destroyed
        // triangles enumerate FROM the removals (lower-degree-endpoint
        // fanout, canonical dedup), additions compose over the edited
        // adjacency. Unlike WCC, triangle destruction is LOCAL, so no
        // giant-component degeneracy: the compose stays delta-bounded
        // on both geometries. 4th arg = delta fraction (default 256).
        val frac = if (threshold > 0) threshold else 256L
        val bucket = pmod(col("src") + col("dst"), lit(frac))
        val base = edges.filter(bucket =!= 0L)
        val added = edges.filter(bucket === 0L)
        val removed = base.filter(bucket === 1L)
        val edited = GraphFrame.withoutPairs(base,
            GraphFrame.canonicalPairs(removed))
          .unionByName(added)
        val tf0 = System.nanoTime()
        val full = GraphFrame(vertices, edited).triangleCount.run()
          .localCheckpoint(true)
        val fullSec = (System.nanoTime() - tf0) / 1e9
        val tb0 = System.nanoTime()
        val prev = GraphFrame(vertices, base).triangleCount.run()
          .localCheckpoint(true)
        val baseSec = (System.nanoTime() - tb0) / 1e9
        val ti0 = System.nanoTime()
        val inc = graft.algorithms.TriangleCount.incrementalWithDeletions(
          prev, base, added, removed).localCheckpoint(true)
        val incSec = (System.nanoTime() - ti0) / 1e9
        val d1 = inc.exceptAll(full).count()
        val d2 = full.exceptAll(inc).count()
        require(d1 == 0L && d2 == 0L,
          s"deletion compose diverges from full: $d1/$d2 rows")
        // Release the cold frame before the warm arm: five resident
        // E/V-sized frames starve the block manager and the warm arm
        // reads its 33 M-row adjacency from spill — measured 73.8 s
        // pressured vs 33.9 s isolated on identical code at 16.8 M.
        org.apache.spark.sql.graft.checkpointing.release(inc)
        // WARM: the persisted-adjacency cadence (base symmetrization
        // already materialized).
        val symWarm = graft.graph.GraphFrame
          .symmetrizeEdges(base, doDistinct = true).localCheckpoint(true)
        val tw0 = System.nanoTime()
        val incWarm = graft.algorithms.TriangleCount.incrementalWithDeletions(
          prev, base, added, removed, Some(symWarm)).localCheckpoint(true)
        val warmSec = (System.nanoTime() - tw0) / 1e9
        require(incWarm.exceptAll(full).count() == 0L &&
          full.exceptAll(incWarm).count() == 0L,
          "warm-adjacency deletion compose diverges from full")
        val total = full.agg(sum("triangles")).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m frac=$frac total=$total " +
          f"full=$fullSec%.1f base=$baseSec%.1f " +
          f"incCompose=$incSec%.1f incComposeWarm=$warmSec%.1f")

      case "pr-warm" =>
        // Warm-start PageRank (g40) at record scale: yesterday = cold
        // run to convergence on all-but-1/frac of the edges, today =
        // resume over the full graph from yesterday's raw mass. Claims:
        // (a) the warm run converges in a small fraction of the cold
        // iterations (the participating frontier starts delta-bounded);
        // (b) both land on the same ranks (max |Δ| well under the
        // tolerance's residual bound). 4th arg = delta frac (default 256).
        val frac = if (threshold > 0) threshold else 256L
        val tol = 1e-6
        val isDelta = pmod(col("src") + col("dst"), lit(frac)) === 0L
        val tb0 = System.nanoTime()
        val prevRun = GraphFrame.fromEdges(edges.filter(!isDelta))
          .pageRank.tolerance(tol).run()
        val prevRaw = prevRun.rawMass.localCheckpoint(true)
        val baseSec = (System.nanoTime() - tb0) / 1e9
        val tf0 = System.nanoTime()
        val cold = g.pageRank.tolerance(tol).run()
        val coldRanks = cold.ranks.localCheckpoint(true)
        val coldSec = (System.nanoTime() - tf0) / 1e9
        val tw0 = System.nanoTime()
        val warm = g.pageRank.tolerance(tol).warmStart(prevRaw).run()
        val warmRanks = warm.ranks.localCheckpoint(true)
        val warmSec = (System.nanoTime() - tw0) / 1e9
        val worst = coldRanks.select(col("id"), col("pagerank").as("pc"))
          .join(warmRanks.select(col("id"), col("pagerank").as("pw")), Seq("id"))
          .select(max(abs(col("pc") - col("pw"))).as("w")).head.getDouble(0)
        require(worst < 1e-4, s"warm vs cold ranks diverge: $worst")
        println(f"SCALE-OK pr-warm n=$n m=$m frac=$frac " +
          f"coldIters=${cold.iterations} warmIters=${warm.iterations} " +
          f"base=$baseSec%.1f cold=$coldSec%.1f warm=$warmSec%.1f " +
          f"maxRankDiff=$worst%.2e")

      case "snap-lifecycle" =>
        // The b10/b11/b12 snapshot lifecycle at corpus scale: pin,
        // append, pin, DELTA-read, compact (retention fires), read both
        // frozen pins across the rewrite, expire (GC). The claims this
        // anchors: (a) a snapshot prices like a directory listing, not
        // a data pass; (b) the delta read scans ONLY the appended bytes
        // (row pin: exactly the append's rows); (c) compaction's
        // retention is a same-FS rename — metadata-priced, and both
        // pins stay exactly readable across the rewrite; (d) expiry
        // GCs the retained dir away.
        import graft.sources.BucketedTables
        val base = spark.range(n).select(col("id"),
          (col("id") * 7 % 1000).as("v"))
        BucketedTables.writeBucketed(base.filter(col("id") % 8 =!= 0),
          "scale_snap", 64, Seq("id"))
        val ts0 = System.nanoTime()
        BucketedTables.snapshot(spark, "scale_snap", "t1")
        val snapSec = (System.nanoTime() - ts0) / 1e9
        BucketedTables.appendBucketed(base.filter(col("id") % 8 === 0),
          "scale_snap")
        BucketedTables.snapshot(spark, "scale_snap", "t2")
        val td0 = System.nanoTime()
        val deltaRows = BucketedTables.readSnapshotDelta(
          spark, "scale_snap", "t1", "t2").count()
        val deltaSec = (System.nanoTime() - td0) / 1e9
        require(deltaRows == (n + 7) / 8,
          s"delta must be exactly the appended rows: $deltaRows")
        val tc0 = System.nanoTime()
        BucketedTables.compactTable(spark, "scale_snap")
        val compactSec = (System.nanoTime() - tc0) / 1e9
        val t1Rows = BucketedTables.readSnapshot(spark, "scale_snap", "t1").count()
        val t2Rows = BucketedTables.readSnapshot(spark, "scale_snap", "t2").count()
        require(t1Rows == n - (n + 7) / 8 && t2Rows == n,
          s"frozen pins diverged across compaction: t1=$t1Rows t2=$t2Rows")
        BucketedTables.expireSnapshot(spark, "scale_snap", "t1")
        BucketedTables.expireSnapshot(spark, "scale_snap", "t2")
        require(BucketedTables.snapshotTags(spark, "scale_snap").isEmpty,
          "expiry must clear the snapshot tags")
        require(spark.table("scale_snap").count() == n,
          "the live table must be untouched by snapshot GC")
        println(f"SCALE-OK snap-lifecycle n=$n snap=$snapSec%.1f " +
          f"deltaRead=$deltaSec%.1f compactRetain=$compactSec%.1f " +
          f"t1=$t1Rows t2=$t2Rows")

      case "drift" =>
        // The drift-monitor family (t23b/t24) at corpus scale, with an
        // EXACT correctness law riding the timing: text derives from
        // `id div 2` while the slice is `id % 2`, so the two slices
        // carry identical term multisets and the TV distance is EXACTLY
        // zero — any nonzero reading is a bug, not noise. A perturbed
        // pass (one marker token injected into a hash-selected sliver
        // of slice 1) must read nonzero — the monitor detects what it
        // exists to detect. The claim under the timing: the reduce side
        // is slices x vocabulary (65k terms here), never corpus-sized.
        val vocab = 65536L
        def zipfText(base: org.apache.spark.sql.Column) = concat_ws(" ",
          transform(sequence(lit(0), lit(19)), i => {
            val u = pmod(xxhash64(base, i), lit(1000000L)).cast("double") /
              lit(1000000.0)
            concat(lit("t"), (pow(u, lit(3.0)) * lit(vocab.toDouble))
              .cast("long").cast("string"))
          }))
        val docs = spark.range(n).select(
          (col("id") % 2).cast("string").as("half"),
          expr("(id div 2) % 8").cast("string").as("source"),
          zipfText(expr("id div 2")).as("text"))
        val tz0 = System.nanoTime()
        val z = graft.text.TextFunctions
          .corpusDriftTv(docs, "half", "text", "0", "1").head()
        val corpusSec = (System.nanoTime() - tz0) / 1e9
        require(z.getLong(1) == 0L,
          s"paired slices must read EXACTLY zero drift, got ${z.getLong(1)}")
        require(z.getLong(0) <= vocab + 1,
          s"n_terms ${z.getLong(0)} exceeds the vocabulary bound")
        val tg0 = System.nanoTime()
        val grp = graft.text.TextFunctions
          .groupedDriftTv(docs, "source", "half", "text", "0", "1")
          .collect()
        val groupedSec = (System.nanoTime() - tg0) / 1e9
        require(grp.length == 8 && grp.forall(_.getLong(2) == 0L),
          "every group's paired slices must read zero drift")
        // Perturbed: slice 1 gains a marker token on ~1/1024 of docs.
        val perturbed = docs.withColumn("text",
          when(col("half") === "1" &&
              pmod(xxhash64(col("text")), lit(1024L)) === 0L,
            concat(col("text"), lit(" driftmarker")))
            .otherwise(col("text")))
        val tp0 = System.nanoTime()
        val pz = graft.text.TextFunctions
          .corpusDriftTv(perturbed, "half", "text", "0", "1").head()
        val perturbSec = (System.nanoTime() - tp0) / 1e9
        require(pz.getLong(1) > 0L,
          "the injected marker must register as nonzero drift")
        println(f"SCALE-OK drift n=$n vocab=$vocab terms=${z.getLong(0)} " +
          f"corpusTv=$corpusSec%.1f groupedTv=$groupedSec%.1f " +
          f"perturbTvPpm=${pz.getLong(1)} perturb=$perturbSec%.1f")

      case "st-ann-serve" =>
        // st23b at corpus scale: serve a QUERY STREAM off the persisted
        // index, contrasting the two streaming shapes on the same index
        // and query set. st23 (the stream-static join) fixes its plan
        // before any batch exists, so EVERY micro-batch scans the full
        // artifact; st23b (foreachBatch) probes each batch's cells and
        // pushes the literal IN, so each batch reads only its probed
        // buckets. The claims this anchors: (a) per-batch pruning fires
        // on every batch (SelectedBucketsCount < total), (b) the two
        // shapes return identical results, (c) the pruned serve is
        // cheaper per batch — the property a 10^11-row artifact's
        // serving job lives or dies by.
        //
        // SHAPE matters for (c), measured: pruning saves reads in
        // proportion to 1 - (batch's probed-cell union / nCells), so a
        // BROAD batch over a narrow index defeats it — a first cut at
        // 256-query batches x nProbe 8 over 64 cells probed 57% of the
        // buckets per batch and the per-batch probe/reload overhead ate
        // the saving (112.1 s pruned vs 101.7 s full at n=2^22). The
        // probe therefore uses the narrow-batch serving shape (16
        // queries/batch, nProbe 4) over a 256-cell/256-bucket index —
        // the production geometry, where a batch touches a small
        // fraction of the artifact.
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext =
          spark.sqlContext
        val dim = 64
        val nCells = 256
        val pts = syntheticVectors(spark, n, dim)
        val idx = graft.operators.Similarity.ivfPqIndex(
          pts, "vec_id", "embedding", nCells = nCells, m = 8, kCent = 16)
        idx._1.count()
        graft.operators.Similarity.ivfPqSave(
          idx, "scale_serve_idx", numBuckets = nCells)
        // 8 micro-batches x 16 queries (driver-known by construction:
        // a bounded query batch is the serving contract).
        val qvecs = pts.filter(col("vec_id") < 128)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect()
        val batches = qvecs.grouped(16).toSeq
        // PRUNED (st23b): per-batch probed-cell literal pushdown.
        val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        val fracs = scala.collection.mutable.Buffer.empty[(Int, Int)]
        var prunedHits = 0L
        val in1 = MemoryStream[(Long, Seq[Float])]
        val tp0 = System.nanoTime()
        val q1 = graft.streaming.Streams.streamingIvfPqServeTable(
            in1.toDF().toDF("vec_id", "embedding"),
            "scale_serve_idx", "vec_id", "embedding",
            k = 10, nProbe = 4) { (res, _) =>
            val m = sel.findFirstMatchIn(
              res.queryExecution.executedPlan.toString)
            require(m.isDefined, "per-batch bucket pruning must fire")
            fracs += ((m.get.group(1).toInt, m.get.group(2).toInt))
            prunedHits += res.count()
          }.start()
        batches.foreach { b => in1.addData(b: _*); q1.processAllAvailable() }
        q1.stop()
        val prunedSec = (System.nanoTime() - tp0) / 1e9
        require(fracs.size == batches.size &&
          fracs.forall { case (g, t) => g < t },
          s"expected ${batches.size} pruned batches, got $fracs")
        // FULL-SCAN (the st23 shape per batch): same compute, the scan
        // unpruned — the read-volume contrast.
        val (loaded, lc, lb) = graft.operators.Similarity.ivfPqLoad(
          spark, "scale_serve_idx")
        var fullHits = 0L
        val in2 = MemoryStream[(Long, Seq[Float])]
        val tf0 = System.nanoTime()
        val q2 = in2.toDF().toDF("vec_id", "embedding").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!batch.isEmpty)
              fullHits += graft.operators.Similarity.ivfPqTopK(
                batch, batch, "vec_id", "embedding", k = 10,
                nCells = nCells, nProbe = 4, m = 8, kCent = 16,
                indexOf = Some((loaded, lc, lb))).count()
          }.start()
        batches.foreach { b => in2.addData(b: _*); q2.processAllAvailable() }
        q2.stop()
        val fullSec = (System.nanoTime() - tf0) / 1e9
        require(prunedHits == fullHits,
          s"pruned serve diverged: $prunedHits vs $fullHits hits")
        val worst = fracs.map { case (g, t) => g * 100 / t }.max
        println(f"SCALE-OK st-ann-serve n=$n dim=$dim cells=$nCells " +
          f"batches=${batches.size} prunedServe=$prunedSec%.1f " +
          f"fullScanServe=$fullSec%.1f worstBucketPct=$worst " +
          f"hits=$prunedHits")

      case "epoch-shuffle" =>
        // Deterministic epoch shuffle at corpus scale (p10): n docs get
        // contiguous permutation positions. The sharded form's per-shard
        // windows each sort n/32 rows; the 1-shard run IS the naive
        // global row_number (one unpartitioned window task sorting all n)
        // — the wall the two-level form exists to dodge. Position sums
        // pin both to the same permutation of [0, n).
        val wantSum = n * (n - 1) / 2
        val docs = spark.range(n).select(col("id").as("doc_id"))
        val t32 = System.nanoTime()
        val s32 = graft.operators.Sampling.epochShuffle(
          docs, "doc_id", seed = "probe-epoch", nShards = 32)
          .agg(sum(col("pos"))).head().getLong(0)
        val shardedSec = (System.nanoTime() - t32) / 1e9
        require(s32 == wantSum, s"sharded position sum $s32 != $wantSum")
        val t1 = System.nanoTime()
        val s1 = graft.operators.Sampling.epochShuffle(
          docs, "doc_id", seed = "probe-epoch", nShards = 1)
          .agg(sum(col("pos"))).head().getLong(0)
        val globalSec = (System.nanoTime() - t1) / 1e9
        require(s1 == wantSum, s"global position sum $s1 != $wantSum")
        println(f"SCALE-OK epoch-shuffle n=$n sharded32=$shardedSec%.1f " +
          f"global1=$globalSec%.1f")

      case "minhash" =>
        // Corpus k-minwise sketching at probe scale: n synthetic 20-token
        // docs over a 10k-word vocabulary, 4 slices, k=16 draws — the
        // d15/d17 machinery where the claim under test is that the
        // grouped fold shuffles only slices x k longs per partition
        // regardless of corpus size (the map-side-combining law). Also
        // folds the pairwise matrix to prove the signature-only join adds
        // nothing.
        val words = (0 until 20).map(j =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(j)), lit(10000L))))
        val docs = spark.range(n).select(col("id"),
          (col("id") % 4).as("slice"),
          concat_ws(" ", words: _*).as("text")).localCheckpoint(true)
        docs.count() // materialize outside the timed region
        val s0 = System.nanoTime()
        val m0 = graft.operators.Dedup.corpusResemblanceMatrix(
          docs, "slice", "text", n = 3, k = 16).collect()
        println(f"SCALE-OK minhash n=$n slices=4 k=16 pairs=${m0.length} " +
          f"sec=${(System.nanoTime() - s0) / 1e9}%.1f")

      case "bm25" =>
        // n synthetic 20-token docs over a 10k-word vocabulary (xxhash
        // picks), 16 query docs: unlike the tiny-vocab gate corpus, query
        // terms here hit ~0.2 % of postings each, so this probes the
        // pruned-postings path doing its real job at scale.
        val words = (0 until 20).map(j =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(j)), lit(10000L))))
        // Materialized: a real pipeline reads docs from storage — without
        // this the generator re-runs once per corpus scan and the probe
        // times synthesis, not retrieval.
        val docs = spark.range(n).select(col("id"),
          concat_ws(" ", words: _*).as("text")).localCheckpoint(true)
        val queries = docs.filter(col("id") % lit(math.max(1L, n / 16)) === 0)
        // The modulus filter selects ~16 docs only when 16 divides n; count
        // the actual set (cheap — docs is checkpointed) instead of claiming
        // a literal 16.
        val nQueries = queries.count()
        val cnt = graft.operators.Retrieval
          .bm25TopK(docs, queries, "id", "text", k = 10).count()
        println(f"SCALE-OK bm25 n=$n queries=$nQueries k=10 rows=$cnt sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "quota-skew" | "quota-window" =>
        // Mixture selection under category skew: 90% web / 9% code / 1%
        // math over n docs, quotas ~30% of each category. "quota-skew"
        // runs the histogram-refinement path (shuffle carries cats x 2^12
        // rows; only the boundary bucket is windowed); "quota-window" runs
        // the semantically-identical per-category row_number window — the
        // formulation that serializes the 90% category through ONE task's
        // sort, i.e. the skew worst case the refinement exists to avoid.
        import graft.operators.Sampling
        val cat = when(pmod(xxhash64(col("id"), lit(7)), lit(100)) < 90, lit("web"))
          .when(pmod(xxhash64(col("id"), lit(7)), lit(100)) < 99, lit("code"))
          .otherwise(lit("math"))
        val docs = spark.range(n).select(col("id"), cat.as("cat"),
          (pmod(xxhash64(col("id"), lit(9)), lit(900L)) + 100L).as("toks"))
          .localCheckpoint(true)
        val quotas = Seq("web" -> n * 27L / 100L, "code" -> n * 3L / 100L,
          "math" -> n / 300L)
        docs.count() // materialize the checkpoint OUTSIDE the timed region
        val s0 = System.nanoTime()
        if (algo == "quota-skew") {
          val c1 = Sampling.quotaSample(docs, "cat", "id", quotas).count()
          val t1 = (System.nanoTime() - s0) / 1e9
          val budgets = quotas.map { case (c, q) => c -> q * 550L } // ~same doc mass
          val c2 = Sampling
            .tokenBudgetSample(docs, "cat", "id", "toks", budgets).count()
          val t2 = (System.nanoTime() - s0) / 1e9 - t1
          println(f"SCALE-OK quota-skew n=$n quotaRows=$c1 quotaSec=$t1%.1f " +
            f"budgetRows=$c2 budgetSec=$t2%.1f")
        } else {
          import org.apache.spark.sql.expressions.Window
          import spark.implicits._
          val w = Window.partitionBy("cat")
            .orderBy(Sampling.keyHash60(col("id")), col("id"))
          val qdf = quotas.toDF("cat", "q")
          val cnt = docs
            .withColumn("rn", row_number().over(w))
            .join(broadcast(qdf), Seq("cat"))
            .filter(col("rn") <= col("q"))
            .count()
          println(f"SCALE-OK quota-window n=$n rows=$cnt sec=${(System.nanoTime() - s0) / 1e9}%.1f")
        }
      case "kmeans-probe" =>
        // Stage-by-stage cost attribution for the k-means iteration.
        import graft.functions.ArrayDot.array_dot
        import graft.functions.VectorSumAgg.vector_sum
        val dim = 64
        val pts = spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => pmod(xxhash64(col("id"), i), lit(1000000L)).cast("double") / lit(1000000.0) - lit(0.5)).as("v"))
        val q = graft.operators.KMeans.quantize(pts, "id", "v").persist()
        def time(label: String)(f: => Unit): Unit = {
          val s = System.nanoTime(); f
          println(f"PROBE $label%-24s ${(System.nanoTime() - s) / 1e9}%.1f s")
        }
        time("materialize-cache") { q.count() }
        val vqd = col("vq").cast("array<double>")
        time("1-dot-per-row") {
          q.select(array_dot(vqd, vqd).as("x")).agg(sum("x")).head
        }
        val cents0: Array[Array[Long]] = q.orderBy(col("id")).limit(64)
          .select(col("vq")).collect().map(_.getSeq[Long](0).toArray)
        time("64-dots-per-row") {
          val d = q.withColumn("vqd", vqd).withColumn("vq2", array_dot(col("vqd"), col("vqd")))
          val cols = cents0.zipWithIndex.map { case (cv, i) =>
            (col("vq2") - lit(2.0) * array_dot(col("vqd"),
              typedLit(cv.map(_.toDouble).toSeq)) + lit(cv.map(x => x * x).sum.toDouble)).as(s"_d$i") }
          d.select(cols.map(c => sum(c)).toIndexedSeq: _*).head
        }
        time("agg-vector-sum-only") {
          q.withColumn("cell", (col("id") % 64).cast("int"))
            .groupBy("cell").agg(vector_sum(col("vq")), count(lit(1))).collect()
        }
        time("full-update-round") {
          graft.operators.KMeans.fitCentroids(pts, "id", "v", k = 64, nIter = 1)
        }

      case "bloom" =>
        // Runtime-filter probe: m fact rows against an n-key dimension
        // whose keys cover ~1% of the fact's key space — the regime the
        // bloom exists for. Reports build / bloom-pruned / plain-semi-join
        // wall times and the pruned-row count (exactness is the q21 gate's
        // job; this probe is the cost story).
        val factB = spark.range(m).select(
          pmod(xxhash64(col("id"), lit(7)), lit(n * 100)).as("fk"))
        val dimB = spark.range(n).select(
          (pmod(xxhash64(col("id"), lit(8)), lit(n)) * 100L).as("dk"))
        var t = System.nanoTime()
        val words = graft.operators.RuntimeFilter.bloomBitsetWords(
          dimB, "dk", mBits = 1 << 24, kHashes = 3)
        val tBuild = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val prunedCnt = graft.operators.RuntimeFilter.bloomPrune(
          factB, "fk", words, 1 << 24, 3).count()
        val tPrune = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val bloomCnt = graft.operators.RuntimeFilter.bloomSemiJoin(
          factB, "fk", dimB, "dk", 1 << 24, 3).count()
        val tBloom = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val plainCnt = factB.join(dimB.distinct(),
          col("fk") === col("dk"), "left_semi").count()
        val tPlain = (System.nanoTime() - t) / 1e9
        // The regime the bloom exists for: a dim too large to broadcast
        // (forced shuffle join) — here the fact-side shuffle is what the
        // map-side prune avoids for the 99% of rows that can't match.
        t = System.nanoTime()
        val shufCnt = factB.join(dimB.distinct().hint("merge"),
          col("fk") === col("dk"), "left_semi").count()
        val tShuf = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val bloomShufCnt = graft.operators.RuntimeFilter.bloomPrune(
            factB, "fk", words, 1 << 24, 3)
          .join(dimB.distinct().hint("merge"), col("fk") === col("dk"), "left_semi")
          .count()
        val tBloomShuf = (System.nanoTime() - t) / 1e9
        assert(bloomCnt == plainCnt && shufCnt == plainCnt && bloomShufCnt == plainCnt,
          s"semi-join arms diverged: $bloomCnt/$shufCnt/$bloomShufCnt vs $plainCnt")
        println(f"SCALE-OK bloom m=$m dimKeys=$n pruned=$prunedCnt matched=$plainCnt " +
          f"build=$tBuild%.1f prune=$tPrune%.1f bloomJoin=$tBloom%.1f " +
          f"plainBroadcast=$tPlain%.1f plainShuffle=$tShuf%.1f bloom+shuffle=$tBloomShuf%.1f sec")

      case "bloom-point" =>
        // Manifest bloom point-lookup probe (the b14 scale story): m rows
        // HASH-placed on an all-distinct key into 64 files — every file's
        // [min, max] spans ~the whole key domain, so range skipping keeps
        // all 64 files (asserted); the per-file bloom sidecar must cut a
        // point lookup to ~1 opened file within fpp. Reports the write
        // (data + manifest-with-blooms) cost, files opened per present
        // key, and pruned vs unpruned lookup wall over 8 keys — the
        // tombstone-check / dedup-key-probe shape at table scale.
        val rowsP = spark.range(m).select(col("id").as("k"),
          xxhash64(col("id")).as("payload")).repartition(64, col("k"))
        var tp = System.nanoTime()
        val pathP = graft.sources.ManifestTables.writeWithManifest(rowsP,
          "scale_bloom_point", Seq("k"), bloomCols = Seq("k"),
          expectedItemsPerFile = math.max(64L, m / 64))
        val tWriteP = (System.nanoTime() - tp) / 1e9
        val probeKeys = (1 to 8).map(i => m / 9 * i)
        val rangeKept = spark.read.parquet(s"${pathP}__manifest")
          .filter(col("max_k") >= probeKeys.head && col("min_k") <= probeKeys.head)
          .count()
        assert(rangeKept >= 60,
          s"layout not adversarial: min/max kept only $rangeKept of 64")
        tp = System.nanoTime()
        var opened = 0L
        probeKeys.foreach { key =>
          val df = graft.sources.ManifestTables.readPrunedPoint(
            spark, pathP, "k", key)
          val got = df.collect()
          opened += df.inputFiles.length
          assert(got.length == 1 && got.head.getLong(0) == key,
            s"pruned lookup wrong for key $key: ${got.mkString(",")}")
        }
        val tPruned = (System.nanoTime() - tp) / 1e9
        tp = System.nanoTime()
        probeKeys.foreach { key =>
          val got = spark.read.parquet(pathP).filter(col("k") === key).collect()
          assert(got.length == 1 && got.head.getLong(0) == key)
        }
        val tPlainP = (System.nanoTime() - tp) / 1e9
        // Absent key: min/max cannot rule it out (inside the domain hull
        // is unavoidable for a dense id space — use a key past the max),
        // but a bloom answers the common miss in file-metadata time.
        tp = System.nanoTime()
        val absent = graft.sources.ManifestTables.readPrunedPoint(
          spark, pathP, "k", m + 12345L)
        val absentRows = absent.count()
        val tAbsent = (System.nanoTime() - tp) / 1e9
        assert(absentRows == 0, s"absent key returned $absentRows rows")
        // Batched arm (the b14b shape): 16 keys through ONE manifest pass
        // and one pruned scan — per-key manifest cost amortized 16x. The
        // single-key arm pays a full manifest scan (bloom bytes = files x
        // mBits) per probe; batching is what makes the sidecar pay at
        // 10^5-file scale, where file pruning bites while |keys| << files.
        val batchKeys = (1 to 16).map(i => m / 17 * i)
        tp = System.nanoTime()
        val batchDf = graft.sources.ManifestTables.readPrunedPoints(
          spark, pathP, "k", batchKeys)
        val batchGot = batchDf.collect().map(_.getLong(0)).toSet
        val batchOpened = batchDf.inputFiles.length
        val tBatch = (System.nanoTime() - tp) / 1e9
        assert(batchGot == batchKeys.toSet,
          s"batched lookup wrong: ${batchGot.size} of ${batchKeys.size} keys")
        println(f"SCALE-OK bloom-point m=$m files=64 rangeKept=$rangeKept " +
          f"openedPerKey=${opened.toDouble / probeKeys.size}%.2f " +
          f"write=$tWriteP%.1f pruned8=$tPruned%.1f plain8=$tPlainP%.1f " +
          f"absentMiss=$tAbsent%.2f batch16=$tBatch%.2f " +
          f"batchOpened=$batchOpened sec")

      case "zorder" =>
        // Clustered-layout probe: write m rows z-ordered on two
        // 2^16-domain keys into 64 files; report write time and the mean
        // per-file span of each natural column relative to its domain —
        // the stat that becomes row-group skipping on read.
        val rows = spark.range(m).select(col("id"),
          pmod(xxhash64(col("id"), lit(3)), lit(65536L)).as("x"),
          pmod(xxhash64(col("id"), lit(4)), lit(65536L)).as("y"))
        val path = graft.sources.ZOrderedTables.writeZOrdered(
          rows, "scale_zorder", Seq(("x", 0L, 65535L), ("y", 0L, 65535L)),
          bits = 8, numFiles = 64)
        val tWrite = (System.nanoTime() - t0) / 1e9
        val spans = graft.sources.ZOrderedTables.readZOrdered(spark, path)
          .groupBy(input_file_name())
          .agg(((max("x") - min("x")) / 65535.0).as("sx"),
            ((max("y") - min("y")) / 65535.0).as("sy"))
          .agg(avg("sx"), avg("sy")).head()
        println(f"SCALE-OK zorder m=$m files=64 write=$tWrite%.1f sec " +
          f"avgSpanX=${spans.getDouble(0)}%.3f avgSpanY=${spans.getDouble(1)}%.3f (1.0 = unclustered)")

      case "skewjoin" =>
        // One hot key holding 30% of an m-row fact against an n-row dim,
        // dim forced non-broadcast (merge hint): the regime where a plain
        // shuffle join serializes the hot key through one task. Compare
        // AQE's skew split (on by default) against explicit salting.
        val factS = spark.range(m).selectExpr(
          s"CASE WHEN id % 10 < 3 THEN 7 ELSE abs(CAST(xxhash64(id, 5) % $n AS BIGINT)) END AS fk",
          "id AS payload")
        val dimS = spark.range(n).selectExpr("id AS dk", "id % 97 AS attr")
        var t1 = System.nanoTime()
        val plainCnt2 = factS.join(dimS.hint("merge"), col("fk") === col("dk"))
          .count()
        val tAqe = (System.nanoTime() - t1) / 1e9
        t1 = System.nanoTime()
        // Restore the session's PRIOR setting, not a literal "true" — the
        // probe must not clobber a session that had skew-join disabled.
        val priorSkew =
          spark.conf.getOption("spark.sql.adaptive.skewJoin.enabled")
        val noAqeCnt =
          try {
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            factS.join(dimS.hint("merge"), col("fk") === col("dk")).count()
          } finally priorSkew match {
            case Some(v) => spark.conf.set("spark.sql.adaptive.skewJoin.enabled", v)
            case None    => spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
          }
        val tNoAqe = (System.nanoTime() - t1) / 1e9
        t1 = System.nanoTime()
        val saltCnt = graft.operators.SkewJoin.saltedJoin(
          factS, "fk", dimS, "dk", saltBy = Seq("payload"), nSalts = 8)
          .count()
        val tSalt = (System.nanoTime() - t1) / 1e9
        assert(plainCnt2 == saltCnt && noAqeCnt == saltCnt,
          s"arms diverged: $saltCnt / $noAqeCnt vs $plainCnt2")
        println(f"SCALE-OK skewjoin m=$m dim=$n matched=$plainCnt2 " +
          f"aqeSkewOn=$tAqe%.1f aqeSkewOff=$tNoAqe%.1f salted8=$tSalt%.1f sec")

      case "motif" | "motif-skew" =>
        // 2-hop motif (the find() join spine) at probe scale: the
        // wedge-count problem every motif query degenerates to. Uniform
        // endpoints keep the self-join linear (count ~ m * avg-degree);
        // the skew variant routes edges into power-law hubs, where the
        // 2-hop count through a hub is d_in * d_out — the plan survives
        // because the spine shuffles only (src, dst) id pairs and AQE
        // splits the hub partitions; the count aggregate never
        // materializes the paths.
        val gg = GraphFrame.fromEdges(edges)
        val paths = gg.find("(a)-[]->(b); (b)-[]->(c)")
          .agg(count(lit(1)).as("n")).head.getLong(0)
        println(f"SCALE-OK $algo n=$n m=$m twoHopPaths=$paths " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "bfs" =>
        // All-shortest-paths BFS at probe scale: 1024 sources (id % 4096
        // == 0) to ~42 targets (id % 100000 == 77777) over the ER graph —
        // a genuinely wide frontier (sources x 4^level path rows, each
        // carrying its struct chain) joined against the 16.8 M-edge table
        // once per level, with the per-level driver cost now ONE combined
        // count/arrival aggregate. Deterministic, so the path count and
        // level pin across runs (SCALE_RECORD.md).
        val gg = GraphFrame(vertices, edges)
        val res = graft.graph.Bfs.run(gg,
          col("id") % 4096 === 0, col("id") % 100000 === 77777,
          maxPathLength = 10)
        val cnt = res.count()
        val lvl = (res.columns.length - 1) / 2
        println(f"SCALE-OK bfs n=$n m=$m paths=$cnt level=$lvl " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "scc" =>
        // FW-BW coloring on the random DIGRAPH (directed edges as drawn):
        // at m/n = 4 a giant SCC exists, plus a periphery of singletons —
        // the realistic decomposition shape. Reports components and the
        // giant SCC's size.
        val r = graft.algorithms.StronglyConnectedComponents.run(edges, 500)
        val comps = r.select(countDistinct("scc_id")).head.getLong(0)
        val giant = r.groupBy("scc_id").count().agg(max("count")).head.getLong(0)
        println(f"SCALE-OK scc n=$n m=$m sccs=$comps giant=$giant " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "walks" =>
        // Deep-walk probe: 32 steps from n/64 starts over the ER graph —
        // exercises the per-8-step stats-free checkpoint cadence and the
        // frontier-only per-step shuffle.
        val starts = spark.range(n / 64).select((col("id") * 64L).as("v"))
        val out = graft.algorithms.RandomWalks.run(edges, starts, "v", len = 32)
        val cnt = out.count()
        val maxStep = out.agg(max("step")).head.getLong(0)
        println(f"SCALE-OK walks n=$n m=$m starts=${n / 64} steps=32 rows=$cnt " +
          f"maxStep=$maxStep sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "pipeline" =>
        // End-to-end p03 composition at probe scale — quality filter ->
        // near-dup removal -> hash split -> per-split token stats — with
        // per-stage wall attribution (each stage checkpointed so its cost
        // is its own). The synthetic corpus makes every stage bite AND
        // the final doc count an exact pin: per 8-id block, one junk doc
        // (quality-filtered), three docs sharing IDENTICAL text (the
        // minhash-LSH/WCC chain must collapse them to the min-id
        // survivor), four unique keepers => kept = 5n/8 exactly.
        require(n % 8 == 0, s"pipeline probe needs n % 8 == 0, got $n")
        val stops = "the and is of a"
        val uniq = (0 until 15).map(j =>
          concat(lit(" u"), col("id"), lit("x"), lit(j),
            pmod(xxhash64(col("id"), lit(j)), lit(100000L))))
        val gid = expr("id div 8")
        val grp = (0 until 15).map(j =>
          concat(lit(" g"), gid, lit("x"), lit(j),
            pmod(xxhash64(gid, lit(j)), lit(100000L))))
        val text = when(col("id") % 8 === 7, lit("#@! %^& *() {}| #@! %^& *() {}|"))
          .when(col("id") % 8 >= 1 && col("id") % 8 <= 3,
            concat(lit(stops), concat(grp: _*)))
          .otherwise(concat(lit(stops), concat(uniq: _*)))
        val docs = spark.range(n).select(col("id").as("doc_id"), text.as("text"))
          .localCheckpoint(true)
        docs.count() // corpus materialized outside the timed region
        val tq0 = System.nanoTime()
        val clean = docs
          .filter(graft.text.TextFunctions.qualityScore(col("text")) >= 0.6)
          .localCheckpoint(true)
        val nClean = clean.count()
        val tq = (System.nanoTime() - tq0) / 1e9
        val td0 = System.nanoTime()
        val unique = graft.operators.Dedup
          .dropNearDuplicates(clean, "doc_id", "text", n = 3, threshold = 0.8)
          .localCheckpoint(true)
        val nUnique = unique.count()
        val td = (System.nanoTime() - td0) / 1e9
        val ts0 = System.nanoTime()
        val stats = graft.operators.Sampling.hashSplit(unique, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split")
          .agg(count(lit(1)).as("docs"),
            sum(graft.text.TextFunctions.tokenCount(col("text"))).as("tokens"))
          .collect().sortBy(_.getString(0))
        val ts = (System.nanoTime() - ts0) / 1e9
        val expectKept = 5L * n / 8
        require(nClean == 7L * n / 8, s"quality kept $nClean, expected ${7L * n / 8}")
        require(nUnique == expectKept, s"dedup kept $nUnique, expected $expectKept")
        val statsStr = stats.map(r =>
          s"${r.getString(0)}=${r.getLong(1)}d/${r.getLong(2)}t").mkString(" ")
        println(f"SCALE-OK pipeline n=$n clean=$nClean kept=$nUnique " +
          f"[$statsStr] qualitySec=$tq%.1f dedupSec=$td%.1f splitSec=$ts%.1f " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")

      case "substring" | "substring-skew" =>
        // d18 exactSubstringSpans at probe scale with PLANTED structure:
        // per 8-id block, ids 8g+1 / 8g+2 share a 12-token span at
        // UNALIGNED offsets (5 vs 11) — the second doc must lose exactly
        // its [11,22] window; the -skew variant additionally gives every
        // id%4==0 doc the SAME 10-token boilerplate prefix, so three
        // 8-gram anchor hashes each repeat n/4 times — the degenerate
        // anchor-hash skew the d18 scaladoc names on the classify
        // re-join. Pins are exact: spans = 9n/8 rows, kept tokens =
        // 268n/8 (+10 for doc 0, the boilerplate first occurrence, when
        // skewed). Reports whether AQE split the skewed join.
        require(n % 8 == 0, s"substring probe needs n % 8 == 0, got $n")
        val ngram = 8
        val boiler = (0 until 10).map(j => lit(s" b$j")) // shared verbatim
        val body = (0 until 32).map(j => concat(lit(s" u${j}i"), col("id")))
        val span = (0 until 12).map(j => concat(lit(s" s${j}y"), expr("id div 8")))
        def cat(parts: Seq[org.apache.spark.sql.Column]) = concat(parts: _*)
        val m8 = col("id") % 8
        val textCol =
          when(m8 === 1, cat(body.take(5) ++ span ++ body.drop(5)))
            .when(m8 === 2, cat(body.take(11) ++ span ++ body.drop(11)))
            .otherwise(when(col("id") % 4 === 0 && lit(algo.endsWith("-skew")),
              cat(boiler ++ body)).otherwise(cat(body)))
        val docs = spark.range(n)
          .select(col("id").as("doc_id"), trim(textCol).as("text"))
          .localCheckpoint(true)
        docs.count() // corpus materialized outside the timed region
        // Stage-level attribution: aggregate executor run time per stage
        // so "which stage eats the skew delta" is measured, not guessed.
        val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            stageTimes.put(si.stageId,
              (si.name.takeWhile(_ != '\n').take(60),
                si.taskMetrics.executorRunTime))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val ts0 = System.nanoTime()
        val spans = graft.operators.Dedup
          .exactSubstringSpans(docs, "doc_id", "text", n = ngram)
        val agg = spans.agg(count(lit(1)), sum("n_kept")).head
        val sec = (System.nanoTime() - ts0) / 1e9
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        stageTimes.asScala.toSeq.sortBy(-_._2._2).take(8).foreach {
          case (sid, (name, ms)) =>
            println(f"SCALE-STAGE $sid%5d ${ms / 1000.0}%8.1fs  $name")
        }
        val (nSpans, kept) = (agg.getLong(0), agg.getLong(1))
        val expSpans = 9L * n / 8
        val expKept = 268L * n / 8 + (if (algo.endsWith("-skew")) 10L else 0L)
        require(nSpans == expSpans, s"spans $nSpans, expected $expSpans")
        require(kept == expKept, s"kept tokens $kept, expected $expKept")
        println(f"SCALE-OK $algo n=$n ngram=$ngram spans=$nSpans kept=$kept " +
          f"sec=$sec%.1f")
    }
    spark.stop()
  }
}
