package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ArrayDot.array_dot
import graft.functions.TextHashes

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - [[cosineTopK]]: exact brute force — broadcast the (small) query set
  *     against the corpus, so the big side is scanned once with NO shuffle;
  *     per-query top-k via a bounded-heap aggregate (map-side partials,
  *     shuffle of queries x k rows, no sort of the scored set — see
  *     [[graft.functions.TopKByScore]]). The correctness baseline.
  *   - [[annCosineTopK]]: the scale path — band-OR random-hyperplane LSH
  *     (custom codegen signature kernel): only band collisions are scored,
  *     and only the scored candidate set reaches the ranking window.
  *     Recall < 1 by construction; band width/count trade recall for scan
  *     fraction (cost model on the method).
  */
object Similarity {

  private def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(array_dot(col("v"), col("v"))))

  private def cosine(av: Column, an: Column, bv: Column, bn: Column): Column =
    round(array_dot(av, bv) / (an * bn), 6)

  /** Per-query top-k of `[query_id, neighbor_id, cosine]` via the native
    * bounded-heap aggregate ([[graft.functions.TopKByScore]]): map-side
    * partials keep O(k) state per query, the shuffle moves queries x k
    * rows, and NO sort of the full scored set appears in the plan — a
    * `row_number` window would shuffle AND sort every scored row.
    * Ordering (cosine DESC, neighbor_id ASC); id tiebreak keeps output
    * deterministic under rounded-cosine ties.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScore
        .top_k_by_score(col("cosine"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("bigint").as("rank"))

  /** Exact cosine top-k: for every query vector, the k nearest corpus
    * vectors (excluding itself). Output `[query_id, neighbor_id, cosine,
    * rank]`, rank 1..k ordered by (cosine DESC, neighbor_id ASC) — the
    * id tiebreak makes output deterministic under rounded-cosine ties.
    */
  def cosineTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol)
    val q = withNorm(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    rankTopK(scored, k)
  }

  /** INT8-quantized cosine top-k — the memory-bound scale path: corpus
    * vectors stored at 1 byte/dim (4× smaller than float32, the difference
    * between an in-memory and a spilling ANN corpus at 100 TB). Each
    * vector quantizes independently to `q_i = floor(127·v_i/max|v| + 0.5)`
    * ∈ [-127, 127]; cosine is SCALE-INVARIANT, so the per-vector scale
    * cancels and scoring is pure integer dot products — exact arithmetic
    * (|dot| ≤ 127²·dim ≪ 2⁵³ stays exact in the double domain), one sqrt
    * and one division per pair, fully replayable in SQL. `floor(x + 0.5)`
    * is the rounding rule precisely because engines disagree on `round`'s
    * half-away/half-even/truncate behavior while `floor` is IEEE-universal.
    * Approximation error comes only from the quantization itself
    * (recall@5 vs [[cosineTopK]] spec-gated); the plan is [[cosineTopK]]'s
    * (broadcast queries, zero corpus shuffle, bounded-heap ranking).
    */
  def int8CosineTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    def quantized(df: DataFrame): DataFrame = {
      val v = col(vecCol).cast("array<double>")
      val maxabs = array_max(transform(v, x => abs(x)))
      val q = when(maxabs > 0.0,
        transform(v, x => floor(x * lit(127.0) / maxabs + lit(0.5))))
        .otherwise(transform(v, x => lit(0.0)))
      df.select(col(idCol).as("id"), q.as("v"))
        .withColumn("nrm", sqrt(array_dot(col("v"), col("v"))))
    }
    val c = quantized(corpus)
    val q = quantized(queries)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        when(col("qn") > 0.0 && col("nrm") > 0.0,
          cosine(col("qv"), col("qn"), col("v"), col("nrm")))
          .otherwise(lit(0.0)).as("cosine"))
    rankTopK(scored, k)
  }

  /** Sign-bit binary quantization — the 1-bit memory tier below
    * [[int8CosineTopK]] and PQ: dimension `i` of a vector stores as the
    * single bit `[v_i > 0]`, packed `bitsPerWord` bits per long word
    * (bit `b` of word `w` covers dimension `w*bitsPerWord + b`). At the
    * default 32 bits/word a 64-dim float32 vector shrinks 256 B → 16 B
    * (two longs) — the difference between a spilling and an in-memory
    * scan at a 10^11-vector corpus. `bitsPerWord` caps at 62 so the SQL
    * replay's `1::BIGINT << i` partial sums stay inside signed-64 (the
    * packing itself is engine-portable integer arithmetic — no float in
    * the code path beyond the sign test, and `v > 0` is exact on any
    * IEEE engine). Output `[id, code: array<long>]`.
    */
  def binaryCodes(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bitsPerWord: Int = 32): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(bitsPerWord >= 1 && bitsPerWord <= 62,
      s"bitsPerWord must be in [1, 62], got $bitsPerWord")
    val nWords = (dim + bitsPerWord - 1) / bitsPerWord
    // A vector shorter than `dim` would read NULL past the array end
    // (non-ANSI element access), fall to the otherwise(0L) branch, and
    // encode the missing dims as sign-bit 0 — silently wrong Hamming
    // ranks. Mirror the ivfPqAppend discipline: dim mismatches fail loud
    // (either direction — a LONGER vector means the caller's dim is wrong
    // and the extra dims would be silently ignored).
    val vRaw = col(vecCol).cast("array<double>")
    val v = when(size(vRaw) === dim, vRaw)
      .otherwise(raise_error(concat(
        lit("binaryCodes: vector has "),
        coalesce(size(vRaw).cast("string"), lit("NULL")),
        lit(s" dims but dim=$dim was requested"))))
    val words = (0 until nWords).map { w =>
      (0 until bitsPerWord).filter(b => w * bitsPerWord + b < dim).map { b =>
        when(v(w * bitsPerWord + b) > 0d, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    df.select(col(idCol).as("id"), array(words: _*).as("code"))
  }

  /** Hamming top-k over [[binaryCodes]] — the 1-bit ANN scan: per query,
    * the k corpus vectors with the fewest disagreeing sign bits (ties to
    * the smaller id). Under the random-hyperplane bound Hamming distance
    * is a monotone proxy for angle, so this is the recall-cheap candidate
    * generator a binary index serves; [[binaryHammingTopKReranked]] is
    * the production composition (shortlist here, exact re-rank after).
    *
    * SHAPE: both sides reduce to their code words in one codegen
    * projection; query codes broadcast onto the corpus scan (the
    * [[cosineTopK]] discipline — zero corpus shuffle) and the score is a
    * static chain of `xor` + `bit_count` per word — branchless integer
    * ops, no float math, whole-stage-codegen'd. Ranking is the bounded-
    * heap aggregate (queries × k rows shuffled, no sort of the scored
    * set). Output `[query_id, neighbor_id, ham, rank]`, rank by
    * (ham ASC, neighbor_id ASC).
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int,
      bitsPerWord: Int = 32,
      codesOf: Option[DataFrame] = None): DataFrame = {
    val nWords = (dim + bitsPerWord - 1) / bitsPerWord
    // codesOf: a pre-encoded (and typically checkpointed) [id, code]
    // artifact — encode once, search every query batch against it (the
    // pqTopK `codesOf` discipline; at scale the 16 B/vector artifact is
    // the table that persists, not the raw vectors). A dim/bitsPerWord
    // mismatch would make the word lookups NULL and every score a
    // silently-skipped NULL — the guard fails loud instead.
    val c = codesOf.map(_.withColumn("code",
        when(size(col("code")) === nWords, col("code"))
          .otherwise(raise_error(concat(lit(
            s"binaryHammingTopK: codesOf artifact has "),
            coalesce(size(col("code")).cast("string"), lit("NULL")),
            lit(s" words but dim=$dim/bitsPerWord=$bitsPerWord needs " +
              s"$nWords — re-encode or pass the artifact's parameters"))))))
      .getOrElse(binaryCodes(corpus, idCol, vecCol, dim, bitsPerWord))
    val q = binaryCodes(queries, idCol, vecCol, dim, bitsPerWord)
      .select(col("id").as("qid"), col("code").as("qcode"))
    val ham = (0 until nWords)
      .map(w => bit_count(col("code")(w).bitwiseXOR(col("qcode")(w))))
      .reduce(_ + _).cast("long")
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        ham.as("ham"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScore.top_k_by_score(
        (lit(dim.toLong) - col("ham")).cast("double"), col("neighbor_id"), k)
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (lit(dim.toLong) - col("col.score").cast("long")).as("ham"),
        (col("pos") + 1).cast("bigint").as("rank"))
  }

  /** Binary shortlist + exact re-rank — the production two-stage binary
    * search: [[binaryHammingTopK]] shortlists `shortlist` candidates per
    * query on the 1-bit codes (XOR+POPCNT scan of the 16 B/vector
    * artifact), then ONLY those rows pay the full-precision distance —
    * exact integer squared-L2 on the [[KMeans.quantize]] micro lattice,
    * the [[pqTopKReranked]] tail verbatim. Raw vectors are touched for
    * `queries × shortlist` rows instead of the whole corpus. Output
    * `[query_id, neighbor_id, d2, rank]`, rank by (d2 ASC, id ASC).
    */
  def binaryHammingTopKReranked(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int, shortlist: Int,
      bitsPerWord: Int = 32,
      codesOf: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cand = binaryHammingTopK(corpus, queries, idCol, vecCol, dim,
        shortlist, bitsPerWord, codesOf)
      .select(col("query_id"), col("neighbor_id"))
    val cq = KMeans.quantize(corpus, idCol, vecCol)
      .select(col("id"), col("vq").cast("array<double>").as("cv"))
    val qq = KMeans.quantize(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("vq").cast("array<double>").as("qv"))
    val exact = cand
      .join(cq, cand("neighbor_id") === cq("id"))
      .join(broadcast(qq), cand("query_id") === qq("qid"))
      .select(col("query_id"), col("neighbor_id"),
        (array_dot(col("cv"), col("cv")) - lit(2.0) * array_dot(col("cv"), col("qv"))
          + array_dot(col("qv"), col("qv"))).as("d2"))
    exact.groupBy("query_id")
      .agg(graft.functions.TopKByScore.top_k_by_score(
        negate(col("d2")), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        negate(col("col.score")).cast("long").as("d2"),
        (col("pos") + 1).cast("bigint").as("rank"))
  }

  /** LSH-bucketed approximate cosine top-k, band-OR structured (the same
    * shape as [[Dedup.embeddingNearDupLsh]]): `nBits` hyperplane sign bits
    * split into `bands` bands of `r = nBits/bands` bits; a corpus vector is
    * a candidate for a query iff ANY band matches. Candidates are deduped
    * BEFORE scoring, then scored exactly and ranked per query.
    *
    * COST MODEL: a neighbor at angle θ matches one band w.p. `m^r` with
    * `m = 1 - θ/π`, and is caught w.p. `1-(1-m^r)^b`. The defaults
    * (r=3, b=20) deliver recall@5 ≈ 0.99 even on near-orthogonal corpora
    * (synthetic-random embeddings: true neighbors at cosine ≈ 0.3 ⇒
    * m ≈ 0.6) — where pruning is information-theoretically weak and the
    * scanned fraction approaches 1. On real corpora whose neighbors are
    * substantially closer than random (m ≥ 0.8), widen the bands:
    * r=8/b=8 catches ≥ 0.92 of cosine-0.85 neighbors while scanning ~3 %
    * of pairs. The (nBits, bands) knobs are the honest recall/cost
    * surface; PipelineSpec gates recall@5 ≥ 0.9 against [[cosineTopK]] on
    * the driver-gate corpus.
    */
  def annCosineTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nBits: Int = 60, bands: Int = 20): DataFrame = CacheScope.scoped { scope =>
    require(nBits >= 2 && nBits <= 64 && bands >= 1 && nBits % bands == 0,
      s"need 1 <= bands <= nBits <= 64 with bands | nBits, got nBits=$nBits bands=$bands")
    val r = nBits / bands
    val mask = (1L << r) - 1L
    def bandsOf(sig: Column): Column =
      ColumnKernels.bandStructs(bands)(b =>
        call_function("shiftrightunsigned", sig, lit(b * r))
          .bitwiseAND(lit(mask)))

    // Corpus side: cached — scanned once to band, once to score candidates.
    val c = scope.cache(withNorm(corpus, idCol, vecCol)
      .withColumn("sig", TextHashes.cosineLshBits(col("v").cast("array<float>"), nBits)))
    val cBands = c.select(col("id"), bandsOf(col("sig")).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val q = withNorm(queries, idCol, vecCol)
      .withColumn("sig", TextHashes.cosineLshBits(col("v").cast("array<float>"), nBits))
    val qBands = q.select(col("id").as("qid"), bandsOf(col("sig")).as("bb"))
      .select(col("qid"), col("bb.band").as("band"), col("bb.bh").as("bh"))

    // Band collisions -> deduped candidate pairs; vectors join AFTER the
    // dedup so each surviving pair is scored exactly once.
    val candidates = cBands.join(broadcast(qBands), Seq("band", "bh"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
      .distinct()
    val scored = candidates
      .join(c.select(col("id"), col("v"), col("nrm")), "id")
      .join(broadcast(q.select(col("id").as("qid"),
        col("v").as("qv"), col("nrm").as("qn"))), "qid")
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    rankTopK(scored, k)
  }

  /** IVF-FLAT approximate cosine top-k — the coarse-quantizer scale path
    * (the classic inverted-file ANN layout, complementing the hyperplane-LSH
    * path of [[annCosineTopK]]).
    *
    * Index: `nCells` coarse centroids; every corpus vector joins the cell
    * of its nearest centroid. The centroid table is tiny by construction,
    * so it is collected once and FOLDED INTO a single codegen projection
    * (a chain of `array_dot`s against literal vectors) — assignment costs
    * one corpus scan with no join and no shuffle. Search: each query probes
    * its `nProbe` nearest cells and scores only the vectors living there —
    * the scanned fraction is ~`nProbe/nCells` on balanced cells, the knob
    * every IVF index trades recall with.
    *
    * Centroids default to the `nCells` corpus vectors with the smallest
    * ids — deterministic and oracle-replayable. A production index would
    * train them offline (k-means) and pass them via `centroidsDF`; the
    * plan shape is identical either way.
    *
    * Tie discipline (mirrors the SQL oracle): cell argmax prefers the
    * smaller centroid index on exact score ties; probe ranking and the
    * final top-k order (score DESC, id ASC).
    */
  /** Late-interaction (MaxSim) retrieval: corpus vectors belong to GROUPS
    * (a multi-vector document — ColBERT-style passage embeddings, image
    * tiles, chunked long docs); a query scores a group by the MAXIMUM
    * cosine over its members, and the top-k groups per query are returned
    * as `[query_id, <groupCol>, max_cosine, rank]`, rank ordered by
    * (max_cosine DESC, group ASC). The query's own vector is excluded
    * from its group (self-similarity is always 1).
    *
    * Plan shape: broadcast the query set against the corpus (one scan, no
    * corpus shuffle), then `groupBy(query, group).max` — a map-side
    * PARTIAL max, so the shuffle carries at most queries x groups rows,
    * not the scored stream — then the bounded-heap top-k per query
    * ([[graft.functions.TopKByScore]], O(k) state, no sort). At 100 TB
    * the scored stream never materializes: max-combine happens inside the
    * scan stage.
    */
  def maxSimTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, groupCol: String, k: Int): DataFrame = {
    val c = corpus
      .select(col(idCol).as("id"), col(groupCol).cast("long").as("grp"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(array_dot(col("v"), col("v"))))
    val q = queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", sqrt(array_dot(col("qv"), col("qv"))))
    val grouped = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("grp"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
      .groupBy("query_id", "grp").agg(max(col("cosine")).as("max_cosine"))
    grouped.groupBy("query_id")
      .agg(graft.functions.TopKByScore
        .top_k_by_score(col("max_cosine"), col("grp"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as(groupCol),
        col("col.score").as("max_cosine"), (col("pos") + 1).cast("bigint").as("rank"))
  }

  def ivfCosineTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      centroidsDF: Option[DataFrame] = None): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells, got nCells=$nCells nProbe=$nProbe")
    val c = withNorm(corpus, idCol, vecCol)
    val q = withNorm(queries, idCol, vecCol)

    // (cellId, vector, norm), cellId = 0.. in centroid-id order.
    val centroids: Array[(Int, Seq[Double], Double)] =
      centroidsDF.map(withNorm(_, idCol, vecCol)).getOrElse(c)
        .orderBy(col("id")).limit(nCells)
        .select(col("v"), col("nrm")).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0), r.getDouble(1)) }
    // A zero-norm centroid scores NaN against every vector, and Spark's
    // array_sort and SQL ORDER BY place NaN at OPPOSITE ends — assignment
    // would silently diverge from any SQL replay. Fail loudly instead.
    require(centroids.forall(_._3 > 0),
      "zero-norm centroid: supply non-degenerate centroidsDF")

    // cos(v, c_i) ranks like dot(v, c_i)/|c_i| — |v| is a common factor.
    def centroidScore(cv: Seq[Double], cn: Double): Column =
      array_dot(col("v"), typedLit(cv)) / lit(cn)

    // QUERY side: all cells ranked per row — (-score, cell) structs
    // sorted lexicographically (score DESC, cell ASC; smaller cell wins
    // ties). array_sort's struct comparator is CodegenFallback, which is
    // fine for the QUERIES-sized frame it runs on here.
    val rankedCells = array_sort(array(centroids.map { case (cid, cv, cn) =>
      struct(negate(centroidScore(cv, cn)).as("ns"), lit(cid).as("c")) }
      .toIndexedSeq: _*))
    val probeArr = slice(rankedCells, 1, nProbe)

    // CORPUS side: the same argmax as two stacked CODEGEN projections
    // (score columns, then greatest + a linear first-match when-chain
    // over the column REFS — each dot product evaluated once, linear
    // tree). The old per-corpus-row array_sort ran the interpreted
    // comparator on every vector — the same 15x cliff measured on
    // pqCodes at 1M vectors.
    val scoreNames = centroids.map { case (cid, _, _) => s"__ivf_s$cid" }
    val cScored = c.select(col("id") +: col("v") +: col("nrm") +:
      centroids.map { case (cid, cv, cn) =>
        centroidScore(cv, cn).as(s"__ivf_s$cid")
      }.toIndexedSeq: _*)
    val smax = ColumnKernels.greatestOf(scoreNames.map(col).toIndexedSeq)
    val bestCell = ColumnKernels.firstMatchIndex(
      scoreNames.map(col).toIndexedSeq, col("__ivf_smax"))
    val cells = cScored.withColumn("__ivf_smax", smax)
      .withColumn("cell", bestCell)
      .select(col("id"), col("v"), col("nrm"), col("cell"))
    val probes = q.select(col("id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), explode(probeArr).as("p"))
      .select(col("qid"), col("qv"), col("qn"), col("p.c").as("cell"))

    val scored = cells.join(broadcast(probes), "cell")
      .filter(col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    rankTopK(scored, k)
  }

  /** Product-quantization codes — the memory tier BELOW [[int8CosineTopK]]:
    * a d-dim vector stores as `m` sub-codes of `log2(kCent)` bits each
    * (m=4, kCent=8 → 12 BITS per vector vs 64 bytes of int8), the
    * compression that keeps a 10^11-vector corpus in cluster memory at
    * 100 TB. The vector splits into `m` contiguous subvectors; each
    * encodes as the id of its nearest codebook centroid.
    *
    * Codebook convention mirrors [[ivfCosineTopK]]'s default index and
    * [[KMeans]]'s init: per subspace, the centroids are the `kCent`
    * smallest-id corpus vectors' subvectors on the integer MICRO lattice
    * (`round(x*1e6)`) — deterministic and SQL-replayable, which is what
    * lets the s10 oracle re-derive codes and distances in closed form
    * (production would train per-subspace k-means offline and pass it via
    * `codebookOf`). Distances are exact integer squared-L2 on the lattice
    * (< 2^53 — double arithmetic exact), ties to the smaller code.
    *
    * SHAPE: the codebook folds in as literals (m × kCent × subdim longs
    * on the driver — bounded) across TWO stacked codegen projections
    * (distance columns, then the argmin when-chain); encoding is a single
    * corpus scan with NO shuffle and NO join. Output
    * `[<idCol>, codes array<int>]`.
    */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kCent: Int,
      codebookOf: Option[Array[Array[Array[Long]]]] = None): DataFrame = {
    require(m >= 1 && kCent >= 1,
      s"need m >= 1 and kCent >= 1, got m=$m kCent=$kCent")
    val q = KMeans.quantize(corpus, idCol, vecCol)
    val book = codebookOf.getOrElse(defaultCodebook(q, m, kCent))
    require(book.length == m && book.forall(_.length == kCent),
      s"codebook shape must be $m x $kCent")
    val sd = book.head.head.length
    // TWO STACKED PROJECTIONS, the KMeans.assignTo discipline: stage 1
    // materializes every (subspace, centroid) distance as a column (each
    // dot product evaluated ONCE, all codegen); stage 2 takes `least` + a
    // linear first-match when-chain per subspace — distance ASC, smaller
    // code on ties. An array_sort-of-structs argmin here is interpreted
    // (CodegenFallback comparator) and measured 54 s vs ~3 s materializing
    // 1 M x (m=8, kCent=16) codes.
    def d2Name(s: Int, j: Int) = s"__pq_d_${s}_$j"
    val distCols = (0 until m).flatMap { s =>
      val sub = slice(col("vq"), s * sd + 1, sd).cast("array<double>")
      val s2 = array_dot(sub, sub)
      (0 until kCent).map { j =>
        val cv = book(s)(j)
        val c2 = cv.foldLeft(0L)((a, x) =>
          Math.addExact(a, Math.multiplyExact(x, x)))
        (s2 - lit(2.0) * array_dot(sub, typedLit(cv.map(_.toDouble).toSeq))
          + lit(c2.toDouble)).as(d2Name(s, j))
      }
    }
    val staged = q.select(col("id") +: distCols: _*)
    val codeCols = (0 until m).map { s =>
      val ds = (0 until kCent).map(j => col(d2Name(s, j)))
      ColumnKernels.firstMatchIndex(ds, ColumnKernels.leastOf(ds))
    }
    staged.select(col("id").as(idCol), array(codeCols: _*).as("codes"))
  }

  /** TRAIN a per-subspace PQ codebook with the deterministic integer
    * Lloyd's iterations of [[KMeans.fitCentroids]] — `nIter = 0` returns
    * the first-`kCent` init (what the s10/s11 oracles replay); real
    * deployments run a few iterations over a sample (PQ recall is a
    * direct function of codebook fit — the Round11 recall spec measures
    * the trained-vs-init gap on real embeddings). `m` sequential
    * trainings, each `nIter + 1` corpus scans; at 100 TB train on a
    * sampled slice ([[Sampling.hashSplit]]) and pass the book to
    * [[pqCodes]]/[[pqTopK]] — codebooks are tiny and reusable across
    * corpus versions.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kCent: Int, nIter: Int): Array[Array[Array[Long]]] = {
    val raw = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val d = raw.select(size(col("v"))).head.getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val sd = d / m
    (0 until m).map { s =>
      KMeans.fitCentroids(
        raw.select(col("id"), slice(col("v"), s * sd + 1, sd).as("sv")),
        "id", "sv", kCent, nIter)
    }.toArray
  }

  /** Default deterministic per-subspace codebook off the quantized corpus:
    * `book(s)(j)` = subvector `s` of the j-th smallest-id vector, micros.
    */
  private def defaultCodebook(q: DataFrame, m: Int,
      kCent: Int): Array[Array[Array[Long]]] = {
    val seed = q.orderBy(col("id")).limit(kCent).select(col("vq"))
      .collect().map(_.getSeq[Long](0).toArray)
    require(seed.length == kCent, s"corpus smaller than kCent=$kCent")
    val d = seed.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val sd = d / m
    Array.tabulate(m, kCent)((s, j) => seed(j).slice(s * sd, s * sd + sd))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    * its m × kCent table of exact integer squared distances to every
    * centroid ONCE; a corpus vector's approximate distance is then `m`
    * table lookups summed — no vector arithmetic per candidate at all,
    * the property that makes PQ scan 10-100× faster than float scoring.
    *
    * SHAPE: codes are computed (or passed in) once; the query tables ride
    * a BROADCAST cross join onto the code scan (corpus scanned once, zero
    * corpus shuffle — the s01/s06 discipline) and the per-pair score is a
    * static chain of m `element_at` lookups. Top-k per query via the
    * bounded-heap aggregate on (-d2, id) — approximate distance ASC, id
    * tiebreak. Output `[query_id, neighbor_id, d2, rank]` with d2 the
    * exact integer lattice distance (oracle-replayable in SQL).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, kCent: Int,
      codesOf: Option[DataFrame] = None,
      codebookOf: Option[Array[Array[Array[Long]]]] = None): DataFrame = {
    require(m >= 1 && kCent >= 1,
      s"need m >= 1 and kCent >= 1, got m=$m kCent=$kCent")
    val cq = KMeans.quantize(corpus, idCol, vecCol)
    val book = codebookOf.getOrElse(defaultCodebook(cq, m, kCent))
    val sd = book.head.head.length
    // Self-computed codes are CHECKPOINTED before the per-query fan-out:
    // without the cut, the optimizer collapses the whole encode chain
    // into the per-query scored projection and re-evaluates it per
    // (corpus x query) row — measured 75 s vs 2.8 s at 1 M x 16 on
    // local[32] (with the then-interpreted argmin; the blowup is
    // multiplicative regardless of codegen). Materializing is also the
    // right shape per se: codes are the INDEX artifact, encoded once and
    // probed by every query batch (at scale they live in a table and
    // arrive via codesOf).
    val codes = codesOf.getOrElse(
      org.apache.spark.sql.graft.checkpointing.localCheckpointCounted(
        pqCodes(corpus, idCol, vecCol, m, kCent, Some(book)))._1)
      .select(col(idCol).as("id"), col("codes"))
    // Literal [m][kCent] distance-table EXPRESSION evaluated on the query
    // side: tables(s)(j) = ||q_s - c_{s,j}||^2, integer-exact.
    val qTables = KMeans.quantize(queries, idCol, vecCol)
      .select(col("id").as("qid"), array((0 until m).map { s =>
        val sub = slice(col("vq"), s * sd + 1, sd).cast("array<double>")
        array(book(s).map { cv =>
          val c2 = cv.foldLeft(0L)((a, x) =>
            Math.addExact(a, Math.multiplyExact(x, x)))
          (array_dot(sub, sub) - lit(2.0) * array_dot(sub,
            typedLit(cv.map(_.toDouble).toSeq)) + lit(c2.toDouble))
            .cast("long")
        }.toIndexedSeq: _*)
      }: _*).as("qtab"))
    // The lookup sum is a STATIC chain of m element_at pairs, not a
    // zip_with+aggregate lambda: higher-order functions evaluate
    // interpreted per element (the ColumnKernels discipline), and this
    // projection runs once per (corpus x query) candidate row.
    val lookupSum = (0 until m).map { s =>
      element_at(element_at(col("qtab"), s + 1),
        (element_at(col("codes"), s + 1) + lit(1)).cast("int"))
    }.reduce(_ + _)
    val scored = codes.crossJoin(broadcast(qTables))
      .filter(col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        lookupSum.as("d2"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScore.top_k_by_score(
        negate(col("d2").cast("double")), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        negate(col("col.score")).cast("long").as("d2"),
        (col("pos") + 1).cast("bigint").as("rank"))
  }

  /** PQ shortlist + EXACT rerank — the production ANN shape (ADC alone
    * orders candidates through lossy cells; its job is to not MISS them):
    * [[pqTopK]] shortlists `shortlist >> k` candidates per query at
    * table-lookup cost, then only the `queries * shortlist` survivors pay
    * an exact integer-lattice L2 — measured on the synthetic embeddings,
    * ADC@50 contains 90% of the exact top-5 where raw ADC@5 holds 20%.
    * The rerank join is candidate-sized (broadcast), never corpus-sized.
    * Output `[query_id, neighbor_id, d2, rank]` with EXACT d2.
    */
  def pqTopKReranked(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, kCent: Int, shortlist: Int,
      codesOf: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cand = pqTopK(corpus, queries, idCol, vecCol, shortlist, m, kCent,
        codesOf = codesOf)
      .select(col("query_id"), col("neighbor_id"))
    val cq = KMeans.quantize(corpus, idCol, vecCol)
      .select(col("id"), col("vq").cast("array<double>").as("cv"))
    val qq = KMeans.quantize(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("vq").cast("array<double>").as("qv"))
    val exact = cand
      .join(cq, cand("neighbor_id") === cq("id"))
      .join(broadcast(qq), cand("query_id") === qq("qid"))
      .select(col("query_id"), col("neighbor_id"),
        (array_dot(col("cv"), col("cv")) - lit(2.0) * array_dot(col("cv"), col("qv"))
          + array_dot(col("qv"), col("qv"))).as("d2"))
    exact.groupBy("query_id")
      .agg(graft.functions.TopKByScore.top_k_by_score(
        negate(col("d2")), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        negate(col("col.score")).cast("long").as("d2"),
        (col("pos") + 1).cast("bigint").as("rank"))
  }

  /** IVF-PQ composed index — the production shape for a 10^11-vector
    * corpus: [[ivfCosineTopK]]'s coarse cells partition the corpus, and
    * within each cell vectors store as PQ codes of the RESIDUAL
    * `v - coarse(cell)` (residuals cluster far tighter than raw vectors,
    * so the same code budget buys much lower quantization error — the
    * classic IVFADC layout). Search probes `nProbe` cells per query,
    * builds ONE ADC distance table per (query, probed cell) against the
    * query's residual in that cell, and scores only the vectors living in
    * probed cells with `m` table lookups each. Scanned fraction
    * ~`nProbe/nCells`, per-candidate cost O(m) — both knobs independent.
    *
    * Everything runs on the integer micro lattice ([[KMeans.quantize]]):
    * coarse assignment is exact integer squared-L2 (ties to the smaller
    * cell), residuals are exact integer differences, and the PQ codebook
    * is the residual subvectors of the `kCent` smallest-id corpus vectors
    * (the [[pqCodes]] init convention lifted to residual space) — fully
    * deterministic and SQL-replayable, which is what the s13 oracle
    * replays end to end (production trains both levels offline and the
    * plan shape is identical).
    *
    * SHAPE: coarse centroids and the residual codebook are driver-resident
    * literals (nCells + m·kCent small vectors). The corpus encodes in a
    * single scan — coarse argmin (two stacked codegen projections, the
    * [[KMeans]] discipline), then the residual array via a per-cell
    * CASE chain (only the matched branch evaluates), then the PQ argmin —
    * NO join and NO shuffle, checkpointed once as the index artifact
    * `[id, cell, codes]`. Queries broadcast their per-probe distance
    * tables onto the code scan joined BY CELL (an equi-join, so only
    * probed cells' codes are read); the per-candidate score is a static
    * chain of m `element_at` lookups. Output `[query_id, neighbor_id, d2,
    * rank]`, d2 the exact integer ADC distance, rank by (d2 ASC, id ASC).
    */
  /** Build the IVF-PQ index artifact `[id, cell, codes]` plus the two
    * driver-resident codebooks — encode ONCE, probe with every query
    * batch via [[ivfPqTopK]]'s `indexOf` (at scale the frame persists as
    * a table; the codebooks are nCells + m·kCent small vectors and ride
    * along trivially). [[ivfPqTopK]] without `indexOf` composes the two
    * for the self-contained gate shape.
    */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, m: Int, kCent: Int,
      coarseOf: Option[Array[Array[Long]]] = None,
      metaCols: Seq[String] = Nil)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val (encoded, coarse, book) =
      ivfPqEncode(corpus, idCol, vecCol, nCells, m, kCent, coarseOf, metaCols)
    // The index artifact, checkpointed before any per-query fan-out (the
    // pqTopK lesson: without the cut the optimizer re-derives the encode
    // chain per (candidate x query) row).
    (org.apache.spark.sql.graft.checkpointing.localCheckpointCounted(encoded)._1,
      coarse, book)
  }

  /** The un-checkpointed encode plan behind [[ivfPqIndex]] — exposed so
    * PlanSpec can pin that the whole chain (coarse argmin, residual CASE,
    * PQ argmin) stays inside whole-stage codegen at production arity; the
    * checkpoint in [[ivfPqIndex]] would hide it behind a scanned RDD.
    */
  private[graft] def ivfPqEncode(corpus: DataFrame, idCol: String,
      vecCol: String, nCells: Int, m: Int, kCent: Int,
      coarseOf: Option[Array[Array[Long]]] = None,
      metaCols: Seq[String] = Nil)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    require(nCells >= 1, s"need nCells >= 1, got $nCells")
    require(m >= 1 && kCent >= 1,
      s"need m >= 1 and kCent >= 1, got m=$m kCent=$kCent")
    val reserved = Set("id", "cell", "codes", "vq", "vqd", "vq2", "rv", "dist")
    require(metaCols.forall(c => !reserved.contains(c)),
      s"metaCols ${metaCols.mkString(",")} collide with index schema " +
        s"names ${reserved.mkString("{", ",", "}")}")
    // Payload columns ride the encode scan into the artifact so a search-
    // time predicate prunes WITH the index scan (no join back to the
    // corpus at query time — the filtered-ANN layout).
    val meta = metaCols.map(corpus(_))
    val cq = corpus.select(col(idCol).as("id") +:
      graft.functions.QuantizeMicros.quantize_micros(
        col(vecCol).cast("array<double>")).as("vq") +: meta: _*)

    // One driver collect covers both levels: the residual codebook seeds
    // are the kCent smallest-id quantized vectors, and — absent a TRAINED
    // coarse quantizer via `coarseOf` (micro-lattice centroids, e.g.
    // [[KMeans.fitCentroids]]'s output, the s15 wiring) — the nCells
    // coarse centroids default to the smallest-id vectors too (bounded,
    // index-sized — the coarse-quantizer contract).
    val seedRows = cq.orderBy(col("id")).limit(math.max(nCells, kCent))
      .select(col("vq")).collect().map(_.getSeq[Long](0).toArray)
    require(seedRows.length >= math.max(nCells, kCent),
      s"corpus smaller than max(nCells=$nCells, kCent=$kCent)")
    val coarse: Array[Array[Long]] = coarseOf.getOrElse(seedRows.take(nCells))
    require(coarse.length == nCells,
      s"coarseOf carries ${coarse.length} centroids, expected nCells=$nCells")
    val d = coarse.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    require(seedRows.head.length == d,
      s"coarseOf dim ${d} != corpus dim ${seedRows.head.length}")
    val sd = d / m

    // Exact integer argmin on the driver (ties to the smaller cell) —
    // the same rule the distributed assignment below applies.
    def coarseCellOf(v: Array[Long]): Int = {
      var best = 0; var bestD = Long.MaxValue
      var c = 0
      while (c < nCells) {
        var s = 0L; var i = 0
        while (i < d) { val t = v(i) - coarse(c)(i); s += t * t; i += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }
    // Residual codebook: book(s)(j) = subvector s of (seed_j - its coarse
    // centroid), exact Long arithmetic.
    val book: Array[Array[Array[Long]]] = {
      val res = seedRows.take(kCent).map { v =>
        val cc = coarse(coarseCellOf(v))
        Array.tabulate(d)(i => v(i) - cc(i))
      }
      Array.tabulate(m, kCent)((s, j) => res(j).slice(s * sd, s * sd + sd))
    }

    (encodeAgainst(cq, coarse, book, metaCols), coarse, book)
  }

  /** The encode core against FROZEN artifacts — one scan, no shuffle, no
    * driver collect (the seed derivation lives in [[ivfPqEncode]]; this
    * half only needs the finished coarse/book literals, so it also
    * serves [[ivfPqAppend]]'s incremental path on a delta of ANY size,
    * including one row). Stage 1: coarse distances as materialized
    * columns; stage 2: least + first-match argmin (cell); stage 3:
    * residual array via a CASE chain over cells (element_at minus
    * literal per dim — only the matched branch evaluates, all codegen);
    * stage 4/5: PQ distances + argmin, the pqCodes discipline. With
    * `withDistortion`, the per-subspace argmin MINIMA (already computed
    * for the code selection) also sum into a `dist` column — the exact
    * ADC quantization error of the row under these books, free at encode
    * time and the staleness signal [[ivfPqStaleness]] aggregates.
    */
  private def encodeAgainst(cq: DataFrame, coarse: Array[Array[Long]],
      book: Array[Array[Array[Long]]], metaCols: Seq[String],
      withDistortion: Boolean = false): DataFrame = {
    val nCells = coarse.length
    val m = book.length
    val kCent = book.head.length
    val d = coarse.head.length
    val sd = d / m
    val mPass = metaCols.map(col)
    val cNames = (0 until nCells).map(i => s"__ivfpq_c$i")
    val st1 = cq.withColumn("vqd", col("vq").cast("array<double>"))
      .withColumn("vq2", array_dot(col("vqd"), col("vqd")))
      .select(col("id") +: col("vq") +:
        (coarse.zipWithIndex.map { case (cv, i) =>
          (col("vq2") - lit(2.0) * array_dot(col("vqd"),
            typedLit(cv.map(_.toDouble).toSeq)) + lit(sqSum(cv))).as(cNames(i))
        }.toIndexedSeq ++ mPass): _*)
    val withCell = st1
      .withColumn("__ivfpq_dmin", ColumnKernels.leastOf(cNames.map(col)))
      .select(col("id") +: col("vq") +:
        ColumnKernels.firstMatchIndex(cNames.map(col), col("__ivfpq_dmin"))
          .as("cell") +: mPass: _*)
    // Residual as d PER-DIM expressions assembled into the array in a
    // second projection — NOT one monolithic array expression. Codegen
    // splits a projection into one small method per expression, but it
    // cannot split INSIDE one expression tree: the one-expression forms
    // (per-cell CASE, or a single indexed CreateArray) generate a method
    // that either breaks janino's 64 KB limit at nCells=64 (whole stage
    // silently interpreted) or passes janino while exceeding HotSpot's
    // ~8 KB-bytecode JIT threshold (runs in the RAW bytecode interpreter
    // — measured 16.6 s -> 60.1 s on the 4.2 M-row rebuild). The matched
    // centroid row projects once (`__cv`), then each dim is a tiny
    // element_at-minus-element_at method. (r15, ivfpq-add probe.)
    val cvLit = typedLit(coarse.map(_.toSeq).toSeq)
    val withCv = withCell.select(col("id") +: col("cell") +: col("vq") +:
      element_at(cvLit, (col("cell") + lit(1)).cast("int")).as("__cv") +:
      mPass: _*)
    val rNames = (1 to d).map(i => s"__ivfpq_r_$i")
    val withR = withCv.select(col("id") +: col("cell") +:
      ((1 to d).map(i => (element_at(col("vq"), i) -
        element_at(col("__cv"), i)).cast("double").as(rNames(i - 1)))
        ++ mPass): _*)
    val withRes = withR.select(col("id") +: col("cell") +:
      array(rNames.map(col): _*).as("rv") +: mPass: _*)
    def dName(s: Int, j: Int) = s"__ivfpq_d_${s}_$j"
    val distCols = (0 until m).flatMap { s =>
      val sub = slice(col("rv"), s * sd + 1, sd)
      val s2 = array_dot(sub, sub)
      (0 until kCent).map { j =>
        val bv = book(s)(j)
        (s2 - lit(2.0) * array_dot(sub, typedLit(bv.map(_.toDouble).toSeq))
          + lit(sqSum(bv))).as(dName(s, j))
      }
    }
    val staged = withRes.select(col("id") +: col("cell") +:
      (distCols ++ mPass): _*)
    def subDists(s: Int) = (0 until kCent).map(j => col(dName(s, j)))
    val codeCols = (0 until m).map { s =>
      ColumnKernels.firstMatchIndex(subDists(s), ColumnKernels.leastOf(subDists(s)))
    }
    val distCol =
      if (withDistortion)
        Seq((0 until m).map(s => ColumnKernels.leastOf(subDists(s)))
          .reduce(_ + _).as("dist"))
      else Seq.empty
    staged.select(col("id") +: col("cell") +:
      array(codeCols: _*).as("codes") +: (distCol ++ mPass): _*)
  }

  /** Validate a hand-supplied (coarse, book) pair the way [[ivfPqTopK]]
    * validates a hand-built index tuple — ragged or mis-sized artifacts
    * must fail loudly, never score garbage.
    */
  private def requireBooks(coarse: Array[Array[Long]],
      book: Array[Array[Array[Long]]]): Unit = {
    require(coarse.nonEmpty && book.nonEmpty && book.head.nonEmpty,
      "need non-empty coarse centroids and codebook")
    val d = coarse.head.length
    require(coarse.forall(_.length == d),
      s"ragged coarse centroids: expected every length == $d, got " +
        coarse.map(_.length).distinct.mkString("{", ",", "}"))
    val m = book.length
    require(d % m == 0, s"index dim $d not divisible by m=$m subspaces")
    val kCent = book.head.length
    require(book.forall(_.length == kCent),
      s"ragged codebook: expected $kCent centroids per subspace, got " +
        book.map(_.length).distinct.mkString("{", ",", "}"))
    require(book.forall(_.forall(_.length == d / m)),
      s"codebook subvector width != ${d / m} (index dim $d / m=$m)")
  }

  /** INCREMENTAL ENCODE (s17) — encode NEW rows against an EXISTING
    * trained index's frozen coarse quantizer + residual codebook, without
    * retraining and without the seed scan: a pure one-pass projection
    * (no collect, no shuffle, no corpus-size floor — a 1-row delta
    * encodes fine). This is what a growing vector corpus needs after the
    * initial [[ivfPqIndex]] build: the book stays frozen so OLD codes
    * stay valid, and the delta's `[id, cell, codes]` rows append to the
    * artifact ([[ivfPqAdd]] appends known-fresh ids; [[ivfPqUpsert]]
    * replaces existing ones). The price of freezing is quantization drift when the
    * delta's distribution wanders from the training one — measure it
    * with `withDistortion` + [[ivfPqStaleness]] and retrain when the
    * ratio says so.
    */
  def ivfPqAppend(delta: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Long]], book: Array[Array[Array[Long]]],
      metaCols: Seq[String] = Nil, withDistortion: Boolean = false)
      : DataFrame = {
    requireBooks(coarse, book)
    val reserved = Set("id", "cell", "codes", "vq", "vqd", "vq2", "rv", "dist")
    require(metaCols.forall(c => !reserved.contains(c)),
      s"metaCols ${metaCols.mkString(",")} collide with index schema " +
        s"names ${reserved.mkString("{", ",", "}")}")
    val meta = metaCols.map(delta(_))
    // A delta whose vectors do not match the index dimension would read
    // NULL past the array end (non-ANSI element_at), land NULL cell/codes
    // in the artifact, and never match the search's cell equi-join —
    // "indexed" but unsearchable. The module discipline is fail-loud.
    val d = coarse(0).length
    val vRaw = col(vecCol).cast("array<double>")
    val vChecked = when(size(vRaw) === d, vRaw)
      .otherwise(raise_error(concat(
        lit(s"ivfPqAppend: delta vector has "),
        coalesce(size(vRaw).cast("string"), lit("NULL")),
        lit(s" dims but the index was built at $d"))))
    val cq = delta.select(col(idCol).as("id") +:
      graft.functions.QuantizeMicros.quantize_micros(vChecked).as("vq") +:
      meta: _*)
    encodeAgainst(cq, coarse, book, metaCols, withDistortion)
  }

  /** Append a delta to an existing IVF-PQ index artifact: encode the new
    * rows under the index's FROZEN books ([[ivfPqAppend]]) and union the
    * result onto the artifact — the books pass through unchanged, so the
    * result tuple plugs straight back into [[ivfPqTopK]]'s `indexOf`.
    * Append-only by design (the 100 TB shape: the old artifact is an
    * immutable table, the delta a small new partition — no shuffle of
    * the existing index, no re-encode of old rows); id-level upsert
    * composes as `index.join(deltaEncoded, Seq("id"), "left_anti")`
    * before the union when the caller needs replace semantics.
    */
  def ivfPqAdd(
      index: (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]),
      delta: DataFrame, idCol: String, vecCol: String,
      metaCols: Seq[String] = Nil)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val (artifact, coarse, book) = index
    val enc = org.apache.spark.sql.graft.checkpointing.localCheckpointCounted(
      ivfPqAppend(delta, idCol, vecCol, coarse, book, metaCols))._1
    (artifact.unionByName(enc), coarse, book)
  }

  /** UPSERT a delta into an existing IVF-PQ index artifact (s18): delta
    * rows encode under the FROZEN books ([[ivfPqAppend]]); ids already in
    * the artifact are REPLACED (the re-embedded-document case — a doc
    * changed, its vector changed, its codes must follow), new ids append.
    * Equivalent to a full re-encode of the id-deduped corpus (delta wins)
    * under the same books — the s18 oracle's claim.
    *
    * COST vs [[ivfPqAdd]]: the replace needs a `left_anti` on id, which
    * shuffles the EXISTING artifact — at 10^11 rows that is the expensive
    * half, so production keeps upserts batched and rare (or persists the
    * artifact bucketed by id, making the anti join co-located and
    * shuffle-free — the [[graft.sources.BucketedTables]] layout). Append
    * stays the cheap path when ids are known-fresh.
    */
  def ivfPqUpsert(
      index: (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]),
      delta: DataFrame, idCol: String, vecCol: String,
      metaCols: Seq[String] = Nil)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val (artifact, coarse, book) = index
    val enc = org.apache.spark.sql.graft.checkpointing.localCheckpointCounted(
      ivfPqAppend(delta, idCol, vecCol, coarse, book, metaCols))._1
    (artifact.join(enc.select(col("id")), Seq("id"), "left_anti")
      .unionByName(enc), coarse, book)
  }

  /** PERSIST an IVF-PQ index (s20) — the missing link between the ingest
    * job that builds/maintains the index (s17/s18/st18) and the serving
    * job that probes it (s13/s16/st16): until now the artifact was a
    * session-held checkpoint and the books driver-held arrays, so the
    * index died with the session. The artifact `[id, cell, codes,
    * meta...]` writes as a parquet table BUCKETED BY CELL
    * ([[graft.sources.BucketedTables]]): search reads only probed cells,
    * so the bucketed layout lets the scan PRUNE buckets under a
    * `cell IN (probed)` predicate ([[ivfPqSearchTable]] pushes exactly
    * that) — at nProbe ≪ nCells the serving job never reads most of the
    * index files, the property a 10^11-vector artifact lives or dies by.
    * The two codebooks (nCells + m·kCent small vectors — driver-resident
    * by design) write as a tiny sidecar table `<table>_books` with rows
    * `(kind 0=coarse/1=book, i, j, vec)`.
    */
  def ivfPqSave(
      index: (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]),
      table: String, numBuckets: Int = 32): Unit = {
    val (artifact, coarse, book) = index
    requireBooks(coarse, book)
    val spark = artifact.sparkSession
    // A SAVE is a new index generation: a tombstone log left by the
    // PREVIOUS index under this name must not survive it — a stale log
    // would anti-join ids out of the fresh artifact at every load
    // (silently missing vectors) and spuriously block re-adds. Dropped
    // FIRST: a crash after the artifact/books writes but before a
    // trailing drop would leave the stale log over the new generation
    // (exactly the silent failure above), and that window sits AFTER
    // the long writes. Drop-first trades it for a narrower one: between
    // this drop and writeBucketed's own drop of the old artifact
    // (microseconds away, no data writes between), a crash leaves the
    // OLD generation intact without its log — tombstoned vectors would
    // serve again until the save is re-run. With a non-transactional
    // file catalog some window exists under every ordering (the books
    // sidecar replacement below has its own); this ordering makes the
    // bad window the one that does not follow minutes of artifact I/O.
    graft.sources.BucketedTables.dropWithLocation(
      spark, s"${table}_tombstones")
    graft.sources.BucketedTables.writeBucketed(
      artifact, table, numBuckets, Seq("cell"))
    import spark.implicits._
    val rows =
      coarse.zipWithIndex.map { case (cv, i) => (0, i, 0, cv.toSeq) } ++
        (for { s <- book.indices; j <- book(s).indices }
          yield (1, s, j, book(s)(j).toSeq))
    graft.sources.BucketedTables.replaceSidecar(
      rows.toSeq.toDF("kind", "i", "j", "vec"), s"${table}_books")
  }

  /** Load an index persisted by [[ivfPqSave]]: the artifact comes back as
    * the bucketed-table scan (its cell hash-partitioning reported to the
    * planner), the books re-materialize from the sidecar — the returned
    * tuple plugs straight into [[ivfPqTopK]]'s `indexOf` /
    * [[ivfPqAdd]] / [[ivfPqUpsert]] / [[ivfPqRemove]]. A corrupted or
    * hand-edited sidecar (gaps in the (i, j) lattice, ragged vectors)
    * fails loudly through the same shape validation every hand-built
    * tuple passes.
    */
  /** Durable DELETE for a persisted index table (s26) — the tombstone
    * half of the storage CRUD (save s20, append s22, compact s23):
    * deleting from an immutable parquet artifact by rewrite would cost
    * a full compaction per delete batch, so removal is a LOG — ids
    * APPEND (O(delta), one small file per batch, the artifact untouched)
    * to the side table `<table>_tombstones`; [[ivfPqLoad]] (and thus
    * [[ivfPqSearchTable]] and any `indexOf =` consumer) anti-joins the
    * log, so tombstoned rows are logically gone the moment this
    * returns; [[ivfPqCompact]] makes it physical — survivors rewrite on
    * the same cadence that already bounds append small-files, and the
    * log truncates. LSM-style delete semantics: writes stay O(delta),
    * reads carry one anti-join bounded by removals-since-last-compact,
    * compaction restores the clean scan. Duplicate tombstones and ids
    * absent from the artifact are no-ops (anti-join semantics), so
    * removal is idempotent and unordered by construction — no
    * read-modify-write of the log, ever.
    */
  def ivfPqRemoveFromTable(ids: DataFrame, table: String,
      idCol: String): Unit = {
    val spark = ids.sparkSession
    require(spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_books")),
      s"$table has no ${table}_books sidecar — not an ivfPqSave artifact")
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1).write.mode("append").format("parquet")
      .saveAsTable(s"${table}_tombstones")
  }

  /** The live tombstone log of a persisted index, if any removals are
    * pending compaction — `[id]`, deduplicated across append batches.
    */
  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[DataFrame] = {
    val t = org.apache.spark.sql.catalyst.TableIdentifier(
      s"${table}_tombstones")
    if (spark.sessionState.catalog.tableExists(t))
      Some(spark.table(s"${table}_tombstones").select("id").distinct())
    else None
  }

  def ivfPqLoad(spark: org.apache.spark.sql.SparkSession, table: String)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val side = spark.table(s"${table}_books")
      .select(col("kind"), col("i"), col("j"), col("vec")).collect()
    val coarseRows = side.filter(_.getInt(0) == 0)
    val bookRows = side.filter(_.getInt(0) == 1)
    require(coarseRows.nonEmpty && bookRows.nonEmpty,
      s"sidecar ${table}_books is missing coarse or codebook rows")
    val coarse = coarseRows.sortBy(_.getInt(1))
      .map(_.getSeq[Long](3).toArray)
    require(coarseRows.map(_.getInt(1)).sorted.toSeq ==
      coarse.indices.toSeq,
      s"sidecar ${table}_books: coarse cell ids are not 0..${coarse.length - 1}")
    val m = bookRows.map(_.getInt(1)).max + 1
    val kCent = bookRows.map(_.getInt(2)).max + 1
    require(bookRows.length == m * kCent,
      s"sidecar ${table}_books: ${bookRows.length} codebook rows != " +
        s"$m subspaces x $kCent centroids")
    val book = Array.ofDim[Array[Long]](m, kCent)
    bookRows.foreach(r => book(r.getInt(1))(r.getInt(2)) =
      r.getSeq[Long](3).toArray)
    requireBooks(coarse, book)
    // Pending tombstones (ivfPqRemoveFromTable) apply HERE, so every
    // consumer of the loaded tuple — search, staleness, upsert — sees
    // the index as it logically exists. The anti-join's broadcast side
    // is the log (bounded by removals since the last compaction); scan
    // predicates on the artifact side (the probed-cell literal filter)
    // still push below a left_anti, so bucket pruning survives —
    // spec-pinned with a live log.
    val raw = graft.sources.BucketedTables.readBucketed(spark, table)
    val artifact = tombstonesOf(spark, table)
      .map(t => raw.join(broadcast(t), Seq("id"), "left_anti"))
      .getOrElse(raw)
    (artifact, coarse, book)
  }

  /** Append a delta INTO a persisted index table (s22 — the durable
    * [[ivfPqAdd]]): encode the new rows under the table's sidecar books
    * (frozen — old files stay valid) and APPEND them to the bucketed
    * artifact table. `saveAsTable(append)` with the table's own bucket
    * spec keeps the layout contract, so [[ivfPqSearchTable]]'s pruning
    * still fires; the delta lands as NEW bucket files — the existing
    * 10^11-row artifact is never rewritten or shuffled, which is the
    * whole point of append-only ingest (per-bucket single-file sort
    * elision is the one thing appends forfeit; the planner detects the
    * file count and simply keeps the sort — documented in
    * [[graft.sources.BucketedTables.readBucketed]]).
    */
  def ivfPqAddToTable(delta: DataFrame, table: String,
      idCol: String, vecCol: String, metaCols: Seq[String] = Nil): Unit = {
    val spark = delta.sparkSession
    // Layout check FIRST (before the sidecar read): appending into a
    // non-bucketed table would silently forfeit serving-time pruning.
    val bs = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"table $table has no bucket spec — not an ivfPqSave artifact"))
    require(bs.sortColumnNames.nonEmpty,
      s"table $table has a bucket spec but no sort columns — " +
        "not an ivfPqSave artifact")
    val (_, coarse, book) = ivfPqLoad(spark, table)
    // Re-adding a TOMBSTONED id before compaction cannot work — the
    // pending log would anti-join the fresh row right back out (the log
    // carries no sequence numbers to order a delete before a re-add).
    // Fail loud rather than let the append silently vanish at read
    // time; the caller compacts first (making deletes physical) or
    // upserts on the loaded tuple instead.
    tombstonesOf(spark, table).foreach { t =>
      val clash = delta.select(col(idCol).cast("long").as("id"))
        .join(broadcast(t), Seq("id")).limit(1).count()
      require(clash == 0L,
        s"ivfPqAddToTable: delta contains ids tombstoned in $table — " +
          "compact the table first (ivfPqCompact) to make deletes " +
          "physical, then re-add")
    }
    val enc = ivfPqAppend(delta, idCol, vecCol, coarse, book, metaCols)
    graft.sources.BucketedTables.appendBucketed(enc, table)
  }

  /** Per-query RECALL of an approximate neighbor result against an
    * exact one (s24) — the evaluation operator every ANN deployment
    * runs before turning a knob: nProbe, bands, codebook size, int8 vs
    * PQ vs binary all trade recall for cost, and the trade must be
    * MEASURED on the deployment's own corpus (specs here have gated
    * recall inline since round 11; this is the first-class distributed
    * form). Inputs are two ranked result frames `[queryCol,
    * neighborCol, ...]` (any of this module's top-k outputs — the
    * operator is metric-agnostic, which is the point: quantized-L2
    * search is routinely evaluated against exact-cosine truth). Output
    * `[queryCol, hits, exact_n, recall]` per query: `hits` = shared
    * neighbors, `recall` = hits / exact_n (the exact side's row count —
    * so queries with fewer than k true neighbors are not penalized for
    * the shortfall). Zero-hit queries ARE rows (recall 0), via the left
    * join from the exact side — an evaluation that silently drops its
    * failures isn't one.
    *
    * Scale: both inputs are top-k frames (queries × k rows, corpus-size
    * independent); the equi-join and the two aggregates shuffle only
    * those — the expensive part of an eval run is producing the exact
    * truth, which callers bound by sampling queries, not this compare.
    */
  def annRecall(exact: DataFrame, approx: DataFrame,
      queryCol: String, neighborCol: String): DataFrame = {
    // Both sides dedupe on (query, neighbor): ranked top-k frames are
    // duplicate-free already (the distinct folds into their aggregates),
    // but recall must stay a SET measure in [0, 1] even on a malformed
    // input — duplicated pairs would otherwise inflate hits past
    // exact_n and report recall > 1.
    val ex = exact.select(col(queryCol).as("__ar_q"),
      col(neighborCol).as("__ar_n")).distinct()
    val ap = approx.select(col(queryCol).as("__ar_q"),
      col(neighborCol).as("__ar_n")).distinct()
    val hits = ex.join(ap, Seq("__ar_q", "__ar_n"))
      .groupBy("__ar_q").agg(count(lit(1)).as("hits"))
    ex.groupBy("__ar_q").agg(count(lit(1)).as("exact_n"))
      .join(hits, Seq("__ar_q"), "left")
      .select(col("__ar_q").as(queryCol),
        coalesce(col("hits"), lit(0L)).as("hits"), col("exact_n"),
        round(coalesce(col("hits"), lit(0L)) / col("exact_n"), 6)
          .as("recall"))
  }

  /** AUTO-TUNE nProbe against a recall target (s25) — [[annRecall]]
    * closed the measurement loop; this closes the DECISION loop: sweep
    * nProbe = 1..nCells on a (sampled) query batch, score each against
    * exact truth, and mark the smallest nProbe whose mean recall meets
    * `target` — the number the serving job actually deploys with.
    * Output `[nprobe, mean_recall, chosen]`, one row per swept value,
    * the whole recall/cost curve kept (the curve IS the capacity-plan
    * artifact: its knee says whether the index needs retraining or just
    * a bigger probe). `chosen` is false everywhere when even
    * probe-everything misses the target — surfacing that honestly
    * beats clamping to nCells.
    *
    * COST: the sweep is nCells searches over the SAME index artifact +
    * one exact brute-force pass — bounded by the query SAMPLE size
    * (callers tune on hundreds of queries, not the corpus), and each
    * sweep point is the serving plan itself, so the measured recall is
    * the deployed recall, not a proxy.
    */
  def ivfPqTuneNProbe(
      index: (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]),
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, target: Double): DataFrame = {
    val (_, coarse, book) = index
    require(target > 0.0 && target <= 1.0, s"target in (0, 1], got $target")
    val spark = corpus.sparkSession
    import spark.implicits._
    val exact = cosineTopK(corpus, queries, idCol, vecCol, k)
      .localCheckpoint(true)
    // avg(recall) over zero rows is NULL and would NPE inside the sweep
    // with no hint the sample was empty — fail loud at the boundary.
    require(!exact.isEmpty,
      "ivfPqTuneNProbe: empty query sample (or empty corpus) — nothing " +
        "to score a recall target against")
    val curve = (1 to coarse.length).map { p =>
      val approx = ivfPqTopK(corpus, queries, idCol, vecCol, k,
        nCells = coarse.length, nProbe = p, m = book.length,
        kCent = book.head.length, indexOf = Some(index))
      val r = annRecall(exact, approx, "query_id", "neighbor_id")
        .agg(round(avg(col("recall")), 6)).head().getDouble(0)
      (p, r)
    }
    val best = curve.find(_._2 >= target).map(_._1)
    curve.toDF("nprobe", "mean_recall")
      .withColumn("chosen", col("nprobe") === lit(best.getOrElse(-1)))
  }

  /** COMPACT a persisted index table (s23) — the maintenance quadrant
    * append-only ingest creates: every [[ivfPqAddToTable]] lands its
    * delta as new files per bucket, so a nightly cadence accretes
    * N+1 files/bucket after N appends — the small-files tax on every
    * serving scan, plus the forfeited per-bucket sort elision. One
    * bucket-spec-preserving rewrite through a staging table + catalog
    * swap ([[graft.sources.BucketedTables.compactTable]]); the books
    * sidecar is untouched (compaction moves BYTES, never codes — the
    * s23 oracle pins search-invisibility through build + persist +
    * append + compact). Fails loud on a table that is not an
    * [[ivfPqSave]] artifact.
    */
  def ivfPqCompact(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    require(spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_books")),
      s"$table has no ${table}_books sidecar — not an ivfPqSave artifact")
    // Pending tombstones become PHYSICAL here: the anti-join rides the
    // compaction shuffle (no extra pass), then the log truncates. Crash
    // ordering is safe by idempotence — if the drop below never runs,
    // the next read re-applies tombstones that now match nothing.
    tombstonesOf(spark, table) match {
      case Some(t) =>
        graft.sources.BucketedTables.compactTable(spark, table,
          _.join(broadcast(t), Seq("id"), "left_anti"))
        graft.sources.BucketedTables.dropWithLocation(
          spark, s"${table}_tombstones")
      case None =>
        graft.sources.BucketedTables.compactTable(spark, table)
    }
  }

  /** Quantized query frame plus `__ranked`: the coarse-cell (d2, cell)
    * struct array sorted ascending, ties to the smaller cell — ONE
    * definition shared by the serving path ([[ivfPqTopK]]) and the
    * plan-time pruning path ([[ivfPqProbeCells]]). The sharing is
    * load-bearing: if the two rankings ever diverged (tie-break,
    * quantization, distance term), the pruned scan could exclude a cell
    * the search then probes — candidates silently vanish from top-k.
    */
  private def coarseRankedQueries(queries: DataFrame, idCol: String,
      vecCol: String, coarse: Array[Array[Long]]): DataFrame =
    KMeans.quantize(queries, idCol, vecCol)
      .withColumn("vqd", col("vq").cast("array<double>"))
      .withColumn("vq2", array_dot(col("vqd"), col("vqd")))
      .withColumn("__ranked",
        array_sort(array(coarse.zipWithIndex.map { case (cv, i) =>
          struct((col("vq2") - lit(2.0) * array_dot(col("vqd"),
            typedLit(cv.map(_.toDouble).toSeq)) + lit(sqSum(cv))).as("d"),
            lit(i).as("c"))
        }.toIndexedSeq: _*)))

  /** The DISTINCT coarse cells a (bounded, batch) query set probes at
    * `nProbe` — the literal set [[ivfPqSearchTable]] pushes into the
    * bucketed index scan as `cell IN (...)` so bucket pruning fires at
    * planning time (a join key never prunes a scan; a literal predicate
    * does). The collect is bounded by min(nCells, queries × nProbe) ints
    * — the same serving-batch contract that already broadcasts the query
    * tables. Batch queries only (a streaming batch is not driver-known
    * at plan time — st16's stream-static join is the streaming shape).
    */
  def ivfPqProbeCells(queries: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Long]], nProbe: Int): Array[Int] = {
    require(!queries.isStreaming,
      "ivfPqProbeCells needs a driver-known batch of queries")
    require(nProbe >= 1 && nProbe <= coarse.length,
      s"need 1 <= nProbe <= nCells=${coarse.length}, got $nProbe")
    coarseRankedQueries(queries, idCol, vecCol, coarse)
      .select(explode(slice(col("__ranked"), 1, nProbe)).as("p"))
      .select(col("p.c").as("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
  }

  /** Serve ANN queries off a PERSISTED index table — the s20 composition:
    * load books from the sidecar, compute the query batch's probed-cell
    * set, and run [[ivfPqTopK]] over the bucketed artifact scan filtered
    * to `cell IN (probed)` — so the scan reads ONLY the probed cells'
    * buckets (SelectedBucketsCount in the plan, spec-pinned). Results are
    * bit-identical to the in-session search: the equi-join on cell
    * already ignored unprobed cells; the literal filter just stops the
    * scan from READING them.
    */
  def ivfPqSearchTable(queries: DataFrame, table: String,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      indexFilter: Option[Column] = None,
      metaCols: Seq[String] = Nil): DataFrame = {
    val (artifact, coarse, book) = ivfPqLoad(queries.sparkSession, table)
    val cells = ivfPqProbeCells(queries, idCol, vecCol, coarse, nProbe)
    val pruned = artifact.filter(col("cell").isin(cells.map(c => c: Any): _*))
    ivfPqTopK(queries, queries, idCol, vecCol, k, coarse.length, nProbe,
      book.length, book.head.length, indexOf = Some((pruned, coarse, book)),
      indexFilter = indexFilter, metaCols = metaCols)
  }

  private def genSidecarName(table: String, tag: String) =
    s"${table}__gen_$tag"

  private def tableExists(spark: org.apache.spark.sql.SparkSession,
      name: String): Boolean =
    spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(name))

  /** Basenames pinned by the data snapshot `tag` of `table`, sorted.
    * BASENAMES, not paths: snapshot retention re-homes pinned files into
    * the sibling retained directory (keeping the name) when a
    * compaction/rewrite lands — a path-level identity would spuriously
    * break on the FIRST maintenance op after the pin, which is exactly
    * the cadence pinning exists for. Names are unique per generation by
    * construction (retention pre-flights destination collisions).
    */
  private def pinnedBasenames(spark: org.apache.spark.sql.SparkSession,
      table: String, tag: String): Seq[String] =
    spark.table(s"${table}__snap_$tag").select("path")
      .collect().map(r =>
        new org.apache.hadoop.fs.Path(r.getString(0)).getName)
      .sorted.toIndexedSeq

  /** PIN a coherent serving GENERATION of a persisted index (s29): the
    * data files, the `_books` sidecar content, and the pending tombstone
    * log — together, under one tag. b10/b13 snapshots pin only the DATA
    * half; a serving job reading yesterday's files under today's books
    * (an `ivfPqSave` re-trains both) would decode codes against
    * codebooks that never produced them — garbage distances with no
    * error. The pin is therefore: (1) the b10 file-level snapshot of the
    * artifact (survives appends, compaction and full rewrites via the
    * retained-dir discipline — the heavy half, pinned by reference);
    * (2) the books rows and the pending tombstone ids COPIED into a
    * `<table>__gen_<tag>` sidecar (both tiny — k + m·kCent book rows,
    * delta-scale tombstones — so copy beats lifecycle-coupling to tables
    * that `ivfPqSave`/`ivfPqCompact` legitimately drop); (3) the pinned
    * file set's basenames recorded alongside, the coherence fingerprint
    * [[ivfPqLoadPinned]] verifies so a data pin silently re-pinned to a
    * DIFFERENT generation fails loud instead of serving mismatched
    * books. Re-pinning a tag replaces both halves atomically-enough
    * (data pin first — its re-pin already expires the old one — then the
    * sidecar).
    */
  def ivfPqPin(spark: org.apache.spark.sql.SparkSession,
      table: String, tag: String): Unit = {
    require(tableExists(spark, s"${table}_books"),
      s"$table has no ${table}_books sidecar — not an ivfPqSave artifact")
    require(!table.contains("__gen") && !tag.contains("__gen"),
      s"'$table'/'$tag' contains the reserved generation marker '__gen'")
    graft.sources.BucketedTables.snapshot(spark, table, tag)
    import spark.implicits._
    val books = spark.table(s"${table}_books")
      .select(col("kind"), col("i"), col("j"), col("vec")).collect()
      .map(r => (r.getInt(0), r.getInt(1).toLong, r.getInt(2),
        r.getSeq[Long](3), null: String))
    val ts = tombstonesOf(spark, table)
      .map(_.as[Long].collect()).getOrElse(Array.empty[Long])
      .map(id => (2, id, 0, Seq.empty[Long], null: String))
    val names = pinnedBasenames(spark, table, tag).zipWithIndex
      .map { case (n, i) => (3, i.toLong, 0, Seq.empty[Long], n) }
    graft.sources.BucketedTables.replaceSidecar(
      (books ++ ts ++ names).toSeq.toDF("kind", "i", "j", "vec", "name"),
      genSidecarName(table, tag))
  }

  /** Load the index AS PINNED by [[ivfPqPin]]: books/tombstones from the
    * generation sidecar, data from the snapshot manifest — the tuple
    * plugs into the same consumers as [[ivfPqLoad]]. Fails LOUD on every
    * way the halves can diverge: sidecar without data pin (someone
    * called `expireSnapshot` directly), data pin re-pinned to a
    * different file set than the books describe (someone called
    * `snapshot` directly after maintenance). The pinned tombstones apply
    * here — the generation's LOGICAL content at pin time — and later
    * removals/compactions on the live table are invisible, which is the
    * point of the pin.
    */
  def ivfPqLoadPinned(spark: org.apache.spark.sql.SparkSession,
      table: String, tag: String)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val genT = genSidecarName(table, tag)
    require(tableExists(spark, genT),
      s"$table has no pinned generation '$tag' — ivfPqPin first")
    require(tableExists(spark, s"${table}__snap_$tag"),
      s"pinned generation '$tag' of $table lost its data snapshot " +
        s"${table}__snap_$tag (expireSnapshot called directly?) — the " +
        "pin halves diverged; ivfPqUnpin and re-pin")
    val side = spark.table(genT)
      .select(col("kind"), col("i"), col("j"), col("vec"), col("name"))
      .collect()
    val pinnedNames = side.filter(_.getInt(0) == 3)
      .map(_.getString(4)).sorted.toSeq
    val currentNames = pinnedBasenames(spark, table, tag)
    require(pinnedNames == currentNames,
      s"books/data pin mismatch for $table tag '$tag': the data " +
        "snapshot pins a different file set than this generation's books " +
        "were recorded against (snapshot() re-pinned the tag after index " +
        "maintenance?) — serving it would decode codes under foreign " +
        "books; ivfPqUnpin and re-pin the generation")
    val coarseRows = side.filter(_.getInt(0) == 0)
    val bookRows = side.filter(_.getInt(0) == 1)
    require(coarseRows.nonEmpty && bookRows.nonEmpty,
      s"generation sidecar $genT is missing coarse or codebook rows")
    val coarse = coarseRows.sortBy(_.getLong(1))
      .map(_.getSeq[Long](3).toArray)
    require(coarseRows.map(_.getLong(1)).sorted.toSeq ==
      coarse.indices.map(_.toLong).toSeq,
      s"generation sidecar $genT: coarse cell ids are not 0..${coarse.length - 1}")
    val m = bookRows.map(_.getLong(1)).max.toInt + 1
    val kCent = bookRows.map(_.getInt(2)).max + 1
    require(bookRows.length == m * kCent,
      s"generation sidecar $genT: ${bookRows.length} codebook rows != " +
        s"$m subspaces x $kCent centroids")
    val book = Array.ofDim[Array[Long]](m, kCent)
    bookRows.foreach(r => book(r.getLong(1).toInt)(r.getInt(2)) =
      r.getSeq[Long](3).toArray)
    requireBooks(coarse, book)
    val raw = graft.sources.BucketedTables.readSnapshot(spark, table, tag)
    val ts = side.filter(_.getInt(0) == 2).map(_.getLong(1))
    val artifact = if (ts.isEmpty) raw else {
      import spark.implicits._
      raw.join(broadcast(ts.toSeq.toDF("id")), Seq("id"), "left_anti")
    }
    (artifact, coarse, book)
  }

  /** Serve ANN queries off a PINNED generation (s29 — the reproducible
    * twin of [[ivfPqSearchTable]]): same probe-cell computation, same
    * ADC scoring, over [[ivfPqLoadPinned]]'s frozen tuple — so a serving
    * fleet keeps answering from the pinned generation, bit-stable, while
    * upserts/compactions land on the live table underneath. COST NOTE,
    * honest: the snapshot read is a path-list parquet scan with no
    * bucket metadata, so the probed-cell literal prunes via parquet
    * min/max stats (per-file/row-group), not planning-time bucket
    * pruning — the live [[ivfPqSearchTable]] remains the fast path; this
    * is the REPRODUCIBLE path, the trade a frozen read buys.
    */
  def ivfPqSearchPinned(queries: DataFrame, table: String, tag: String,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      indexFilter: Option[Column] = None,
      metaCols: Seq[String] = Nil): DataFrame = {
    val (artifact, coarse, book) =
      ivfPqLoadPinned(queries.sparkSession, table, tag)
    val cells = ivfPqProbeCells(queries, idCol, vecCol, coarse, nProbe)
    val pruned = artifact.filter(col("cell").isin(cells.map(c => c: Any): _*))
    ivfPqTopK(queries, queries, idCol, vecCol, k, coarse.length, nProbe,
      book.length, book.head.length, indexOf = Some((pruned, coarse, book)),
      indexFilter = indexFilter, metaCols = metaCols)
  }

  /** Release a pinned generation: drop the sidecar, expire the data
    * snapshot (retained files no other pin holds are GC'd —
    * [[graft.sources.BucketedTables.expireSnapshot]]). Tolerates a
    * half-diverged pin (data snapshot already gone) so a broken pin can
    * always be cleaned up — the loud path is loading, not unpinning.
    */
  def ivfPqUnpin(spark: org.apache.spark.sql.SparkSession,
      table: String, tag: String): Unit = {
    val genT = genSidecarName(table, tag)
    require(tableExists(spark, genT),
      s"$table has no pinned generation '$tag'")
    graft.sources.BucketedTables.dropWithLocation(spark, genT)
    if (tableExists(spark, s"${table}__snap_$tag"))
      graft.sources.BucketedTables.expireSnapshot(spark, table, tag)
  }

  /** REMOVE ids from an IVF-PQ index artifact (s21) — the delete half of
    * the index CRUD (build s13, add s17, upsert s18, persist s20): a
    * `left_anti` on id, books untouched (removal never changes how the
    * SURVIVORS quantize — their codes were computed row-independently
    * under the frozen books). Search over the result equals search over
    * an index that never contained those rows (the s21 oracle's claim),
    * and `remove(ids) then add(delta)` == `upsert(delta)` when
    * ids = delta's ids (spec-pinned).
    *
    * COST: like upsert's replace half, the anti join shuffles the
    * existing artifact unless it is persisted bucketed by id — batched,
    * rare removals (or a tombstone side table the search anti-joins) are
    * the production cadence. What removal DOES change is how well the
    * frozen books still represent the corpus: the training rows keep
    * counting in the codebook but no longer exist — pass the surviving
    * artifact to [[ivfPqStaleness]] and the removed training mass counts
    * toward retrain pressure.
    */
  def ivfPqRemove(
      index: (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]),
      ids: DataFrame, idCol: String)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val (artifact, coarse, book) = index
    (artifact.join(ids.select(col(idCol).as("id")), Seq("id"), "left_anti"),
      coarse, book)
  }

  /** Staleness of a frozen IVF-PQ index vs a delta (s17's retrain
    * signal): mean ADC quantization distortion of the delta rows over
    * that of the training rows, both under the SAME frozen books (the
    * `dist` column from `withDistortion = true`). Near 1 = the delta
    * still looks like the training distribution; growing ratio = the
    * frozen books quantize new data increasingly badly — retrain. One
    * row `[train_mean_dist, delta_mean_dist, staleness]`; two scalar
    * aggregates + a 1x1 cross join, nothing corpus-sized moves.
    *
    * With `currentArtifact` (s21): REMOVED TRAINING MASS also counts
    * toward retrain pressure — training rows absent from the current
    * artifact still shaped the frozen books but no longer exist, so the
    * books increasingly describe a corpus that is gone. Two more
    * columns: `removed_train_frac` (fraction of training rows whose id
    * left the artifact) and `retrain_pressure` =
    * `staleness / (1 - removed_train_frac)` — equal to staleness at
    * zero removals and diverging as the training support erodes (all
    * training rows gone = unbounded pressure: nothing the books were
    * fit on remains). Adds one anti-join count over the training rows;
    * still nothing corpus-sized on the driver.
    */
  def ivfPqStaleness(trainEncoded: DataFrame, deltaEncoded: DataFrame,
      currentArtifact: Option[DataFrame] = None): DataFrame = {
    Seq(trainEncoded, deltaEncoded).foreach(df =>
      require(df.columns.contains("dist"),
        "ivfPqStaleness needs the `dist` column — encode with " +
          "withDistortion = true"))
    val base = trainEncoded.agg(avg(col("dist")).as("train_mean_dist"))
      .crossJoin(deltaEncoded.agg(avg(col("dist")).as("delta_mean_dist")))
      .select(col("train_mean_dist"), col("delta_mean_dist"),
        (col("delta_mean_dist") /
          nullif(col("train_mean_dist"), lit(0.0))).as("staleness"))
    currentArtifact.fold(base) { artifact =>
      val removed = trainEncoded
        .join(artifact.select(col("id")), Seq("id"), "left_anti")
        .agg(count(lit(1)).as("n_removed"))
        .crossJoin(trainEncoded.agg(count(lit(1)).as("n_train")))
        .select((col("n_removed").cast("double") /
          nullif(col("n_train").cast("double"), lit(0.0)))
          .as("removed_train_frac"))
      base.crossJoin(removed)
        .withColumn("retrain_pressure", col("staleness") /
          nullif(lit(1.0) - col("removed_train_frac"), lit(0.0)))
    }
  }

  /** Exact integer |cv|^2 as a double literal (codebook vectors only —
    * bounded, overflow-checked).
    */
  private def sqSum(cv: Array[Long]): Double =
    cv.foldLeft(0L)((a, x) => Math.addExact(a, Math.multiplyExact(x, x))).toDouble

  /** `vq - coarse(cell)` by INDEXING a 2-D centroid literal: the matched
    * centroid row is `element_at(<literal array-of-arrays>, cell + 1)`
    * (hoisted once by codegen subexpression elimination), then d
    * element_at-minus-element_at nodes build the residual — code size
    * O(d), INDEPENDENT of nCells. The original per-cell CASE chain
    * (every centroid inlined as literals in its own arm) was O(nCells·d)
    * generated code and blew the JVM's 64 KB method limit at nCells=64 ·
    * d=64, silently dropping the whole encode stage to interpreted
    * execution — the `ivfpq-add` scale probe caught it (r15); the
    * codegen plan spec now pins the 64-cell arity too. Still no join and
    * no higher-order function on the corpus hot path.
    */
  private def residualCase(coarse: Array[Array[Long]], vqc: Column,
      cellc: Column): Column = {
    val d = coarse.head.length
    val cv = element_at(typedLit(coarse.map(_.toSeq).toSeq),
      (cellc + lit(1)).cast("int"))
    array((1 to d).map(i => element_at(vqc, i) - element_at(cv, i)): _*)
  }

  /** IVF-PQ search, optionally FILTERED (s16): `indexFilter` is a corpus
    * predicate over `metaCols` payload columns carried in the index
    * artifact (see [[ivfPqIndex]]'s `metaCols`), applied to the INDEX
    * side BEFORE the cell equi-join and ADC scoring — so the predicate
    * prunes with the index scan and top-k is computed over SURVIVORS.
    * Post-filtering a ranked unfiltered top-k is NOT equivalent: it
    * returns fewer than k (or the wrong k) whenever a filtered-out
    * vector occupied a top-k slot — the production RAG shape (metadata
    * predicate + vector search in one plan) needs the filter on the
    * candidate stream, which is what this does. When `indexOf` is absent
    * the self-contained build threads `metaCols` into the encode scan.
    *
    * QUERY-BATCH scaling (`ScaleBench ivfpq-qbatch`): cost is linear in
    * the batch — each query scores ~(nProbe/nCells) x corpus candidates
    * at O(m) lookups each, and the per-query top-k is a bounded heap, so
    * 16x the queries ≈ 16x the scoring wall (measured 1 M corpus:
    * q=1024 -> 31.5 s, q=16384 -> 140 s). The query side rides a
    * broadcast (Q x nProbe rows of m x kCent tables), fine at
    * serving-realistic sizes; corpus-scale batches should stream through
    * st16-style micro-batches instead of growing the broadcast. Needs
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` above
    * the per-task query-group count (set to 65536 in this repo's session
    * builders) — the 128-key default pushes the scored stream into
    * sort-based aggregation whose spill machinery OOMs long before hash
    * aggregation feels the batch (SCALE_RECORD.md r15).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int, nProbe: Int, m: Int, kCent: Int,
      indexOf: Option[(DataFrame, Array[Array[Long]], Array[Array[Array[Long]]])] = None,
      indexFilter: Option[Column] = None,
      metaCols: Seq[String] = Nil)
      : DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells, got nCells=$nCells nProbe=$nProbe")
    require(m >= 1 && kCent >= 1,
      s"need m >= 1 and kCent >= 1, got m=$m kCent=$kCent")
    val (codesAll, coarse, book) = indexOf.getOrElse(
      ivfPqIndex(corpus, idCol, vecCol, nCells, m, kCent,
        metaCols = metaCols))
    // The filtered-ANN cut: predicate lands on the index scan, upstream
    // of the broadcast cell join — ADC never scores a filtered-out row.
    val codes = indexFilter.map(codesAll.filter).getOrElse(codesAll)
    require(coarse.length == nCells && book.length == m &&
      book.forall(_.length == kCent),
      s"index shape mismatch: got ${coarse.length} cells, " +
        s"${book.length} x ${book.headOption.map(_.length).getOrElse(0)} codebook " +
        s"for nCells=$nCells m=$m kCent=$kCent")
    val d = coarse.head.length
    // Dimension discipline on a HAND-BUILT index tuple (ivfPqEncode
    // enforces its own): a mismatched subvector width would flow into
    // residualCase/slice and score garbage silently, not loudly. Every
    // coarse centroid must match d, not just the head — a LONGER ragged
    // centroid would silently drop its trailing dims in residualCase
    // (wrong residuals, no error); a shorter one would surface as a raw
    // ArrayIndexOutOfBounds rather than a contract error.
    require(coarse.forall(_.length == d),
      s"ragged coarse centroids: expected every length == $d, got " +
        coarse.map(_.length).distinct.mkString("{", ",", "}"))
    require(d % m == 0, s"index dim $d not divisible by m=$m subspaces")
    require(book.forall(_.forall(_.length == d / m)),
      s"codebook subvector width != ${d / m} (index dim $d / m=$m)")
    val sd = d / m

    // QUERY SIDE (query-sized frames throughout): rank coarse cells by
    // exact integer distance — (d2, cell) struct sort, ties to the
    // smaller cell — take nProbe, then per probe build the residual and
    // its m x kCent ADC table as literal-expanded exact expressions.
    val probes = coarseRankedQueries(queries, idCol, vecCol, coarse)
      .select(col("id").as("qid"), col("vq").as("qvq"),
        explode(slice(col("__ranked"), 1, nProbe)).as("p"))
      .select(col("qid"), col("qvq"), col("p.c").as("cell"))
    val withQr = probes.select(col("qid"), col("cell"),
      residualCase(coarse, col("qvq"), col("cell")).cast("array<double>").as("qr"))
    val qTables = withQr.select(col("qid"), col("cell"),
      array((0 until m).map { s =>
        val sub = slice(col("qr"), s * sd + 1, sd)
        array(book(s).map { bv =>
          (array_dot(sub, sub) - lit(2.0) * array_dot(sub,
            typedLit(bv.map(_.toDouble).toSeq)) + lit(sqSum(bv))).cast("long")
        }.toIndexedSeq: _*)
      }: _*).as("qtab"))

    // ADC: equi-join on cell (only probed cells' codes are read), m
    // static element_at lookups per candidate, bounded-heap top-k.
    // STREAMING queries (st16, the RAG serving shape): a stream side
    // cannot be broadcast, so the hint flips — the per-batch probe
    // tables join the STATIC code table as a stream-static equi-join
    // and the planner broadcasts the bounded static build instead.
    val lookupSum = (0 until m).map { s =>
      element_at(element_at(col("qtab"), s + 1),
        (element_at(col("codes"), s + 1) + lit(1)).cast("int"))
    }.reduce(_ + _)
    val joined =
      if (queries.isStreaming) qTables.join(codes, "cell")
      else codes.join(broadcast(qTables), "cell")
    val scored = joined
      .filter(col("id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        lookupSum.as("d2"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScore.top_k_by_score(
        negate(col("d2").cast("double")), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        negate(col("col.score")).cast("long").as("d2"),
        (col("pos") + 1).cast("bigint").as("rank"))
  }
}
