package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{KMeans, Retrieval, Similarity}
import GateHelpers._

/** The `s` gates (similarity). */
object SimilarityGates extends GateFamily("s") {
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

  val gates: Seq[Gate] = Seq(
    // ---- similarity search ----
    Gate("s01_cosine_topk", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.cosineTopK(e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
        |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
        |  FROM q JOIN n c ON c.vec_id <> q.vec_id),
        |rk AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin),

    Gate("s02_ann_topk", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.annCosineTopK(e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
    },
      // Full SQL replay of the ANN pipeline — possible because the hyperplane
      // signs are ENGINE-PORTABLE md5 planes (TextHashes.cosineLshKernel:
      // sign(j,i) = bit 0 of portableHash60("plane:j:i")). bits → 3-bit bands
      // (nBits=60, bands=20) → band-OR candidates → exact-cosine rerank,
      // branch-for-branch identical with Similarity.annCosineTopK — so the
      // gate is an exact hash compare, not just a recall bound.
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
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin),

    // Product-quantization codes (m=4 subspaces x 8 centroids): 12 bits
    // per vector — the compression tier below int8 (s06). Flattened to
    // (vec_id, s, code) rows so the oracle replays the per-subspace
    // integer-lattice argmin directly.
    Gate("s10_pq_codes", (s, d) =>
      Similarity.pqCodes(tbl(s, d, "embeddings"), "vec_id", "embedding",
          m = 4, kCent = 8)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
        .select(col("vec_id"), col("s").cast(LongType).as("s"),
          col("code").cast(LongType).as("code")),
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

    // ADC search over the PQ codes: per-query distance TABLE + m lookups
    // per candidate, exact integer lattice distances end to end.
    Gate("s11_pq_adc", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") <= 3), "vec_id", "embedding",
          k = 5, m = 4, kCent = 8)
        .withColumnRenamed("rank", "rnk")
    },
      // ADC replay: the same dd table doubles as the query distance tables;
      // approx distance = sum over subspaces of dd(q, s, code(v, s)).
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
        |FROM rk WHERE rnk <= 5""".stripMargin),

    // PQ shortlist + EXACT rerank (the production ANN shape): ADC@50
    // shortlists at table-lookup cost, the 50 survivors per query pay an
    // exact lattice L2, top-5 by exact distance. Candidate-sized rerank
    // join, never corpus-sized.
    Gate("s12_pq_rerank", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.pqTopKReranked(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, m = 8, kCent = 16, shortlist = 50)
        .withColumnRenamed("rank", "rnk")
    },
      // Rerank replay: the s11 chain at (m=8, kCent=16) shortlists 50 by
      // approximate distance, then exact 64-dim lattice L2 re-ranks.
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
        |FROM rk WHERE rnk <= 5""".stripMargin),

    // IVF-PQ composed index (4 coarse cells, probe 2; residual PQ at
    // m=4 x 8): coarse cells prune the scan to ~nProbe/nCells, residual
    // codes score survivors with m table lookups — the production layout
    // for a 10^11-vector corpus. Exact integer lattice end to end.
    Gate("s13_ivfpq", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8)
        .withColumnRenamed("rank", "rnk")
    },
      // IVF-PQ replay: coarse assignment (first-4 centroids, integer L2
      // argmin, ties to the smaller cell), residual = vq - coarse(cell),
      // residual codebook = residuals of the first-8 vectors, per-subspace
      // code argmin, then per-(query, probed-cell) ADC tables summed over
      // the m lookup rows — candidates restricted to probed cells by the
      // cell equi-join, exactly the Spark plan's pruning.
      s13OracleSql),

    // Trainer -> composed index: IVF-PQ probing a KMEANS-TRAINED coarse
    // quantizer (one Lloyd iteration on the micro lattice) — the s05
    // trained-IVF wiring lifted to the composed layout; the residual
    // codebook re-derives against the TRAINED cells.
    Gate("s15_ivfpq_trained", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val coarse = KMeans.fitCentroids(e, "vec_id", "embedding",
        k = 4, nIter = 1)
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8, coarseOf = Some(coarse))
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8, indexOf = Some(idx))
        .withColumnRenamed("rank", "rnk")
    },
      // Trained-coarse IVF-PQ replay: the k01 chain at k=4 for ONE Lloyd
      // iteration (integer argmin assignment, floor-div update, empty-cell
      // carryover) produces the trained coarse table cc, then the s13
      // chain runs verbatim against it — residuals, residual codebook,
      // codes, probes, ADC — all on the integer lattice.
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
        |FROM rk WHERE rnk <= 5""".stripMargin),

    // FILTERED IVF-PQ (the production RAG shape): a metadata predicate
    // rides the index artifact and prunes on the INDEX side of the cell
    // equi-join BEFORE ADC scoring, so top-k is computed over survivors.
    // Post-filtering an unfiltered ranked top-k is NOT equivalent — a
    // filtered-out vector holding a top-k slot would leave a hole.
    Gate("s16_ivfpq_filtered", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8,
          indexFilter = Some(col("label") % 2 === 0),
          metaCols = Seq("label"))
        .withColumnRenamed("rank", "rnk")
    },
      // Filtered IVF-PQ replay: the s13 chain verbatim — index built on the
      // FULL corpus (the index is filter-agnostic; predicates vary per
      // query batch) — with the label predicate folded into the candidate
      // join, so ranks recompute over survivors (filter-then-rank, the
      // semantics post-filtering a ranked list cannot reproduce).
      s16OracleSql),

    // INCREMENTAL INDEX ADD (index maintenance): the corpus splits into
    // an "existing" part (vec_id % 4 != 0) that builds the index — so the
    // frozen coarse/book seeds come from IT, not the full corpus — and a
    // "delta" (vec_id % 4 == 0) that appends via a pure encode-under-
    // frozen-books scan (no retrain, no seed collect). Search probes the
    // MERGED artifact; the oracle replays encode-all-rows under the
    // old-subset seeds, which equals build+append iff the append really
    // froze the books.
    Gate("s17_ivfpq_add", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nCells = 4, m = 4, kCent = 8)
      val merged = Similarity.ivfPqAdd(idx,
        e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8, indexOf = Some(merged))
        .withColumnRenamed("rank", "rnk")
    },
      // Incremental-add replay: the s13 chain with BOTH seed CTEs (coarse
      // centroids cc, residual codebook bk) restricted to the "existing"
      // subset (vec_id % 4 <> 0) — the books the index was trained on —
      // while the encode (asg/res/ed/code) covers ALL rows. Per-row encode
      // under frozen books is order-free, so build-then-append == encode-
      // everything-under-old-books; a drifted book (full-corpus seeds)
      // would produce different codes and fail the hash.
      s17OracleSql),

    // UPSERT (the re-embedded-document case): the delta carries NEW ids
    // (vec_id % 4 == 0, original vectors) AND CHANGED vectors for ids
    // already indexed (vec_id % 8 == 1, every dim + 1.0 — exact on the
    // micro lattice: vq' = vq + 1e6, so the oracle replays it as integer
    // arithmetic). Existing artifact rows for changed ids are REPLACED
    // by encodes of the new vectors under the SAME frozen books; search
    // runs over the upserted artifact with the ORIGINAL query vectors.
    Gate("s18_ivfpq_upsert", (s, d) => {
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
    },
      // Upsert: books from the original old subset, encode over the
      // upserted corpus, original queries — see s18OracleSql.
      s18OracleSql),

    // DURABLE index (the ingest-job -> serving-job handoff): build,
    // PERSIST as a bucketed-by-cell table + books sidecar, RELOAD, and
    // search the reloaded index with the probed-cell set pushed into the
    // bucketed scan as a literal filter (bucket pruning — the serving
    // job reads only probed cells' files). Oracle = the s13 SQL
    // verbatim: persistence must be invisible to search.
    Gate("s20_ivfpq_persist", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s20_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s20_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    },
      // Durable index: persist + reload must be INVISIBLE to search — the
      // oracle IS the s13 SQL verbatim (a drifted sidecar round-trip or a
      // bucket-pruning wrong-result would move codes/candidates and fail
      // the hash).
      s13OracleSql),

    // DURABLE DELETE (the tombstone shape end to end): build, PERSIST,
    // tombstone the %5==2 ids (an O(delta) LOG append — the artifact is
    // never rewritten), serve — the pending log anti-joins at load, so
    // search equals an index that never contained those rows. Oracle =
    // the s21 SQL verbatim (candidates restricted to survivors): the
    // log, the storage round-trip, and the in-session ivfPqRemove must
    // be indistinguishable to search.
    Gate("s26_ivfpq_table_remove", (s, d) => {
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
    },
      // The durable tombstone twin gates on the SAME survivor restriction:
      // log-append + serve == in-session remove == never-indexed.
      s13OracleSql.replace(
      "WHERE code.vec_id <> qt.qid",
      "WHERE code.vec_id <> qt.qid AND code.vec_id % 5 <> 2")),

    // DURABLE APPEND (the ingest-job shape end to end): build on the
    // "existing" subset, PERSIST, append the delta INTO the table
    // (frozen-book encode, new bucket files — no rewrite of the
    // existing artifact), reload, search with pruning. Oracle = the s17
    // SQL verbatim: build-then-table-append must equal encoding
    // everything under the OLD books, through a storage round-trip.
    Gate("s22_ivfpq_table_add", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqSave(idx, "s22_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqAddToTable(e.filter(col("vec_id") % 4 === 0),
        "s22_ivfpq_idx", "vec_id", "embedding")
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s22_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    },
      // Durable append: the s17 SQL verbatim — the storage round-trip and
      // the bucketed-append must be invisible to search.
      s17OracleSql),

    // COMPACT (the maintenance quadrant append-only ingest creates):
    // build, persist, append INTO the table (new files per bucket),
    // then COMPACT — a bucket-spec-preserving rewrite through a staging
    // table + catalog swap that restores one file per bucket — and
    // search. Oracle = the s17 SQL verbatim: compaction moves bytes,
    // never codes, so build + persist + append + compact must STILL
    // equal encoding everything under the old books.
    Gate("s23_ivfpq_compact", (s, d) => {
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
    },
      // Compaction rewrites bytes, never codes: the s17 claim still holds
      // through build + persist + append + compact.
      s17OracleSql),

    // DURABLE FILTERED SERVE (s28 — s16's production form): the
    // metadata predicate rides the PERSISTED artifact (metaCols write
    // with the codes) and prunes on the index side of the cell
    // equi-join before ADC scoring — composed with the probed-cell
    // literal pushdown, so the serving scan reads only probed buckets
    // AND scores only filter survivors. Oracle = the s16 SQL verbatim:
    // storage must be invisible to filtered search too.
    Gate("s28_ivfpq_table_filtered", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8, metaCols = Seq("label"))
      Similarity.ivfPqSave(idx, "s28_ivfpq_idx", numBuckets = 4)
      Similarity.ivfPqSearchTable(e.filter(col("vec_id") <= 3),
          "s28_ivfpq_idx", "vec_id", "embedding", k = 5, nProbe = 2,
          indexFilter = Some(col("label") % 2 === 0),
          metaCols = Seq("label"))
        .withColumnRenamed("rank", "rnk")
    },
      // Filtered search through storage (s28) and through storage +
      // streaming + per-batch pruning (st23c): both must be invisible.
      s16OracleSql),

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
    Gate("s27_ivfpq_table_upsert", (s, d) => {
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
    },
      // The durable remove -> compact -> re-add cadence must equal the
      // in-session upsert: s18's replay gates it verbatim.
      s18OracleSql),

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
    Gate("s29_ivfpq_pinned_serve", (s, d) => {
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
    },
      // Pinned-generation serve: the s13 SQL verbatim — the pin froze the
      // full-corpus generation, so post-pin maintenance (tombstones,
      // compaction's full rewrite, appends) must be invisible to the
      // serving read; any leak of the live generation moves candidates
      // and fails the hash.
      s13OracleSql),

    // DELETE (index CRUD's last quadrant): the index builds on the FULL
    // corpus — so the frozen books keep their full-corpus seeds — then
    // vec_id % 5 == 2 rows are REMOVED (left_anti, books untouched) and
    // search runs over the survivors. The oracle replays the s13 chain
    // with only the candidate set restricted — removal must equal an
    // index that never held those rows, WITHOUT re-deriving books from
    // the surviving subset (a rebuild WOULD re-derive: vec_id 2 is a
    // seed row, so rebuild-vs-remove produce different codes — exactly
    // what the shared-seed oracle discriminates).
    Gate("s21_ivfpq_remove", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      val survived = Similarity.ivfPqRemove(idx,
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")), "vec_id")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, nCells = 4, nProbe = 2,
          m = 4, kCent = 8, indexOf = Some(survived))
        .withColumnRenamed("rank", "rnk")
    },
      // Delete: the s13 chain verbatim — full-corpus seeds (the books a
      // remove must NOT re-derive) — with removed ids excluded from the
      // CANDIDATE set only. The single-site string surgery keeps every
      // other clause bit-identical to s13's.
      s13OracleSql.replace(
      "WHERE code.vec_id <> qt.qid",
      "WHERE code.vec_id <> qt.qid AND code.vec_id % 5 <> 2")),

    // Recall evaluation (the knob-turning loop's measurement): IVF-PQ
    // quantized-L2 search (the s13 chain) scored per query against
    // exact-cosine truth (the s01 brute force) on the same query set —
    // hits, exact_n, recall = hits/exact_n, zero-hit queries kept. The
    // oracle composes the two chains' SQL verbatim and replays the join.
    Gate("s24_ann_recall", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val q = e.filter(col("vec_id") <= 3)
      val approx = Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
        k = 5, nCells = 4, nProbe = 2, m = 4, kCent = 8)
      val exact = Similarity.cosineTopK(e, q, "vec_id", "embedding", k = 5)
      Similarity.annRecall(exact, approx, "query_id", "neighbor_id")
    },
      // Recall eval: the s13 approximate chain (verbatim, nested CTE) and
      // the s01 exact-cosine chain on the same query set, joined on
      // (query, neighbor) — hits / exact_n per query, zero-hit queries
      // kept by the left join.
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
         |FROM ex LEFT JOIN hits USING (query_id)""".stripMargin),

    // nProbe auto-tune (s24's measurement loop closed into a DECISION):
    // sweep nProbe 1..nCells, score each sweep point against exact
    // truth, mark the smallest nProbe meeting the recall target — the
    // number the serving job deploys with. The whole curve is kept
    // (its knee is the retrain-vs-probe-harder signal).
    Gate("s25_ivfpq_tune", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val idx = Similarity.ivfPqIndex(e, "vec_id", "embedding",
        nCells = 4, m = 4, kCent = 8)
      Similarity.ivfPqTuneNProbe(idx, e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", k = 5, target = 0.6)
        .withColumn("nprobe", col("nprobe").cast("bigint"))
    },
      // nProbe-tune replay: the s13 chain swept at nProbe 1..4 (the one
      // "WHERE rn <= 2" probe-depth literal rewritten per sweep point),
      // each joined against the exact chain for per-query recall (rounded
      // 6 like the engine, zero-hit queries kept), averaged, and the
      // smallest nprobe meeting the 0.6 target marked chosen (-1 sentinel
      // when none does, so chosen is false everywhere, never NULL).
      {
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
    }),

    // Binary (1-bit sign) quantization + Hamming scan: the memory tier
    // below int8/PQ — 64 dims pack into two 32-bit long words, Hamming
    // distance = XOR + POPCNT per word, ties to the smaller id.
    Gate("s19_binary_hamming", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.binaryHammingTopK(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", dim = 64, k = 5)
        .withColumnRenamed("rank", "rnk")
    },
      // Binary-quantization replay: pack the sign bit of each of the 64
      // dims into two 32-bit words (bit i of word w = [v[32w+i] > 0]),
      // Hamming = popcount of the per-word XOR, rank (ham ASC, id ASC).
      (binaryHammingCtes +
        """,
        |rk AS (SELECT qid, nid, ham, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY ham, nid) AS BIGINT) AS rnk FROM hm)
        |SELECT qid AS query_id, nid AS neighbor_id, ham, rnk
        |FROM rk WHERE rnk <= 5""".stripMargin)),

    // Two-stage binary search: Hamming shortlist of 50 on the 1-bit
    // codes, exact integer micro-lattice L2 re-rank of only those rows
    // (the s12 rerank discipline on the binary candidate generator).
    Gate("s19b_binary_rerank", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.binaryHammingTopKReranked(e, e.filter(col("vec_id") <= 3),
          "vec_id", "embedding", dim = 64, k = 5, shortlist = 50)
        .withColumnRenamed("rank", "rnk")
    },
      // Binary rerank replay: the s19 Hamming chain (shared CTEs above)
      // shortlists 50, then exact 64-dim micro-lattice L2 re-ranks (the
      // s12 tail verbatim).
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
        |FROM rk WHERE rnk <= 5""".stripMargin)),

    // Trainer -> PQ wiring: one per-subspace Lloyd iteration refines the
    // first-kCent init codebook, then codes re-derive against the TRAINED
    // book (vs s10's init book) — gating the pqTrain -> pqCodes path
    // production PQ depends on, the s05 discipline applied to PQ.
    Gate("s14_pq_trained_codes", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val book = Similarity.pqTrain(e, "vec_id", "embedding",
        m = 4, kCent = 8, nIter = 1)
      Similarity.pqCodes(e, "vec_id", "embedding", m = 4, kCent = 8,
          codebookOf = Some(book))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
        .select(col("vec_id"), col("s").cast(LongType).as("s"),
          col("code").cast(LongType).as("code"))
    },
      // Trained-PQ replay: per subspace, ONE unrolled Lloyd iteration from
      // the first-8 init (integer argmin assignment with smaller-cell ties,
      // floor-divided centroid update, empty-cell carryover via LEFT JOIN +
      // coalesce — the k01 discipline per subspace), then the code argmin
      // against the TRAINED book.
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
        |WHERE rn = 1""".stripMargin),

    // Late-interaction MaxSim: embeddings grouped by label are the
    // multi-vector "documents"; a query scores a group by its best-
    // matching member, top-3 groups per query. Shuffle is bounded at
    // queries x groups by the partial max.
    Gate("s07_maxsim_topk", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.maxSimTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "label", k = 3)
        .withColumnRenamed("rank", "rnk")
    },
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
        |SELECT query_id, label, max_cosine, rnk FROM rk WHERE rnk <= 3""".stripMargin),

    // Positional phrase search: inverted-index intersection pruned to the
    // phrase's terms at the scan; counts ALL start positions per doc.
    Gate("s08_phrase_match", (s, d) =>
      graft.operators.Retrieval.phraseMatch(
        tbl(s, d, "documents"), "doc_id", "text", Seq("big", "query")),
      // MaxSim replay: per-(query, label) max of the rounded cosines, then
      // the per-query top-3 window with the (max DESC, label ASC) tiebreak.
      // Phrase occurrences = start positions i with tk[i]='big', tk[i+1]=
      // 'query' over the same [a-z0-9]+ tokenization; 1-based list indexing,
      // range end exclusive, so starts run 1..len-1.
      """SELECT doc_id, n_matches FROM (
        |  SELECT doc_id, CAST(len(list_filter(range(1, len(tk)),
        |      i -> tk[i] = 'big' AND tk[i+1] = 'query')) AS BIGINT) AS n_matches
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        |        FROM documents))
        |WHERE n_matches >= 1""".stripMargin),

    // Hybrid retrieval: RRF fusion of the BM25 top-5 (s04's plan) and a
    // dense cosine top-5 (s01's plan) on the same %100 query ids — exact
    // integer micros, heap top-k, no window over anything corpus-sized.
    Gate("s09_rrf_fusion", (s, d) => {
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
    },
      // RRF fusion of the s04 BM25 top-5 and an s01-plan dense top-5 on the
      // same %100 query ids: per listed doc 1e6 // (60 + rnk) micros per
      // list, summed, re-ranked (score DESC, doc ASC) — all BIGINT.
      {
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
    }),

    // INT8-quantized cosine top-k: 1 byte/dim storage, integer dot
    // scoring (exact in the double domain), scale cancels out of cosine.
    Gate("s06_int8_topk", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.int8CosineTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
    },
      // int8 replay: floor(127*x/max|v| + 0.5) quantization (floor is the
      // one rounding rule every engine computes identically), integer dots.
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
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin),

    Gate("s03_ivf_topk", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Similarity.ivfCosineTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
        .withColumnRenamed("rank", "rnk")
    },
      // Full SQL replay of the IVF pipeline: the 16 smallest-id vectors ARE
      // the coarse centroids (cid = id rank), assignment = argmax of
      // dot(v, c)/|c| with smaller-cid tie-break, each query probes its 4
      // nearest cells, exact cosine within the probed cells, rank (cosine
      // DESC, id ASC) — branch-for-branch the Similarity.ivfCosineTopK plan.
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
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin),

    Gate("s04_bm25_topk", (s, d) => {
      val docs = tbl(s, d, "documents")
      Retrieval.bm25TopK(docs, docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", k = 5)
    },
      // Full BM25 replay: postings/doc-length/corpus-stats CTEs, df counted
      // over query-term postings only (identical to the engine's pruned
      // plan), every float op CAST and parenthesized in the same order as
      // the Column expression (doubles are not associative), rank on the
      // ROUNDED score with doc-id tie-break.
      s"""WITH $bm25OracleCtes
         |SELECT query_id, doc_id, score, rnk FROM rk WHERE rnk <= 5""".stripMargin),

    // Trainer -> index: IVF-FLAT probing k-means-trained centroids (the
    // production IVF wiring, vs s03's smallest-id-vectors index). The
    // oracle replays BOTH stages: the k01 centroid chain rescaled to
    // doubles, then the s03 probe/score/rank pipeline over those cells.
    Gate("s05_ivf_trained", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val cents = KMeans.centroidsDF(s,
        KMeans.fitCentroids(e, "vec_id", "embedding", k = 8, nIter = 2))
        .select(col("cell").cast(LongType).as("vec_id"),
          col("centroid").as("embedding"))
      Similarity.ivfCosineTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2,
        centroidsDF = Some(cents))
        .withColumnRenamed("rank", "rnk")
    },
      // k01's trained-centroid chain (through c2), rescaled micros -> doubles,
      // driving the s03 IVF probe/score/rank replay with nProbe = 2.
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
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 5""".stripMargin)
  )
}
