package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.text.TextFunctions
import GateHelpers._

/** The `d` gates (dedup). */
object DedupGates extends GateFamily("d") {
  private lazy val embedPairsOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45""".stripMargin

  private lazy val jaccardOracle: String = jaccardOracleOver("documents")

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

  val gates: Seq[Gate] = Seq(
    // ---- dedup (training-data pipeline) ----
    Gate("d01_exact_dedup", (s, d) =>
      Dedup.exactDedup(tbl(s, d, "documents"), "doc_id", "text"),
      """SELECT md5(text) AS fingerprint, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin),

    Gate("d02_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(tbl(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8),
      jaccardOracle),

    Gate("d03_minhash_lsh", (s, d) =>
      Dedup.minHashLsh(tbl(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8),
      jaccardOracle),

    // LSH band calibration (the s25 measure-then-tune loop for dedup):
    // candidate recall of k=16 salted-md5 minhash banding vs the exact
    // >= 0.8 Jaccard pair set, swept over b = 2/4/8 bands; deploy marks
    // the cheapest banding meeting 95% recall. Integer ppm recalls —
    // the d16 discipline, no float anywhere.
    Gate("d21_lsh_calibration", (s, d) =>
      Dedup.lshBandCalibration(tbl(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, k = 16, bandOptions = Seq(2, 4, 8),
        recallTargetPpm = 950000L),
      d21OracleSql),

    Gate("d06_neardup_clusters", (s, d) =>
      Dedup.nearDupClusters(tbl(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8),
      s"""WITH RECURSIVE pairs AS ($jaccardOracle),
        |ud AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |r(id, lab) AS (
        |  SELECT DISTINCT src, src FROM ud
        |  UNION
        |  SELECT ud.src, r.lab FROM ud JOIN r ON r.id = ud.dst),
        |comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster FROM r GROUP BY id)
        |SELECT d.doc_id AS id, coalesce(comp.cluster, d.doc_id) AS cluster
        |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id""".stripMargin),

    // Corpus-level k-minwise signature + THE MERGE LAW in one gate: the
    // whole-corpus signature must equal the per-position least() of the
    // two half-corpus signatures — the fold that licenses per-partition
    // resemblance sketching at 100 TB (q19's law for the dedup family).
    Gate("d15_minhash_union", (s, d) => {
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
    },
      // Corpus k-minwise replay: per-doc distinct 3-gram hashes, 16 salted
      // positions, min per position over the whole corpus and each half.
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
        |FROM allm JOIN h1 USING (pos) JOIN h2 USING (pos)""".stripMargin),

    // ...and the signature's USE: k-minwise resemblance of two corpora
    // (dataset-overlap audit before mixing) = fraction of positions where
    // the two signatures agree, on the ppm lattice. k-long inputs; the
    // estimate costs nothing once the signatures exist.
    Gate("d16_corpus_resemblance", (s, d) => {
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
    },
      // Same chain, folded to the position-agreement estimate.
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
        |FROM h1 JOIN h2 USING (pos)""".stripMargin),

    // ...and the N-way form: the pairwise resemblance MATRIX over 3
    // corpus slices from ONE grouped sketching pass — the dataset-level
    // overlap triage a mixing pipeline runs before any doc-level dedup.
    Gate("d17_resemblance_matrix", (s, d) => {
      val docs = tbl(s, d, "documents")
        .withColumn("slice", col("doc_id") % 3)
      Dedup.corpusResemblanceMatrix(docs, "slice", "text", n = 3, k = 16)
    },
      // The d16 chain sliced 3 ways (slice = doc_id % 3), every unordered
      // pair's position-agreement estimate.
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
        |GROUP BY 1, 2""".stripMargin),

    // Corpus-level removal: survivors of the d06 clustering (one min-id
    // representative per near-dup cluster).
    Gate("d08_drop_neardups", (s, d) =>
      Dedup.dropNearDuplicates(tbl(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8)
        .select(col("doc_id"), md5(col("text")).as("fp")),
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
        |JOIN clu ON clu.id = d.doc_id WHERE clu.id = clu.cluster""".stripMargin),

    Gate("d04_simhash", (s, d) =>
      Dedup.simHashPairs(tbl(s, d, "documents"), "doc_id", "text", n = 3, maxHamming = 3),
      // SimHash over ENGINE-PORTABLE 60-bit md5 shingle hashes (see
      // PortableHashes): the oracle recomputes the same fingerprints from
      // scratch in SQL — per-bit majority vote, then brute-force hamming.
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
        |WHERE bit_count(xor(a.sh64, b.sh64)) <= 3""".stripMargin),

    Gate("d05_embed_neardup", (s, d) =>
      Dedup.embeddingNearDupPairs(tbl(s, d, "embeddings"), "vec_id", "embedding", 0.45),
      embedPairsOracle),

    Gate("d07_embed_neardup_lsh", (s, d) =>
      Dedup.embeddingNearDupLsh(tbl(s, d, "embeddings"), "vec_id", "embedding", 0.45),
      // The LSH path verifies candidates with the same exact cosine, and the
      // (r=2, b=32) banding misses a qualifying pair w.p. < 3e-8 — the gate
      // compares against the full exact pair set (see Dedup.embeddingNearDupLsh).
      embedPairsOracle),

    // URL-keyed dedup over the canonical spelling: first occurrence
    // (min doc_id) kept per canonical URL, duplicate count audited —
    // the crawl pipeline's FIRST dedup pass, one map-side-combinable
    // aggregate on the canon key.
    Gate("d19_url_dedup", (s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.canonicalizeUrl(urlSynth(col("doc_id"))).as("canon"))
        .groupBy("canon")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups")),
      // Canonical-URL dedup: first occurrence + duplicate count per canon.
      (urlCanonCtes + "\nSELECT canon, min(doc_id) AS keep_id, " +
        "count(*) AS n_dups FROM z GROUP BY 1")),

    // Held-out set = doc_id % 10 == 7; 5-gram overlap (the data's planted
    // near-dups make this a discriminative flag — 3-grams over the tiny
    // synthetic vocabulary would mark most of the corpus).
    // Cross-corpus span dedup: first occurrence of every distinct chunk.
    Gate("d10_chunk_dedup", (s, d) =>
      Dedup.firstOccurrenceChunks(tbl(s, d, "documents"), "doc_id", "text",
        chunkChars = 512, overlapChars = 64),
      // t04's chunk enumeration + first-occurrence selection by
      // (doc_id, chunk_idx) — the same lexicographic order as the engine's
      // min(struct(...)).
      """WITH d AS (SELECT doc_id, text,
        |  greatest(1, (length(text) - 64 + 447) // 448) AS nc FROM documents),
        |c AS (SELECT doc_id, unnest(range(nc)) AS chunk_idx, text FROM d),
        |ch AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  md5(substr(text, CAST(1 + chunk_idx * 448 AS BIGINT), 512)) AS chunk_md5 FROM c),
        |r AS (SELECT doc_id, chunk_idx, chunk_md5, row_number() OVER
        |  (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn FROM ch)
        |SELECT doc_id, chunk_idx, chunk_md5 FROM r WHERE rn = 1""".stripMargin),

    // Sliding-window exact substring dedup (the Lee-et-al rule d10's
    // aligned chunks approximate): every overlapping 5-gram anchors,
    // non-first occurrences mark their token window, islands merge, and
    // the output is the kept-span complement per document.
    Gate("d18_substring_spans", (s, d) =>
      Dedup.exactSubstringSpans(tbl(s, d, "documents"), "doc_id", "text",
        n = 5),
      // Windowed-SQL replay of anchor + merge: overlapping 5-gram md5s,
      // row_number per hash ordered (doc_id, pos) — rn=1 IS min(struct) —
      // dup windows [pos, pos+4], gaps-and-islands merge (running max end),
      // kept spans = island complement + full spans for dup-free docs.
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
        |FROM k WHERE start_tok <= end_tok""".stripMargin),

    Gate("d09_decontaminate", (s, d) => {
      val docs = tbl(s, d, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 5)
    },
      // Distinct portable 5-gram hashes per doc; train docs (id % 10 <> 7)
      // counted by distinct hashes shared with the held-out side.
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
        |test AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 7)
        |SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
        |FROM ex JOIN test USING (g) WHERE ex.doc_id % 10 <> 7 GROUP BY 1""".stripMargin),

    // SEMANTIC decontamination (d20): corpus embeddings within 0.45
    // cosine of any held-out embedding — the paraphrase-leakage scrub
    // lexical n-gram decon (d09) can't see. Banded hyperplane-LSH
    // candidates across the two sets, exact-cosine verify, one aggregate
    // per corpus id; the oracle is the brute-force cross join.
    Gate("d20_semantic_decon", (s, d) => {
      val e = tbl(s, d, "embeddings")
      Dedup.semanticDecontaminate(
        e.filter(col("vec_id") % 10 =!= 7), e.filter(col("vec_id") % 10 === 7),
        "vec_id", "embedding", threshold = 0.45)
    },
      // Semantic decon: brute-force corpus x held-out cosine at the 0.45
      // threshold — the exact set the banded LSH scan must reproduce
      // (defaults put per-pair miss probability < 3e-8; see
      // embeddingNearDupLsh's cost model).
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c AS (SELECT * FROM n WHERE vec_id % 10 <> 7),
        |h AS (SELECT * FROM n WHERE vec_id % 10 = 7),
        |p AS (SELECT c.vec_id,
        |  round(list_dot_product(c.v, h.v) / (c.nrm * h.nrm), 6) AS cos
        |  FROM c CROSS JOIN h)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_contaminating,
        |  max(cos) AS max_cosine
        |FROM p WHERE cos >= 0.45 GROUP BY 1""".stripMargin),

    // Fuzzy decontamination: near-dup pairs ACROSS the same split.
    Gate("d11_fuzzy_decon", (s, d) => {
      val docs = tbl(s, d, "documents")
      Dedup.crossCorpusNearDups(docs, docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 3, threshold = 0.8)
    },
      // Exact cross-split jaccard pairs (one endpoint in held-out).
      // DATA-DEPENDENT like d03: the engine's LSH misses a pair AT the 0.8
      // threshold with ~5% probability (1-(1-0.8^8)^16 under r=8/b=16); the
      // strict hash gate holds because planted pairs sit far above
      // threshold. On regenerated borderline data, engine ⊂ oracle would be
      // expected recall loss, not wrongness (see Dedup.crossCorpusNearDups).
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
        |  GROUP BY 1, 2)
        |SELECT id1, id2, round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
        |FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
        |WHERE round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) >= 0.8""".stripMargin),

    // Bloom-filter decontamination, the constant-size-probe companion to
    // d09: (d12) the set-bit table of a 2^16-slot / 3-probe filter over
    // the held-out 5-grams — exact integers, gates the salted double-hash
    // and the mod-m split; (d12b) the corpus probe counting grams whose 3
    // positions are ALL set — flagged_ngrams >= d09's shared_ngrams
    // row-wise (bloom one-sided error), and the oracle replays filter AND
    // probe so even the false positives must match bit-for-bit.
    Gate("d12_bloom_bits", (s, d) =>
      Dedup.bloomBits(
        tbl(s, d, "documents").filter(col("doc_id") % 10 === 7),
        "text", n = 5, mBits = 1 << 16, kHashes = 3),
      // Bloom bit set: salted double-hash of every distinct held-out 5-gram
      // hash, mod 2^16, distinct positions. The gram hash feeds the position
      // hash AS ITS DECIMAL STRING (CAST to VARCHAR both sides).
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT)) AS h FROM toks),
        |test AS (SELECT DISTINCT unnest(h) AS g FROM hs WHERE doc_id % 10 = 7)
        |SELECT DISTINCT
        |  ('0x' || substr(md5(CAST(r.s AS VARCHAR) || ':' || CAST(g AS VARCHAR)), 1, 15))::BIGINT % 65536 AS pos
        |FROM test CROSS JOIN range(0, 3) AS r(s)""".stripMargin),

    Gate("d12b_bloom_decon", (s, d) => {
      val docs = tbl(s, d, "documents")
      val bits = Dedup.bloomBits(docs.filter(col("doc_id") % 10 === 7),
        "text", n = 5, mBits = 1 << 16, kHashes = 3)
      Dedup.bloomDecontaminate(docs.filter(col("doc_id") % 10 =!= 7), bits,
        "doc_id", "text", n = 5, mBits = 1 << 16, kHashes = 3)
    },
      // Bloom probe replay: same bit set, then every corpus gram's 3 salted
      // positions joined against it; a gram is flagged when all 3 probe rows
      // hit. Replays false positives too — the gate is exact, not bounded.
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
        |FROM hits WHERE c = 3 GROUP BY 1""".stripMargin),

    // Quality-aware near-dup removal: each Jaccard cluster keeps its
    // argmax-quality member (ties to the smaller id), not the min id —
    // the keep-the-cleanest-copy curation rule.
    Gate("d14_keep_best", (s, d) => {
      val docs = tbl(s, d, "documents")
      Dedup.keepBestNearDuplicates(docs, "doc_id", "text",
        TextFunctions.qualityScore(col("text")))
    },
      // d06's cluster closure + t02's quality formula + per-cluster argmax
      // (quality DESC, id ASC) — the window replay of max(struct(score,-id)).
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
        |  FROM cl JOIN q ON q.doc_id = cl.id) WHERE rn = 1""".stripMargin),

    // SemDeDup: k-means cells (k01's deterministic init, nIter=0) bound
    // the quadratic term; within each cell the greedy keep-lowest-id rule
    // drops any vector with a lower-id cell-mate at rounded cosine >= 0.45
    // (the d05 threshold, so the gate provably removes rows on this corpus:
    // near-dup pairs cluster into the same cell).
    Gate("d13_semantic_dedup", (s, d) =>
      Dedup.semanticDedup(tbl(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, threshold = 0.45),
      // k01's nIter=0 assignment chain (c0 -> dd -> argmin), then the
      // within-cell greedy removal as one EXISTS-style pair join.
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
        |FROM n LEFT JOIN rm ON n.vec_id = rm.vec_id""".stripMargin)
  )
}
