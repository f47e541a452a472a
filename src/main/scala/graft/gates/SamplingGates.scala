package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling}
import graft.text.TextFunctions
import GateHelpers._

/** The `p` gates (sampling). */
object SamplingGates extends GateFamily("p") {
  val gates: Seq[Gate] = Seq(
    // Deterministic mixture-interleave keys: reading docs by ascending
    // key visits every lang at its proportional cadence — the stationary
    // data-loader order, rerun-identical.
    Gate("p07_interleave", (s, d) =>
      Sampling.mixtureInterleaveKeys(tbl(s, d, "documents"), "lang", "doc_id"),
      // Midpoint-rule interleave keys off the same (hash, id) category rank;
      // same overflow-free quotient/remainder decomposition as the plan.
      """SELECT lang, doc_id, cat_rank,
        |  (2 * cat_rank - 1) * (1000000000000 // (2 * cnt))
        |    + ((2 * cat_rank - 1) * (1000000000000 % (2 * cnt))) // (2 * cnt) AS interleave_key
        |FROM (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id)
        |      AS BIGINT) AS cat_rank,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)""".stripMargin),

    // GPT-style concat-and-chop sequence packing: each document's
    // coordinates on the chopped global token axis (seq_id/seq_off of its
    // first token, sequences spanned) via the two-level distributed
    // prefix sum — one window per hash-RANGE shard plus a driver prefix
    // over the 32 shard totals; shard boundaries may legally fall
    // mid-sequence and the coordinates are nShards-invariant (the oracle
    // replays the single global (hash, key)-ordered running sum).
    Gate("p08_sequence_pack", (s, d) =>
      Sampling.packSequences(
        tbl(s, d, "documents")
          .withColumn("n_toks", TextFunctions.tokenCount(col("text"))),
        "doc_id", "n_toks", seqLen = 1024L),
      // Sequence-packing replay: the engine's two-level prefix sum (one
      // window per hash-range shard + driver prefix over shard totals) must
      // equal ONE global running sum over the (hash, key) order — range
      // shards concatenate in hash order, so the equality is exact. g0 =
      // tokens strictly before the doc; the div/% coordinate math mirrors
      // the BIGINT expressions verbatim. shard = h div ceil(2^60/32).
      p08OracleSql),

    // Deterministic contrastive negatives: every vector (anchor) pairs
    // with k=4 rows at seeded cyclic offsets on the hash-rank axis —
    // balanced permutation pairing, no randomness — and pairs sharing
    // the anchor's label drop (the false-negative guard, slots not
    // refilled).
    Gate("p09_negative_pairs", (s, d) =>
      Sampling.negativePairs(tbl(s, d, "embeddings"), "vec_id", k = 4,
        seed = "p09", excludeCol = Some("label")),
      // Negative-sampling replay: ranks on the (md5-hash60, key) axis,
      // h0 = hash60('p09') mod (n-1), slot j's partner at rank
      // (r + 1 + (h0 + j) mod (n-1)) mod n, same-label pairs dropped
      // NULL-safely (IS DISTINCT FROM == Spark's !(a <=> b)).
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
        |WHERE b.label IS DISTINCT FROM p.label""".stripMargin),

    // Epoch shuffle: a seeded deterministic permutation with CONTIGUOUS
    // global positions — per-shard row_number windows + a driver prefix
    // over nShards longs (the p08 two-level discipline, unit weights).
    // The oracle is the ONE global row_number over (h, doc_id) that the
    // sharded form must equal rank-for-rank.
    Gate("p10_epoch_shuffle", (s, d) =>
      Sampling.epochShuffle(tbl(s, d, "documents"), "doc_id",
        seed = "epoch-0"),
      // Epoch-shuffle replay: seeded hash60 axis, ONE global row_number —
      // the single-reducer form the sharded engine plan must equal.
      s"""WITH c AS (SELECT doc_id,
         |  ('0x' || substr(md5('epoch-0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |FROM documents)
         |SELECT doc_id, CAST(h // ${((1L << 60) + 31) / 32} AS BIGINT) AS shard,
         |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |FROM c""".stripMargin),

    // Priority sampling (Duffield–Lund–Thorup): k=64 docs weighted by
    // n_chars, each carrying the unbiased subset-sum estimator
    // max(w, tau). Priorities are md5-hash uniforms through two IEEE
    // divisions (one exact by 2^60) — no rand, no libm — so priority,
    // tau, and est_weight replay bit-exact in the oracle.
    Gate("p11_priority_sample", (s, d) =>
      Sampling.prioritySample(tbl(s, d, "documents"), "doc_id", "n_chars",
        k = 64, seed = "p11e0"),
      // Priority-sampling replay: u = hash60(seed:key)+1, priority =
      // w / (u / 2^60) — int64→double casts, an EXACT power-of-two
      // division, one IEEE-rounded division; bit-identical in both
      // engines, so rank, tau (the 65th priority), and est_weight =
      // greatest(w, tau) hash-match without rounding. The st24 streaming
      // twin shares this oracle verbatim (same seed, same k): its drained
      // candidate union provably contains the global top-65, and the
      // shared finalize tail makes its output the identical pure function
      // of the document set.
      p11OracleSql),

    // Stratified priority sampling: k=8 docs PER SOURCE, each with its
    // source's own max(w, tau_g) estimator — per-domain subsampling
    // that keeps per-domain token masses unbiasedly estimable. Heap
    // selection (no window), per-group tau read off the heap.
    Gate("p12_stratified_priority", (s, d) =>
      Sampling.stratifiedPrioritySample(tbl(s, d, "documents"),
        "source", "doc_id", "n_chars", k = 8, seed = "p12e0"),
      p12OracleSql),

    // ---- sampling + bucketed storage ----
    Gate("p01_hash_split", (s, d) =>
      Sampling.hashSplit(tbl(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")),
      // Sampling: the oracle replays the exact portable-hash formula; the
      // thresholds interpolate from the SAME Scala doubles the plan compares
      // against (0.8 + 0.1 in IEEE, not a hand-written 0.9).
      s"""WITH h AS (SELECT doc_id,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |FROM documents)
         |SELECT doc_id, CASE WHEN h < ${Sampling.threshold(0.8)} THEN 'train'
         |  WHEN h < ${Sampling.threshold(0.8 + 0.1)} THEN 'val'
         |  ELSE 'test' END AS split FROM h""".stripMargin),

    Gate("p02_stratified_sample", (s, d) =>
      Sampling.stratifiedTakeK(tbl(s, d, "documents"), "source", "doc_id", 5),
      // The heap orders (score DESC, id ASC) with score = -hash AS DOUBLE;
      // the window replays that exact ordering.
      """WITH h AS (SELECT source, doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |FROM documents),
        |r AS (SELECT source, doc_id, row_number() OVER (
        |  PARTITION BY source ORDER BY CAST(h AS DOUBLE) ASC, doc_id ASC) AS rn
        |FROM h)
        |SELECT source, doc_id FROM r WHERE rn <= 5""".stripMargin),

    // Mixture sampling to per-language quotas: exercises quota < count
    // (en/zh/es/de at sf0.01) AND quota >= count (fr, take-all) through
    // the histogram-refinement selection; the oracle is the plain
    // hash-rank window — same semantics, deliberately different execution
    // shape (that difference is what's under test).
    Gate("p04_quota_sample", (s, d) =>
      Sampling.quotaSample(tbl(s, d, "documents"), "lang", "doc_id",
        Seq("en" -> 100L, "zh" -> 40L, "es" -> 30L, "de" -> 20L, "fr" -> 5000L)),
      // Quota selection semantics in one window: smallest hashes first,
      // ties by key, per-category quota cutoff. The engine's
      // histogram-refinement execution must reproduce this row set exactly.
      """WITH q(lang, quota) AS (VALUES
        |  ('en', 100), ('zh', 40), ('es', 30), ('de', 20), ('fr', 5000)),
        |h AS (SELECT lang, doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |FROM documents),
        |r AS (SELECT lang, doc_id, quota, row_number() OVER (
        |  PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rn
        |FROM h JOIN q USING (lang))
        |SELECT lang, doc_id FROM r WHERE rn <= quota""".stripMargin),

    // Token-budget mixture: per-language TOKEN budgets (mass, not doc
    // counts) — en/zh/es cut mid-category, de tiny, fr take-all. The
    // oracle is the cumulative-weight window; the engine must reproduce
    // it through the weighted histogram refinement.
    Gate("p05_token_budget", (s, d) =>
      Sampling.tokenBudgetSample(
        tbl(s, d, "documents")
          .withColumn("n_toks", TextFunctions.tokenCount(col("text"))),
        "lang", "doc_id", "n_toks",
        Seq("en" -> 5000L, "zh" -> 2000L, "es" -> 1500L, "de" -> 100L,
          "fr" -> 1000000L)),
      // Take-until-budget semantics in one window: a doc is selected iff
      // the token mass BEFORE it (hash-rank order) is under the budget.
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
        |SELECT lang, doc_id FROM c WHERE cum_before < budget""".stripMargin),

    // Temperature-scaled mixture weights (alpha = 0.5, i.e. T = 2): the
    // per-source sampling-rate computation that upweights small slices.
    // Integer micro-weight lattice (floor(sqrt(n)*1e6) — sqrt is IEEE
    // correctly-rounded, so both engines floor the same double), one
    // rounded float division for the share.
    Gate("p06_temp_mixture", (s, d) =>
      Sampling.temperatureMixtureWeights(tbl(s, d, "documents"), "source"),
      // Temperature mixture: integer micro-weight lattice, one rounded
      // division.
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_micro
        |  FROM c),
        |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tw FROM w)
        |SELECT source, n_docs, w_micro,
        |  round(CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share6
        |FROM w CROSS JOIN t""".stripMargin),

    // End-to-end training-data pipeline, one composite gate: quality
    // filter (>= 0.6) -> corpus near-dup removal (over the FILTERED set)
    // -> deterministic hash split -> per-split doc/token counts. Every
    // stage is individually oracle-proven (t02 / d08 / p01 / t01); this
    // gate proves the COMPOSITION.
    Gate("p03_pipeline", (s, d) => {
      val docs = tbl(s, d, "documents")
      val clean = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.6)
      val unique = Dedup.dropNearDuplicates(clean, "doc_id", "text",
        n = 3, threshold = 0.8)
      Sampling.hashSplit(unique, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("tokens"))
    },
      // Composite pipeline replay: the t02 quality formula filters, the d08
      // closure dedups OVER THE FILTERED SET, the p01 thresholds split, and
      // t01's token count aggregates per split.
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
        |FROM sp GROUP BY split""".stripMargin)
  )
}
