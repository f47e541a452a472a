package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.text.TextFunctions
import GateHelpers._

/** The `t` gates (text). */
object TextGates extends GateFamily("t") {
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

  val gates: Seq[Gate] = Seq(
    // ---- text analysis ----
    Gate("t01_token_stats", (s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("tok_cnt"),
        size(array_distinct(TextFunctions.tokenNgrams(col("text"), 3))).cast(LongType)
          .as("ngram3_cnt")),
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok_cnt FROM documents)
        |SELECT doc_id, tok_cnt,
        |  CAST(len(list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS BIGINT) AS ngram3_cnt
        |FROM t""".stripMargin),

    Gate("t02_quality_langid", (s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langId(col("text")).as("lang_pred")),
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
        |FROM s""".stripMargin),

    Gate("t03_fingerprints", (s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        size(TextFunctions.fingerprints(col("text"), 3, 4)).cast(LongType).as("fp_cnt"),
        array_min(TextFunctions.fingerprints(col("text"), 3, 4)).as("min_fp")),
      // Winnowing fingerprints over the same portable 60-bit md5 hashes:
      // per-window minima of the ordered n-gram hash sequence, deduped.
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |hs AS (SELECT doc_id, list_transform(range(1, len(w) - 1),
        |  i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT) AS h FROM toks),
        |fp AS (SELECT doc_id, list_distinct(list_transform(range(1, len(h) - 2),
        |  i -> list_min(h[i:i+3]))) AS f FROM hs)
        |SELECT doc_id, CAST(len(f) AS BIGINT) AS fp_cnt, list_min(f) AS min_fp FROM fp""".stripMargin),

    // Corpus-wide most-frequent bigrams (boilerplate / contamination
    // analysis): map-side-combining counts, then TakeOrdered's
    // per-partition top-k + driver merge — no global sort. Ties break on
    // the gram so the LIMIT boundary is deterministic.
    Gate("t06_top_ngrams", (s, d) =>
      tbl(s, d, "documents")
        .select(explode(TextFunctions.tokenNgrams(col("text"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(20),
      """WITH g AS (SELECT unnest(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents)),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
        |SELECT gram, cnt FROM c ORDER BY cnt DESC, gram LIMIT 20""".stripMargin),

    // Sequence packing: the (doc, training-sequence) overlap table for a
    // 128-token context window. Gates the distributed two-phase prefix sum
    // against the oracle's single windowed SUM — same integers, different
    // execution shape (that is the point).
    Gate("t09_pack", (s, d) =>
      TextFunctions.packSequences(tbl(s, d, "documents"), "doc_id", "text", seqLen = 128L),
      // The oracle's cumsum is ONE windowed SUM (fine at sf0.01) replaying
      // the engine's two-phase distributed scan exactly.
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
        |FROM g2""".stripMargin),

    // Bigram PMI collocations: exact BIGINT counts, one fixed-association
    // float per row. Gates pmiBigrams end to end (tokenization, both count
    // aggregations, the two unigram joins, the probability formula).
    Gate("t10_pmi", (s, d) =>
      TextFunctions.pmiBigrams(tbl(s, d, "documents"), "doc_id", "text", minCount = 3L),
      // Bigram construction mirrors tokenNgrams(2) (1-based slice, space
      // join); counts exact BIGINTs; pmi6 written in the SAME association
      // order as the Spark expression (doubles from the first cast onward).
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
        |FROM s JOIN u u1 ON s.w1 = u1.w JOIN u u2 ON s.w2 = u2.w, nu, nb""".stripMargin),

    // Bigram-LM perplexity scoring (CCNet-style quality filter),
    // self-trained on the corpus: add-one-smoothed conditionals, per-pair
    // NLL floored to integer micros BEFORE the per-doc sum (exact BIGINT
    // aggregation — order-independent), one fixed-order float average at
    // the end. Gates tokenization, both count tables, the smoothing
    // formula, and the lattice discipline end to end.
    Gate("t11_perplexity", (s, d) => {
      val docs = tbl(s, d, "documents")
      TextFunctions.bigramLmNll(docs, docs, "doc_id", "text")
    },
      // Bigram-LM NLL replay: same count tables, same add-one conditional,
      // per-pair floor onto the micro-lattice BEFORE the integer sum (the
      // only way a float-scored doc aggregate can hash-match), one
      // fixed-order float average at the end. Inner joins suffice — the
      // corpus scores itself, so every pair and head exists in the model.
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
        |FROM terms GROUP BY 1""".stripMargin),

    // C4 line-level cleanup + dedup over a SYNTHESIZED multi-line corpus
    // (the raw docs are single-line): newline every 8 words, then a
    // terminal '.' appended to lines where (doc_id + line_no) % 3 != 0 —
    // so BOTH boilerplate rules bite (unpunctuated lines drop, short tail
    // lines drop) before the corpus-wide keep-first line dedup.
    Gate("t16_line_dedup", (s, d) => {
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
    },
      // Line synthesis replayed (regexp newline insertion, zipped-unnest
      // line numbering, conditional '.'), then the C4 rules and the
      // keep-first as a window (the engine's min(struct) equivalent).
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
        |SELECT doc_id, line_no, line_md5 FROM r WHERE rn = 1""".stripMargin),

    // TF-IDF keyword extraction: top-3 terms per doc on the integer
    // micro-lattice (smooth idf, fixed float association) — tf from one
    // corpus scan, df off the cached tf table, vocab-sized term join.
    Gate("t15_tfidf_topk", (s, d) =>
      TextFunctions.tfIdfTopK(tbl(s, d, "documents"), "doc_id", "text", k = 3),
      // TF-IDF replay: identical smooth-idf chain and floor lattice; rank
      // window with the same (score DESC, term ASC) tiebreak.
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
        |SELECT doc_id, term, score_micro, rnk FROM rk WHERE rnk <= 3""".stripMargin),

    // Composite Gopher-style admission filter: per-doc violation bitmask
    // + keep flag over five rules (token count, mean token length,
    // quality, dup-token fraction, top-bigram fraction) — all reusing
    // already-gated formulas, decided on engine-exact values.
    Gate("t14_quality_mask", (s, d) =>
      TextFunctions.compositeQualityFilter(tbl(s, d, "documents"), "doc_id", "text"),
      // Composite filter: t02's quality + t05's fractions + alnum-token
      // stats, thresholds on the same rounded/exact values, bit weights
      // 1/2/4/8/16.
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
        |FROM m""".stripMargin),

    // Distributed BPE merge TRAINING (the tokenizer-side twin of t07's
    // pre-tokenization): 10 greedy top-pair merge rounds on the word
    // histogram, deterministic tie-break, one row collected per round.
    // Gates the histogram build, pair explode, argmax reduction and the
    // left-to-right merge application across all 10 unrolled rounds.
    Gate("t12_bpe_merges", (s, d) =>
      TextFunctions.bpeTrainMerges(tbl(s, d, "documents"), "text", rounds = BpeRounds),
      // BPE merge training, K=10 rounds unrolled (the g09b/g12 pattern):
      // each round CTE recomputes pair frequencies from the previous round's
      // vocabulary, picks the (freq DESC, pair ASC) argmax, and applies it
      // with the same left-to-right non-overlapping replace on the bracketed
      // representation. Generated programmatically — the SQL is mechanical.
      {
      val union = (1 to BpeRounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
      s"""WITH ${bpeTrainingCtes(BpeRounds)}
         |SELECT CAST(merge_round AS BIGINT) AS merge_round,
         |  replace(replace(replace(pair, '><', ' '), '<', ''), '>', '') AS pair, freq
         |FROM ($union)""".stripMargin
    }),

    // BPE apply (tokenizer inference): replay the 10 trained merges per
    // word — literal replace chain, one narrow codegen'd corpus scan, no
    // vocabulary join — and report per-doc chars + post-merge tokens.
    Gate("t13_bpe_segment", (s, d) =>
      TextFunctions.bpeSegmentStats(tbl(s, d, "documents"), "doc_id", "text",
        rounds = BpeRounds),
      // BPE apply: re-derive the same 10 merges (identical CTE chain), then
      // replay them per word in training order — the nested replace chain —
      // and sum chars/post-merge tokens per document.
      {
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
    }),

    // BPE-ish pre-tokenization counts (total + distinct-pretoken "vocab"):
    // the RE2-portable regex runs verbatim in the oracle.
    Gate("t07_bpe_tokens", (s, d) =>
      tbl(s, d, "documents").select(
        col("doc_id"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe_cnt"),
        size(array_distinct(TextFunctions.bpeTokens(col("text")))).cast(LongType)
          .as("bpe_vocab")),
      // Same RE2 pattern verbatim — alternation order and greediness match.
      """WITH t AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), ' ?[a-z0-9]+| ?[^a-z0-9\s]+') AS bt
        |  FROM documents)
        |SELECT doc_id, CAST(len(bt) AS BIGINT) AS bpe_cnt,
        |  CAST(len(list_distinct(bt)) AS BIGINT) AS bpe_vocab
        |FROM t""".stripMargin),

    // PII redaction gate: the corpus text is augmented with a synthetic
    // MIXED-CASE email + fixed-width phone derived from doc_id (both sides
    // build the identical string), then scrubbed. Gates the real redaction
    // path — md5 of the scrubbed text catches any divergence in match/
    // replace semantics, including the (?i) case-insensitivity contract.
    Gate("t08_redact", (s, d) =>
      tbl(s, d, "documents")
        .withColumn("aug", concat(col("text"),
          lit(" contact: User"), col("doc_id"), lit("@Example.COM or +1-555-00"),
          lpad(pmod(col("doc_id"), lit(100)).cast(StringType), 2, "0")))
        .select(col("doc_id"),
          TextFunctions.emailCount(col("aug")).as("n_emails"),
          md5(TextFunctions.redactPii(col("aug"))).as("redacted_md5")),
      // Same regex strings verbatim; DuckDB regexp_replace needs the 'g'
      // flag to match Spark's replace-all semantics.
      """WITH a AS (SELECT doc_id,
        |  text || ' contact: User' || doc_id || '@Example.COM or +1-555-00'
        |       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  md5(regexp_replace(regexp_replace(aug,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][-. ()]?(?:[0-9][-. ()]?){5,13}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM a""".stripMargin),

    Gate("t04_chunking", (s, d) =>
      TextFunctions.chunkDocs(tbl(s, d, "documents"), "doc_id", "text",
        chunkChars = 512, overlapChars = 64)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast(LongType).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5")),
      // Streaming queries: the oracle IS the batch semantics — AvailableNow
      // drains the whole table through the micro-batch engine, so the result
      // must equal the equivalent batch query.
      // Chunk count is pure integer arithmetic — both engines enumerate the
      // identical row set; chunks compare by md5.
      """WITH d AS (SELECT doc_id, text,
        |  greatest(1, (length(text) - 64 + 447) // 448) AS nc FROM documents),
        |c AS (SELECT doc_id, unnest(range(nc)) AS chunk_idx, text FROM d),
        |ch AS (SELECT doc_id, chunk_idx,
        |  substr(text, CAST(1 + chunk_idx * 448 AS BIGINT), 512) AS chunk FROM c)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len, md5(chunk) AS chunk_md5
        |FROM ch""".stripMargin),

    // Language CONSISTENCY per doc (mixed-language docs hurt training):
    // the t04 chunking x the t02 language ID, rolled up to per-doc
    // distinct-language count and majority share on the ppm lattice —
    // two map-side-combinable aggregates, chunk rows never shuffled
    // beyond (doc, lang) pairs.
    Gate("t17_mixed_language", (s, d) => {
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
    },
      // t04's chunk CTE x t02's language decision tree, rolled up per doc.
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
        |FROM per GROUP BY 1""".stripMargin),

    // HTML -> text extraction (the web-crawl ingest transform upstream of
    // t02/t14/t16): HTML is SYNTHESIZED per doc around the raw text — a
    // multi-line template with a style block, a script block containing a
    // bare '<' (would wreck naive tag-stripping), a multi-line comment, a
    // nav line that is ALL links (boilerplate: dropped by link density), a
    // content line with a low-density link (kept), and entity-bearing
    // lines — so every kernel stage bites. Map-only: no shuffle, no UDF.
    Gate("t18_html_extract", (s, d) =>
      htmlExtract(tbl(s, d, "documents")),
      // The synthesis template verbatim, then the kernel replayed in RE2:
      // block drops (dotall), per-line link-density filter (list_filter
      // lambdas — the same visible/anchor length arithmetic), tag strip,
      // entity decode (&amp; last), whitespace squeeze.
      t18OracleSql),

    // PII scrub (C4/Dolma-style): deterministic PII synthesized from
    // doc_id (emails on %3, dotted-quad IPs on %4, +CC phones on %5 —
    // the corpus text itself carries none) so detection and redaction
    // are non-trivially exercised; counts per class on the raw text,
    // md5 of the sequentially-redacted text pins the rewrite
    // byte-exactly. Map-only; the oracle replays every regex verbatim.
    Gate("t19_pii_redact", (s, d) => piiExtract(tbl(s, d, "documents")),
      // PII replay: the same synthesis CASEs, then each class counted on
      // the raw augmented text and the same email -> ip -> phone
      // sequential redaction ('g' = DuckDB's global flag; Spark's
      // regexp_replace is global by default).
      t19OracleSql),

    // URL canonicalization: messy synthesized URLs -> one canonical
    // spelling (fragment/default-port/trailing-slash/tracking-param
    // rules) — a map-only scalar formula riding the scan.
    Gate("t20_url_canon", (s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("url"))
        .withColumn("canon",
          TextFunctions.canonicalizeUrl(col("url"))),
      // URL canonicalization replay: see urlCanonCtes.
      (urlCanonCtes + "\nSELECT doc_id, url, canon FROM z")),

    // Unicode NFC normalization (t21): the same visible text arrives
    // precomposed (é = U+00E9) or decomposed (e + U+0301) and every
    // hash-keyed dedup in this library splits on the byte difference —
    // normalize-then-hash makes the key a function of the TEXT. Native
    // codegen expression (a UDF would fall out of whole-stage codegen
    // on the hottest scan); ids 0/1 mod 5 and 2/3 mod 5 are planted
    // variant PAIRS whose dedup keys must collide after NFC.
    Gate("t21_nfc_normalize", (s, d) => {
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
    },
      // NFC replay: DuckDB's nfc_normalize (utf8proc) against the
      // engine's java.text.Normalizer — both implement Unicode canonical
      // composition; the planted variant pairs must collapse to one
      // dedup_key. chr() builds the decomposed sequences (DuckDB string
      // literals don't interpret \u escapes).
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
        |FROM r""".stripMargin),

    // Token-distribution drift between corpus halves: per-term ppm
    // rates + |Δ|, top-20 diverging terms — exact integer lattice via
    // the overflow-safe split, TakeOrdered drill-down.
    Gate("t23_token_drift", (s, d) =>
      TextFunctions.tokenDriftTopK(
        tbl(s, d, "documents")
          .withColumn("half", (col("doc_id") % 2).cast("string")),
        "half", "text", "0", "1", topK = 20),
      // Drift replay: per-half term counts, slice totals, the same
      // overflow-safe ppm split (`//` == `div` on non-negatives), |Δ|.
      (t23DriftCtes + """
        |SELECT term, rate_a_ppm, rate_b_ppm,
        |  abs(rate_a_ppm - rate_b_ppm) AS drift_ppm
        |FROM r ORDER BY abs(rate_a_ppm - rate_b_ppm) DESC, term
        |LIMIT 20""".stripMargin)),

    // ... and the corpus-level scalar: Σ|Δppm| over the full vocab
    // (2e6 x the total-variation distance, floor-truncated) — the
    // dump-over-dump drift monitor, one exact BIGINT.
    Gate("t23b_corpus_drift_tv", (s, d) =>
      TextFunctions.corpusDriftTv(
        tbl(s, d, "documents")
          .withColumn("half", (col("doc_id") % 2).cast("string")),
        "half", "text", "0", "1"),
      (t23DriftCtes + """
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(coalesce(sum(abs(rate_a_ppm - rate_b_ppm)), 0) AS BIGINT) AS tv_ppm
        |FROM r""".stripMargin)),

    // ... and the TV scalar PER source category (t24 — the mixing
    // dashboard): within-group ppm rates over each group's own slice
    // totals, so a dump's drift localizes to the sources that moved.
    // Each row equals t23b run on that group alone (the group-isolation
    // law, spec-pinned); reduce side = groups x vocabulary.
    Gate("t24_grouped_drift", (s, d) =>
      TextFunctions.groupedDriftTv(
        tbl(s, d, "documents")
          .withColumn("half", (col("doc_id") % 2).cast("string")),
        "source", "half", "text", "0", "1"),
      // The t23 drift replay with the group key riding every stage:
      // per-(group, slice) totals, the within-group full-outer term join,
      // the same exact-ppm split, folded per group.
      t24OracleSql),

    // Vocabulary coverage curve: what fraction of token occurrences a
    // top-V vocab covers, at V = 5/10/20/40 (40 > the corpus vocab —
    // the saturation row). Exact integer counts, deterministic term
    // tiebreak, one bounded TakeOrdered over the vocabulary.
    Gate("t22_vocab_coverage", (s, d) =>
      TextFunctions.vocabCoverage(tbl(s, d, "documents"), "text",
        Seq(5, 10, 20, 40)),
      // Vocab-coverage replay: exact token counts, (cnt DESC, term) rank,
      // per-size covered sums via the rank theta join, one rounded ratio.
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
        |FROM cov, tt""".stripMargin),

    // ---- round-4 additions: repetition QA, decontamination, BM25, k-means ----
    Gate("t05_repetition", (s, d) =>
      TextFunctions.repetitionSignals(tbl(s, d, "documents"), "doc_id", "text"),
      // Token/bigram frequency tables -> per-doc repetition fractions; LEFT
      // JOINs keep token-less documents with all-zero signals.
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
        |FROM documents d LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)""".stripMargin)
  )
}
