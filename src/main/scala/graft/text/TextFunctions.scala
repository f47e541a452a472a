package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis primitives for training-data pipelines, expressed as pure
  * `Column` formulas (whole-stage-codegen'd, UDF-free) so they stay inside
  * Catalyst and scale linearly over 100 TB document scans. Every formula is
  * deliberately replicable in ANSI SQL so results can be oracle-checked
  * engine-to-engine.
  */
object TextFunctions {

  /** Lower-cased alphanumeric tokens. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-delimited token count (BIGINT). */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast(LongType)

  /** BPE-style pre-tokenization (GPT-2-ish, RE2-portable): lower-cased
    * alphanumeric runs and punctuation runs, each optionally absorbing one
    * leading space — the unit a byte-pair tokenizer would merge within.
    * Deliberately avoids lookahead (Java-regex-only) so the exact same
    * pattern runs in any RE2 engine's SQL.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(" ?[a-z0-9]+| ?[^a-z0-9\\s]+"), lit(0))

  /** BPE-ish pre-token count (BIGINT) — the training-cost proxy; pair with
    * [[tokenCount]]'s whitespace count for a cheap token-per-word signal.
    */
  def bpeTokenCount(text: Column): Column =
    size(bpeTokens(text)).cast(LongType)

  /** Token n-grams (space-joined) of the lower-cased alphanumeric tokens.
    * Guarded: `sequence(1, 0)` in Spark counts DOWN, so docs shorter than n
    * tokens must short-circuit to an empty array.
    */
  def tokenNgrams(text: Column, n: Int): Column = {
    val w = tokens(text)
    val cnt = size(w) - lit(n - 1) // number of n-grams; slice is 1-based
    when(cnt >= 1,
      transform(sequence(lit(1), cnt), i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** PII scrub patterns — deliberately lookahead/backreference-free so the
    * SAME strings run in Java regex (Spark) and RE2 (DuckDB/etc.) with
    * identical semantics.
    */
  val EmailRe = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** Phone-like runs: 7–15 digits with optional single `-`/`.`/space/`()`
    * separators between them. Requiring most of the run to be digits (not
    * just "digits or hyphens") keeps low-density runs like "1-2-3-4" and
    * 6-digit hyphenated IDs out, and caps the run at E.164's 15 digits.
    * KNOWN false positives, by design (7-15 digit runs are phone-shaped
    * regardless of meaning, and excluding them needs lookarounds we ban
    * for RE2 portability): ISO dates "2026-08-13" (8 digits), 10/13-digit
    * ISBNs, and bare 7-15 digit order IDs still redact.
    */
  val PhoneRe = "\\+?[0-9][-. ()]?(?:[0-9][-. ()]?){5,13}[0-9]"

  /** Redact email addresses and phone-like digit runs (emails first, so a
    * digits-bearing local part is consumed as `<EMAIL>`, not half-eaten by
    * the phone rule — the order is part of the contract). Case-insensitive
    * via inline `(?i)` — identical in Java regex and RE2. Pure Column ops.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Count of email matches (BIGINT) — the audit signal beside the scrub. */
  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast(LongType)

  private val stopwordPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|to|in|is|it|that|for)\\b",
    "es" -> "\\b(el|la|de|y|que|los|en|un|una|es)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|eine|zu|den)\\b",
    "fr" -> "\\b(le|la|et|les|des|un|une|est|dans|que)\\b"
  )

  /** Stopword-hit count for one language family (BIGINT). */
  def stopwordHits(text: Column, lang: String): Column = {
    val p = stopwordPatterns.toMap.apply(lang)
    size(regexp_extract_all(lower(text), lit(p), lit(0))).cast(LongType)
  }

  /** N-gram/stopword-heuristic language ID over {en, es, de, fr, zh}.
    * CJK codepoints trump the Latin stopword vote; among Latin languages the
    * highest hit count wins with fixed precedence en > es > de > fr;
    * all-zero scores fall back to 'und'. The decision tree is strict-`>`
    * comparisons in a fixed order so any engine computing the same counts
    * reproduces the same labels bit-for-bit.
    */
  def langId(text: Column): Column = {
    // Count via length-diff, not regexp_extract_all: extracting per-CHAR
    // matches materializes an array of one-char strings per row (the
    // pipeline probe's quality stage was 2x the whole dedup chain); the
    // replace form builds one output string and the same integer.
    val cjk = (length(text) -
      length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))).cast(LongType)
    val en = stopwordHits(text, "en")
    val es = stopwordHits(text, "es")
    val de = stopwordHits(text, "de")
    val fr = stopwordHits(text, "fr")
    when(cjk > 0, "zh")
      .when((en >= es) && (en >= de) && (en >= fr) && (en > 0), "en")
      .when((es >= de) && (es >= fr) && (es > 0), "es")
      .when((de >= fr) && (de > 0), "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Heuristic quality score in [0,1]:
    * `0.4*alnum_ratio + 0.3*min(5*stopword_ratio, 1) + 0.3*min(len/500, 1)`,
    * rounded to 6 decimals. Components:
    * alnum_ratio = alphanumeric chars / chars; stopword_ratio = EN stopword
    * hits / whitespace tokens; length credit saturates at 500 chars.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast(LongType)
    // Length-diff count (see languageId's cjk note): same integer, no
    // per-char match array.
    val alnum = (nChars -
      length(regexp_replace(lower(text), "[a-z0-9]", ""))).cast(LongType)
    val nTok = tokenCount(text)
    val stops = stopwordHits(text, "en")
    val alnumRatio = when(nChars > 0, alnum.cast("double") / nChars.cast("double")).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0, stops.cast("double") / nTok.cast("double")).otherwise(lit(0.0))
    round(
      lit(0.4) * alnumRatio +
        lit(0.3) * least(stopRatio * lit(5.0), lit(1.0)) +
        lit(0.3) * least(nChars.cast("double") / lit(500.0), lit(1.0)),
      6)
  }

  /** 64-bit xxhash of each distinct token n-gram — the shingle-hash array
    * consumed by MinHash/SimHash ([[graft.functions.TextHashes]]). Native
    * one-pass codegen kernel; semantically equal to
    * `transform(array_distinct(tokenNgrams(text, n)), g => xxhash64(g))`
    * (asserted by PipelineSpec).
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.ShingleHashes.shingleHashes(text, n)

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): the set
    * of per-window minima over the rolling shingle-hash sequence; robust
    * position-independent fingerprints for near-dup detection at corpus
    * scale. Window size w over n-gram hashes; output array<bigint> distinct.
    *
    * Native one-pass codegen kernel (monotonic-deque rolling minimum) over
    * ENGINE-PORTABLE 60-bit md5 hashes — the lambda formulation
    * (`transform`+`slice`+`array_min`) is CodegenFallback AND xxhash64 is
    * not reproducible outside Spark; the portable hash makes the
    * fingerprint VALUES oracle-checkable in plain SQL
    * ([[graft.functions.PortableHashes]]).
    */
  def fingerprints(text: Column, n: Int, w: Int): Column =
    graft.functions.PortableHashes.winnowMin(
      graft.functions.PortableHashes.portableNgramHashes(text, n, distinct = false), w)

  /** Repetition-based quality signals (the Gopher/MassiveText family of
    * filters): excessive repetition is the strongest single predictor of
    * low-value training text. Output one row per input document:
    * `[<idCol>, dup_tok_frac, top_tok_frac, top_bigram_frac]` —
    *   - dup_tok_frac: `1 - distinct_tokens / tokens`,
    *   - top_tok_frac: occurrences of the most frequent token / tokens,
    *   - top_bigram_frac: occurrences of the most frequent bigram / bigrams,
    * each rounded to 6 decimals, 0.0 for documents with no tokens/bigrams.
    *
    * SHAPE: frequency tables via explode + two-level aggregate — the first
    * `groupBy(doc, term)` count is map-side-combinable and the second
    * collapses to one row per doc, so the op is two partial-agg shuffles
    * over token rows, linear at corpus scale. The per-doc lambda
    * alternative (`transform(distinct, t -> count)`) is O(tokens x
    * distinct) per document and CodegenFallback — quadratic on exactly the
    * pathological documents this filter exists to catch.
    */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    val id = col(idCol)
    def topFreq(termed: DataFrame, outTotal: String, outTop: String): DataFrame =
      termed.groupBy(id, col("term")).agg(count(lit(1)).as("cnt"))
        .groupBy(id).agg(sum("cnt").as(outTotal), max("cnt").as(outTop))
    val toks = docs.select(id, explode(tokens(col(textCol))).as("term"))
    val bigrams = docs.select(id, explode(tokenNgrams(col(textCol), 2)).as("term"))
    def frac(num: Column, den: Column): Column =
      round(when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0), 6)
    docs.select(id)
      .join(topFreq(toks, "n_tok", "top_tok")
        .join(toks.groupBy(id).agg(count_distinct(col("term")).as("n_dist")), Seq(idCol)),
        Seq(idCol), "left")
      .join(topFreq(bigrams, "n_big", "top_big"), Seq(idCol), "left")
      .select(id,
        frac(col("n_tok") - col("n_dist"), col("n_tok")).as("dup_tok_frac"),
        frac(col("top_tok"), col("n_tok")).as("top_tok_frac"),
        frac(col("top_big"), col("n_big")).as("top_bigram_frac"))
  }

  /** Fixed-size character chunking with overlap — the document →
    * context-window preprocessing step of an LLM data pipeline. One output
    * row per chunk: `[<idCol>, chunk_idx, chunk]`, chunks of `chunkChars`
    * characters starting every `chunkChars - overlapChars`; every document
    * yields at least one chunk. The chunk count is pure INTEGER arithmetic
    * (`(len - overlap + stride - 1) div stride`) so any engine reproduces
    * the row set exactly; the whole operator is one generate-and-project —
    * no shuffle, no UDF, scales as a linear scan.
    */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkChars: Int = 512, overlapChars: Int = 64)
      : org.apache.spark.sql.DataFrame = {
    require(chunkChars > overlapChars && overlapChars >= 0,
      s"need 0 <= overlapChars < chunkChars, got $chunkChars/$overlapChars")
    val stride = chunkChars - overlapChars
    // `div`, not `/`: Spark's Column `/` is ALWAYS double division.
    val nChunks = expr(s"greatest(CAST(1 AS BIGINT), " +
      s"(length($textCol) - $overlapChars + ${stride - 1}) div $stride)")
    docs.select(col(idCol),
        explode(sequence(lit(0L), nChunks - lit(1L))).as("chunk_idx"),
        col(textCol))
      .select(col(idCol), col("chunk_idx"),
        expr(s"substring($textCol, CAST(1 + chunk_idx * $stride AS INT), $chunkChars)")
          .as("chunk"))
  }

  /** C4-style line-level cleanup + cross-corpus line dedup (the WITHIN-doc
    * twin of [[graft.operators.Dedup.firstOccurrenceChunks]]'s span dedup):
    * split every document on newlines, drop boilerplate lines, and keep
    * only the FIRST corpus-wide occurrence of each surviving distinct line
    * — first = lexicographic min of (document id, line number), so the
    * survivor set is deterministic under any partitioning. The two
    * boilerplate rules are the C4 paper's line filters (Raffel et al. 2020
    * §2.2): a line must carry at least `minWords` whitespace tokens, and —
    * when `requireTerminalPunct` — must end in a terminal punctuation mark
    * (`.`, `!`, `?`, or a closing quote), which is what strips nav menus,
    * cookie banners, and footer fragments from web text. Output
    * `[<idCol>, line_no, line_md5]`, one row per surviving line (0-based
    * line numbers).
    *
    * SHAPE: the split + rules ride the one corpus scan (generate-and-
    * filter, no shuffle); the keep-first is a single map-side-combining
    * aggregate keyed on the line hash whose `min(struct)` partial keeps
    * O(1) state per distinct line — the shuffle carries distinct-line
    * cardinality, not corpus lines. Identical cost shape to d10's span
    * dedup, which is what makes it a one-pass stage at 100 TB.
    */
  def c4LineDedup(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 3, requireTerminalPunct: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    require(minWords >= 0, s"minWords must be >= 0, got $minWords")
    val punctOk =
      if (requireTerminalPunct) col("line").rlike("[.!?\"]$") else lit(true)
    docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("line_no", "line")))
      .filter(punctOk &&
        size(regexp_extract_all(col("line"), lit("\\S+"), lit(0))) >= minWords)
      .select(col(idCol), col("line_no").cast(LongType).as("line_no"),
        md5(col("line")).as("line_md5"))
      .groupBy("line_md5")
      .agg(min(struct(col(idCol), col("line_no"))).as("first"))
      .select(col(s"first.$idCol").as(idCol),
        col("first.line_no").as("line_no"), col("line_md5"))
  }

  /** GPT-style sequence packing ("concatenate and chunk"): lay every
    * document's whitespace tokens end to end in `idCol` order and cut the
    * stream every `seqLen` tokens. One output row per (document, training
    * sequence) overlap: `[seq_id, <idCol>, start_tok, n_toks]` — the doc
    * contributes tokens `[start_tok, start_tok + n_toks)` to sequence
    * `seq_id`. Zero-token documents contribute nothing. All integer
    * arithmetic, exactly replayable by any engine's windowed SUM.
    *
    * Scale shape — the global prefix sum is NOT a single-partition window
    * (the classic packing scale-killer). It is the textbook two-phase
    * distributed scan:
    *   1. range-repartition by `idCol` (the shuffle Spark would need
    *      anyway to order the corpus) and sum token counts PER PARTITION
    *      — a handful of rows;
    *   2. collect those partition totals (one bounded driver action, one
    *      row per partition), prefix-scan them, broadcast the offsets
    *      back;
    *   3. window-cumsum WITHIN each partition and add the partition's
    *      offset — every partition scans concurrently.
    * At 1000 executors the driver sees 1000 longs, not 100 TB of rows.
    *
    * Correctness at scale: phases 1 and 3 both read `counts`, which is two
    * SEPARATE Spark jobs. `RangePartitioner` samples its bounds per job and
    * AQE may coalesce the shuffle differently each time, so an un-pinned
    * frame could place a document in different partitions in the two jobs —
    * silently wrong global offsets. `localCheckpoint(eager = true)`
    * materializes `counts` ONCE (ids + counts + pids only — row-count-sized,
    * not corpus-sized) and pins both phases to the same blocks; the blocks
    * are released by the context cleaner when the frame is unreferenced.
    *
    * Tradeoffs of that pin, deliberate: (a) the call is EAGER — invoking
    * this method triggers the sizing job immediately rather than at first
    * action; (b) localCheckpoint blocks are non-replicated, so on a real
    * cluster losing an executor mid-query fails the query (fast, explicit)
    * instead of recomputing — re-run the call on failure. A deployment that
    * prefers recompute-on-loss over a deterministic pin can substitute a
    * reliable `checkpoint()` against the configured checkpoint dir at the
    * cost of one HDFS round-trip; the partition-pinning requirement itself
    * is not optional.
    */
  def packSequences(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, seqLen: Long,
      numPartitions: Int = 0): org.apache.spark.sql.DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs
      .select(col(idCol).as("__pk_id"), tokenCount(col(textCol)).as("__pk_cnt"))
      .filter(col("__pk_cnt") > 0L)
    val ranged =
      if (numPartitions > 0) sized.repartitionByRange(numPartitions, col("__pk_id"))
      else sized.repartitionByRange(col("__pk_id"))
    val counts = ranged
      .withColumn("__pk_pid", spark_partition_id())
      .localCheckpoint(true)
    // Phase 1+2: per-partition totals -> driver prefix scan (bounded by the
    // partition count) -> broadcast back.
    val totals = counts.groupBy("__pk_pid").agg(sum("__pk_cnt").as("tot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _).init)
    val offDf = offsets.toSeq.toDF("__pk_pid", "__pk_off")
    // Phase 3: partition-local cumsum + offset = global token position.
    val w = Window.partitionBy("__pk_pid").orderBy("__pk_id")
    val placed = counts.join(broadcast(offDf), Seq("__pk_pid"))
      .withColumn("__pk_end", sum("__pk_cnt").over(w) + col("__pk_off"))
      .withColumn("__pk_start", col("__pk_end") - col("__pk_cnt"))
    // A doc spanning [start, end) overlaps sequences start div L .. (end-1) div L.
    placed
      .withColumn("seq_id", explode(sequence(
        expr(s"__pk_start div $seqLen"), expr(s"(__pk_end - 1) div $seqLen"))))
      .select(col("seq_id"), col("__pk_id").as(idCol),
        (greatest(col("seq_id") * seqLen, col("__pk_start")) - col("__pk_start"))
          .as("start_tok"),
        (least((col("seq_id") + 1L) * seqLen, col("__pk_end")) -
          greatest(col("seq_id") * seqLen, col("__pk_start"))).as("n_toks"))
  }

  /** Pointwise-mutual-information bigram collocations over the corpus:
    * `[w1, w2, b_cnt, u1_cnt, u2_cnt, pmi6]` for every adjacent token pair
    * occurring at least `minCount` times, where
    * `pmi = ln(P(w1,w2) / (P(w1) * P(w2)))` with bigram probability over
    * the bigram total and unigram probabilities over the unigram total.
    *
    * Engine-parity: all five counts are exact BIGINTs; the single float
    * expression is evaluated in ONE fixed association order — doubles from
    * the first cast onward, never a 64-bit integer product (whose overflow
    * semantics differ across engines) — and `round(..., 6)`d.
    *
    * Scale shape: two map-side-combinable token-count aggregations (the
    * shuffles carry vocabulary cardinality, not corpus size), two joins of
    * the bigram table against the unigram table keyed on a word, and two
    * 1-row broadcast cross joins for the totals. No per-doc quadratic
    * lambdas, no global sort.
    */
  def pmiBigrams(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Long = 3L): org.apache.spark.sql.DataFrame =
    graft.operators.CacheScope.scoped { scope =>
      // ONE corpus scan: unigrams and bigrams ride a single combined
      // explode (kind 1 = word, kind 2 = bigram; tokens(text) inside
      // tokenNgrams dedups via codegen subexpression elimination) into one
      // map-side-combinable groupBy whose shuffle carries VOCABULARY
      // cardinality. The scoped cache pins that vocabulary table so the
      // two unigram joins, both corpus-wide totals, and the minCount
      // filter all derive from it without touching the corpus again.
      // (Relying on ReuseExchange across separate aggregates does NOT
      // work: joins push isnotnull(key) into their copies of the agg
      // subtrees, so the totals' exchanges canonicalize differently and
      // never dedup — plan-verified.)
      val counts = scope.cache(docs
        .select(explode(concat(
          transform(tokens(col(textCol)),
            w => struct(lit(1).as("kind"), w.as("term"))),
          transform(tokenNgrams(col(textCol), 2),
            g => struct(lit(2).as("kind"), g.as("term"))))).as("kt"))
        .select(col("kt.kind").as("kind"), col("kt.term").as("term"))
        .groupBy("kind", "term").agg(count(lit(1)).as("cnt")))
      val uni = counts.filter(col("kind") === 1)
        .select(col("term").as("w"), col("cnt").as("u_cnt"))
      val bigAll = counts.filter(col("kind") === 2)
        .select(col("term").as("bg"), col("cnt").as("b_cnt"))
      val big = bigAll
        .filter(col("b_cnt") >= minCount)
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"), col("b_cnt"))
      // Totals BEFORE the minCount filter — probabilities are corpus-wide:
      // sum(u_cnt) IS the token total and sum(b_cnt) over the unfiltered
      // bigram table IS the bigram total.
      val nu = uni.agg(sum("u_cnt").as("nu"))
      val nb = bigAll.agg(sum("b_cnt").as("nb"))
      big
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("u_cnt", "u1_cnt"), Seq("w1"))
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("u_cnt", "u2_cnt"), Seq("w2"))
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("b_cnt"), col("u1_cnt"), col("u2_cnt"),
          round(log(
            col("b_cnt").cast("double") * col("nu") * col("nu") /
              (col("nb").cast("double") * col("u1_cnt") * col("u2_cnt"))), 6)
            .as("pmi6"))
    }

  /** Bigram-language-model document scoring — the CCNet/Gopher-style
    * perplexity quality filter, oracle-exact: train add-one-smoothed
    * bigram conditionals on `train`, score every `score` document by its
    * average per-pair negative log-likelihood. Output
    * `[<idCol>, n_pairs, nll_micros, avg_nll6]` (docs with < 2 tokens have
    * no pairs and are excluded); perplexity is `exp(avg_nll)` — monotone
    * in `avg_nll6`, so thresholding on the emitted column IS perplexity
    * filtering.
    *
    * Model: `p(v|u) = (c(u,v) + 1) / (c1(u) + V)` with `c(u,v)` the
    * corpus bigram count, `c1(u) = sum_v c(u,v)` (occurrences of `u` as a
    * pair head — the proper conditional normalizer), and `V` the distinct
    * unigram vocabulary size. Unseen pairs/heads score `1/(c1+V)` resp.
    * `1/V` via left joins, so held-out text scores without retraining.
    *
    * Float discipline, the part that makes this GATEABLE: a per-doc
    * `sum(ln p)` over doubles is summation-order-dependent — useless as a
    * hash-gated artifact. Instead each pair's NLL is floored onto an
    * integer micro-lattice FIRST —
    * `tm = floor(ln((cuv+1)::D / (c1+V)::D) * -1e6)::BIGINT`
    * — one float expression per pair in one fixed association order (only
    * `ln`, whose cross-engine IEEE parity the q14c gate already pins; no
    * `exp` anywhere), then summed EXACTLY as BIGINTs in any order. The
    * per-doc average is one more fixed-order float at the end. Lattice
    * quantization costs < 1e-6 nats/pair of precision — noise relative to
    * any quality threshold, in exchange for a bit-exact artifact.
    *
    * Scale shape: one `train` scan into a map-side-combinable count whose
    * shuffle carries VOCABULARY cardinality (the kind-1/kind-2 combined
    * explode, as [[pmiBigrams]]); `c1` and `V` derive from that table
    * without re-scanning. One `score` scan explodes pairs (linear) into
    * two joins keyed on the pair/head strings — vocabulary-sized build
    * sides, broadcast when they fit — and a map-side-combinable per-doc
    * integer sum. No window, no global sort, no per-doc quadratic work.
    */
  def bigramLmNll(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, broadcastModel: Boolean = true): org.apache.spark.sql.DataFrame =
    graft.operators.CacheScope.scoped { scope =>
      // Tokenization (two regex extractions per document) dominates the
      // cost of everything downstream, so it runs ONCE per distinct input:
      // for the common self-scoring case (`train eq score`) the scoped
      // token cache feeds BOTH the count tables and the score pairs — one
      // corpus scan total instead of two.
      def kt(df: org.apache.spark.sql.DataFrame, withId: Boolean) = df
        .select(
          (if (withId) col(idCol) else lit(0L)).as("__lm_id"),
          explode(concat(
            transform(tokens(col(textCol)),
              w => struct(lit(1).as("kind"), w.as("term"))),
            transform(tokenNgrams(col(textCol), 2),
              g => struct(lit(2).as("kind"), g.as("term"))))).as("kt"))
        .select(col("__lm_id"), col("kt.kind").as("kind"), col("kt.term").as("term"))
      val selfScore = train eq score
      val scoreKt =
        if (selfScore) scope.cache(kt(score, withId = true))
        else kt(score, withId = true)
      val trainKt = if (selfScore) scoreKt else kt(train, withId = false)
      // Count table is consumed three times (bigrams, heads, vocab) —
      // vocabulary-sized, cached for the scope.
      val counts = scope.cache(trainKt
        .groupBy("kind", "term").agg(count(lit(1)).as("cnt")))
      val big = counts.filter(col("kind") === 2)
        .select(col("term").as("bg"), col("cnt").as("cuv"))
      val heads = big
        .groupBy(split(col("bg"), " ").getItem(0).as("u"))
        .agg(sum("cuv").as("cu"))
      val vocab = counts.filter(col("kind") === 1)
        .agg(count(lit(1)).as("v"))
      val pairs = scoreKt.filter(col("kind") === 2)
        .select(col("__lm_id"), col("term").as("bg"))
        .withColumn("u", split(col("bg"), " ").getItem(0))
      // The model tables are vocabulary-sized; broadcast keeps the
      // corpus-pair stream shuffle-free end to end (explode -> probe ->
      // map-side-combinable per-doc sum). For a web-scale bigram
      // vocabulary that outgrows executor memory pass false and the
      // probes become shuffle joins on the pair/head strings.
      val (bigJ, headsJ) =
        if (broadcastModel) (broadcast(big), broadcast(heads)) else (big, heads)
      pairs
        .join(bigJ, Seq("bg"), "left")
        .join(headsJ, Seq("u"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("__lm_id"),
          floor(log(
            (coalesce(col("cuv"), lit(0L)) + lit(1L)).cast("double") /
              (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")) *
            lit(-1000000.0)).cast(LongType).as("tm"))
        .groupBy("__lm_id")
        .agg(count(lit(1)).as("n_pairs"), sum("tm").as("nll_micros"))
        .select(col("__lm_id").as(idCol), col("n_pairs"), col("nll_micros"),
          round((col("nll_micros").cast("double") / lit(1000000.0)) /
            col("n_pairs").cast("double"), 6).as("avg_nll6"))
    }

  /** Per-document top-k TF-IDF terms — keyword extraction, the classic
    * retrieval-feature stage (doc tags, weak labels, index keys).
    * Smooth-idf convention: `idf = ln((1+N)/(1+df)) + 1`, score on the
    * integer micro-lattice `floor(tf * idf * 1e6)` — tf/df/N are exact
    * BIGINTs, the float chain is one fixed association order, so the
    * floor (and therefore the ranking) is engine-exact. Output
    * `[<idCol>, term, score_micro, rnk]`, rank by (score DESC, term ASC).
    *
    * Plan: one corpus scan builds the (doc, term) tf table (map-side
    * combine); df is a vocabulary-sized aggregate OF that table (no
    * second scan — scoped cache); the tf-df join shuffles on term at
    * vocabulary cardinality, never corpus rows; the final top-k window
    * partitions by document, so its sort is per-doc-local (bounded by
    * document length — the one place a window beats a heap here, because
    * the ranked payload is a STRING, outside `top_k_by_score`'s long-id
    * contract).
    */
  def tfIdfTopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame =
    graft.operators.CacheScope.scoped { scope =>
      import org.apache.spark.sql.expressions.Window
      val tf = scope.cache(
        docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
          .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(idCol)
        .orderBy(col("score_micro").desc, col("term").asc)
      tf.join(dft, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score_micro",
          floor(col("tf").cast("double") *
            (log((lit(1.0) + col("n").cast("double")) /
              (lit(1.0) + col("df").cast("double"))) + lit(1.0)) *
            lit(1000000.0)).cast(LongType))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= k)
        .select(col(idCol), col("term"), col("score_micro"), col("rnk"))
    }

  /** Gopher-style composite admission filter: every document gets a
    * `fail_mask` BIGINT with one bit per violated rule (0 = admitted) and
    * a `keep` 0/1 — the form a pipeline wants, because "why was this
    * dropped" drives threshold tuning and per-rule loss accounting, and
    * the mask aggregates into per-rule violation rates with one groupBy.
    * Rules (bit: condition):
    *   0: alphanumeric token count outside `[minTok, maxTok]`
    *   1: mean token length outside `[minMeanLen, maxMeanLen]`
    *   2: [[qualityScore]] < `minQuality`
    *   3: duplicate-token fraction > `maxDupFrac`  (t05 formula)
    *   4: top-bigram fraction > `maxTopBigramFrac` (t05 formula)
    * Bits 0-2 are per-row Column math on the corpus scan; bits 3-4 reuse
    * [[repetitionSignals]]' two map-side-combining aggregates — the whole
    * filter adds ONE join of two doc-keyed frames, no new shuffle class.
    * Thresholds compare ROUNDED 6-decimal fractions and exact-integer-
    * derived doubles, so the admission decision is engine-exact.
    */
  def compositeQualityFilter(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      minTok: Long = 5L, maxTok: Long = 5000L,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
      minQuality: Double = 0.5, maxDupFrac: Double = 0.3,
      maxTopBigramFrac: Double = 0.18): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast(LongType)
    val sumLen = aggregate(transform(toks, w => length(w).cast(LongType)),
      lit(0L), (a, x) => a + x)
    val meanLen = when(nTok > 0, sumLen.cast("double") / nTok.cast("double"))
      .otherwise(lit(0.0))
    val base = docs.select(col(idCol), nTok.as("__cq_n"),
      meanLen.as("__cq_ml"), qualityScore(col(textCol)).as("__cq_q"))
    val rep = repetitionSignals(docs, idCol, textCol)
    base.join(rep, Seq(idCol))
      .select(col(idCol),
        (when(col("__cq_n") < minTok || col("__cq_n") > maxTok, 1L).otherwise(0L) +
         when(col("__cq_ml") < minMeanLen || col("__cq_ml") > maxMeanLen, 2L).otherwise(0L) +
         when(col("__cq_q") < minQuality, 4L).otherwise(0L) +
         when(col("dup_tok_frac") > maxDupFrac, 8L).otherwise(0L) +
         when(col("top_bigram_frac") > maxTopBigramFrac, 16L).otherwise(0L)
          ).as("fail_mask"))
      .withColumn("keep", when(col("fail_mask") === 0L, 1L).otherwise(0L))
  }

  /** Distributed BPE merge training: the `rounds` highest-frequency adjacent
    * symbol-pair merges over the corpus, GPT-2-style but on the WORD
    * HISTOGRAM — the classic trainer optimization that makes per-round cost
    * vocabulary-sized, not corpus-sized. The missing stage between
    * [[bpeTokens]] (pre-tokenization, t07) and sequence packing (t09):
    * together they are tokenizer training -> tokenization -> batching.
    *
    * Representation: each word's symbol sequence is one string of bracketed
    * symbols (`"the"` -> `"<t><h><e>"`). Brackets make adjacency textual —
    * the pair (s1,s2) IS the substring `"<s1><s2>"`, so applying a merge is
    * a plain left-to-right non-overlapping `replace` of that substring with
    * `"<s1s2>"`, with bracket boundaries guaranteeing a symbol can never
    * match a suffix of a longer symbol. Left-to-right non-overlapping
    * `replace` is exactly BPE's greedy merge-application order ("aaa" with
    * merge (a,a) -> [aa, a]), and is the semantics of `replace` in both
    * Spark and ANSI SQL engines — which is what makes K unrolled rounds
    * oracle-expressible.
    *
    * Scale shape (100 TB): ONE corpus scan builds the word histogram
    * (map-side-combinable groupBy). Each round then explodes the CURRENT
    * vocabulary's adjacent pairs (O(vocab x word-len) rows), sums
    * word-frequency weights per pair (map-side partial agg), and takes the
    * global argmax via `orderBy.limit(1)` — a TakeOrdered reduction, no
    * global sort — collecting exactly ONE row to the driver per round.
    * Merge application is a narrow map over the vocabulary. Ties break
    * deterministically on the bracketed pair string ascending (binary
    * collation both engines).
    *
    * Returns `rounds` rows: `[merge_round BIGINT, pair STRING
    * (space-joined, e.g. "t h"), freq BIGINT]`.
    */
  def bpeTrainMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64], got $rounds")
    val spark = df.sparkSession
    val merges = graft.operators.CacheScope.scopedValue { scope =>
      var cur = scope.cache(df
        .select(explode(tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wcnt"))
        .select(regexp_replace(col("w"), "(.)", "<$1>").as("seq"), col("wcnt")))
      val out = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val syms = regexp_extract_all(col("seq"), lit("<[^<>]+>"), lit(0))
        // sequence(1, 0) counts DOWN — single-symbol words must short-
        // circuit to no pairs, same guard as tokenNgrams.
        val pairs = when(size(syms) >= 2,
          transform(sequence(lit(1), size(syms) - 1),
            i => concat(element_at(syms, i), element_at(syms, i + 1))))
          .otherwise(array().cast("array<string>"))
        val top = cur.select(explode(pairs).as("pair"), col("wcnt"))
          .groupBy("pair").agg(sum("wcnt").as("freq"))
          .orderBy(col("freq").desc, col("pair").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true // corpus fully merged
        else {
          val pair = top(0).getString(0)
          out += ((r.toLong, pair.replace("><", " ").replaceAll("[<>]", ""),
            top(0).getLong(1)))
          cur = scope.cache(cur.select(
            replace(col("seq"), lit(pair), lit(pair.replace("><", ""))).as("seq"),
            col("wcnt")))
          r += 1
        }
      }
      out.toSeq
    }
    import spark.implicits._
    merges.toDF("merge_round", "pair", "freq")
  }

  /** BPE TOKENIZATION with a trained merge list (the apply-side twin of
    * [[bpeTrainMerges]]): re-segments every word by replaying the merges
    * in training order — merge priority order, standard BPE inference —
    * and reports per-document `[<idCol>, char_cnt, bpe_len]`: total
    * alphanumeric characters and total post-merge token count. The
    * compression ratio char_cnt/bpe_len is the tokenizer-quality signal a
    * data pipeline tracks per corpus slice.
    *
    * The merge replay is a chain of `rounds` literal `replace` calls on
    * the bracketed representation — a single narrow codegen'd projection,
    * NO shuffle and NO join against a vocabulary table: the trained merge
    * list (driver-held, `rounds` strings) is baked into the plan as
    * literals, the per-doc totals are array aggregates over the token
    * array, and the only distributed work is the corpus scan itself.
    * Documents with zero alphanumeric tokens are dropped (the oracle's
    * UNNEST semantics).
    */
  def bpeSegmentStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, rounds: Int): org.apache.spark.sql.DataFrame = {
    val merges = bpeTrainMerges(df, textCol, rounds).collect()
      .sortBy(_.getLong(0))
      .map(r => "<" + r.getString(1).replace(" ", "><") + ">")
    def segmented(w: Column): Column = {
      val seq0 = regexp_replace(w, "(.)", "<$1>")
      merges.foldLeft(seq0)((c, m) => replace(c, lit(m), lit(m.replace("><", ""))))
    }
    val toks = tokens(col(textCol))
    df.filter(size(toks) >= 1)
      .select(col(idCol),
        aggregate(transform(toks, w => length(w).cast(LongType)),
          lit(0L), (a, x) => a + x).as("char_cnt"),
        aggregate(transform(toks,
            w => size(regexp_extract_all(segmented(w), lit("<[^<>]+>"), lit(0)))
              .cast(LongType)),
          lit(0L), (a, x) => a + x).as("bpe_len"))
  }

  /** HTML → text extraction patterns (the web-crawl ingest transform
    * upstream of the quality/dedup passes). Same portability discipline as
    * [[EmailRe]]: no lookarounds, no backreferences — the SAME strings run
    * in Java regex (Spark) and RE2 (DuckDB) with identical semantics.
    * `(?is)` + non-greedy `.*?` are common to both engines.
    */
  val HtmlCommentRe = "(?is)<!--.*?-->"
  /** Tag interior, DOUBLE-QUOTE aware: a `>` inside a quoted attribute
    * value (`<a href="/x?a>b">`) must not terminate the tag — runs of
    * non-`>`/non-`"` chars interleave with complete `"..."` strings
    * (which MAY contain `>`), non-capturing so [[HtmlAnchorRe]]'s group
    * numbering is stable. Degenerate-markup contract: an UNPAIRED `"`
    * inside a tag makes that tag unmatched on its line (it survives as
    * text), and single-quoted attributes are treated as plain chars —
    * an unpaired apostrophe (`<p title=don't>`) is far more common in
    * crawl text than a single-quoted `>`, so `'`-awareness would hurt
    * more than it helps.
    */
  private val HtmlTagGuts = "[^>\"]*(?:\"[^\"]*\"[^>\"]*)*"
  val HtmlScriptRe = s"(?is)<script\\b$HtmlTagGuts>.*?</script>"
  val HtmlStyleRe = s"(?is)<style\\b$HtmlTagGuts>.*?</style>"
  val HtmlAnchorRe = s"(?is)<a\\b$HtmlTagGuts>(.*?)</a>"
  val HtmlTagRe = s"<$HtmlTagGuts>"
  // No \n (lines are already split) and no \s (Java's \s includes \x0B,
  // RE2's does not — the one whitespace-class portability trap).
  private val HtmlWsRe = "[ \\t\\r]+"

  /** Comment/script/style blocks dropped (dotall — blocks span lines),
    * then split into lines: the unit the boilerplate rule judges.
    * An unclosed `<script>`/`<style>` never matches its block pattern, so
    * its TAG is stripped like any other and its body survives as text —
    * the documented degenerate-markup behavior (never an error).
    */
  private def htmlLines(html: Column): Column =
    split(regexp_replace(regexp_replace(regexp_replace(
      coalesce(html, lit("")),
      HtmlCommentRe, " "), HtmlScriptRe, " "), HtmlStyleRe, " "), "\n")

  /** A line's visible text: tags → space, runs of space/tab/CR squeezed,
    * trimmed. Entities are NOT decoded here — decode happens once on the
    * assembled document so the line-level length arithmetic stays cheap.
    */
  private def htmlVisible(line: Column): Column =
    trim(regexp_replace(regexp_replace(line, HtmlTagRe, " "), HtmlWsRe, " "))

  /** Link-density boilerplate rule (the jusText/Readability heuristic):
    * a line whose anchor text is more than half its visible text is
    * navigation chrome, not content. Anchor text is group 1 of every
    * `<a ...>...</a>` on the line, joined and normalized the same way as
    * the visible text so the two lengths are commensurable.
    */
  private def htmlAnchorLen(line: Column): Column =
    length(htmlVisible(
      array_join(regexp_extract_all(line, lit(HtmlAnchorRe), lit(1)), " ")))

  private def htmlKeep(line: Column): Column = {
    val v = length(htmlVisible(line))
    v > 0 && lit(2) * htmlAnchorLen(line) <= v
  }

  /** The six entities every crawler decodes (post tag-strip, `&amp;`
    * LAST so `&amp;lt;` decodes to the literal `&lt;`, never twice).
    */
  private def htmlDecodeEntities(c: Column): Column =
    Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }

  /** Extract the content text of an HTML document: drop comment/script/
    * style blocks, drop boilerplate lines by link density, strip tags,
    * decode entities, squeeze whitespace. A pure per-row `Column` formula
    * over higher-order array functions — NO explode, NO shuffle, NO UDF:
    * at 100 TB this is a map-only pass that rides the document scan, and
    * every regex is RE2-portable so the oracle replays it verbatim.
    */
  def htmlToText(html: Column): Column =
    trim(regexp_replace(htmlDecodeEntities(
      array_join(transform(filter(htmlLines(html), htmlKeep _),
        (l: Column) => htmlVisible(l)), " ")), HtmlWsRe, " "))

  // ---- PII detection/redaction (t19). Three conservative RE2-portable
  // classes — emails, dotted-quad IPs, +CC-prefixed phone numbers — the
  // pre-training scrub pass (C4/Dolma-style). Counts are per-class over
  // the RAW text; email and IP are DISJOINT by construction (the email
  // pattern requires an alphabetic TLD, so a dotted-quad "domain" is not
  // an email — spec-pinned). Email vs PHONE is NOT guaranteed disjoint:
  // the email local part admits '+' and '-', so a phone-shaped substring
  // inside a local part (e.g. "u+1-555-123456@x.com") matches BOTH
  // regexes on the raw text — counts may double-count such spans, and
  // the sequential redaction (email first) hides it in the redacted
  // output. Oracle parity is unaffected: both engines replay the same
  // regexes on the same text. Redaction applies sequentially
  // email -> ip -> phone, deterministic either way. Pure per-row Column
  // formulas: a map-only pass that rides the document scan at 100 TB,
  // and the oracle replays every regex verbatim in DuckDB (RE2 — no
  // lookarounds, no backrefs; Java and RE2 agree on everything used).
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiIpv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val PiiPhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4,6}\\b"

  /** `[emails, ips, phones]` BIGINT match counts on the raw text. */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(PiiEmailRe)).cast(LongType).as("emails"),
    regexp_count(text, lit(PiiIpv4Re)).cast(LongType).as("ips"),
    regexp_count(text, lit(PiiPhoneRe)).cast(LongType).as("phones"))

  /** Text with each PII class replaced by its tag, applied
    * email -> ip -> phone.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      PiiEmailRe, "[EMAIL]"), PiiIpv4Re, "[IP]"), PiiPhoneRe, "[PHONE]")

  /** Lines kept by the boilerplate rule (BIGINT) — the audit signal. */
  def htmlKeptLines(html: Column): Column =
    size(filter(htmlLines(html), htmlKeep _)).cast(LongType)

  /** Non-blank lines dropped as link-dense boilerplate (BIGINT). */
  def htmlDroppedLines(html: Column): Column =
    size(filter(htmlLines(html),
      (l: Column) => length(htmlVisible(l)) > 0 && !htmlKeep(l))).cast(LongType)

  // ---- shared-aux form: one per-line regex pass feeding several outputs.
  // A query selecting htmlToText + htmlKeptLines + htmlDroppedLines runs
  // the block-strip/split/visible/anchor regexes THREE times per row (each
  // output column embeds its own copy — projections cannot share
  // subexpressions, and HOF lambdas never enter codegen's subexpression
  // elimination). Materializing the per-line struct array ONCE in a lower
  // projection and deriving the outputs from it in an upper one runs the
  // regexes once: CollapseProject refuses to inline a non-cheap producer
  // referenced more than once, so the two-projection shape survives the
  // optimizer (spec-pinned) while staying map-only — no shuffle, no UDF.
  // Measured at sf0.1 (full-materialization timing, BASELINE.md "Round-15
  // t18 HTML-kernel probe"): triple HOF ~2.0 s, shared-aux ~0.8 s,
  // exploded+groupBy twin ~0.9 s — the shared form keeps the exploded
  // twin's win WITHOUT the corpus shuffle.

  /** Per-line `struct(v, al)` (visible text, anchor-visible length) — the
    * one expensive pass. Alias it in its OWN select, then feed that column
    * to the `...FromAux` derivations in a subsequent select.
    */
  def htmlLineAux(html: Column): Column =
    transform(htmlLines(html),
      l => struct(htmlVisible(l).as("v"), htmlAnchorLen(l).as("al")))

  private def auxKeep(x: Column): Column =
    length(x.getField("v")) > 0 && lit(2) * x.getField("al") <= length(x.getField("v"))

  /** [[htmlToText]] over a precomputed [[htmlLineAux]] array. */
  def htmlTextFromAux(aux: Column): Column =
    trim(regexp_replace(htmlDecodeEntities(
      array_join(transform(filter(aux, auxKeep _),
        x => x.getField("v")), " ")), HtmlWsRe, " "))

  /** [[htmlKeptLines]] over a precomputed [[htmlLineAux]] array. */
  def htmlKeptFromAux(aux: Column): Column =
    size(filter(aux, auxKeep _)).cast(LongType)

  /** [[htmlDroppedLines]] over a precomputed [[htmlLineAux]] array. */
  def htmlDroppedFromAux(aux: Column): Column =
    size(filter(aux,
      x => length(x.getField("v")) > 0 && !auxKeep(x))).cast(LongType)

  /** URL canonicalization — the FIRST dedup key any crawl pipeline
    * computes (CommonCrawl/C4 discipline): two spellings of the same
    * resource must map to one string BEFORE content-level dedup ever
    * runs, or every mirror/tracking-link copy inflates the corpus.
    * Rules (all engine-portable — RE2-safe patterns, no lookahead, no
    * replacement backrefs; the URL is DECOMPOSED with `regexp_extract`
    * and reassembled, so the oracle replays rule-for-rule):
    *   1. fragment dropped (`#...` is client-side only);
    *   2. scheme and host[:port] lowercased (path/query case KEPT —
    *      paths are case-sensitive per RFC 3986);
    *   3. default ports stripped (`http…:80`, `https…:443`); any other
    *      explicit port kept;
    *   4. ONE trailing path slash stripped (`/a/b/` == `/a/b`, `/` ==
    *      empty) — the C4 join rule;
    *   5. tracking params removed, order of the survivors KEPT (no
    *      param sort — `?a=1&b=2` vs `?b=2&a=1` are left distinct,
    *      reordering is not semantics-preserving for all endpoints):
    *      `utm_*`, `fbclid=*`, `gclid=*`; an emptied query drops its
    *      `?`.
    * Bracketed IPv6 hosts (`[::1]:8080`) are handled: the host/port
    * split matches the whole `[...]` group before looking for a port, so
    * the colons inside the literal never split it (spec-pinned, fuzz
    * grammar covers both literal shapes).
    * Pure scalar Column formula — rides the corpus scan map-only, no
    * UDF, codegen'd. Non-URL input degrades safely: no `://` means
    * scheme/host extract empty and the string passes through minus
    * fragment/trailing-slash handling.
    */
  /** Vocabulary coverage curve (t22): for each requested vocabulary size
    * `v`, the fraction of corpus TOKEN OCCURRENCES a top-`v` frequency
    * vocabulary covers — the tokenizer-design question "how large a
    * vocab covers 99% of the stream?". Rank ties break on the term
    * string, so the top-`v` set (and the gate) is deterministic; counts
    * are exact BIGINTs and only the final ratio is float (one division +
    * round(6), replayed verbatim by the oracle).
    *
    * SHAPE at 100 TB: ONE map-side-combining token count (the t01-family
    * exploded scan — the reduce side is vocabulary-, not corpus-sized), a
    * `TakeOrderedAndProject` top-max(sizes) over the vocabulary (bounded
    * heaps, no global sort), the total from the same counts frame's one
    * scalar agg, and a bounded sizes×top theta join (both sides ≤
    * max(sizes) rows). Sizes beyond the true vocabulary saturate at
    * coverage 1.0 — the exhaust row is the natural curve endpoint.
    *
    * Output `[v_size, covered_occ, total_occ, coverage]`, one row per
    * requested size.
    */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, textCol: String,
      sizes: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1),
      s"sizes must be non-empty positive, got $sizes")
    val spark = df.sparkSession
    import spark.implicits._
    graft.operators.CacheScope.scoped { scope =>
    // Cached: the exploded corpus scan feeds BOTH the top-k and the
    // grand total — without the scope it runs twice per call.
    val counts = scope.cache(
      df.select(explode(tokens(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt")))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(sizes.max)
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term"))
    val ranked = top.withColumn("__vc_rn", row_number().over(ord))
    val total = counts.agg(
      coalesce(sum(col("cnt")), lit(0L)).as("total_occ"))
    val sz = sizes.distinct.sorted.toDF("v_size")
    sz.join(ranked, col("__vc_rn") <= col("v_size"), "left")
      .groupBy("v_size")
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("covered_occ"))
      .crossJoin(broadcast(total))
      .select(col("v_size"), col("covered_occ"), col("total_occ"),
        when(col("total_occ") === 0L, lit(0.0))
          .otherwise(round(col("covered_occ").cast("double") /
            col("total_occ").cast("double"), 6)).as("coverage"))
    }
  }

  /** Token-distribution DRIFT between two corpus slices (t23) — the
    * dump-over-dump monitor a crawl pipeline runs before mixing a new
    * snapshot: per-term occurrence rates on the ppm lattice and their
    * absolute difference, plus the corpus-level fold
    * `Σ_term |rate_a - rate_b|` (= 2e6 × the total-variation distance
    * between the two unigram distributions, up to per-term floor
    * truncation — an exact BIGINT at any scale, no float summation).
    *
    * Rates are EXACT integer ppm via the overflow-safe split
    * `ca·(1e6 div na) + (ca·(1e6 mod na)) div na` (the
    * mixtureInterleaveKeys identity; valid while per-term-per-slice
    * counts stay under ~9.2e12 — guarded loudly, because "the" at
    * 100 TB is exactly the term that would wrap silently). One
    * map-side-combining count per (slice, term); the full-outer term
    * join charges absent terms a zero rate. Output
    * `[term, rate_a_ppm, rate_b_ppm, drift_ppm]`, top-`topK` by
    * `(drift DESC, term)` via TakeOrdered — the drill-down; use
    * [[corpusDriftTv]] for the scalar.
    */
  def tokenDriftTopK(docs: org.apache.spark.sql.DataFrame,
      sliceCol: String, textCol: String, sliceA: String, sliceB: String,
      topK: Int): org.apache.spark.sql.DataFrame =
    driftRates(docs, sliceCol, textCol, sliceA, sliceB)
      .orderBy(col("drift_ppm").desc, col("term")).limit(topK)

  /** The corpus-level drift scalar off the same rate frame (t23b):
    * `[n_terms, tv_ppm]` — one row.
    */
  def corpusDriftTv(docs: org.apache.spark.sql.DataFrame,
      sliceCol: String, textCol: String, sliceA: String,
      sliceB: String): org.apache.spark.sql.DataFrame =
    driftRates(docs, sliceCol, textCol, sliceA, sliceB)
      .agg(count(lit(1)).as("n_terms"),
        coalesce(sum(col("drift_ppm")), lit(0L)).as("tv_ppm"))

  /** GROUPED drift (t24) — the mixing-dashboard form of the t23
    * monitor: the TV scalar PER category (language, domain, source),
    * so a new dump's drift localizes to the slices that moved instead
    * of dissolving into one corpus-wide number. One cached
    * (group, slice, term) count pass (the t23 plan with the group key
    * riding every aggregate), per-(group, slice) totals, and the same
    * exact-ppm lattice — reduce side bounded by groups × vocabulary.
    * Rates are WITHIN-group (each group's terms over that group's own
    * slice totals), so each output row equals [[corpusDriftTv]] run on
    * that group's documents alone — the q34/p12 group-isolation law,
    * spec-pinned. Output `[<groupCol>, n_terms, tv_ppm]`, one row per
    * group seen in either slice.
    */
  def groupedDriftTv(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, sliceCol: String, textCol: String,
      sliceA: String, sliceB: String): org.apache.spark.sql.DataFrame =
    driftRates(docs, sliceCol, textCol, sliceA, sliceB,
      groupCols = Seq(groupCol))
      .groupBy(col("__td_g").as(groupCol))
      .agg(count(lit(1)).as("n_terms"),
        coalesce(sum(col("drift_ppm")), lit(0L)).as("tv_ppm"))

  /** The (slice, term) count stage under the drift family — exposed
    * because this is exactly the frame a STREAMING query maintains as
    * additive state ([[graft.streaming.Streams.streamingDriftCounts]]):
    * one map-side-combining count per (slice, term), reduce side / state
    * bounded by the slices × vocabulary, same as the batch monitor's.
    * Output `[(__td_g,) __td_s, term, c]`.
    */
  private[graft] def driftCounts(docs: org.apache.spark.sql.DataFrame,
      sliceCol: String, textCol: String, sliceA: String,
      sliceB: String, groupCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    require(groupCols.size <= 1, "at most one drift group column")
    val gCols = groupCols.map(g => col(g).cast("string").as("__td_g"))
    val gKey = if (groupCols.isEmpty) Nil else Seq("__td_g")
    docs.filter(col(sliceCol) === sliceA || col(sliceCol) === sliceB)
      .select(gCols ++ Seq(col(sliceCol).as("__td_s"),
        explode(tokens(col(textCol))).as("term")): _*)
      .groupBy((gKey :+ "__td_s").map(col) :+ col("term"): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** The drift-rate tail over an already-materialized counts frame (the
    * [[driftCounts]] shape) — the finalize step the streaming twin
    * (st28) drains into; [[driftRates]] is this over the batch counts.
    */
  private[graft] def driftRatesFromCounts(
      counts0: org.apache.spark.sql.DataFrame, sliceA: String,
      sliceB: String, grouped: Boolean = false)
      : org.apache.spark.sql.DataFrame =
    graft.operators.CacheScope.scoped { scope =>
      // Cached: the counts feed both sides' term frames AND both slice
      // totals — four plan branches, one pass. Fresh column ALIASES per
      // branch (the kmvSetEstimates/st25 lesson): all four branches
      // descend from ONE lineage — a drained memory sink in the st28
      // path — and same-exprId self-joins fail resolution; the aliases
      // mint new attributes so every join below always resolves. Plain
      // equality (not <=>) on the join keys, matching the former USING
      // join and the oracle's `ON a.g = b.g` semantics exactly.
      val counts = scope.cache(counts0)
      def side(v: String, sfx: String) =
        counts.filter(col("__td_s") === v)
          .select((if (grouped) Seq(col("__td_g").as(s"g$sfx")) else Nil) ++
            Seq(col("term").as(s"term$sfx"), col("c").as(s"c$sfx")): _*)
      // Group-key joins are NULL-SAFE (<=>): a NULL category is a real
      // category on a mixing dashboard (the st26 lesson — a plain
      // equi-join silently drops it), and the oracle replays the same
      // with IS NOT DISTINCT FROM. Terms are never NULL (tokens).
      def withTotal(f: org.apache.spark.sql.DataFrame, sfx: String,
          tn: String) = {
        val tot =
          if (grouped)
            f.groupBy(s"g$sfx").agg(sum(s"c$sfx").as(tn))
              .select(col(s"g$sfx").as(s"gt$sfx"), col(tn))
          else f.agg(sum(col(s"c$sfx")).as(tn))
        if (grouped) f.join(tot, col(s"g$sfx") <=> col(s"gt$sfx"))
          .drop(s"gt$sfx")
        else f.join(tot)
      }
      val a = withTotal(side(sliceA, "a"), "a", "na")
      val b = withTotal(side(sliceB, "b"), "b", "nb")
      val joinCond =
        if (grouped) col("ga") <=> col("gb") && col("terma") === col("termb")
        else col("terma") === col("termb")
      val gOut =
        if (grouped) Seq(coalesce(col("ga"), col("gb")).as("__td_g"))
        else Nil
      a.join(b, joinCond, "full_outer")
        .select(gOut ++ Seq(
          coalesce(col("terma"), col("termb")).as("term"),
          col("ca"), col("cb"), col("na"), col("nb")): _*)
        .withColumn("__td_ca",
          when(coalesce(col("ca"), lit(0L)) > 9200000000000L,
            raise_error(lit("tokenDrift: per-term count exceeds the " +
              "exact ppm bound (~9.2e12) — shard the term space and " +
              "re-fold")))
            .otherwise(coalesce(col("ca"), lit(0L))))
        .withColumn("__td_cb",
          when(coalesce(col("cb"), lit(0L)) > 9200000000000L,
            raise_error(lit("tokenDrift: per-term count exceeds the " +
              "exact ppm bound (~9.2e12) — shard the term space and " +
              "re-fold")))
            .otherwise(coalesce(col("cb"), lit(0L))))
        .select((if (grouped) Seq(col("__td_g")) else Nil) ++ Seq(col("term"),
          when(col("na").isNull, lit(0L)).otherwise(
            expr("__td_ca * (1000000 div na) " +
              "+ (__td_ca * (1000000 % na)) div na")).as("rate_a_ppm"),
          when(col("nb").isNull, lit(0L)).otherwise(
            expr("__td_cb * (1000000 div nb) " +
              "+ (__td_cb * (1000000 % nb)) div nb")).as("rate_b_ppm")): _*)
        .withColumn("drift_ppm", abs(col("rate_a_ppm") - col("rate_b_ppm")))
    }

  private def driftRates(docs: org.apache.spark.sql.DataFrame,
      sliceCol: String, textCol: String, sliceA: String,
      sliceB: String, groupCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame =
    driftRatesFromCounts(
      driftCounts(docs, sliceCol, textCol, sliceA, sliceB, groupCols),
      sliceA, sliceB, grouped = groupCols.nonEmpty)

  /** CMS-BACKED drift counts (st28c — the open-vocabulary form):
    * the [[driftCounts]] (slice, term) table replaced by a per-slice
    * count-min grid — each token feeds `depth` salted cells, so the
    * reduce side (and the STREAMING state,
    * [[graft.streaming.Streams.streamingDriftCmsCounts]]) is bounded by
    * `slices × depth × width` rows REGARDLESS of vocabulary, where the
    * exact monitor's bound carries the vocabulary factor (the documented
    * 100 TB trade — st28's scaladoc; same grid cells as the q15/st08
    * sketch: `keyHash60("row:term") mod width`). Output
    * `[__td_s, row, col, c]` — additive, mergeable, map-side-combining.
    */
  private[graft] def driftCmsCounts(docs: org.apache.spark.sql.DataFrame,
      sliceCol: String, textCol: String, sliceA: String, sliceB: String,
      depth: Int, width: Int, groupCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    require(depth >= 1 && depth <= 16, s"cms depth must be in [1,16], got $depth")
    require(width >= 16 && width <= (1 << 20),
      s"cms width must be in [16, 2^20], got $width")
    require(groupCols.size <= 1, "at most one drift group column")
    val gCols = groupCols.map(g => col(g).cast("string").as("__td_g"))
    val gKey = if (groupCols.isEmpty) Nil else Seq("__td_g")
    docs.filter(col(sliceCol) === sliceA || col(sliceCol) === sliceB)
      .select(gCols ++ Seq(col(sliceCol).as("__td_s"),
        explode(tokens(col(textCol))).as("term")): _*)
      .select(gKey.map(col) ++ Seq(col("__td_s"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"), col("term")): _*)
      .select(gKey.map(col) ++ Seq(col("__td_s"),
        col("row").cast(LongType).as("row"),
        pmod(graft.operators.Sampling.keyHash60(
          concat(col("row").cast("string"), lit(":"), col("term"))),
          lit(width.toLong)).as("col")): _*)
      .groupBy((gKey ++ Seq("__td_s", "row", "col")).map(col): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** The drift tail over CMS grids (the [[driftCmsCounts]] shape): per
    * depth row, the total-variation distance between the two slices'
    * CELL distributions in exact-integer ppm — `tv_ppm(row) =
    * Σ_cells |rate_a − rate_b|` with the same overflow-guarded BIGINT
    * split as [[driftRatesFromCounts]]. Because hashing only MERGES
    * terms into cells, each row's cell TV is the exact term TV with
    * opposite-sign drifts inside a cell cancelling — a LOWER-bound
    * estimate (modulo ppm floor rounding); deeper rows re-randomize the
    * merge, so `max(tv_ppm)` over rows is the operator's point
    * estimate. One-sided error IS the semantics (the q15/st08
    * discipline), not a gate tolerance: the grid and tail replay
    * exactly in the oracle. Output `[row, na, nb, tv_ppm]`, one row per
    * depth row.
    */
  private[graft] def driftTvFromCmsGrids(
      counts0: org.apache.spark.sql.DataFrame, sliceA: String,
      sliceB: String, grouped: Boolean = false)
      : org.apache.spark.sql.DataFrame =
    graft.operators.CacheScope.scoped { scope =>
      // Cached + fresh ALIASES per branch (the st25/kmvSetEstimates
      // exprId discipline — in the st28c path every branch descends
      // from one drained memory-sink lineage). Group-key joins are
      // NULL-SAFE (<=>): a NULL category is a real category (the
      // t24/st26 lesson), replayed with IS NOT DISTINCT FROM.
      val counts = scope.cache(counts0)
      def side(v: String, sfx: String) =
        counts.filter(col("__td_s") === v)
          .select((if (grouped) Seq(col("__td_g").as(s"g$sfx")) else Nil) ++
            Seq(col("row").as(s"row$sfx"), col("col").as(s"col$sfx"),
              col("c").as(s"c$sfx")): _*)
      def total(f: org.apache.spark.sql.DataFrame, sfx: String, tn: String) =
        f.groupBy((if (grouped) Seq(s"g$sfx") else Nil) :+ s"row$sfx"
            map (col(_)): _*)
          .agg(sum(col(s"c$sfx")).as(tn))
          .select((if (grouped) Seq(col(s"g$sfx").as(s"gt$sfx")) else Nil) ++
            Seq(col(s"row$sfx").as(s"rt$sfx"), col(tn)): _*)
      val a = side(sliceA, "a")
      val b = side(sliceB, "b")
      val jCond0 = col("rowa") === col("rowb") && col("cola") === col("colb")
      val jCond = if (grouped) col("ga") <=> col("gb") && jCond0 else jCond0
      val j = a.join(b, jCond, "full_outer")
        .select((if (grouped)
            Seq(coalesce(col("ga"), col("gb")).as("__td_g")) else Nil) ++
          Seq(coalesce(col("rowa"), col("rowb")).as("row"),
            coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb")): _*)
      def withTotal(f: org.apache.spark.sql.DataFrame,
          t: org.apache.spark.sql.DataFrame, sfx: String) = {
        val cond0 = col("row") === col(s"rt$sfx")
        val cond = if (grouped) col("__td_g") <=> col(s"gt$sfx") && cond0
          else cond0
        f.join(t, cond, "left").drop(s"rt$sfx", s"gt$sfx")
      }
      withTotal(withTotal(j, total(a, "a", "na"), "a"),
        total(b, "b", "nb"), "b")
        .withColumn("__cg_ca",
          when(col("ca") > 9200000000000L,
            raise_error(lit("driftTvFromCmsGrids: per-cell count exceeds " +
              "the exact ppm bound (~9.2e12) — widen the grid and re-fold")))
            .otherwise(col("ca")))
        .withColumn("__cg_cb",
          when(col("cb") > 9200000000000L,
            raise_error(lit("driftTvFromCmsGrids: per-cell count exceeds " +
              "the exact ppm bound (~9.2e12) — widen the grid and re-fold")))
            .otherwise(col("cb")))
        .select((if (grouped) Seq(col("__td_g")) else Nil) ++
          Seq(col("row"), col("na"), col("nb"),
            when(col("na").isNull, lit(0L)).otherwise(
              expr("__cg_ca * (1000000 div na) " +
                "+ (__cg_ca * (1000000 % na)) div na")).as("ra"),
            when(col("nb").isNull, lit(0L)).otherwise(
              expr("__cg_cb * (1000000 div nb) " +
                "+ (__cg_cb * (1000000 % nb)) div nb")).as("rb")): _*)
        .groupBy((if (grouped) Seq("__td_g") else Nil).map(col)
          :+ col("row"): _*)
        .agg(coalesce(max(col("na")), lit(0L)).as("na"),
          coalesce(max(col("nb")), lit(0L)).as("nb"),
          coalesce(sum(abs(col("ra") - col("rb"))), lit(0L)).as("tv_ppm"))
    }

  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*$", "") // 1. fragment
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // Userinfo (user:pass@) is STRIPPED — crawl pipelines never keep
    // credentials, and an unstripped '@' would corrupt the host/port
    // split ('user:pass@host' reads 'user' as host, 'pass@host' as junk).
    val hostport = regexp_extract(
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      "([^@]*)$", 1)
    // Bracketed IPv6 literals ('[::1]:8080') must not split on the
    // colons INSIDE the brackets: the host alternation matches the whole
    // bracket group first, so the port regex sees only a ']'-terminated
    // prefix and reads the real ':8080'. Plain hosts take the second arm
    // ('first colon ends the host') exactly as before. RE2-portable
    // alternation, replayed verbatim by the oracle.
    val host = regexp_extract(hostport, "^(\\[[^\\]]*\\]|[^:]*)", 1)
    val port = regexp_extract(hostport, "^(\\[[^\\]]*\\]|[^:]*):([0-9]+)$", 2)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
      "/+$", "") // 4. trailing slash RUN ('/a//' -> '/a' — one-pass fixpoint)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = filter(split(query, "&"), p =>
      !(substring(p, 1, 4) === "utm_") &&
        !(substring(p, 1, 7) === "fbclid=") &&
        !(substring(p, 1, 6) === "gclid="))
    val qtail = when(query === "" || size(kept) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(kept, "&")))
    when(scheme === "", // not scheme://host shaped: pass through sans #
      regexp_replace(u, "/+$", ""))
      .otherwise(concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path, qtail))
  }
}
