package graft.queries

import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.ops._

/** Corpus text analysis ([[TextAnalysis]], [[Packing]]): statistics,
  * language id, fingerprints, quality and LM scores, PII redaction,
  * repetition and contamination filters, subword and BPE
  * tokenization, Naive Bayes classification and sequence packing.
  */
object TextQueries {
  /** Shared DuckDB CTE body for the subword tokenizer (q90/q91):
    * corpus words, the top-64 vocab (count desc, word asc), a
    * RECURSIVE greedy longest-match scan per distinct word (advance by
    * the longest matching vocab piece, else one char — exactly
    * functions.SubwordCount), and per-doc sums. Prepend
    * `WITH RECURSIVE `. Defines w, vocab, dw, seg, tk, sc.
    */
  private val duckSubwordBody: String =
    """w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (
      |  SELECT word AS piece FROM (
      |    SELECT word, count(*) AS cnt FROM w WHERE len(word) > 0 GROUP BY 1)
      |  ORDER BY cnt DESC, word LIMIT 64),
      |dw AS (SELECT DISTINCT word FROM w),
      |seg AS (
      |  SELECT word, 1::BIGINT AS pos, 0::BIGINT AS tokens FROM dw
      |  UNION ALL
      |  SELECT word,
      |         pos + coalesce((SELECT max(len(piece)) FROM vocab
      |                         WHERE piece = substr(word, pos, len(piece))), 1),
      |         tokens + 1
      |  FROM seg WHERE pos <= len(word)),
      |tk AS (SELECT word, max(tokens) AS n FROM seg GROUP BY 1),
      |sc AS (SELECT w.doc_id, sum(tk.n)::BIGINT AS subword_cnt
      |       FROM w JOIN tk USING (word) GROUP BY 1)""".stripMargin

  /** q122's DuckDB oracle, generated for `numMerges` iterations: the
    * Spark BPE loop unrolled as CTE triples — p_i counts adjacent
    * symbol pairs over state s_(i-1), m_i argmaxes with the (count
    * desc, left, right) tie-break and the pairs-must-repeat floor, s_i
    * rewrites via the same left-to-right non-overlapping `replace`.
    * An exhausted m_i leaves s_i = s_(i-1) and every later m empty —
    * the Spark early-stop, replayed declaratively. MATERIALIZED per
    * the duckCorpusTail lesson (each s_i is referenced by p_(i+1),
    * s_(i+1), and the rewrite subqueries — plain CTEs would re-expand
    * the whole prefix per reference). Returns the full `WITH …` prefix
    * ending at s_numMerges; [[duckBpeSql]] (merge table) and
    * [[duckBpeEncodeSql]] (token counts) differ only in the tail.
    */
  private def duckBpeChain(numMerges: Int): String = {
    val base =
      """s0 AS MATERIALIZED (
        |  SELECT count(*)::BIGINT AS cnt,
        |         ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS state
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY word)""".stripMargin
    val iters = (1 to numMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS pc
         |  FROM (SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
         |        FROM (SELECT cnt, string_split(trim(state), ' ') AS syms FROM s${i - 1}))
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT l, r, pc FROM p$i WHERE pc >= 2
         |  ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT cnt, CASE WHEN (SELECT count(*) FROM m$i) = 0 THEN state
         |    ELSE replace(state,
         |      ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
         |      ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') END AS state
         |  FROM s${i - 1})""".stripMargin
    }
    s"WITH $base,\n${iters.mkString(",\n")}"
  }

  private def duckBpeSql(numMerges: Int): String = {
    val out = (1 to numMerges).map { i =>
      s"""SELECT $i::BIGINT AS step, l AS "left", r AS "right",
         |       l || r AS merged, pc AS pair_cnt FROM m$i""".stripMargin
    }.mkString("\nUNION ALL ")
    s"${duckBpeChain(numMerges)}\n$out"
  }

  /** q123's oracle: the [[duckBpeChain]] final state s_N *is* the
    * encoded training corpus (see the chain's scaladoc for why), so
    * corpus token counts under the learned tokenizer are one unnest +
    * hash aggregate over it.
    */
  private def duckBpeEncodeSql(numMerges: Int): String =
    s"""${duckBpeChain(numMerges)}
       |SELECT piece, sum(cnt)::BIGINT AS cnt
       |FROM (SELECT cnt, unnest(string_split(trim(state), ' ')) AS piece
       |      FROM s$numMerges)
       |GROUP BY 1""".stripMargin

  /** Shared Naive Bayes model CTEs (the q85/q117 composed-oracle
    * discipline), parameterized by the label expression and split
    * salt: train slice `tr` (label aliased `nb_label`) →
    * class-conditional counts `c` → label totals `lt`, vocabulary `v`,
    * smoothed model `m` (UNROUNDED logp — q125 rounds at its edge,
    * q126/q131 consume full precision like the Spark scorer).
    */
  private def duckNbModelSql(labelExpr: String = "lang",
                             salt: String = "nb"): String =
    s"""tr AS (SELECT $labelExpr AS nb_label, doc_id, text FROM documents
      |       WHERE ('0x'||substr(md5('$salt:'||doc_id::VARCHAR),1,15))::BIGINT % 10000 < 8000),
      |nw AS (SELECT nb_label AS label, unnest(string_split(text, ' ')) AS term FROM tr),
      |c AS (SELECT label, term, count(*)::BIGINT AS cnt FROM nw
      |      WHERE length(term) > 0 GROUP BY 1, 2),
      |lt AS (SELECT label, sum(cnt)::BIGINT AS tot FROM c GROUP BY 1),
      |v AS (SELECT count(DISTINCT term)::BIGINT AS v FROM c),
      |m AS (SELECT label, term, cnt,
      |             ln((cnt + 1)::DOUBLE / (lt.tot + v.v)::DOUBLE) AS logp
      |      FROM c JOIN lt USING (label) CROSS JOIN v)""".stripMargin

  val all: Seq[Query] = Seq(
    // corpus quality scoring: length / lexical-diversity / stopword
    // heuristics combined into one score + bucket label
    Query("q43_quality_score", (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """WITH c AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_words,
        |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct_words,
        |    len(list_filter(string_split(text, ' '),
        |        w -> list_contains(['the','a','of','and','in','to','is','on','for','with'], w)))::BIGINT AS stopword_cnt
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, n_words, n_distinct_words, stopword_cnt,
        |    round(0.4 * least(n_words::DOUBLE / 100.0, 1.0)
        |        + 0.4 * (n_distinct_words::DOUBLE / n_words::DOUBLE)
        |        + 0.2 * least(5.0 * stopword_cnt::DOUBLE / n_words::DOUBLE, 1.0), 6) AS quality
        |  FROM c)
        |SELECT doc_id, n_words, n_distinct_words, stopword_cnt, quality,
        |  CASE WHEN quality >= 0.6 THEN 'high'
        |       WHEN quality >= 0.4 THEN 'medium'
        |       ELSE 'low' END AS quality_label
        |FROM q""".stripMargin)),

    // per-document token/char/stopword statistics
    Query("q27_text_stats", (s, dir) =>
      TextAnalysis.stats(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """SELECT doc_id,
        |  length(text)::BIGINT AS n_chars,
        |  len(string_split(text, ' '))::BIGINT AS n_words,
        |  len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct_words,
        |  length(replace(text, ' ', ''))::BIGINT AS n_chars_nospace,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS token_cnt,
        |  len(list_filter(string_split(text, ' '),
        |      w -> list_contains(['the','a','of','and','in','to','is','on','for','with'], w)))::BIGINT AS stopword_cnt,
        |  round(length(replace(text, ' ', ''))::DOUBLE / len(string_split(text, ' '))::DOUBLE, 6) AS avg_word_len,
        |  round(len(list_filter(string_split(text, ' '),
        |        w -> list_contains(['the','a','of','and','in','to','is','on','for','with'], w)))::DOUBLE
        |        / len(string_split(text, ' '))::DOUBLE, 6) AS stopword_ratio
        |FROM documents""".stripMargin)),

    // heuristic language ID with per-language hit counts
    Query("q28_lang_id", (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(['the','and','of','to','in','is'], w)))::BIGINT AS en_hits,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(['der','die','und','das','ist','nicht'], w)))::BIGINT AS de_hits,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(['le','la','et','les','des','est'], w)))::BIGINT AS fr_hits,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(['el','los','de','que','y','una'], w)))::BIGINT AS es_hits
        |  FROM documents)
        |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |       WHEN fr_hits >= es_hits THEN 'fr'
        |       ELSE 'es' END AS predicted_lang
        |FROM c""".stripMargin)),

    // document fingerprints (raw + canonicalized)
    Query("q29_fingerprints", (s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """SELECT doc_id, md5(text) AS fp_full,
        |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_sorted
        |FROM documents""".stripMargin)),

    // winnowing fingerprints (rolling-hash k-gram + window-min, the
    // MOSS scheme): any >= window+k-1-char substring shared by two docs
    // shares a fingerprint — partial-overlap detection (boilerplate,
    // quotation) that q29's whole-document hashes cannot express
    Query("q68_winnow_fingerprints", (s, dir) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """-- per-character unicode() == the engine's UTF-8 bytes on this
        |-- ASCII corpus (same byte/char equivalence as the q48 oracle).
        |-- Empty text is guarded: list_reduce errors on an empty list,
        |-- while the engine hashes the empty gram to 0 (WinnowFpsSpec)
        |WITH hs AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) = 0 THEN [0]::BIGINT[]
        |         ELSE list_transform(generate_series(1, greatest(length(text) - 7, 1)),
        |      i -> list_reduce(list_transform(generate_series(i, least(i + 7, length(text))),
        |             j -> unicode(text[j])::BIGINT),
        |           (a, c) -> (a * 257 + c) % 1000000007)) END AS hs
        |  FROM documents),
        |fps AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, greatest(len(hs) - 15, 1)),
        |                       i -> list_min(hs[i:i+15]))) AS fps
        |  FROM hs)
        |SELECT doc_id, unnest(fps) AS fp FROM fps""".stripMargin)),

    // PII redaction with synthetic PII injected INSIDE the query (the
    // corpus itself carries none): both engines
    // prepend the identical email/phone/ip/ssn preamble, redact, and
    // hash-compare counts + scrubbed text
    Query("q79_pii_redact", (s, dir) =>
      TextAnalysis.redact(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(lit("contact u"), col("doc_id").cast("string"),
            lit("@mail.example.com or +1-555-123-4567 from 10.20.30.40 ssn 123-45-6789 body: "),
            col("text")).as("text")),
        "doc_id", "text"),
      // identical PII preamble injected on both engines; RE2-compatible
      // patterns (no lookarounds) so the chain compiles identically
      Oracle(
        """WITH d AS (
        |  SELECT doc_id,
        |         'contact u' || doc_id || '@mail.example.com or +1-555-123-4567 from 10.20.30.40 ssn 123-45-6789 body: ' || text AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |      '(?:\+\d{1,3}[-. ]?)?\(?\b\d{2,4}\)?[-. ]\d{3,4}[-. ]\d{3,4}\b', '<PHONE>', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS text_redacted,
        |  (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
        |   + len(regexp_extract_all(text, '(?:\+\d{1,3}[-. ]?)?\(?\b\d{2,4}\)?[-. ]\d{3,4}[-. ]\d{3,4}\b'))
        |   + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')))::BIGINT AS n_redactions
        |FROM d""".stripMargin)),

    // Gopher-style within-document repetition filters: duplicate- and
    // top-2-gram fractions per document (boilerplate/spam signal the
    // cross-document dedup family cannot express)
    Query("q71_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        |SELECT doc_id, sum(cnt)::BIGINT AS n_grams,
        |       round(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt)::DOUBLE, 6) AS dup_gram_frac,
        |       round(max(cnt)::DOUBLE / sum(cnt)::DOUBLE, 6) AS top_gram_frac
        |FROM c GROUP BY doc_id""".stripMargin)),

    // benchmark-contamination check: shared distinct 3-grams between
    // the src0 "training" slice and the src1 "benchmark" slice
    // (inverted-index join; ubiquitous grams df-capped)
    Query("q72_contamination", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.ngramOverlap(
        d.filter(col("source") === "src0"),
        d.filter(col("source") === "src1"),
        "doc_id", "text", n = 3, maxBenchDf = 1000)
    },
      Oracle(
        """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |cg AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
        |             FROM d WHERE source = 'src0')),
        |bg AS (SELECT DISTINCT doc_id AS bench_id, array_to_string(ws[i:i+2], ' ') AS gram
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
        |             FROM d WHERE source = 'src1')),
        |keep AS (SELECT gram FROM (SELECT gram, count(*) AS df_cnt FROM bg GROUP BY gram)
        |         WHERE df_cnt <= 1000)
        |SELECT cg.doc_id, bg.bench_id, count(*)::BIGINT AS shared_ngrams
        |FROM cg JOIN keep USING (gram) JOIN bg USING (gram)
        |GROUP BY cg.doc_id, bg.bench_id""".stripMargin)),

    // sliding word-window chunker (context-window prep): 32-word
    // chunks, 8-word overlap, final partial chunk kept — narrow, no
    // shuffle, work proportional to words x chunk/(chunk-overlap)
    Query("q83_chunk_words", (s, dir) =>
      TextAnalysis.chunkWords(Tables.documents(s, dir), "doc_id", "text",
        chunkWords = 32, overlapWords = 8),
      // step = 32 - 8 = 24; slice clamps at the end on both engines.
      // starts stop at len - overlap - 1: a start inside the overlap
      // region would yield a chunk fully contained in its predecessor
      Oracle(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, ws,
        |             unnest(generate_series(0, greatest(len(ws) - 1 - 8, 0), 24)) AS start_word
        |      FROM w)
        |SELECT doc_id, (start_word // 24)::BIGINT AS chunk_id,
        |       start_word::BIGINT AS start_word,
        |       len(ws[start_word + 1 : start_word + 32])::BIGINT AS n_words,
        |       array_to_string(ws[start_word + 1 : start_word + 32], ' ') AS chunk
        |FROM s""".stripMargin)),

    // GLOBAL exact deciles over the quality score — the keyless ntile
    // (no PARTITION BY): the Window form would sort the whole corpus
    // on one task; this runs the q40 prefix-sum machinery over one
    // global sequence. doc_id tie-break makes the order total
    Query("q82_quality_deciles", (s, dir) =>
      Quantiles.exactNtileGlobal(
        TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("quality")),
        orderCols = Seq("quality", "doc_id"), buckets = 10),
      Oracle(
        """WITH c AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_words,
        |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct_words,
        |    len(list_filter(string_split(text, ' '),
        |        w -> list_contains(['the','a','of','and','in','to','is','on','for','with'], w)))::BIGINT AS stopword_cnt
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(0.4 * least(n_words::DOUBLE / 100.0, 1.0)
        |        + 0.4 * (n_distinct_words::DOUBLE / n_words::DOUBLE)
        |        + 0.2 * least(5.0 * stopword_cnt::DOUBLE / n_words::DOUBLE, 1.0), 6) AS quality
        |  FROM c)
        |SELECT doc_id, quality,
        |       ntile(10) OVER (ORDER BY quality, doc_id) AS bucket
        |FROM q""".stripMargin)),

    // CCNet-style LM quality filter with corpus-internal stats: mean
    // unigram log-probability per document (two hash aggs + term join;
    // per-doc ordered fold for engine-stable double summation)
    Query("q80_unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
        |wc AS (SELECT term, count(*)::BIGINT AS cnt FROM w GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS total FROM w)
        |SELECT doc_id, sum(tf)::BIGINT AS n_words,
        |       round(list_sum(list(tf * ln(cnt::DOUBLE / total) ORDER BY term)) / sum(tf), 6) AS avg_logprob
        |FROM tf JOIN wc USING (term) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin)),

    // character-level contamination: shared winnowing fingerprints
    // between the src0 "training" and src1 "benchmark" slices — the
    // substring-robust companion of q72's word-3-gram overlap
    Query("q81_winnow_contamination", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.winnowOverlap(
        d.filter(col("source") === "src0"),
        d.filter(col("source") === "src1"),
        "doc_id", "text", maxBenchDf = 1000)
    },
      // the q68 winnowing chain on both slices, then the q72 overlap shape
      Oracle(
        """WITH ch AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(text) = 0 THEN [0]::BIGINT[]
        |         ELSE list_transform(generate_series(1, greatest(length(text) - 7, 1)),
        |      i -> list_reduce(list_transform(generate_series(i, least(i + 7, length(text))),
        |             j -> unicode(text[j])::BIGINT),
        |           (a, c) -> (a * 257 + c) % 1000000007)) END AS hs
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |f AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(generate_series(1, greatest(len(hs) - 15, 1)),
        |                       i -> list_min(hs[i:i+15]))) AS fps
        |  FROM ch),
        |cf AS (SELECT doc_id, unnest(fps) AS fp FROM f WHERE source = 'src0'),
        |bf AS (SELECT doc_id AS bench_id, unnest(fps) AS fp FROM f WHERE source = 'src1'),
        |keep AS (SELECT fp FROM (SELECT fp, count(*) AS df_cnt FROM bf GROUP BY fp)
        |         WHERE df_cnt <= 1000)
        |SELECT cf.doc_id, bf.bench_id, count(*)::BIGINT AS shared_fps
        |FROM cf JOIN keep USING (fp) JOIN bf USING (fp)
        |GROUP BY 1, 2""".stripMargin)),

    // sequence packing (concat-and-chunk, ctx=512 BPE-ish tokens):
    // global token intervals via distributed prefix sums — no
    // single-partition Window
    Query("q77_pack_sequences", (s, dir) =>
      Packing.packSequences(
        TextAnalysis.stats(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("token_cnt")),
        "doc_id", "token_cnt", ctxLen = 512),
      Oracle(
        """WITH t AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS token_cnt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, token_cnt,
        |         (sum(token_cnt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |          - token_cnt)::BIGINT AS start
        |  FROM t WHERE token_cnt > 0)
        |SELECT doc_id, token_cnt, start,
        |       start // 512 AS first_bin,
        |       (start + token_cnt - 1) // 512 AS last_bin,
        |       start % 512 AS offset_in_first
        |FROM c""".stripMargin)),

    // vocabulary: global top-20 terms by document frequency
    Query("q34_top_terms", (s, dir) =>
      TextAnalysis.topTerms(Tables.documents(s, dir), "doc_id", "text", 20),
      Oracle(
        """SELECT term, count(*) AS doc_freq FROM (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |GROUP BY term ORDER BY doc_freq DESC, term ASC LIMIT 20""".stripMargin)),

    // TF-IDF term weights — two hash aggregates + a term join + the
    // corpus size broadcast; work proportional to total tokens
    Query("q67_tfidf", (s, dir) =>
      TextAnalysis.tfIdf(Tables.documents(s, dir), "doc_id", "text"),
      Oracle(
        """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf_cnt FROM w GROUP BY 1, 2),
        |dfq AS (
        |  SELECT term, count(*) AS df_cnt FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf_cnt, dfq.df_cnt,
        |       round(tf.tf_cnt * ln((n.n_docs + 1)::DOUBLE / (dfq.df_cnt + 1)), 6) AS score
        |FROM tf JOIN dfq USING (term) CROSS JOIN n""".stripMargin)),

    // deterministic subword tokenization: greedy longest-match
    // (WordPiece MaxMatch + char fallback) against the corpus top-64
    // word vocabulary — ONE codegen'd subword_count pass per doc; the
    // oracle replays the greedy scan with a recursive CTE
    Query("q90_subword_count", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.subwordCounts(d, "doc_id", "text",
        TextAnalysis.subwordVocab(d, "text", topK = 64))
    },
      Oracle(
        s"""WITH RECURSIVE $duckSubwordBody
         |SELECT doc_id, subword_cnt FROM sc""".stripMargin)),

    // q77 on the tokenizer's currency: sequence packing over SUBWORD
    // counts (ctx=512) — same prefix-sum machinery, the token budget
    // real packed-batch writers spend
    Query("q91_pack_subword", (s, dir) => {
      val d = Tables.documents(s, dir)
      Packing.packSequences(
        TextAnalysis.subwordCounts(d, "doc_id", "text",
          TextAnalysis.subwordVocab(d, "text", topK = 64)),
        "doc_id", "subword_cnt", ctxLen = 512)
        .withColumnRenamed("token_cnt", "subword_cnt")
    },
      // q77's packing shape over the subword currency
      Oracle(
        s"""WITH RECURSIVE $duckSubwordBody,
         |c AS (
         |  SELECT doc_id, subword_cnt,
         |         (sum(subword_cnt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |          - subword_cnt)::BIGINT AS start
         |  FROM sc WHERE subword_cnt > 0)
         |SELECT doc_id, subword_cnt, start,
         |       start // 512 AS first_bin,
         |       (start + subword_cnt - 1) // 512 AS last_bin,
         |       start % 512 AS offset_in_first
         |FROM c""".stripMargin)),

    // bigram LM quality filter: mean conditional log-prob under the
    // corpus's own bigram distribution — catches word salad that the
    // unigram filter (q80) passes; one pinned bigram explode, context
    // totals derived from it, ordered per-doc fold
    Query("q97_bigram_logprob", (s, dir) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text"),
      // P(w|v) = c(v w)/Σ_w' c(v w'); in-order fold over bg for
      // engine-stable double sums (the q80 convention)
      Oracle(
        """WITH g AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |        FROM documents)),
        |tf AS (SELECT doc_id, bg, count(*)::BIGINT AS tf FROM g GROUP BY 1, 2),
        |bc AS (SELECT bg, sum(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
        |cc AS (SELECT string_split(bg, ' ')[1] AS ctx, sum(cnt)::BIGINT AS ctx_cnt
        |       FROM bc GROUP BY 1)
        |SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_bigrams,
        |       round(list_sum(list(tf.tf * ln(bc.cnt::DOUBLE / cc.ctx_cnt::DOUBLE)
        |                           ORDER BY tf.bg)) / sum(tf.tf), 6) AS avg_logprob
        |FROM tf
        |JOIN bc USING (bg)
        |JOIN cc ON string_split(tf.bg, ' ')[1] = cc.ctx
        |GROUP BY tf.doc_id""".stripMargin)),

    // C4-style boilerplate removal: non-overlapping 3-word spans
    // counted corpus-wide, every occurrence of a >2-count span dropped,
    // survivors reassembled in document order — the tfIdf cost class
    // (explode + hash agg + join back + in-row ordered fold)
    Query("q106_drop_repeated_spans", (s, dir) =>
      TextAnalysis.dropRepeatedSpans(Tables.documents(s, dir), "doc_id", "text",
        spanWords = 3, maxCount = 2),
      // non-overlapping 3-word spans; >2-count spans dropped everywhere;
      // in-order reassembly (string_agg ORDER BY is the ordered-fold twin)
      Oracle(
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sp AS (
        |  SELECT doc_id, (i - 1) // 3 AS pos,
        |         array_to_string(ws[i : least(i + 2, len(ws))], ' ') AS span
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws), 3)) AS i FROM d)),
        |c AS (SELECT span, count(*) AS cnt FROM sp GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_spans,
        |       sum(CASE WHEN cnt > 2 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
        |       coalesce(string_agg(span, ' ' ORDER BY pos) FILTER (cnt <= 2), '') AS clean_text
        |FROM sp JOIN c USING (span)
        |GROUP BY 1""".stripMargin)),

    // BPE merge learning (Sennrich 2016): four merge rules from the
    // corpus — ONE corpus scan into the word-frequency table, then
    // vocabulary-scale iterations (pair explode + hash agg + a one-row
    // argmax collect per rule; a merge pass is one codegen'd replace
    // on the space-joined symbol string). The oracle unrolls the same
    // loop as CTE triples (pairs → argmax → rewrite)
    Query("q122_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(Tables.documents(s, dir), "text", numMerges = 4),
      // BPE: the Spark loop unrolled — iteration i counts pairs over
      // state s(i-1), argmaxes (count desc, left, right; only pairs that
      // repeat), rewrites via the same left-to-right replace. After an
      // early stop the state CTEs pass through unchanged and later
      // argmaxes stay empty, matching the Spark break
      Oracle(duckBpeSql(4))),

    // BPE encode (the apply half of q122): tokenize the corpus with
    // the learned merge table in rank order and count pieces — learn →
    // encode → aggregate, all vocabulary-scale after the one corpus
    // scan. The oracle reuses q122's chain verbatim: on the training
    // corpus, rank-order application ≡ the trainer's final state, so
    // the Spark side's SEPARATE encode path (collected rule table,
    // batched replace folds) is checked against that identity.
    Query("q123_bpe_token_counts", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.bpeMerges(docs, "text", numMerges = 4)
      TextAnalysis.bpeEncode(docs, "text", merges)
        .select(explode(col("pieces")).as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
    },
      Oracle(duckBpeEncodeSql(4))),

    // Naive Bayes training = ONE hash aggregate (class-conditional
    // token counts ARE the model — the fastText-language-ID /
    // WebText-quality-filter classifier family); labels = lang, train
    // slice = the q84 hash-split convention under an "nb:" salt
    // served STORE-FIRST: the training aggregate — the entire
    // "training procedure" of this classifier family — ran once at the
    // [[Stores.nbLangCounts]]/[[Stores.nbLangModel]] builds (the same
    // nbCounts→nbModel derivation); this read is the rounding edge
    // over the written model rows
    Query("q125_nb_train", (s, dir) =>
      Stores.nbLangModel(s, dir).select(col("label"), col("term"),
        col("cnt"), round(col("logp"), 6).as("logp")),
      // NB model: add-one-smoothed class-conditional log-probs over the
      // hash-split train slice (the q84 split convention, "nb:" salt)
      Oracle(
        s"""WITH ${duckNbModelSql()}
        |SELECT label, term, cnt, round(logp, 6) AS logp FROM m""".stripMargin)),

    // the scoring half on the held-out 20%: argmax over per-class
    // log-posteriors (ordered per-doc folds, max-of-struct argmax —
    // no Window); the oracle replays the same smoothed model and
    // tie-break relationally
    // served STORE-FIRST: model counts from the written
    // per-regimen store; the held-out slice's (doc_id, term, tf) from
    // the inverted-index store's merged postings (indexSlices explodes
    // the identical split(text, ' ') — same multiset, and the
    // length>0 filter is applied the same way); test ids and per-label
    // training doc counts from the metadata store. Scoring runs the
    // SAME core as the inline form (TextAnalysis.nbScoreWith) — only
    // where the parts are read from changes, never the arithmetic.
    Query("q126_nb_classify", (s, dir) => {
      val isTrain = Stores.nbTrainSplit("nb:")
      val postings = TextAnalysis.indexMergeSlices(Stores.index(s, dir))
      TextAnalysis.nbClassifyServe(
        Stores.nbLangModel(s, dir), Stores.nbLangLabels(s, dir),
        postings.filter(!isTrain && length(col("token")) > 0)
          .select(col("doc_id"), col("token").as("term"), col("tf")),
        Stores.docMeta(s, dir).filter(!isTrain).select(col("doc_id")))
    },
      // NB classify: same model CTEs + per-class priors and smoothing
      // floors; per-doc ordered fold, argmax via QUALIFY with the
      // score-then-label tie-break the Spark max-of-struct uses
      Oracle(
        s"""WITH ${duckNbModelSql()},
        |pri AS (SELECT nb_label AS label, count(*)::BIGINT AS nd FROM tr GROUP BY 1),
        |ptot AS (SELECT sum(nd)::BIGINT AS n FROM pri),
        |lab AS (SELECT pri.label, ln(nd::DOUBLE / n) AS prior_logp,
        |               ln(1.0 / (lt.tot + v.v)::DOUBLE) AS dflt
        |        FROM pri CROSS JOIN ptot JOIN lt ON lt.label = pri.label
        |        CROSS JOIN v),
        |te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM documents
        |       WHERE ('0x'||substr(md5('nb:'||doc_id::VARCHAR),1,15))::BIGINT % 10000 >= 8000),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM te
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |sc0 AS (SELECT tf.doc_id, lab.label,
        |          list_sum(list(tf.tf * coalesce(m.logp, lab.dflt)
        |                        ORDER BY tf.term)) AS like
        |        FROM tf CROSS JOIN lab
        |        LEFT JOIN m ON m.label = lab.label AND m.term = tf.term
        |        GROUP BY 1, 2),
        |td AS (SELECT DISTINCT doc_id FROM documents
        |       WHERE ('0x'||substr(md5('nb:'||doc_id::VARCHAR),1,15))::BIGINT % 10000 >= 8000),
        |sc AS (SELECT td.doc_id, lab.label,
        |         lab.prior_logp + coalesce(sc0.like, 0) AS score
        |       FROM td CROSS JOIN lab
        |       LEFT JOIN sc0 ON sc0.doc_id = td.doc_id AND sc0.label = lab.label)
        |SELECT doc_id, label AS pred_label, round(score, 6) AS score
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY score DESC, label DESC) = 1""".stripMargin)),

    // NB classifier gate (the GPT-3/WebText quality-filter shape):
    // train pos=src0 vs neg=rest on an "nbg:"-salted 80% split, score
    // EVERY document's log-odds, flag the positive side. The binary
    // head subtracts two per-class scores — one commutative two-term
    // sum, no new fold-order surface; the kept flag compares the
    // ROUNDED value so both engines decide on the same number. (On
    // this synthetic corpus text ⊥ source, so the 1/20 prior dominates
    // and almost nothing clears 0 — the full score column is the
    // informative output; the flag documents the policy.)
    // served STORE-FIRST (the q126 posture): counts from the
    // "nbg:" regimen store, every document's tf from the index store's
    // merged postings, ids/labels from the metadata store — the corpus
    // text is never re-exploded at query time
    Query("q131_classifier_gate", (s, dir) => {
      val postings = TextAnalysis.indexMergeSlices(Stores.index(s, dir))
      TextAnalysis.nbLogOddsServe(
        Stores.nbGateModel(s, dir), Stores.nbGateLabels(s, dir),
        postings.filter(length(col("token")) > 0)
          .select(col("doc_id"), col("token").as("term"), col("tf")),
        Stores.docMeta(s, dir).select(col("doc_id")),
        posLabel = "pos")
        .select(col("doc_id"), col("log_odds"),
          (col("log_odds") > 0).as("kept"))
    },
      // classifier gate: binary NB model over pos=src0 vs rest ("nbg:"
      // salt), EVERY document scored, log-odds = pos − neg (two-term
      // commutative sum), rounded THEN thresholded like the Spark side
      Oracle(
        s"""WITH ${duckNbModelSql(
            "CASE WHEN source = 'src0' THEN 'pos' ELSE 'neg' END", "nbg")},
        |pri AS (SELECT nb_label AS label, count(*)::BIGINT AS nd FROM tr GROUP BY 1),
        |ptot AS (SELECT sum(nd)::BIGINT AS n FROM pri),
        |lab AS (SELECT pri.label, ln(nd::DOUBLE / n) AS prior_logp,
        |               ln(1.0 / (lt.tot + v.v)::DOUBLE) AS dflt
        |        FROM pri CROSS JOIN ptot JOIN lt ON lt.label = pri.label
        |        CROSS JOIN v),
        |te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |       FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM te
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |sc0 AS (SELECT tf.doc_id, lab.label,
        |          list_sum(list(tf.tf * coalesce(m.logp, lab.dflt)
        |                        ORDER BY tf.term)) AS like
        |        FROM tf CROSS JOIN lab
        |        LEFT JOIN m ON m.label = lab.label AND m.term = tf.term
        |        GROUP BY 1, 2),
        |td AS (SELECT DISTINCT doc_id FROM documents),
        |sc AS (SELECT td.doc_id, lab.label,
        |         lab.prior_logp + coalesce(sc0.like, 0) AS score
        |       FROM td CROSS JOIN lab
        |       LEFT JOIN sc0 ON sc0.doc_id = td.doc_id AND sc0.label = lab.label),
        |lo AS (SELECT doc_id,
        |         round(sum(CASE WHEN label = 'pos' THEN score ELSE -score END), 6)
        |           AS log_odds
        |       FROM sc GROUP BY 1)
        |SELECT doc_id, log_odds, log_odds > 0 AS kept FROM lo""".stripMargin)),

    // tokenizer fertility audit (pieces per word, by source): the
    // number a tokenizer owner watches per domain — a domain whose
    // fertility spikes is being shredded to char-fallback. One
    // codegen'd subword_count pass (q90's greedy MaxMatch against the
    // corpus top-64 vocab) + one hash aggregate; sums are exact longs,
    // the ratio rounds at 6 digits (the engine-stable convention).
    // broadcastVocab = true runs the SCALE path (SubwordCountBound:
    // vocab ships as a torrent broadcast, plan size O(1) in |vocab|)
    // through the hash gate itself — same countWith core as the
    // literal form, hash unchanged
    Query("q138_tokenizer_fertility", (s, dir) => {
      val d = Tables.documents(s, dir)
      val sc = TextAnalysis.subwordCounts(d, "doc_id", "text",
        TextAnalysis.subwordVocab(d, "text", topK = 64),
        broadcastVocab = true)
      d.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("w"))
        .join(sc, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("w")).as("words"),
          sum(col("subword_cnt")).as("pieces"))
        .withColumn("fertility",
          round(col("pieces").cast("double") / col("words"), 6))
    },
      // per-source fertility over the q90 recursive-CTE subword counts:
      // exact BIGINT sums, the ratio rounded at 6 digits
      Oracle(
        s"""WITH RECURSIVE $duckSubwordBody
         |SELECT d.source, count(*)::BIGINT AS docs,
         |       sum(len(string_split(d.text, ' ')))::BIGINT AS words,
         |       sum(sc.subword_cnt)::BIGINT AS pieces,
         |       round(sum(sc.subword_cnt)::DOUBLE /
         |             sum(len(string_split(d.text, ' '))), 6) AS fertility
         |FROM documents d JOIN sc USING (doc_id)
         |GROUP BY 1""".stripMargin)),

    // C4's ACTUAL span-dedup rule — keep ONE copy: the first occurrence
    // (min (doc_id, pos), a total order) of every 3-word span survives,
    // later occurrences are cut; q106's sibling drops ALL occurrences
    // of over-count spans (chrome eradication vs content preservation)
    Query("q139_span_keep_first", (s, dir) =>
      TextAnalysis.dedupSpansKeepFirst(Tables.documents(s, dir), "doc_id",
        "text", spanWords = 3),
      // q106's span derivation + the keep-first winner (row_number over
      // (doc_id, pos) per span — the oracle's Window replays the Spark
      // side's min-struct aggregate)
      Oracle(
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sp AS (
        |  SELECT doc_id, (i - 1) // 3 AS pos,
        |         array_to_string(ws[i : least(i + 2, len(ws))], ' ') AS span
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws), 3)) AS i FROM d)),
        |w AS (SELECT span, doc_id AS wdoc, pos AS wpos FROM (
        |        SELECT span, doc_id, pos,
        |               row_number() OVER (PARTITION BY span
        |                                  ORDER BY doc_id, pos) AS rn
        |        FROM sp) WHERE rn = 1)
        |SELECT sp.doc_id, count(*)::BIGINT AS n_spans,
        |       sum(CASE WHEN w.wdoc IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
        |       coalesce(string_agg(sp.span, ' ' ORDER BY sp.pos)
        |                FILTER (w.wdoc IS NOT NULL), '') AS clean_text
        |FROM sp LEFT JOIN w ON sp.span = w.span AND sp.doc_id = w.wdoc
        |  AND sp.pos = w.wpos
        |GROUP BY 1""".stripMargin)),

    // fill-in-the-middle training transform (Bavarian 2022): 50% of
    // docs (salted-hash chosen, no RNG) split at two hash-derived
    // character cuts and re-emitted PSM (<PRE>p<SUF>s<MID>m); pure
    // projection — scan-speed at any corpus size; reassembly invariant
    // spec-pinned, every string replayed by the oracle's substr math
    Query("q161_fim_transform", (s, dir) =>
      TextAnalysis.fimTransform(Tables.documents(s, dir), "doc_id", "text"),
      // the PSM split replayed with substr arithmetic: two salted md5-60
      // cuts in [0, n], c1 = least, c2 = greatest; char-based substr ==
      // the engine's (ASCII corpus, the q48 equivalence)
      Oracle(
        """WITH t AS (
        |  SELECT doc_id, text,
        |         ('0x'||substr(md5('fim:r:'||doc_id::VARCHAR),1,15))::BIGINT % 100 < 50 AS fimmed,
        |         ('0x'||substr(md5('fim:1:'||doc_id::VARCHAR),1,15))::BIGINT % (length(text) + 1) AS h1,
        |         ('0x'||substr(md5('fim:2:'||doc_id::VARCHAR),1,15))::BIGINT % (length(text) + 1) AS h2
        |  FROM documents),
        |c AS (SELECT doc_id, text, fimmed,
        |        least(h1, h2)::INT AS c1, greatest(h1, h2)::INT AS c2 FROM t)
        |SELECT doc_id, fimmed,
        |       CASE WHEN fimmed THEN substr(text, 1, c1) ELSE '' END AS prefix,
        |       CASE WHEN fimmed THEN substr(text, c1 + 1, c2 - c1) ELSE '' END AS middle,
        |       CASE WHEN fimmed THEN substr(text, c2 + 1, length(text)) ELSE '' END AS suffix,
        |       CASE WHEN fimmed
        |            THEN '<PRE>' || substr(text, 1, c1) ||
        |                 '<SUF>' || substr(text, c2 + 1, length(text)) ||
        |                 '<MID>' || substr(text, c1 + 1, c2 - c1)
        |            ELSE text END AS fim_text
        |FROM c""".stripMargin)),

    // n-gram novelty (memorization-risk audit): fraction of each doc's
    // distinct shingles that occur nowhere else — low scores flag the
    // template/boilerplate variants a model will over-memorize (Lee
    // 2021); shingle universe = the dedup pipeline's (q21 convention)
    Query("q164_ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), "doc_id", "text"),
      // the q21 shingle convention (3-word windows, whole-text fallback)
      // + one doc-frequency CTE; df = 1 marks the shingle as novel
      Oracle(
        """WITH s0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 3
        |      THEN list_distinct(list_transform(
        |             generate_series(1, len(string_split(text, ' ')) - 2),
        |             i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))
        |      ELSE [text] END AS shs
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM s0),
        |dfc AS (SELECT sh, count(*)::BIGINT AS df FROM sh GROUP BY 1)
        |SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        |       sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END)::BIGINT AS novel_shingles,
        |       round(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END)::DOUBLE
        |             / count(*), 6) AS novelty
        |FROM sh s JOIN dfc ON s.sh = dfc.sh
        |GROUP BY 1""".stripMargin)),

    // LIVE novelty ingest gate (q164's live form, the q145 posture):
    // arrivals (odd ids) scored against the frozen shingle-DF store of
    // the kept corpus (even ids) — a shingle is novel iff the store
    // has never seen it; low novelty = boilerplate relative to
    // everything kept, diverted BEFORE exact dedup pays for it. The
    // streaming twin runs this same function per micro-batch
    // (StreamingSpec pins per-batch ≡ batch rescan at each horizon)
    Query("q169_novelty_gate", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.noveltyAgainstStore(
        d.filter(col("doc_id") % 2 === 1),
        TextAnalysis.shingleDfStore(d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        "doc_id", "text")
    },
      // q164's shingle CTE split at the even/odd boundary: store = the
      // kept corpus's distinct shingles, novel = arrival shingle with no
      // store match (left join null probe)
      Oracle(
        """WITH s0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 3
        |      THEN list_distinct(list_transform(
        |             generate_series(1, len(string_split(text, ' ')) - 2),
        |             i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))
        |      ELSE [text] END AS shs
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM s0),
        |st AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0),
        |arr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 2 = 1)
        |SELECT arr.doc_id, count(*)::BIGINT AS n_shingles,
        |       sum(CASE WHEN st.sh IS NULL THEN 1 ELSE 0 END)::BIGINT AS novel_shingles,
        |       round(sum(CASE WHEN st.sh IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |             / count(*), 6) AS novelty
        |FROM arr LEFT JOIN st ON arr.sh = st.sh
        |GROUP BY 1""".stripMargin)),

    // training-batch EXPORT — the last mile in one entry: q90's
    // subword counts → q162's epoch-1 shuffle → q91's interval packing
    // in SHUFFLE order → q119-style shard split (round-robin over the
    // sequence index). Every stage hash-derived/integer, so the whole
    // (shard, batch, sequence) assignment replays relationally — the
    // oracle nests the three stages' own oracle bodies as CTEs (the
    // q121 composition lesson)
    Query("q170_training_export", (s, dir) => {
      val d = Tables.documents(s, dir)
      Packing.trainingExport(
        TextAnalysis.subwordCounts(d, "doc_id", "text",
          TextAnalysis.subwordVocab(d, "text", topK = 64)),
        "doc_id", "subword_cnt", epoch = 1, ctxLen = 512, nShards = 16)
    },
      // q90's subword CTE (sc) → q162's salted row_number (epoch 1,
      // doc_id tie-break, zero-count docs excluded FIRST) → q91's
      // running-interval math ordered by the rank → round-robin shard
      Oracle(
        s"""WITH RECURSIVE $duckSubwordBody,
         |o AS (
         |  SELECT doc_id, subword_cnt,
         |         row_number() OVER (ORDER BY
         |           ('0x'||substr(md5('ord:1:'||doc_id::VARCHAR),1,15))::BIGINT,
         |           doc_id) AS shuffle_rank
         |  FROM sc WHERE subword_cnt > 0),
         |c AS (
         |  SELECT doc_id, shuffle_rank, subword_cnt,
         |         (sum(subword_cnt) OVER (ORDER BY shuffle_rank
         |            ROWS UNBOUNDED PRECEDING) - subword_cnt)::BIGINT AS start
         |  FROM o)
         |SELECT doc_id, 1::BIGINT AS epoch,
         |       shuffle_rank::BIGINT AS shuffle_rank,
         |       subword_cnt::BIGINT AS token_cnt, start,
         |       (start // 512)::BIGINT AS sequence,
         |       ((start + subword_cnt - 1) // 512)::BIGINT AS last_sequence,
         |       (start % 512)::BIGINT AS offset_in_first,
         |       ((start // 512) % 16)::BIGINT AS shard,
         |       ((start // 512) // 16)::BIGINT AS batch
         |FROM c""".stripMargin)),

    // top-20 collocations by PMI-ordered lift — observed/expected on
    // the corpus bigram table, positional marginals, no ln anywhere
    Query("q237_pmi_collocations", (s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), "text",
        k = 20, minCount = 5L),
      Oracle(
        """WITH g AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT string_split(text, ' ') AS ws,
        |               unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |        FROM documents)),
        |bg AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM g GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM bg GROUP BY 1),
        |c2 AS (SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_y FROM bg GROUP BY 1),
        |n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bg)
        |SELECT bg.w1, bg.w2, bg.c_xy, c1.c_x, c2.c_y,
        |       round((n.n_bi * bg.c_xy)::DOUBLE
        |             / (c1.c_x * c2.c_y)::DOUBLE, 6) AS lift
        |FROM bg JOIN c1 USING (w1) JOIN c2 USING (w2), n
        |WHERE bg.c_xy >= 5
        |ORDER BY lift DESC, w1 ASC, w2 ASC
        |LIMIT 20""".stripMargin)),
  )
}
