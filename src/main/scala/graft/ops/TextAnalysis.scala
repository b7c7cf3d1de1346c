package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality analysis for training-data pipelines: token statistics,
  * quality signals (stopword/char ratios), heuristic language ID, and
  * document fingerprints. All pure column expressions (codegen'd,
  * partition-parallel, no UDFs); ratios are exact integer counts divided
  * once at the end, rounded to 6 digits.
  */
object TextAnalysis {

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")

  /** Small distinctive-word marker lists per language for the n-gram/
    * stopword language-ID heuristic.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "los", "de", "que", "y", "una"))

  private def inList(words: Column, list: Seq[String]): Column =
    size(filter(words, w => array_contains(array(list.map(lit): _*), w)))

  /** Per-document statistics: word/char/token counts, average word
    * length, stopword ratio. token_cnt uses a BPE-ish regex lexer
    * (letter runs | digit runs | single other chars).
    */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(col(textCol), " ")
    df.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      size(words).cast("long").as("n_words"),
      size(array_distinct(words)).cast("long").as("n_distinct_words"),
      length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars_nospace"),
      regexp_count(col(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("token_cnt"),
      inList(words, Stopwords).cast("long").as("stopword_cnt"))
      .withColumn("avg_word_len",
        round(col("n_chars_nospace").cast("double") / col("n_words").cast("double"), 6))
      .withColumn("stopword_ratio",
        round(col("stopword_cnt").cast("double") / col("n_words").cast("double"), 6))
  }

  /** Heuristic language ID: count marker-word occurrences per language,
    * predict the argmax (ties broken in LangMarkers order). Returns the
    * per-language hit counts alongside the prediction so downstream
    * filters can threshold on confidence.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(col(textCol), " ")
    val hits = LangMarkers.map { case (lang, markers) =>
      lang -> inList(words, markers).cast("long")
    }
    val withHits = df.select(
      col(idCol).as("doc_id") +: hits.map { case (l, c) => c.as(s"${l}_hits") }: _*)
    // argmax with ties broken by declaration order
    val predicted = hits.map(_._1).zipWithIndex.foldRight(lit(hits.last._1)) {
      case ((lang, i), elseCol) =>
        val isMax = hits.drop(i + 1)
          .map { case (other, _) => col(s"${lang}_hits") >= col(s"${other}_hits") }
          .foldLeft(lit(true))(_ && _)
        when(isMax, lit(lang)).otherwise(elseCol)
    }
    withHits.withColumn("predicted_lang", predicted)
  }

  /** Composite document-quality score for corpus filtering — the
    * classic pre-training heuristics (length, lexical diversity,
    * stopword density) combined into one [0,1] score plus a bucket
    * label. Weights: 0.4 length (saturating at 100 words), 0.4
    * distinct-word ratio, 0.2 stopword density (saturating at 20%).
    * All inputs are exact integer counts; the one double expression is
    * evaluated in a fixed order and rounded to 6 digits, so the score is
    * bit-stable across engines and partitionings.
    *
    * `carryCols` ride along in the same projection — consumers that
    * need the score NEXT TO other document columns (q107's per-source
    * gate) carry them here instead of joining the score frame back to
    * the input, which costs a second full corpus scan plus an equi-join
    * shuffle at 100 TB for what is a pure per-row projection.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   carryCols: Seq[String] = Nil): DataFrame = {
    val words = split(col(textCol), " ")
    val scored = df.select(
      col(idCol).as("doc_id") +: carryCols.map(col) :+
        size(words).cast("long").as("n_words") :+
        size(array_distinct(words)).cast("long").as("n_distinct_words") :+
        inList(words, Stopwords).cast("long").as("stopword_cnt"): _*)
      .withColumn("quality", round(
        lit(0.4) * least(col("n_words").cast("double") / 100.0, lit(1.0)) +
        lit(0.4) * (col("n_distinct_words").cast("double") / col("n_words").cast("double")) +
        lit(0.2) * least(lit(5.0) * col("stopword_cnt").cast("double") / col("n_words").cast("double"), lit(1.0)),
        6))
    scored.withColumn("quality_label",
      when(col("quality") >= 0.6, "high")
        .when(col("quality") >= 0.4, "medium")
        .otherwise("low"))
  }

  /** Global top-k terms by document frequency (number of documents
    * containing the term). Explode + hash aggregate + TakeOrdered — no
    * global sort; at 100 TB this is the canonical vocabulary-building
    * shape (one shuffle on the term).
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(explode(array_distinct(split(col(textCol), " "))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term").asc)
      .limit(k)

  /** Document fingerprints: md5 of the raw text and of the canonical
    * sorted-distinct-word form (see Dedup.fingerprint).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("fp_full"),
      Dedup.fingerprint(textCol).as("fp_sorted"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS fingerprinting scheme; the "rolling hash"
    * member of the fingerprint family): hash every character k-gram,
    * slide a window of `window` consecutive gram hashes, keep each
    * window's minimum; the distinct kept hashes are the document's
    * fingerprint set, emitted as (doc_id, fp) rows. The winnowing
    * guarantee: any substring of length >= window + k - 1 shared by
    * two documents yields at least one SHARED fingerprint — so a
    * self-equi-join on fp finds partial overlaps (boilerplate,
    * quotations, plagiarism) that the whole-document hashes
    * ([[fingerprints]] / [[Dedup.fingerprint]]) structurally cannot.
    *
    * Shape: one native codegen'd expression per row
    * ([[graft.functions.WinnowFps winnow_fps]]: Rabin-Karp rolling
    * gram hashes + window-min sweep, O(len) multiply-adds — the
    * pre-round-7 higher-order-function form ran O(len·k) interpreted
    * md5 calls per doc) + one explode — the operator itself never
    * shuffles; the consumer's join or groupBy on fp/doc_id is the only
    * exchange. The polynomial hash is reproduced bit-for-bit by the
    * DuckDB oracle (ASCII corpora; see WinnowFps for the byte/char
    * caveat).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, window: Int = 16): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(window >= 1, "window must be >= 1")
    df.select(col(idCol).as("doc_id"),
      explode(graft.functions.WinnowFps(df.sparkSession, col(textCol), k, window))
        .as("fp"))
  }

  /** Within-document repetition metrics — the Gopher repetition filters
    * (Rae et al. 2021, "Scaling Language Models: Methods, Analysis &
    * Insights from Training Gopher", appendix A1.1) adapted to word
    * n-grams: per document, the fraction of n-gram occurrences belonging
    * to an n-gram that repeats within the document (`dup_gram_frac`) and
    * the fraction claimed by the single most frequent n-gram
    * (`top_gram_frac`). High values flag boilerplate, keyword spam, and
    * degenerate repetition — the standard pre-training corpus filter the
    * whole-document dedup family cannot express (a document is its own
    * duplicate here).
    *
    * Shape: one narrow gram expansion (the native codegen'd
    * [[graft.functions.WordNgrams word_ngrams]] — each gram is a
    * substring slice, no interpreted lambda, no token-array
    * allocation — + explode, no shuffle) then two hash aggregates
    * keyed (doc, gram) and (doc) — work ∝ total tokens, the same
    * canonical shape as [[tfIdf]]. Documents with fewer than n words
    * have no n-grams and produce no row (explode drops the empty
    * array).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val grams = df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.WordNgrams(df.sparkSession, col(textCol), n))
          .as("gram"))
    grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(lit(0L))).as("dup_cnt"),
        max(col("cnt")).as("top_cnt"))
      .select(col("doc_id"), col("n_grams"),
        round(col("dup_cnt").cast("double") / col("n_grams"), 6).as("dup_gram_frac"),
        round(col("top_cnt").cast("double") / col("n_grams"), 6).as("top_gram_frac"))
  }

  /** Conservative PII patterns for [[redact]]: emails, IPv4 addresses,
    * international-ish phone numbers, SSN-shaped triples. Order
    * matters — earlier patterns see the original text, and IP must
    * precede PHONE (a dotted IPv4 with 3-digit trailing octets, e.g.
    * 10.20.100.200, parses as a phone number otherwise).
    *
    * PHONE requires an explicit separator between every digit group
    * and word boundaries on the digit edges, so a bare digit run (a
    * numeric ID, an epoch timestamp, an order number — ADVICE r7) can
    * never match; group boundaries are anchored with `\b` rather than
    * lookarounds so the RE2-based engines (DuckDB — the q79 oracle)
    * compile the identical pattern. The deliberate recall tradeoff:
    * UNSEPARATED numbers ("5551234567") no longer redact — they are
    * indistinguishable from numeric IDs, and a corpus scrubber that
    * rewrites every 10-digit ID corrupts more than it protects. Supply
    * custom `patterns` when the corpus is known phone-heavy.
    */
  val DefaultPiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "(?:\\+\\d{1,3}[-. ]?)?\\(?\\b\\d{2,4}\\)?[-. ]\\d{3,4}[-. ]\\d{3,4}\\b" -> "<PHONE>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>")

  /** PII redaction for training corpora: each (regex, replacement)
    * applied in order as a chained `regexp_replace`, with the total
    * match count surfaced so pipelines can audit/threshold documents
    * by PII density before scrubbing (counts run each pattern against
    * the ORIGINAL text — categories that overlap double-count; the
    * replacements are chained). Pure codegen'd column
    * expressions, narrow, no shuffle. Patterns use Java regex syntax;
    * keep them anchored/escaped — a pathological pattern costs
    * O(len²) per row in any engine.
    */
  def redact(df: DataFrame, idCol: String, textCol: String,
             patterns: Seq[(String, String)] = DefaultPiiPatterns): DataFrame = {
    val counts = patterns.map { case (re, _) => regexp_count(col(textCol), lit(re)) }
    df.select(col(idCol).as("doc_id"),
      redactCol(col(textCol), patterns).as("text_redacted"),
      counts.reduce(_ + _).cast("long").as("n_redactions"))
  }

  /** The column form of [[redact]]'s replacement chain — for in-place
    * scrubbing (`withColumn("text", redactCol(col("text")))`) without
    * a join.
    */
  def redactCol(text: Column,
                patterns: Seq[(String, String)] = DefaultPiiPatterns): Column = {
    require(patterns.nonEmpty, "patterns must be non-empty")
    patterns.foldLeft(text) {
      case (c, (re, repl)) => regexp_replace(c, lit(re), lit(repl))
    }
  }

  /** Cross-corpus n-gram overlap — the benchmark-contamination check
    * (the GPT-3 report, Brown et al. 2020 appendix C, measures train/
    * test leakage by shared n-grams): for every (corpus doc, benchmark
    * doc) pair sharing at least one distinct word n-gram, the count of
    * shared distinct n-grams. Filter high counts to find training
    * documents that quote (or contain) evaluation data.
    *
    * Shape: distinct-gram expansion on each side (narrow; the native
    * [[graft.functions.WordNgrams word_ngrams]] slices), an
    * inverted-index equi-join on the gram, one hash aggregate on the
    * pair — work ∝ gram co-occurrences, never |corpus|×|bench|.
    * Ubiquitous grams carry no contamination signal and blow the join
    * quadratically, so grams appearing in more than `maxBenchDf`
    * benchmark docs are dropped first (the bench side is the small one
    * — its document-frequency table is cheap), mirroring the stopword
    * pruning of [[Dedup.jaccardPairs]]'s inverted index.
    */
  def ngramOverlap(corpus: DataFrame, bench: DataFrame,
                   idCol: String, textCol: String,
                   n: Int = 3, maxBenchDf: Long = 1000): DataFrame = {
    require(n >= 1, "n must be >= 1")
    def grams(df: DataFrame, out: String): DataFrame = df
      .select(col(idCol).as(out), explode(array_distinct(
        graft.functions.WordNgrams(df.sparkSession, col(textCol), n)))
        .as("gram"))
    val cg = grams(corpus, "doc_id")
    val bgAll = grams(bench, "bench_id")
    val keep = bgAll.groupBy(col("gram")).agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") <= maxBenchDf).select(col("gram"))
    cg.join(bgAll.join(keep, "gram"), "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** Fixed-size word chunking with overlap — context-window prep for
    * training and retrieval pipelines: chunk i covers words
    * [i·step, i·step + chunkWords) with step = chunkWords −
    * overlapWords, the final partial chunk is kept, and a document
    * shorter than one chunk yields itself whole. chunk_id is the
    * 0-based chunk index per document. A start is generated only while
    * it can contribute a word the previous chunk didn't cover (start ≤
    * size − overlap − 1): when the document end falls inside the
    * overlap region the would-be trailing chunk is a pure subset of
    * its predecessor — duplicated training content — so it is not
    * emitted.
    *
    * Narrow end-to-end: one split + one stepped-sequence explode +
    * slice/array_join projections — the operator never shuffles; work
    * ∝ total words · chunk/(chunk − overlap). At 100 TB the output is
    * written partition-parallel straight from the scan.
    *
    * Output: (doc_id, chunk_id, start_word, n_words, chunk).
    */
  def chunkWords(df: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int = 128, overlapWords: Int = 16): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be >= 1")
    require(overlapWords >= 0 && overlapWords < chunkWords,
      "overlapWords must be in [0, chunkWords)")
    val step = chunkWords - overlapWords
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(expr(
            s"sequence(0, greatest(size(ws) - 1 - $overlapWords, 0), $step)"))
          .as("start_word"))
      .select(col("doc_id"),
        expr(s"start_word div $step").cast("long").as("chunk_id"),
        col("start_word").cast("long").as("start_word"),
        expr(s"size(slice(ws, start_word + 1, $chunkWords))").cast("long")
          .as("n_words"),
        expr(s"array_join(slice(ws, start_word + 1, $chunkWords), ' ')")
          .as("chunk"))
  }

  /** Corpus-level n-gram NOVELTY (the memorization-risk audit): per
    * document, the fraction of its DISTINCT word shingles occurring in
    * NO other document. Low-novelty docs are template/boilerplate
    * variants whose shingles the model will see many times (the
    * over-memorization risk Lee et al. 2021 quantify); the score is
    * the per-document complement of the corpus-wide over-count signal
    * q106/q139 act on. Shingles are the [[graft.ops.Dedup.minhashBands]]
    * convention (codegen'd word_ngrams, whole-text fallback for short
    * docs), so this row's denominator is exactly the dedup pipeline's
    * shingle universe.
    *
    * Shape: one shingle explode → one map-side-combining doc-frequency
    * aggregate (shuffles shingle strings once — the q106 cost class) →
    * join back on shingle → per-doc hash aggregate. Work ∝ corpus
    * shingles; no Window, no all-pairs anything.
    *
    * Output: (doc_id, n_shingles, novel_shingles, novelty).
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, shingleSize)
    // shingles are distinct per doc, so the count IS document frequency
    val dfc = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(dfc, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel_shingles"))
      .withColumn("novelty",
        round(col("novel_shingles").cast("double") / col("n_shingles"), 6))
  }

  /** One (doc_id, sh) row per DISTINCT shingle of each document — the
    * shared shingle projection of [[ngramNovelty]], [[shingleDfStore]]
    * and [[noveltyAgainstStore]] (the [[graft.ops.Dedup.minhashBands]]
    * convention: codegen'd word_ngrams, whole-text fallback for short
    * docs), factored so the batch audit and the ingest gate cannot
    * drift in what a "shingle" is.
    */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("txt"),
        split(col(textCol), " ").as("words"))
      .select(col("doc_id"),
        when(size(col("words")) >= shingleSize,
          graft.functions.WordNgrams(df.sparkSession, col("txt"), shingleSize))
          .otherwise(array(col("txt"))).as("shingles"))
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("sh"))

  /** Shingle document-frequency STORE of a kept corpus — (sh, df)
    * rows, the persisted half of the LIVE novelty gate (the q145
    * bandStore posture applied to q164's score): build once from
    * everything kept, persist bucketed on `sh`
    * ([[graft.ops.Bucketing]]) so per-batch scoring anti-joins with
    * zero store-side Exchange, and append each batch's novel shingles
    * as they are admitted.
    */
  def shingleDfStore(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3): DataFrame =
    shingleRows(df, idCol, textCol, shingleSize)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))

  /** LIVE novelty scoring of ARRIVING documents against a frozen
    * [[shingleDfStore]] — q164's memorization-risk audit as an ingest
    * gate: a shingle is novel iff the store has never seen it, so a
    * low score flags an arrival as boilerplate/template relative to
    * everything already kept (admit-or-divert BEFORE paying exact
    * dedup, the q145 tier). Stateless per row: one shingle projection,
    * one anti-join against the store's `sh` column (narrow — text
    * never shuffles), one per-doc count. The streaming form is this
    * SAME function inside foreachBatch, scoring each micro-batch
    * against the store accumulated so far and appending the batch's
    * shingles after scoring (StreamingSpec pins per-batch ≡ a batch
    * rescan at each batch's store horizon); the between-batch horizon
    * semantics are [[graft.ops.Dedup.streamingAgainstStore]]'s.
    *
    * Output: (doc_id, n_shingles, novel_shingles, novelty) for every
    * input row.
    */
  def noveltyAgainstStore(newDocs: DataFrame, store: DataFrame,
                          idCol: String, textCol: String,
                          shingleSize: Int = 3): DataFrame = {
    val sh = shingleRows(newDocs, idCol, textCol, shingleSize)
    val novel = sh.join(store.select(col("sh")), Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("novel_shingles"))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("novel_shingles"), lit(0L)).as("novel_shingles"))
      .withColumn("novelty",
        round(col("novel_shingles").cast("double") / col("n_shingles"), 6))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): a hash-chosen
    * `fimPct`% of documents split into (prefix, middle, suffix) at two
    * deterministic hash-derived character positions and re-emit in PSM
    * order — `<PRE>prefix<SUF>suffix<MID>middle` — teaching the model
    * to infill; the rest pass through untouched (the paper's mixed
    * corpus). Everything is a salted-md5₆₀ decision over the doc id
    * (the q84/q147 sampling discipline): no RNG, layout-independent,
    * and the cut points replay relationally (substr arithmetic — the
    * q48 char/byte equivalence on this ASCII corpus), so the whole
    * transform is hash-exact cross-engine. Reassembly invariant:
    * prefix ‖ middle ‖ suffix ≡ original (spec-pinned).
    *
    * Pure projection — no shuffle, no join; at 100 TB this runs at
    * scan speed, the property a per-document training transform must
    * have. Output: (doc_id, fimmed, prefix, middle, suffix, fim_text).
    */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   fimPct: Int = 50): DataFrame = {
    require(fimPct >= 0 && fimPct <= 100, "fimPct must be in [0, 100]")
    import graft.functions.Hashing
    val idStr = col(idCol).cast("string")
    val n = length(col(textCol)).cast("long")
    val h1 = Hashing.md5Long(concat(lit("fim:1:"), idStr)) % (n + 1L)
    val h2 = Hashing.md5Long(concat(lit("fim:2:"), idStr)) % (n + 1L)
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        (Hashing.md5Long(concat(lit("fim:r:"), idStr)) % 100 < fimPct)
          .as("fimmed"),
        least(h1, h2).cast("int").as("c1"),
        greatest(h1, h2).cast("int").as("c2"))
      .select(col("doc_id"), col("fimmed"),
        when(col("fimmed"), expr("substring(text, 1, c1)"))
          .otherwise(lit("")).as("prefix"),
        when(col("fimmed"), expr("substring(text, c1 + 1, c2 - c1)"))
          .otherwise(lit("")).as("middle"),
        when(col("fimmed"), expr("substring(text, c2 + 1, length(text))"))
          .otherwise(lit("")).as("suffix"),
        when(col("fimmed"),
          concat(lit("<PRE>"), expr("substring(text, 1, c1)"),
            lit("<SUF>"), expr("substring(text, c2 + 1, length(text))"),
            lit("<MID>"), expr("substring(text, c1 + 1, c2 - c1)")))
          .otherwise(col("text")).as("fim_text"))
  }

  /** C4-style corpus-wide boilerplate removal (Raffel et al. 2020 §2.2
    * dedup "three-sentence spans"; spans here are fixed `spanWords`-word
    * windows — the corpus has no sentence markers): cut every document
    * into NON-overlapping spans, count each span string across the
    * whole corpus, drop every occurrence of any span appearing in more
    * than `maxCount` places (navigation chrome, license headers, quote
    * chains), and REASSEMBLE the surviving spans in document order.
    *
    * Scale shape: one explode + one hash aggregate on the span string +
    * one equi-join back + a per-doc ordered fold (a doc's span list is
    * bounded by its length, so the collect_list row stays small) — the
    * tfIdf cost class, work ∝ total words. The reassembly sorts inside
    * a row (array_sort), not a Window: no per-group sort-shuffle.
    * Documents whose every span was dropped still emit a row (empty
    * clean_text) — downstream gates decide their fate, not this op.
    *
    * Output: (doc_id, n_spans, n_dropped, clean_text).
    */
  def dropRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                        spanWords: Int = 16, maxCount: Long = 2,
                        checkpointDir: Option[String] = None): DataFrame = {
    require(spanWords >= 1 && maxCount >= 1)
    val spans = Checkpoints.pin(
      df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
        .select(col("doc_id"),
          posexplode(expr(
            s"""transform(sequence(0, greatest(size(ws) - 1, 0), $spanWords),
               |  i -> array_join(slice(ws, i + 1, $spanWords), ' '))""".stripMargin))
            .as(Seq("pos", "span"))),
      checkpointDir, eager = false)
    val counts = spans.groupBy(col("span")).agg(count(lit(1)).as("cnt"))
    spans.join(counts, "span")
      .select(col("doc_id"), col("pos"), col("span"),
        (col("cnt") <= maxCount).as("kept"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
        expr("""array_join(transform(
               |  filter(array_sort(collect_list(named_struct('pos', pos, 'kept', kept, 'span', span))),
               |         s -> s.kept),
               |  s -> s.span), ' ')""".stripMargin).as("clean_text"))
  }

  /** The keep-ONE-copy variant of [[dropRepeatedSpans]] — C4's actual
    * dedup rule (Raffel et al. 2020 §2.2: "we removed all but one of
    * any three-sentence span occurring more than once"): the FIRST
    * occurrence of every span survives, every later occurrence is cut.
    * First = minimum (doc_id, pos) — a total order, so the winner is
    * partition- and engine-deterministic. [[dropRepeatedSpans]] drops
    * ALL occurrences above a count (boilerplate eradication); this
    * keeps the canonical copy (content preservation) — a pipeline
    * typically wants the former for chrome and the latter for quotes.
    *
    * Same cost class: one explode + one min-struct hash aggregate per
    * span + one equi-join back + the in-row ordered reassembly (no
    * Window). Output: (doc_id, n_spans, n_dropped, clean_text).
    */
  def dedupSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
                          spanWords: Int = 16,
                          checkpointDir: Option[String] = None): DataFrame = {
    require(spanWords >= 1)
    val spans = Checkpoints.pin(
      df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
        .select(col("doc_id"),
          posexplode(expr(
            s"""transform(sequence(0, greatest(size(ws) - 1, 0), $spanWords),
               |  i -> array_join(slice(ws, i + 1, $spanWords), ' '))""".stripMargin))
            .as(Seq("pos", "span"))),
      checkpointDir, eager = false)
    val winners = spans.groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("span"), col("w.doc_id").as("doc_id"),
        col("w.pos").as("pos"), lit(true).as("win"))
    spans.join(winners, Seq("span", "doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"), col("span"),
        coalesce(col("win"), lit(false)).as("kept"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
        expr("""array_join(transform(
               |  filter(array_sort(collect_list(named_struct('pos', pos, 'kept', kept, 'span', span))),
               |         s -> s.kept),
               |  s -> s.span), ' ')""".stripMargin).as("clean_text"))
  }

  /** Approximate heavy hitters over the corpus's words: one explode +
    * ONE mergeable Misra–Gries aggregate
    * ([[graft.functions.TypedAggs.MisraGries]], k counters) — fixed
    * memory where an exact count shuffles every distinct term; here
    * each partition ships one k-entry map. NOTE the statistic: this
    * estimates TOTAL TERM FREQUENCY (occurrences), not [[topTerms]]'
    * document frequency — a rare word repeated heavily inside one
    * document ranks here but not there; don't swap one for the other
    * without meaning to change the ranking. Output: (term, est_cnt)
    * for the ≤ k surviving counters. APPROXIMATE BY DESIGN
    * (merge-order-dependent rows; the frequency guarantee is the
    * contract — ApproxErrorSpec).
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .agg(graft.functions.TypedAggs.misraGries(col("term"), k).as("mg"))
      .select(explode(col("mg.entries")).as(Seq("term", "est_cnt")))

  /** Per-key approximate heavy hitters — [[heavyHitters]] under a
    * groupBy: one mergeable Misra–Gries summary per `keyCol` value
    * (per-source / per-language top terms, the common production ask).
    * Each (partition, key) ships one k-entry map; the guarantee (no
    * overcount, undercount ≤ n_key/(k+1), every term above that
    * threshold present) holds PER GROUP with n_key = the group's own
    * term count (ApproxErrorSpec). APPROXIMATE BY DESIGN, like the
    * global form: which sub-threshold terms survive is merge-order-
    * dependent; q116's band audit pins the guarantee deterministically.
    * Output: (keyCol, term, est_cnt).
    */
  def heavyHittersBy(df: DataFrame, keyCol: String, textCol: String,
                     k: Int): DataFrame =
    df.select(col(keyCol), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(keyCol))
      .agg(graft.functions.TypedAggs.misraGries(col("term"), k).as("mg"))
      .select(col(keyCol), explode(col("mg.entries")).as(Seq("term", "est_cnt")))

  /** Corpus-derived subword vocabulary: the top-`topK` words by corpus
    * frequency (count desc, word asc tie-break — total and
    * engine-reproducible). This is the vocabulary
    * [[graft.functions.SubwordCount subword_count]] greedily matches
    * against; single-character fallback covers everything outside it,
    * so coverage is total by construction. The collect is
    * dimension-sized (topK strings — the mixture-counts convention):
    * vocabularies are small by definition, the corpus never moves.
    */
  def subwordVocab(df: DataFrame, textCol: String, topK: Int): Seq[String] = {
    require(topK >= 1, "topK must be >= 1")
    df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(topK)
      .select(col("w")).collect().map(_.getString(0)).toSeq
  }

  /** Deterministic subword token count per document: greedy
    * longest-match segmentation against `vocab` (one codegen'd
    * [[graft.functions.SubwordCount]] pass — no explode, no join, no
    * shuffle; the scan IS the tokenizer). The packing currency real
    * pipelines budget: frequent words cost 1 token, rare words
    * decompose into pieces/characters (q77's whitespace proxy
    * overcounts neither). Output: (doc_id, subword_cnt).
    *
    * `broadcastVocab = false` (default) embeds the vocab as a plan
    * literal — the oracle-parity path, right for the dimension-sized
    * vocabularies the oracles replay. `true` ships it as a Spark
    * broadcast ([[graft.functions.SubwordCountBound]]) so the plan
    * stays O(1) in |vocab| — the scale path for production 32k–256k
    * piece sets. Counts are identical either way (one shared scan).
    */
  def subwordCounts(df: DataFrame, idCol: String, textCol: String,
                    vocab: Seq[String],
                    broadcastVocab: Boolean = false): DataFrame =
    df.select(col(idCol).as("doc_id"),
      (if (broadcastVocab)
        graft.functions.SubwordCount.broadcastBound(df.sparkSession,
          col(textCol), vocab)
      else
        graft.functions.SubwordCount(df.sparkSession, col(textCol), vocab))
        .as("subword_cnt"))

  /** BPE merge learning (Sennrich et al. 2016 "Neural Machine
    * Translation of Rare Words with Subword Units"): learn `numMerges`
    * merge rules from the corpus — repeatedly count adjacent symbol
    * pairs (weighted by word frequency) and fuse the most frequent
    * pair, ties broken (count desc, left asc, right asc) so the merge
    * table is total-order deterministic and engine-reproducible. This
    * completes the subword family: [[subwordVocab]] picks top-K whole
    * words; the merge table here is the LEARNED piece inventory real
    * tokenizers train.
    *
    * Scale shape: the corpus is scanned exactly ONCE into the distinct
    * word-frequency table; every iteration after that is
    * VOCABULARY-scale (distinct words, not corpus rows). Each word's
    * symbolization is a space-joined string, so one merge pass is one
    * codegen'd `replace(' l r ' → ' lr ')` — left-to-right
    * non-overlapping, exactly the BPE pass rule — and pair counting is
    * one explode + hash aggregate. The per-iteration argmax is a
    * ONE-ROW collect (BPE is sequential by definition — each rule
    * conditions on the last; the driver holds merge RULES, never
    * corpus or vocabulary data), and the word table is re-pinned per
    * iteration so the plan stays flat at production merge counts.
    * Stops early when no pair repeats (pair_cnt < 2 learns nothing).
    *
    * Output: (step, left, right, merged, pair_cnt) — dimension-sized.
    */
  def bpeMerges(df: DataFrame, textCol: String,
                numMerges: Int,
                checkpointDir: Option[String] = None): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var words = Checkpoints.pin(
      df.select(explode(split(col(textCol), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"),
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("state")),
      checkpointDir, eager = false)
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val syms = split(trim(col("state")), " ")
      val top = words
        .select(col("cnt"), col("state"))
        .select(col("cnt"), syms.as("syms"))
        .select(col("cnt"),
          // guard the 1-symbol word: sequence(1, 0) would be the
          // DESCENDING [1, 0], not empty
          explode(expr("""CASE WHEN size(syms) < 2 THEN CAST(array() AS ARRAY<STRUCT<l STRING, r STRING>>)
                         |ELSE transform(sequence(1, size(syms) - 1),
                         |  i -> struct(element_at(syms, CAST(i AS INT)) AS l,
                         |              element_at(syms, CAST(i + 1 AS INT)) AS r)) END""".stripMargin))
            .as("p"))
        .groupBy(col("p.l").as("left"), col("p.r").as("right"))
        .agg(sum(col("cnt")).as("pair_cnt"))
        .orderBy(col("pair_cnt").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2) done = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        merges += ((step.toLong, l, r, l + r, top(0).getLong(2)))
        words = Checkpoints.pin(
          words.select(col("cnt"),
            replace(col("state"), lit(s" $l $r "), lit(s" $l$r ")).as("state")),
          checkpointDir, eager = false)
      }
      step += 1
    }
    merges.toSeq.toDF("step", "left", "right", "merged", "pair_cnt")
  }

  /** Apply a learned BPE merge table ([[bpeMerges]]) to a corpus in
    * rank order — the ENCODE half of the tokenizer. Each word is
    * symbolized to characters and every rule rewrites it with the same
    * left-to-right non-overlapping `replace` the trainer used, so on
    * the training corpus the result is exactly the trainer's final
    * symbolization, and on held-out text it is standard BPE inference
    * with a frozen merge table.
    *
    * Scale shape: the corpus is scanned exactly ONCE into the distinct
    * word table (merge application is per-WORD, so Zipf makes the work
    * vocabulary-scale, not corpus-scale — the [[subwordCounts]]
    * argument). The merge table is dimension-sized by construction
    * (its rows are the learned rules), so collecting it ordered is a
    * bounded driver read, like the trainer's per-rule argmax. Rules
    * fold into nested codegen'd `replace` calls `batchSize` at a time,
    * with the word table re-pinned between batches — one projection
    * per 32 rules keeps generated-method size and plan depth bounded
    * at production merge counts (32k rules = 1k flat stages), where a
    * single 32k-deep expression tree would break codegen.
    *
    * Output: (word, cnt, pieces) — the distinct-word tokenization
    * with corpus frequency; join back on `word` or aggregate over
    * `pieces` for corpus token statistics.
    */
  def bpeEncode(df: DataFrame, textCol: String, merges: DataFrame,
                batchSize: Int = 32,
                checkpointDir: Option[String] = None): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val rules = merges.select(col("step"), col("left"), col("right"))
      .orderBy(col("step").asc).collect()
      .map(r => (r.getString(1), r.getString(2)))
    var words = Checkpoints.pin(
      df.select(explode(split(col(textCol), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("w").as("word"), col("cnt"),
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("state")),
      checkpointDir, eager = false)
    rules.grouped(batchSize).foreach { batch =>
      val folded = batch.foldLeft(col("state")) { case (c, (l, r)) =>
        replace(c, lit(s" $l $r "), lit(s" $l$r "))
      }
      words = Checkpoints.pin(
        words.select(col("word"), col("cnt"), folded.as("state")),
        checkpointDir, eager = false)
    }
    words.select(col("word"), col("cnt"),
      split(trim(col("state")), " ").as("pieces"))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram distribution — the language-model quality filter of the
    * CCNet pipeline (Wenzek et al. 2020) with corpus-internal
    * statistics instead of an external KenLM: documents whose words
    * are collectively improbable (gibberish, boilerplate codes, wrong
    * language) score low and can be percentile-thresholded
    * ([[Quantiles]]) before training.
    *
    * score(d) = Σ_t tf(d,t)·ln(cnt(t)/total) / |d|. The corpus text is
    * scanned and exploded exactly ONCE: the per-(doc, term) frequency
    * frame is pinned ([[Checkpoints.pin]], lazy — the q40 AQE
    * construction caveat applies) and the global term counts and
    * corpus total both derive from IT — re-deriving each from the raw
    * text would triple the most expensive stage (the token explode) at
    * 100 TB. Downstream: one equi-join on the term (term counts are
    * dictionary-sized — Spark's size-based planning broadcasts small
    * vocabularies and shuffles web-scale ones) and the total as a
    * one-row broadcast; work ∝ total tokens, the [[tfIdf]] shape. The
    * per-doc sum is an ORDERED fold over the doc's distinct terms
    * (sorted, then left-folded — double addition is not associative
    * and a plain sum() could hash differently per partitioning/engine;
    * a document's distinct-term list is bounded by its length, so
    * unlike a k-means cluster it always fits a row), rounded to 6.
    *
    * Output: (doc_id, n_words, avg_logprob).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     checkpointDir: Option[String] = None): DataFrame = {
    val words = df.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = Checkpoints.pin(
      words.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")),
      checkpointDir, eager = false)
    val wc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = wc.agg(sum(col("cnt")).as("total"))
    tf.join(wc, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * log(col("cnt").cast("double") / col("total"))).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        expr("""round(aggregate(array_sort(collect_list(named_struct('term', term, 'v', v))),
               |               cast(0.0 as double), (a, s) -> a + s.v) / sum(tf), 6)""".stripMargin)
          .as("avg_logprob"))
  }

  /** Per-document mean bigram CONDITIONAL log-probability under the
    * corpus's own bigram distribution — the conditional upgrade of
    * [[unigramLogProb]] (CCNet scores with a 5-gram KenLM; corpus-
    * internal bigrams are the same idea one order up from unigrams):
    * score(d) = Σ_bg tf(d,bg)·ln P(w|v) / Σ_bg tf(d,bg) with
    * P(w|v) = c(v w) / Σ_w' c(v w'). Word-salad documents whose words
    * are individually common but never co-occur score LOW here while
    * passing the unigram filter — exactly the gibberish class n-gram
    * LMs exist to catch. Self-scoring the corpus means every document
    * bigram is in the counts — no smoothing needed (generalize with a
    * held-out split via [[Sampling.split]] plus add-one if scoring
    * foreign text).
    *
    * Shape mirrors q80: ONE bigram explode (native word_ngrams) behind
    * a lazy pin; bigram counts AND left-context totals both derive
    * from the pinned tf frame (the context total is a reaggregation of
    * bigram counts — not a second corpus scan); one equi-join back;
    * ordered per-doc fold for engine-stable double sums. Documents
    * with fewer than 2 words have no bigram and produce no row (the
    * q71 convention). Output: (doc_id, n_bigrams, avg_logprob).
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    checkpointDir: Option[String] = None): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.WordNgrams(df.sparkSession, col(textCol), 2))
        .as("bg"))
    val tf = Checkpoints.pin(
      grams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf")),
      checkpointDir, eager = false)
    val bc = tf.groupBy(col("bg")).agg(sum(col("tf")).as("cnt"))
    val cc = bc.groupBy(substring_index(col("bg"), " ", 1).as("ctx"))
      .agg(sum(col("cnt")).as("ctx_cnt"))
    tf.join(bc, "bg")
      .join(cc, substring_index(col("bg"), " ", 1) === col("ctx"))
      .select(col("doc_id"), col("bg"), col("tf"),
        (col("tf") * log(col("cnt").cast("double") / col("ctx_cnt")))
          .as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        expr("""round(aggregate(array_sort(collect_list(named_struct('bg', bg, 'v', v))),
               |               cast(0.0 as double), (a, s) -> a + s.v) / sum(tf), 6)""".stripMargin)
          .as("avg_logprob"))
  }

  /** Top-k collocations by PMI-ordered LIFT over the corpus bigram
    * table: lift(x y) = N_bi · c(x y) / (c_first(x) · c_second(y)) —
    * observed over expected under positional independence, whose log
    * IS pointwise mutual information, so ranking by the ratio ranks by
    * PMI with no ln anywhere (the no-transcendental rule). All counts
    * derive from ONE pinned bigram-count frame: c_first/c_second are
    * positional marginals (reaggregations of the bigram counts, not
    * extra corpus scans), which keeps observed and expected on the
    * same sample space — no edge-token mismatch against a separate
    * unigram table. `minCount` keeps rare-pair noise out (the classic
    * PMI failure mode: a once-seen pair of once-seen words maxes the
    * score). The lift is ONE correctly-rounded division of int64-exact
    * operands, bit-identical cross-engine (the q206 rule); ties break
    * (w1, w2) lexicographic and top-k is a sort-limit
    * (TakeOrderedAndProject), never a global Window.
    *
    * Overflow bound: `n_bi · c_xy` needs N_bi² < 2^63 — fine to ~3e9
    * corpus bigrams; past that, cast both operands to DECIMAL(38,0)
    * at the division.
    */
  def pmiCollocations(df: DataFrame, textCol: String, k: Int,
                      minCount: Long = 5L,
                      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    collocationTable(df, textCol, minCount, checkpointDir)
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** The FULL minCount-filtered collocation table behind
    * [[pmiCollocations]] — (w1, w2, c_xy, c_x, c_y, lift) for every
    * bigram seen ≥ minCount times: the collocation DICTIONARY a
    * deployment writes once at ingest ([[graft.Stores.collocations]])
    * and probes per query ([[expandTerms]]'s related-term lookup).
    * Vocabulary-pair-scale bounded by the minCount prune (the classic
    * PMI noise gate doubles as the size cap).
    */
  def collocationTable(df: DataFrame, textCol: String,
                       minCount: Long = 5L,
                       checkpointDir: Option[String] = None): DataFrame =
    collocationTableFrom(
      df.select(explode(
          graft.functions.WordNgrams(df.sparkSession, col(textCol), 2))
          .as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c_xy"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"), col("c_xy")),
      minCount, checkpointDir)

  /** [[collocationTable]] over an ALREADY-AGGREGATED bigram-count
    * frame (w1, w2, c_xy) — the read half the store lifecycle shares:
    * the marginals (c_x, c_y) and the total are REaggregations of the
    * count frame itself (never extra corpus scans), so a slice-merged
    * store read and an inline corpus build produce the identical lift
    * table (the q204 one-code-path rule applied to this family).
    */
  def collocationTableFrom(bigrams: DataFrame, minCount: Long,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(minCount >= 1L, "minCount must be >= 1")
    val bg = Checkpoints.pin(bigrams, checkpointDir, eager = false)
    val c1 = bg.groupBy(col("w1")).agg(sum(col("c_xy")).as("c_x"))
    val c2 = bg.groupBy(col("w2")).agg(sum(col("c_xy")).as("c_y"))
    val n = bg.agg(sum(col("c_xy")).as("n_bi"))
    bg.filter(col("c_xy") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        round((col("n_bi") * col("c_xy")).cast("double") /
          (col("c_x") * col("c_y")).cast("double"), 6).as("lift"))
  }

  /** Bigram-count SLICES — the collocation dictionary's ingest unit
    * (the indexSlices posture for this family): per-slice (slice, w1,
    * w2, c) counts aggregated from only that slice's documents.
    * Counts are associative, so any slice split merges to what a
    * full-corpus count builds.
    */
  def collocSlices(docs: DataFrame, textCol: String,
                   sliceCol: String): DataFrame =
    docs.select(col(sliceCol).as("slice"),
        explode(graft.functions.WordNgrams(docs.sparkSession,
          col(textCol), 2)).as("bg"))
      .groupBy(col("slice"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .select(col("slice"), substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("c"))

  /** Fold stored bigram slices back to the (w1, w2, c_xy) count frame
    * [[collocationTableFrom]] consumes: count sums per pair —
    * order-independent and exact. Tombstone deletes
    * ([[collocTombstones]]) cancel to exactly 0 and drop; a NEGATIVE
    * merged count means a tombstone without a matching ingest and
    * RAISES (the indexMergeSlices posture).
    */
  def collocMergeSlices(slices: DataFrame): DataFrame =
    slices.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c")).as("_c"))
      .select(col("w1"), col("w2"),
        when(col("_c") >= 0, col("_c"))
          .otherwise(raise_error(concat(
            lit("collocMergeSlices: negative merged count for bigram "),
            col("w1"), lit(" "), col("w2"),
            lit(" — tombstone without matching ingest")))).as("c_xy"))
      .filter(col("c_xy") > 0)

  /** Incremental collocation ingest — [[indexIngest]] for this
    * family: aggregate ONLY the new slice's text through
    * [[collocSlices]] (the same one code path as batch build) and
    * APPEND its count rows to the w1-bucketed table; history files
    * stay untouched. The w1 bucketing keeps [[collocMergeSlices]]'s
    * (w1, w2) grouping zero-Exchange (partitioning on the leading key
    * co-locates every pair). STREAMING: call per micro-batch inside
    * `foreachBatch` with slice = batch id.
    */
  def collocIngest(docs: DataFrame, textCol: String, sliceCol: String,
                   table: String, buckets: Int): Unit =
    Bucketing.appendBucketed(collocSlices(docs, textCol, sliceCol),
      table, Seq("w1"), buckets, sortCols = Seq("w1"))

  /** Tombstone slices for the collocation dictionary — the DELETE
    * path (the LSM posture): the removed documents' bigram counts
    * re-aggregated NEGATED, so the [[collocMergeSlices]] sum cancels
    * their contribution exactly; content-addressed like the index
    * tombstones (the tombstone must carry the same text the ingest
    * saw). Marginals and the total shift automatically because the
    * read derives them from the merged counts.
    */
  def collocTombstones(docs: DataFrame, textCol: String,
                       sliceCol: String): DataFrame =
    collocSlices(docs, textCol, sliceCol)
      .select(col("slice"), col("w1"), col("w2"), (-col("c")).as("c"))

  /** Query EXPANSION off the written collocation store — the
    * "related searches" derivation: the seed term's strongest
    * collocation partners (either bigram direction, max lift per
    * partner, ties by partner asc) become extra OR-terms for the
    * k-term BM25 read. The seed keeps ord 0; partners take ords
    * 1..e. Serving shape: ONE pushed (w1 = seed OR w2 = seed) probe
    * on the dictionary-scale store, a partner-count-bounded argmax,
    * and the shared TakeOrderedAndProject top-e — the corpus and the
    * posting lists are touched only by the retrieval read that
    * consumes the returned frame.
    */
  def expandTerms(colloc: DataFrame, seed: String, e: Int): DataFrame = {
    require(e >= 1 && e <= 7,
      "e must be in [1, 7] (the pivot width minus the seed's slot)")
    val partners = colloc
      .filter(col("w1") === seed || col("w2") === seed)
      .select(when(col("w1") === seed, col("w2"))
        .otherwise(col("w1")).as("partner"), col("lift"))
      .filter(col("partner") =!= seed) // a "seed seed" bigram is not an expansion
      .groupBy(col("partner")).agg(max(col("lift")).as("_ml"))
    val ranked = TopN.globalRanked(partners, e,
        col("_ml").desc, col("partner").asc)
      .select(col("rk").as("ord"), col("partner").as("token"))
    val sp = colloc.sparkSession
    import sp.implicits._
    Seq((0L, seed)).toDF("ord", "token").unionByName(ranked)
  }

  /** DSIR-style importance score (Xie et al. 2023, arXiv:2302.03169 —
    * there with hashed-n-gram features; unigrams are the order-1 case):
    * per-document mean log-likelihood RATIO between a TARGET slice's
    * unigram LM and the whole corpus's LM. Documents whose word
    * distribution resembles the target score high; resampling on
    * exp(score/T) tilts a generic crawl toward the target domain —
    * the standard pre-training data-selection move. Both models are
    * add-one smoothed over the CORPUS vocabulary (the target slice is a
    * subset of the corpus, so every scored term exists in both):
    * score(d) = Σ_w tf·(ln P_t(w) − ln P_c(w)) / n_words with
    * P_m(w) = (cnt_m(w)+1) / (total_m + |V|).
    *
    * Shape is [[unigramLogProb]] with a second head off the SAME pinned
    * tf frame: ONE token explode; corpus counts, target counts (a
    * filtered reaggregation — not a second corpus scan), totals and
    * vocabulary size all derive from it; dimension-free one-row totals
    * broadcast; ordered per-doc fold for engine-stable double sums.
    * Output: (doc_id, n_words, llr).
    */
  def importanceScore(df: DataFrame, idCol: String, textCol: String,
                      targetFilter: Column,
                      checkpointDir: Option[String] = None): DataFrame = {
    val words = df.select(col(idCol).as("doc_id"),
      targetFilter.as("is_target"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = Checkpoints.pin(
      words.groupBy(col("doc_id"), col("is_target"), col("term"))
        .agg(count(lit(1)).as("tf")),
      checkpointDir, eager = false)
    val wcC = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt_c"))
    val wcT = tf.filter(col("is_target"))
      .groupBy(col("term")).agg(sum(col("tf")).as("cnt_t"))
    val tot = wcC.agg(sum(col("cnt_c")).as("total_c"),
        count(lit(1)).as("vocab"))
      .crossJoin(wcT.agg(sum(col("cnt_t")).as("total_t")))
    // ONE log of the ratio product, NOT ln(p_t) − ln(p_c): when the two
    // probabilities are close the difference of logs is catastrophic
    // cancellation over each engine's last-ulp ln differences — at
    // sf0.1 one document's 6-digit rounding flipped. A single ln over
    // an identically-computed double (exact long→double products under
    // 2^53, one IEEE divide) is engine-stable (the q80/q97 evidence)
    tf.join(wcC, "term")
      .join(wcT, Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") *
          log(((coalesce(col("cnt_t"), lit(0L)) + 1).cast("double") *
               (col("total_c") + col("vocab")).cast("double")) /
              ((col("cnt_c") + 1).cast("double") *
               (col("total_t") + col("vocab")).cast("double")))).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        // + 0.0 normalizes IEEE -0.0 → 0.0: a document whose ratio sum
        // rounds to zero from below would otherwise hash as "-0.0" in
        // one engine and "0.0" in the other (the oracle mirrors this)
        expr("""round(aggregate(array_sort(collect_list(named_struct('term', term, 'v', v))),
               |               cast(0.0 as double), (a, s) -> a + s.v) / sum(tf), 6)
               |+ cast(0.0 as double)""".stripMargin)
          .as("llr"))
  }

  /** Cross-corpus contamination via winnowing fingerprints — the
    * character-level companion of [[ngramOverlap]]: for every (corpus
    * doc, benchmark doc) pair sharing at least one winnowed k-gram
    * fingerprint ([[winnowFingerprints]]), the count of shared
    * fingerprints. The winnowing guarantee makes this a SUBSTRING
    * detector: any shared run of ≥ window + k − 1 characters yields a
    * shared fingerprint, so it catches quoted spans that word-n-gram
    * overlap misses when tokenization or punctuation shifted.
    *
    * Shape mirrors ngramOverlap: per-doc fingerprints are narrow
    * (one codegen'd winnow_fps + explode, no shuffle), the join is an
    * inverted-index equi-join on fp, one hash aggregate on the pair —
    * work ∝ fp co-occurrences, never |corpus|×|bench|. Fingerprints in
    * more than `maxBenchDf` benchmark docs are boilerplate, carry no
    * signal, and blow the join quadratically — dropped first off the
    * small side's document-frequency table.
    */
  def winnowOverlap(corpus: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    k: Int = 8, window: Int = 16,
                    maxBenchDf: Long = 1000,
                    checkpointDir: Option[String] = None): DataFrame = {
    val cf = winnowFingerprints(corpus, idCol, textCol, k, window)
    // the bench fingerprints feed TWO consumers (the df-cap table and
    // the join) — pin them so the bench text winnows once, not twice
    val bf = Checkpoints.pin(
      winnowFingerprints(bench, idCol, textCol, k, window)
        .withColumnRenamed("doc_id", "bench_id"),
      checkpointDir, eager = false)
    val keep = bf.groupBy(col("fp")).agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") <= maxBenchDf).select(col("fp"))
    cf.join(bf.join(keep, "fp"), "fp")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_fps"))
  }

  /** TF-IDF term weights per (doc, term): tf · ln((N+1)/(df+1)),
    * rounded to 6 digits. Two hash aggregates (term frequency per doc,
    * document frequency per term) + one equi-join on term + the corpus
    * size as a one-row broadcast cross join — no driver collect, no
    * global sort; work ∝ total tokens, the canonical weighting shape
    * for feature extraction at corpus scale.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf_cnt"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_cnt"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf_cnt"), col("df_cnt"),
        round(col("tf_cnt") *
          log((col("n_docs") + 1).cast("double") / (col("df_cnt") + 1)), 6)
          .as("score"))
  }

  /** Per-(label, term) add-one-smoothed class-conditional log
    * probabilities — the MODEL of a multinomial Naive Bayes text
    * classifier (the one-pass linear classifier behind fastText-style
    * language ID and the WebText/GPT-3 quality filter: class-conditional
    * token counts are the entire training procedure, so "training" is a
    * single hash aggregate — no gradient iterations, the only classifier
    * family whose fit is embarrassingly parallel by construction).
    * logp(term|label) = ln((cnt+1) / (tot_label + |V|)) with V the
    * training vocabulary.
    *
    * Shape: ONE token explode behind a lazy pin; per-label totals and
    * |V| are reaggregations of the pinned counts (dimension-sized —
    * never a second corpus scan); the totals join back broadcast.
    * Output: (label, term, cnt, logp) with logp rounded to 6.
    */
  def nbTrain(train: DataFrame, labelCol: String, textCol: String,
              checkpointDir: Option[String] = None): DataFrame =
    nbTrainFromCounts(Checkpoints.pin(nbCounts(train, labelCol, textCol),
      checkpointDir, eager = false))

  /** [[nbTrain]]'s model head over an already-derived (label, term,
    * cnt) frame — the store-first form (the counts store was built
    * through [[nbCounts]]; this is the same smoothing + rounding edge).
    */
  def nbTrainFromCounts(counts: DataFrame): DataFrame =
    nbModel(counts).select(col("label"), col("term"), col("cnt"),
      round(col("logp"), 6).as("logp"))

  /** (label, term, cnt) over the training slice — the sufficient
    * statistic; everything else derives from it. Exposed to
    * [[graft.Stores]] so the per-regimen training-count STORES build
    * through this one derivation (the store-first posture: training is
    * an ingest-time job, serving reads the written counts).
    */
  private[graft] def nbCounts(train: DataFrame, labelCol: String,
                              textCol: String): DataFrame =
    train.select(col(labelCol).as("label"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("label"), col("term")).agg(count(lit(1)).as("cnt"))

  /** Smoothed model from pinned counts: (label, term, cnt, logp)
    * UNROUNDED (the scorer consumes full precision; [[nbTrain]] rounds
    * at its output edge only). Exposed to [[graft.Stores]] so the
    * per-regimen MODEL stores build through this one derivation
    * (parquet round-trips doubles bit-exactly, so a stored logp is the
    * inline logp).
    */
  private[graft] def nbModel(counts: DataFrame): DataFrame = {
    val labTot = counts.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    val vocab = counts.agg(countDistinct(col("term")).as("v"))
    counts.join(broadcast(labTot), "label")
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("term"), col("cnt"),
        log((col("cnt") + 1).cast("double") / (col("tot") + col("v")))
          .as("logp"))
  }

  /** Classify `test` documents with a Naive Bayes model trained on
    * `train`: score(d, c) = ln P(c) + Σ_term tf·logp(term|c), unseen
    * terms at the smoothing floor ln(1/(tot_c+|V|)); prediction =
    * argmax_c (ties, vanishingly rare with real counts, break toward
    * the greater label in BOTH engines — max-of-struct here, ORDER BY
    * score DESC, label DESC in the oracle). Output: (doc_id,
    * pred_label, score rounded 6).
    *
    * Scale shape: one explode per slice, both behind lazy pins; the
    * label dimension (priors + smoothing floors, one row per class)
    * broadcast-crosses the test tf frame — a ×|classes| row expansion
    * of a NARROW (doc_id, term, tf) frame, stated cost of scoring every
    * class; the model join is a size-planned equi-join on (label, term)
    * (broadcast at test scale, shuffle for web-scale vocabularies);
    * per-doc sums are ordered folds (engine-stable doubles, the q80
    * convention); the argmax is a max-of-struct hash aggregate — no
    * Window, nothing driver-side.
    */
  def nbClassify(train: DataFrame, test: DataFrame, labelCol: String,
                 idCol: String, textCol: String,
                 checkpointDir: Option[String] = None): DataFrame =
    nbArgmaxHead(
      nbScoreFrame(train, test, labelCol, idCol, textCol, checkpointDir))

  /** [[nbClassify]] served from the WRITTEN model artifacts — the
    * store-first form: `model` = the (label, term, cnt, logp) store
    * ([[nbModel]] over the regimen's counts), `labels` = the (label,
    * prior_logp, dflt) dimension ([[nbLabels]]), `testTf` = the test
    * slice's (doc_id, term, tf) frame (e.g. the inverted-index store's
    * merged postings — the identical tokenization), `testIds` = the
    * test doc_ids. Same head, same scoring tail as the inline form —
    * one code path, zero drift.
    */
  def nbClassifyServe(model: DataFrame, labels: DataFrame,
                      testTf: DataFrame, testIds: DataFrame): DataFrame =
    nbArgmaxHead(nbScoreServe(model, labels, testTf, testIds))

  private def nbArgmaxHead(scores: DataFrame): DataFrame =
    scores.groupBy(col("doc_id"))
      .agg(max(struct(col("score"), col("label"))).as("best"))
      .select(col("doc_id"), col("best.label").as("pred_label"),
        round(col("best.score"), 6).as("score"))

  /** Per-document binary NB log-odds for `posLabel` — the
    * classifier-gate score (the GPT-3/WebText quality filter: train on
    * a trusted positive slice vs the rest, keep documents the
    * classifier scores positive). `labelCol` must be two-valued
    * (caller maps classes to a pos/neg framing); the subtraction is
    * one commutative two-term sum per doc, so no fold ordering is
    * needed on top of [[nbScoreFrame]]'s. Output: (doc_id, log_odds
    * rounded 6) for EVERY scored document — thresholding is the
    * caller's policy.
    */
  def nbLogOdds(train: DataFrame, test: DataFrame, labelCol: String,
                posLabel: String, idCol: String, textCol: String,
                checkpointDir: Option[String] = None): DataFrame =
    nbLogOddsHead(
      nbScoreFrame(train, test, labelCol, idCol, textCol, checkpointDir),
      posLabel)

  /** [[nbLogOdds]] served from the written model artifacts
    * ([[nbClassifyServe]]'s contract) — same head, same tail, one code
    * path.
    */
  def nbLogOddsServe(model: DataFrame, labels: DataFrame,
                     testTf: DataFrame, testIds: DataFrame,
                     posLabel: String): DataFrame =
    nbLogOddsHead(nbScoreServe(model, labels, testTf, testIds), posLabel)

  private def nbLogOddsHead(scores: DataFrame,
                            posLabel: String): DataFrame =
    scores.groupBy(col("doc_id"))
      .agg(round(sum(when(col("label") === posLabel, col("score"))
        .otherwise(-col("score"))), 6).as("log_odds"))

  /** (doc_id, label, score) for every test document × class — the
    * shared scoring core of [[nbClassify]] (argmax head) and
    * [[nbLogOdds]] (binary-difference head). Scores are UNROUNDED
    * (heads round at their output edge).
    */
  private def nbScoreFrame(train: DataFrame, test: DataFrame,
                           labelCol: String, idCol: String, textCol: String,
                           checkpointDir: Option[String]): DataFrame = {
    val counts = Checkpoints.pin(nbCounts(train, labelCol, textCol),
      checkpointDir, eager = false)
    val nDocs = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
    val tf = Checkpoints.pin(
      test.select(col(idCol).as("doc_id"),
          explode(split(col(textCol), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")),
      checkpointDir, eager = false)
    val testIds = test.select(col(idCol).as("doc_id")).distinct()
    nbScoreWith(counts, nDocs, tf, testIds)
  }

  /** The scoring CORE over precomputed parts — the shared body of the
    * inline form ([[nbScoreFrame]], which derives the parts from raw
    * train/test frames) and the store-first forms ([[nbClassifyFrom]] /
    * [[nbLogOddsFrom]], which read them from written stores). The
    * arithmetic, fold ordering and output contract are byte-identical
    * whichever way the parts arrive.
    */
  private[graft] def nbScoreWith(counts: DataFrame, nDocs: DataFrame,
                                 tf: DataFrame,
                                 testIds: DataFrame): DataFrame =
    nbScoreServe(nbModel(counts), nbLabels(counts, nDocs), tf, testIds)

  /** The class-dimension table beside the model — one row per label:
    * prior log-probability + unseen-term smoothing floor. Derived from
    * the counts store and the per-label training doc counts; the
    * second serving artifact the per-regimen stores persist.
    */
  private[graft] def nbLabels(counts: DataFrame,
                              nDocs: DataFrame): DataFrame = {
    val labTot = counts.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    val vocab = counts.agg(countDistinct(col("term")).as("v"))
    val nTot = nDocs.agg(sum(col("nd")).as("n"))
    nDocs.crossJoin(nTot)
      .join(labTot, "label").crossJoin(vocab)
      .select(col("label"),
        log(col("nd").cast("double") / col("n")).as("prior_logp"),
        log(lit(1.0) / (col("tot") + col("v"))).as("dflt"))
  }

  /** The scoring tail over the two SERVING artifacts (model rows +
    * label dimension) — what a deployed classifier actually executes:
    * no training-side aggregate anywhere, just the tf × model join and
    * the ordered per-document fold.
    */
  private[graft] def nbScoreServe(model: DataFrame, labels: DataFrame,
                                  tf: DataFrame,
                                  testIds: DataFrame): DataFrame = {
    val like = tf.crossJoin(broadcast(labels))
      .join(model, Seq("label", "term"), "left")
      .select(col("doc_id"), col("label"),
        (col("tf") * coalesce(col("logp"), col("dflt"))).as("v"),
        col("term"))
      .groupBy(col("doc_id"), col("label"))
      .agg(expr(
        """aggregate(array_sort(collect_list(named_struct('term', term, 'v', v))),
          |          cast(0.0 as double), (a, s) -> a + s.v)""".stripMargin)
        .as("like"))
    // left join FROM the test id frame: a token-less document (empty /
    // whitespace text) has no tf rows, but its NB score is still
    // defined — the prior alone — and the "every scored document"
    // contract holds (previously such docs silently vanished)
    testIds
      .crossJoin(broadcast(labels.select(col("label"), col("prior_logp"))))
      .join(like, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (col("prior_logp") + coalesce(col("like"), lit(0.0))).as("score"))
  }

  /** Inverted index build — token → CAPPED posting list, flattened to
    * one row per (token, doc) with the per-token stats alongside:
    * `tf` (term count in the doc), `rk` (posting rank by tf desc,
    * doc asc), `df` (document frequency), `cf` (collection
    * frequency). The search-serving artifact every retrieval stack
    * builds over its corpus.
    *
    * 100 TB shape: postings and stats are hash aggregates over the
    * exploded (token, doc) frame; the per-token rank is a
    * partition-by-token Window whose `rk <= maxPostings` filter Spark
    * 4 pushes below the shuffle as WindowGroupLimit (the q04 plan) —
    * per-partition top-N pre-pruning, so a stop-word token ships at
    * most maxPostings rows per map partition, not its full posting
    * list. The cap is the skew bound: hot tokens ARE the skew, the
    * capped index bounds them, and `df` keeps the truncation
    * observable (`df > maxPostings` ⇒ truncated — the q95
    * observable-cap rule). The (token, doc, tf) frame feeds both the
    * stats and the ranking, so it is lineage-pinned
    * ([[Checkpoints.pin]], eager = false): the exploded-corpus
    * aggregate — THE expensive pass at 100 TB — runs once.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int,
                    checkpointDir: Option[String] = None): DataFrame =
    cappedIndex(tokenPostings(docs, idCol, textCol), maxPostings,
      checkpointDir)

  /** The raw (token, doc_id, tf) posting frame — ONE hash aggregate
    * over the exploded corpus; the shared body of [[invertedIndex]]
    * and [[indexSlices]] (build and store ingest cannot drift).
    */
  def tokenPostings(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = docs
    .select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("token"))
    .groupBy(col("token"), col("doc_id"))
    .agg(count(lit(1)).as("tf"))

  /** The capped serving view over a raw posting frame — the shared
    * READ body of [[invertedIndex]] (inline build) and the
    * store-merge path ([[indexMergeSlices]] → here), so corpus-rescan
    * and warehouse reads produce the identical artifact.
    */
  def cappedIndex(postings: DataFrame, maxPostings: Int,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(maxPostings >= 1, "maxPostings must be >= 1")
    val post = Checkpoints.pin(postings, checkpointDir, eager = false)
    val stats = post.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token"))
      .orderBy(col("tf").desc, col("doc_id").asc)
    post.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= maxPostings)
      .join(stats, "token")
      .select(col("token"), col("doc_id"), col("tf"), col("rk"),
        col("df"), col("cf"))
  }

  /** The term DICTIONARY over a posting frame — one (token, df, cf)
    * row per vocabulary term, the artifact every engine keeps BESIDE
    * its postings (Lucene's term dictionary / FST): vocabulary-scale,
    * so dictionary reads (prefix autocomplete, fuzzy lookup, df
    * stats) never touch posting rows, let alone the corpus. Derived
    * from the same posting frame the index serves, so df/cf cannot
    * drift from what [[cappedIndex]] reports.
    */
  def termDictionary(postings: DataFrame): DataFrame =
    postings.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** Per-slice term-DICTIONARY deltas — the dictionary family's
    * warehouse slices, derived FROM the index slice frame (one code
    * path: whatever lands in the posting store defines the
    * dictionary, so the two cannot drift): per (slice, token),
    * d_df = Σ sign(tf) and d_cf = Σ tf — an ingest slice
    * ([[indexSlices]]) contributes +1/+tf per posting, a content
    * tombstone slice ([[indexTombstones]]) −1/−tf. df deltas are
    * associative counts (the collocation-family pattern), so
    * [[dictMergeSlices]] folds ANY slice subset to exactly what
    * [[termDictionary]] derives from the merged postings — an ingest
    * batch updates the dictionary store by appending one
    * batch-vocabulary-sized slice, never a full rebuild.
    *
    * Contract (shared with the collocation family): each document's
    * (token, doc) posting must land wholly in ONE slice — the
    * generation layout and the one-slice-per-micro-batch warehouse
    * ingest both satisfy it; a doc split across slices would count
    * df once per slice.
    */
  def dictSlices(postingSlices: DataFrame): DataFrame =
    postingSlices.groupBy(col("slice"), col("token"))
      .agg(sum(signum(col("tf")).cast("long")).as("d_df"),
        sum(col("tf")).as("d_cf"))

  /** Fold stored dictionary slices back to the (token, df, cf)
    * artifact every dictionary read consumes — associative sums, the
    * [[indexMergeSlices]] posture: tombstone deltas cancel ingested
    * counts to exactly 0 and the term drops (vocabulary extinction);
    * a NEGATIVE merged count, or a zero df with surviving cf (a
    * partial tombstone in a slice-split doc — the documented
    * contract violation), RAISES rather than serving phantom
    * statistics.
    */
  def dictMergeSlices(slices: DataFrame): DataFrame =
    slices.groupBy(col("token"))
      .agg(sum(col("d_df")).as("_df"), sum(col("d_cf")).as("_cf"))
      .select(col("token"),
        when(col("_df") > 0 && col("_cf") >= col("_df"), col("_df"))
          .when(col("_df") === 0 && col("_cf") === 0, col("_df"))
          .otherwise(raise_error(concat(
            lit("dictMergeSlices: inconsistent merged counts for token "),
            col("token"), lit(" (df "), col("_df").cast("string"),
            lit(", cf "), col("_cf").cast("string"),
            lit(") — tombstone without matching ingest or slice-split "
              + "document")))).as("df"),
        col("_cf").as("cf"))
      .filter(col("df") > 0)

  /** Prefix autocomplete — the search-box suggestion read: dictionary
    * terms starting with the literal `prefix`, ranked by df (ties by
    * token). Serving shape: a pushed `StartsWith` predicate on the
    * WRITTEN dictionary (sorted by token, so parquet min/max stats
    * prune row groups outside the prefix range) and a
    * TakeOrderedAndProject top-k — work ∝ the prefix's dictionary
    * range, never the corpus, never the postings.
    */
  def prefixSearch(vocab: DataFrame, prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    require(k >= 1, "k must be >= 1")
    topKRanked(
      vocab.filter(col("token").startsWith(prefix))
        .select(col("token"), col("df")),
      k, col("df").desc, col("token").asc)
  }

  /** Single-character deletion neighborhood of a literal term — the
    * term itself plus every drop-one-char variant (distinct). Two
    * strings within Levenshtein distance 1 ALWAYS share a member of
    * each other's neighborhood (equal → the strings themselves;
    * insert/delete → the shorter string is a variant of the longer;
    * substitute → both delete the differing position), so matching
    * neighborhoods is a complete distance-1 candidate filter. It is
    * not exact — e.g. "ab"/"ba" share variants at distance 2 — hence
    * the verify step in [[fuzzyTerms]]. Driver-side by design: the
    * query term is a literal, |variants| = |term| + 1. Deletions are
    * CODE-POINT-wise, matching Spark's substring/length/levenshtein
    * semantics the store side and the verify use — a UTF-16-unit
    * deletion would emit lone-surrogate variants for supplementary-
    * plane input and silently miss every match for it.
    */
  private[graft] def deletionVariants(term: String): Seq[String] = {
    val cps = term.codePoints().toArray
    def mk(drop: Int): String = {
      val kept = cps.indices.filter(_ != drop).map(cps).toArray
      new String(kept, 0, kept.length)
    }
    (term +: cps.indices.map(mk)).distinct
  }

  /** The deletion-neighborhood TABLE over the dictionary — the
    * SymSpell layout: one (variant, token, df) row per dictionary
    * term per neighborhood member, built ONCE at ingest (work ∝
    * vocabulary × avg term length) and bucketed by `variant`, so a
    * fuzzy lookup probes |query|+1 variant keys instead of running an
    * edit-distance function against every vocabulary term — the O(V)
    * scan per query that makes naive fuzzy matching unusable at a
    * 100 TB corpus's multi-million-term vocabulary.
    */
  /** The per-token deletion-variant array — ONE expression shared by
    * the batch store build ([[deletionNeighborhood]]) and the
    * slice-incremental derivation ([[delneighSlices]]), so the two
    * cannot expand differently. array_union is already
    * element-distinct — no array_distinct.
    */
  private val deletionVariantExpr =
    """array_union(
      |  array(token),
      |  transform(sequence(1, length(token)),
      |    i -> concat(substring(token, 1, i - 1),
      |                substring(token, i + 1, length(token)))))"""
      .stripMargin

  def deletionNeighborhood(vocab: DataFrame): DataFrame =
    vocab.select(col("token"), col("df"),
        explode(expr(deletionVariantExpr)).as("variant"))
      .select(col("variant"), col("token"), col("df"))

  /** Per-slice deletion-neighborhood deltas — the SymSpell store as a
    * fold-on-read slice family: the variant expansion (a pure
    * per-token function) applied to the DICTIONARY deltas
    * ([[dictSlices]] rows), carrying d_df. Expansion commutes with
    * the delta sum, so [[delneighMergeSlices]] over any slice subset
    * ≡ [[deletionNeighborhood]] over the rebuilt dictionary — an
    * ingest batch updates the store by appending one
    * batch-vocabulary-sized slice (work ∝ batch vocabulary × term
    * length), never an O(V) rebuild.
    */
  def delneighSlices(dslices: DataFrame): DataFrame =
    dslices.select(col("slice"), col("token"), col("d_df"),
        explode(expr(deletionVariantExpr)).as("variant"))
      .select(col("slice"), col("variant"), col("token"), col("d_df"))

  /** Fold stored deletion-neighborhood slices to the (variant, token,
    * df) serving artifact [[fuzzyTerms]] probes. The per-(variant,
    * token) delta sum raises on a negative (the dictMergeSlices
    * posture); extinct terms drop with their whole neighborhood. A
    * pushed variant probe passes THROUGH this aggregate to the store
    * scan (the filter is on a grouping column), so serving reads stay
    * |query|+1 key probes.
    */
  def delneighMergeSlices(slices: DataFrame): DataFrame =
    slices.groupBy(col("variant"), col("token"))
      .agg(sum(col("d_df")).as("_df"))
      .select(col("variant"), col("token"),
        when(col("_df") >= 0, col("_df"))
          .otherwise(raise_error(concat(
            lit("delneighMergeSlices: negative merged df for variant "),
            col("variant"), lit(" token "), col("token"),
            lit(" — tombstone without matching ingest")))).as("df"))
      .filter(col("df") > 0)

  /** Fuzzy term lookup — "did you mean": dictionary terms within
    * Levenshtein distance 1 of the literal `term`, ranked exact-first
    * (lev asc), then df desc, then token. Filter-verify shape: the
    * deletion-neighborhood join yields a complete distance-≤1
    * candidate set (see [[deletionVariants]]) with a handful of
    * distance-2 false positives, and the levenshtein verify runs on
    * those CANDIDATES only — never against the full vocabulary.
    */
  def fuzzyTerms(deletions: DataFrame, term: String, k: Int): DataFrame = {
    require(term.nonEmpty, "term must be non-empty")
    require(k >= 1, "k must be >= 1")
    val vars = deletionVariants(term)
    val cand = deletions.filter(col("variant").isin(vars: _*))
      .select(col("token"), col("df")).distinct()
    topKRanked(
      cand.withColumn("lev",
          levenshtein(col("token"), lit(term)).cast("long"))
        .filter(col("lev") <= 1),
      k, col("lev").asc, col("df").desc, col("token").asc)
  }

  /** Batched spell correction over the deletion-neighborhood store —
    * [[fuzzyTerms]] generalized from one term to a whole literal
    * query: every query term maps to its best dictionary term within
    * Levenshtein distance 1 (exact match always wins at lev 0; ties
    * by df desc, then token), and terms with NO match within
    * distance 1 drop out — a downstream OR-ranker scores a missing
    * ord as 0, which is what an unknown word contributes anyway.
    * Query parsing matches [[searchTerms]] (whitespace tokens,
    * first-occurrence ords, duplicates dropped). Because the query is
    * a LITERAL, the variants derive driver-side ([[deletionVariants]]
    * — the store's own derivation) and push as ONE In filter on the
    * variant-bucketed store, the q265 probe shape: Σ(|term|+1) probed
    * keys, a candidate-only levenshtein verify, one per-ord rank —
    * never an O(V) scan, never a driver round-trip per term.
    */
  def correctTerms(deletions: DataFrame, query: String): DataFrame = {
    val qv = parseQuery(query).flatMap { case (ord, qt) =>
      deletionVariants(qt).map(v => (ord, qt, v))
    }
    val sp = deletions.sparkSession
    import sp.implicits._
    val qFrame = qv.toDF("ord", "qt", "variant")
    val allVars = qv.map(_._3).distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ord"))
      .orderBy(col("lev").asc, col("df").desc, col("token").asc)
    deletions.filter(col("variant").isin(allVars: _*))
      .join(broadcast(qFrame), Seq("variant"))
      .select(col("ord"), col("qt"), col("token"), col("df")).distinct()
      .withColumn("lev", levenshtein(col("token"), col("qt")).cast("long"))
      .filter(col("lev") <= 1)
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") === 1)
      .select(col("ord"), col("token"))
  }

  /** Query COST estimate off the dictionary — the read an engine's
    * planner runs before touching a posting list: the query's terms
    * ranked in the AND-intersection order every engine uses (df
    * ascending — drive the intersection from the rarest list), with
    * the expected candidate count after each step under the
    * independence model, `n · Π(df_j / n) = Π df_j / n^(i−1)`.
    * Work ∝ the query's term count: a pushed In probe on the
    * dictionary, one |terms|-row array fold — the cumulative products
    * stay exact LONGs inside the fold (dfs are corpus-bounded; a
    * 3-term product of ≤10^9 dfs fits 2^63), with ONE double division
    * at the end so the oracle reproduces it bit-for-bit. Terms absent
    * from the dictionary simply don't appear (df 0 would zero every
    * later estimate; an engine drops unknown terms before planning).
    */
  def queryPlanEstimate(vocab: DataFrame, nDocs: DataFrame,
                        query: String): DataFrame = {
    val terms = parseQuery(query).map(_._2)
    val one = vocab.filter(col("token").isin(terms: _*))
      .agg(sort_array(collect_list(struct(col("df"), col("token"))))
        .as("a"))
      .crossJoin(broadcast(
        oneRowScalar(nDocs, "n_docs", "queryPlanEstimate")))
    one.select(col("n_docs"), posexplode(expr(
        """transform(a, (x, i) ->
          |  struct(x.token AS token, x.df AS df,
          |    aggregate(slice(a, 1, i + 1), 1L,
          |              (acc, y) -> acc * y.df) AS cum))"""
          .stripMargin)).as(Seq("i", "s")))
      .select((col("i") + 1).cast("long").as("plan_ord"),
        col("s.token").as("token"), col("s.df").as("df"),
        round(col("s.cum").cast("double") /
          pow(col("n_docs").cast("double"), col("i").cast("double")), 4)
          .as("cum_est"))
  }

  /** Facet counts over a search's match set — the counts a result
    * page shows beside its hits ("lang: en (123) · de (4)"): one
    * (facet, value, n_docs) row per distinct value of each facet
    * column, counting each matching document once however many query
    * terms it hit. Serving shape: the distinct hit ids broadcast into
    * ONE join against the narrow metadata store (never the corpus —
    * facets don't need text), then a single hash aggregate over the
    * map-exploded (facet, value) pairs — one pass for ANY number of
    * facet dimensions, work ∝ |hits| × |facets|.
    */
  def facetCounts(hits: DataFrame, meta: DataFrame,
                  facetCols: Seq[String]): DataFrame = {
    require(facetCols.nonEmpty, "facetCols must be non-empty")
    val kv = facetCols.flatMap(f => Seq(lit(f), col(f).cast("string")))
    broadcast(hits.select(col("doc_id")).distinct())
      .join(meta, "doc_id")
      .select(explode(map(kv: _*)).as(Seq("facet", "value")))
      .groupBy(col("facet"), col("value"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Char trigrams of a literal term (distinct, in-order) — the
    * query-side gram derivation for [[infixSearch]]; driver-side by
    * design, |grams| = |term| − 2.
    */
  private[graft] def charTrigrams(term: String): Seq[String] = {
    // code-point windows, matching Spark's substring semantics the
    // store side uses (see the deletionVariants note)
    val cps = term.codePoints().toArray
    (0 to cps.length - 3).map(i => new String(cps, i, 3)).distinct
  }

  /** The char-TRIGRAM index over the dictionary — the wildcard/infix
    * serving artifact (Lucene's n-gram wildcard, code-search trigram
    * indexes): one (gram, token, df) row per dictionary term per
    * distinct char trigram, built once at ingest and bucketed by
    * `gram`. An infix query becomes an AND over its |q|−2 gram
    * posting lists instead of a `contains` scan of the vocabulary —
    * the same O(V)-per-query scan [[deletionNeighborhood]] keeps off
    * the fuzzy path. Terms shorter than 3 chars carry no trigram and
    * are unreachable here — consistent with the ≥3-char query floor
    * [[infixSearch]] enforces (a shorter query couldn't produce one
    * full gram; a shorter token can never contain a ≥3-char infix).
    */
  /** The per-token trigram array — shared by [[trigramNeighborhood]]
    * and the slice-incremental [[tgramSlices]] (the
    * deletionVariantExpr posture).
    */
  private val trigramExpr =
    """array_distinct(transform(sequence(1, length(token) - 2),
      |  i -> substring(token, i, 3)))""".stripMargin

  def trigramNeighborhood(vocab: DataFrame): DataFrame =
    vocab.filter(length(col("token")) >= 3)
      .select(col("token"), col("df"),
        explode(expr(trigramExpr)).as("gram"))
      .select(col("gram"), col("token"), col("df"))

  /** Per-slice trigram-index deltas — [[delneighSlices]] for the
    * infix store: the gram expansion applied to dictionary deltas,
    * d_df riding along. Same commutation argument, same contract.
    */
  def tgramSlices(dslices: DataFrame): DataFrame =
    dslices.filter(length(col("token")) >= 3)
      .select(col("slice"), col("token"), col("d_df"),
        explode(expr(trigramExpr)).as("gram"))
      .select(col("slice"), col("gram"), col("token"), col("d_df"))

  /** Fold stored trigram slices to the (gram, token, df) artifact
    * [[infixSearch]] probes — the delneighMergeSlices body on the
    * gram key; pushed gram probes pass through the aggregate.
    */
  def tgramMergeSlices(slices: DataFrame): DataFrame =
    slices.groupBy(col("gram"), col("token"))
      .agg(sum(col("d_df")).as("_df"))
      .select(col("gram"), col("token"),
        when(col("_df") >= 0, col("_df"))
          .otherwise(raise_error(concat(
            lit("tgramMergeSlices: negative merged df for gram "),
            col("gram"), lit(" token "), col("token"),
            lit(" — tombstone without matching ingest")))).as("df"))
      .filter(col("df") > 0)

  /** Batched infix (wildcard `*q*`) search over the trigram index —
    * one read for a whole query batch, the shape a serving tier
    * actually issues: per query, candidate terms are those whose
    * trigram set covers ALL the query's trigrams (the andQueryK
    * membership aggregate at dictionary scale), then a `contains`
    * VERIFY on those candidates only — gram coverage is necessary but
    * not sufficient (a term can hold every gram without holding the
    * contiguous infix). Results rank by df desc per query; zero-match
    * queries simply emit nothing. Work ∝ the queried grams' posting
    * rows, never the vocabulary.
    */
  def infixSearch(tgrams: DataFrame, queries: Seq[String],
                  k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(queries.nonEmpty, "queries must be non-empty")
    require(queries.forall(q => q.codePointCount(0, q.length) >= 3),
      "infix queries need >= 3 chars (one full trigram)")
    val sp = tgrams.sparkSession
    import sp.implicits._
    val qs = queries.distinct
    val qFrame = qs.flatMap(q => charTrigrams(q).map(g => (q, g)))
      .toDF("q", "gram")
    val qCounts = qs.map(q => (q, charTrigrams(q).size.toLong))
      .toDF("q", "_qg")
    val allGrams = qs.flatMap(charTrigrams).distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("df").desc, col("token").asc)
    tgrams.filter(col("gram").isin(allGrams: _*))
      .join(broadcast(qFrame), Seq("gram"))
      .groupBy(col("q"), col("token"))
      .agg(countDistinct(col("gram")).as("_n"), max(col("df")).as("df"))
      .join(broadcast(qCounts), Seq("q"))
      .filter(col("_n") === col("_qg"))
      .filter(contains(col("token"), col("q")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q"), col("token"), col("df"), col("rk"))
  }

  /** Per-slice posting aggregates for the inverted-index WAREHOUSE —
    * the store family's contract (kmv/cms/hll/hist/bloom siblings in
    * [[SketchStore]]) applied to the exact postings artifact: each
    * corpus slice aggregates independently to (slice, token, doc_id,
    * tf) rows, written once at ingest; [[indexMergeSlices]] folds any
    * subset back into the raw posting frame without re-reading text.
    *
    * 100 TB shape: a slice's rows are ONE hash aggregate over that
    * slice only (work ∝ new data, the ingest-gate rule); stored
    * bucketed by `token`, merges are zero-Exchange and the capped
    * serving view rebuilds from postings-scale rows — the corpus text
    * is scanned exactly once per slice, ever.
    */
  def indexSlices(docs: DataFrame, idCol: String, textCol: String,
                  sliceCol: String): DataFrame =
    docs.select(col(sliceCol).as("slice"), col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("slice"), col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Fold stored index slices back into the raw posting frame:
    * tf sums by (token, doc) — order-independent and exact, including
    * the append-log case where one document's text arrives across
    * several slices (a doc_id spanning slices sums its term counts,
    * exactly what a corpus rescan would see). Feed the result to
    * [[cappedIndex]] / [[andQuery]]; the identity
    * `cappedIndex(indexMergeSlices(indexSlices(docs))) ≡
    * invertedIndex(docs)` is the q204 oracle.
    */
  def indexMergeSlices(slices: DataFrame): DataFrame =
    slices.groupBy(col("token"), col("doc_id"))
      .agg(sum(col("tf")).as("_tf"))
      // tombstone deletes ([[indexTombstones]]) cancel ingested tf to
      // exactly 0 — a vanished posting drops here; a NEGATIVE sum
      // means a tombstone without a matching ingest (a data bug) and
      // raises loudly rather than serving phantom counts
      .select(col("token"), col("doc_id"),
        when(col("_tf") >= 0, col("_tf"))
          .otherwise(raise_error(concat(
            lit("indexMergeSlices: negative merged tf for token "),
            col("token"), lit(" doc "), col("doc_id").cast("string"),
            lit(" — tombstone without matching ingest")))).as("tf"))
      .filter(col("tf") > 0)

  /** Tombstone slices — the DELETE path of the inverted-index
    * warehouse (the LSM posture: deletes are appended, never applied
    * in place): the doc's postings re-aggregated with NEGATED tf, so
    * the [[indexMergeSlices]] tf sum cancels its contribution to
    * exactly zero and the capped read serves as if the doc were never
    * ingested (`cappedIndex(merge(ingest ∪ tombstone(d))) ≡
    * invertedIndex(corpus \ d)` — the q212 oracle). Requires the
    * tombstone to carry the SAME text the ingest saw (the store is
    * content-addressed, not id-addressed — partial text cancels
    * partially); a tombstone with no matching ingest drives tf
    * negative and raises at merge. Work ∝ deleted docs only; history
    * files stay untouched.
    */
  def indexTombstones(docs: DataFrame, idCol: String, textCol: String,
                      sliceCol: String): DataFrame =
    indexSlices(docs, idCol, textCol, sliceCol)
      .select(col("slice"), col("token"), col("doc_id"),
        (-col("tf")).as("tf"))

  /** Materialize an index-slice frame as a token-bucketed parquet
    * table — the physical form of the inverted-index warehouse.
    * Bucketing by `token` makes [[indexMergeSlices]] over the store
    * zero-Exchange (HashPartitioning(token) satisfies the merge's
    * (token, doc_id) clustering) and serves [[andQuery]]'s token
    * probes with pushed filters on bucket-pruned files.
    */
  def writeIndexStore(slices: DataFrame, table: String, buckets: Int,
                      path: Option[String] = None): Unit = {
    val w = slices.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "token").sortBy("token")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Incremental index ingest — the store-triad member for the exact
    * index (the [[graft.ops.Similarity.ivfIngest]] posture): aggregate
    * ONLY the new slice's text through [[indexSlices]] (the same one
    * code path as batch build, so streamed and one-shot stores cannot
    * drift) and APPEND its posting rows to the bucketed table. History
    * is never re-read or rewritten — each call only adds bucket files;
    * a doc whose text arrives across several slices simply lands more
    * rows, and the tf-sum merge at read time sees exactly what a
    * corpus rescan would (the q204 identity). STREAMING: call per
    * micro-batch inside `foreachBatch` with slice = batch id
    * (StreamingSpec pins per-batch ingest ≡ one-shot batch and
    * append-only files across batches).
    */
  def indexIngest(docs: DataFrame, idCol: String, textCol: String,
                  sliceCol: String, table: String, buckets: Int): Unit =
    Bucketing.appendBucketed(indexSlices(docs, idCol, textCol, sliceCol),
      table, Seq("token"), buckets, sortCols = Seq("token"))

  /** Compact a set of store slices into ONE replacement slice: the
    * tf-sum fold re-tagged with a fresh slice id, ready to stand in
    * for the originals (small nightly slices → one generation file —
    * the LSM posture applied to the exact index). Because the merge is
    * an associative sum, compaction commutes with reads:
    * `indexMergeSlices(indexCompact(gen0) ∪ gen1) ≡
    * indexMergeSlices(gen0 ∪ gen1)` — the SketchStore re-emitted
    * witness contract applied to the exact store (q205 proves it
    * relationally against the full-corpus rescan).
    */
  def indexCompact(slices: DataFrame, newSlice: Long): DataFrame =
    indexMergeSlices(slices).select(lit(newSlice).as("slice"),
      col("token"), col("doc_id"), col("tf"))

  /** [[indexCompact]] CLOSED UNDER TOMBSTONES — the per-bin compact
    * function a compaction PLAN may hand an arbitrary slice subset:
    * the q261 binner orders slices by id, so negative-id tombstone
    * slices bin FIRST and a bin can hold a tombstone whose matching
    * ingest lives in another bin (ADVICE r19). [[indexCompact]]'s
    * strict merge would raise there; this form preserves a negative
    * partial sum as a tombstone ROW in the compacted output (exact
    * zeros still drop — they cancel in any continuation), so the
    * integrity check moves to where it belongs: the read-time GLOBAL
    * merge, which still raises iff the whole table's sum is negative.
    * Sum associativity makes this exact: compacting any bin partition
    * this way then strict-merging ≡ strict-merging the originals.
    */
  def indexCompactPartial(slices: DataFrame, newSlice: Long): DataFrame =
    slices.groupBy(col("token"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"))
      .filter(col("tf") =!= 0)
      .select(lit(newSlice).as("slice"), col("token"), col("doc_id"),
        col("tf"))

  /** [[indexCompactPartial]] for the collocation family: per-bin
    * (w1, w2) count sums with negative partials preserved as
    * tombstone rows; [[collocMergeSlices]] stays the strict read.
    */
  def collocCompactPartial(slices: DataFrame, newSlice: Long): DataFrame =
    slices.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c")).as("c"))
      .filter(col("c") =!= 0)
      .select(lit(newSlice).as("slice"), col("w1"), col("w2"), col("c"))

  /** [[indexCompactPartial]] for the dictionary-delta family: per-bin
    * (token) d_df/d_cf sums, kept whenever EITHER survives nonzero
    * (a bin can net df to zero while cf still carries — both must
    * reach the global merge intact); [[dictMergeSlices]] stays the
    * strict read with its df/cf consistency raise.
    */
  def dictCompactPartial(slices: DataFrame, newSlice: Long): DataFrame =
    slices.groupBy(col("token"))
      .agg(sum(col("d_df")).as("d_df"), sum(col("d_cf")).as("d_cf"))
      .filter(col("d_df") =!= 0 || col("d_cf") =!= 0)
      .select(lit(newSlice).as("slice"), col("token"), col("d_df"),
        col("d_cf"))

  /** [[indexCompactPartial]] for the deletion-neighborhood family. */
  def delneighCompactPartial(slices: DataFrame,
                             newSlice: Long): DataFrame =
    slices.groupBy(col("variant"), col("token"))
      .agg(sum(col("d_df")).as("d_df"))
      .filter(col("d_df") =!= 0)
      .select(lit(newSlice).as("slice"), col("variant"), col("token"),
        col("d_df"))

  /** [[indexCompactPartial]] for the trigram family. */
  def tgramCompactPartial(slices: DataFrame, newSlice: Long): DataFrame =
    slices.groupBy(col("gram"), col("token"))
      .agg(sum(col("d_df")).as("d_df"))
      .filter(col("d_df") =!= 0)
      .select(lit(newSlice).as("slice"), col("gram"), col("token"),
        col("d_df"))

  /** Serving-scale top-k + rank — the final step every retrieval,
    * phrase, and proximity read shares. `orderBy(sort).limit(k)`
    * plans as TakeOrderedAndProject (per-partition top-k, one k-row
    * merge); a global `row_number().over(Window.orderBy(...))` would
    * instead plan Exchange(SinglePartition) → Sort → Window and
    * funnel EVERY candidate row through one task — bounded for
    * capped-index reads but df-bounded (not capped) for the
    * positional phrase/proximity reads, where a high-df term pair at
    * 100× means millions of rows in a single task. The rank Window
    * here runs over the ≤ k survivors only (single-partition by
    * construction and trivially so), and because `sort` carries a
    * full tie-break (every caller ends on a unique doc_id), the
    * emitted rk is IDENTICAL to the global form's — same oracles.
    * The topMovers board pattern applied to the whole family.
    */
  private def topKRanked(df: DataFrame, k: Int, sort: Column*): DataFrame =
    TopN.globalRanked(df, k, sort: _*)

  /** Conjunctive (AND) query served FROM the capped inverted index —
    * the read half of [[invertedIndex]]: picks the two
    * highest-`df` terms (the worst case for intersection size — ties
    * break by term), intersects their capped posting lists on doc_id,
    * and returns the top-`k` docs by combined tf. Terms come from the
    * index itself so the query is deterministic at every SF.
    *
    * Serving shape: the term pick is a vocabulary-scale argmax; the
    * two posting lists are ≤ maxPostings rows each (the cap IS the
    * serving latency bound — real engines serve from impact-ordered
    * capped postings for exactly this reason), so the intersection,
    * score, and final top-k all run at serving scale regardless of
    * corpus size. A STORED index is read three times with pushed
    * token filters (cheap); an inline-built one is lineage-pinned
    * ([[Checkpoints.pin]], eager = false) so the build runs once.
    */
  def andQuery(index: DataFrame, k: Int,
               checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val idx = Checkpoints.pin(index, checkpointDir, eager = false)
    val top2 = idx.select(col("token"), col("df")).distinct()
      .orderBy(col("df").desc, col("token").asc).limit(2)
    // a single-token vocabulary makes min = max: the posting list
    // would self-join and every doc come back as a fake intersection,
    // so the degenerate case returns empty instead
    val ab = top2.agg(min(col("token")).as("ta"), max(col("token")).as("tb"))
      .filter(col("ta") =!= col("tb"))
    val a = idx.join(broadcast(ab), col("token") === col("ta"))
      .select(col("doc_id"), col("tf").as("tf_a"))
    val b = idx.join(broadcast(ab), col("token") === col("tb"))
      .select(col("doc_id"), col("tf").as("tf_b"))
    topKRanked(
      a.join(b, "doc_id").withColumn("score", col("tf_a") + col("tf_b")),
      k, col("score").desc, col("doc_id").asc)
  }

  /** k-term conjunctive (AND) query — [[andQuery]] generalized past
    * two terms (which stays as the optimized worst-case-pair form):
    * docs carrying EVERY distinct token of the `terms` frame, ranked
    * by summed tf. The membership test is a hash aggregate (distinct
    * matched tokens per doc == the phrase's distinct-token count —
    * the phraseQueryK posture minus positions), so no k-way join
    * chain builds up: one token join, two aggregates, one top-k rank,
    * all ∝ Σ df of the query terms.
    */
  def andQueryK(index: DataFrame, terms: DataFrame, k: Int,
                checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val idx = Checkpoints.pin(index, checkpointDir, eager = false)
    val t = Checkpoints.pin(
      terms.select(col("token")).distinct(), checkpointDir, eager = false)
    val nk = t.agg(count(lit(1)).as("_k"))
    val m = idx.join(broadcast(t), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("_n"), sum(col("tf")).as("score"))
      .crossJoin(broadcast(nk)) // 1 row by construction
      .filter(col("_n") === col("_k"))
    topKRanked(m.select(col("doc_id"), col("score")),
      k, col("score").desc, col("doc_id").asc)
  }

  /** Defensive collapse of a by-contract 1-row scalar frame before it
    * crossJoins into a posting frame: re-aggregate and RAISE unless
    * the caller's frame held exactly one row (a multi-row frame would
    * silently multiply every posting row and corrupt scores; a 0-row
    * frame is always a contract violation too — the `.agg(...)` form
    * the contract names yields one row even over an empty corpus, so
    * an empty frame means the caller passed something else, and
    * serving k null-scored "ranked" rows from it would be a silent
    * lie). The observable-cap rule applied to scalar contracts.
    */
  private def oneRowScalar(f: DataFrame, colName: String,
                           op: String): DataFrame =
    f.agg(count(lit(1)).as("_nr"), max(col(colName)).as("_v"))
      .select(
        when(col("_nr") === 1L, col("_v"))
          .otherwise(raise_error(concat(
            lit(s"$op: the $colName scalar frame must have exactly one " +
              "row by contract, got "), col("_nr").cast("string"))))
          .as(colName))

  /** Exact-integer arithmetic wide enough for the BM25 family's
    * cross-multiplied rationals: int64 overflows within the ops' own
    * envelopes (num·den pairs at N ≈ 2e7 pass 2^63), DECIMAL(38,0)
    * does not until ~1e38 — and Spark raises on decimal overflow
    * rather than wrapping, so the failure stays loud.
    */
  private def d38(c: Column): Column = c.cast("decimal(38,0)")

  /** BM25-family relevance read on the capped index — [[andQuery]]'s
    * disjunctive (OR) sibling with the ranking function every lexical
    * retrieval stack runs (Robertson & Spärck Jones): per term,
    * tf-saturation `tf·(k1+1)/(tf+k1)` times the idf surrogate
    * `(N−df+0.5)/(df+0.5)`, summed over query terms. k1 is fixed at
    * the classic 1.2 — as the exact rational 6/5, so each term's score
    * is the INTEGER ratio `11·tf·(2N−2df+1) / ((5·tf+6)·(2df+1))` and
    * the two-term sum cross-multiplies to one integer ratio: no ln(),
    * no exp(), no float folds (the no-libm rule) — the only float op
    * is ONE correctly-rounded division of exact integers, so the
    * ranking doubles are bit-identical on every engine. (The classic
    * BM25 idf is ln of this surrogate; ln is monotone, so integer
    * cross-multiplied PER-TERM ranking is order-identical — the
    * summed form is the standard tf-saturation family with a rational
    * idf, chosen for exactness.) Document-length normalization (b)
    * is omitted — avgdl is a corpus float fold; b=0 is the standard
    * BM15 point of the family.
    *
    * Query terms: the two highest-df terms (the q203 worst-case
    * pick); docs carrying either term score (missing term contributes
    * 0/1). Serving shape: two ≤cap posting reads, a full-outer join
    * at serving scale, one top-k rank — corpus size only enters
    * through N. `nDocs` is a 1-row (n_docs) frame, e.g.
    * `docs.agg(countDistinct(id).as("n_docs"))` — the index alone
    * cannot recover N (capped postings), so the corpus count travels
    * as a frame, not a driver-side literal.
    */
  def bm25Query(index: DataFrame, nDocs: DataFrame, k: Int,
                checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val idx = Checkpoints.pin(index, checkpointDir, eager = false)
    val n1 = oneRowScalar(nDocs, "n_docs", "bm25Query")
    val top2 = idx.select(col("token"), col("df")).distinct()
      .orderBy(col("df").desc, col("token").asc).limit(2)
    val ab = top2.agg(min(col("token")).as("ta"), max(col("token")).as("tb"))
      .filter(col("ta") =!= col("tb"))
    // num/den and their cross-multiplies ride DECIMAL(38,0): in int64,
    // num·den pairs overflow within the op's own envelope (num and den
    // each reach ~1e12 at N ≈ 2e7 — the r16 review finding); decimal
    // keeps the pair products exact to num,den ≤ ~7e18 and the final
    // decimal→double cast is correctly rounded like the int64 one was
    def postings(term: String, sfx: String) =
      idx.join(broadcast(ab), col("token") === col(term))
        .crossJoin(broadcast(n1)) // exactly 1 row — enforced above
        .select(col("doc_id"), col("tf").as(s"tf_$sfx"),
          (d38(lit(11L) * col("tf")) *
            d38(lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)))
            .as(s"num_$sfx"),
          (d38(lit(5L) * col("tf") + lit(6L)) *
            d38(lit(2L) * col("df") + lit(1L))).as(s"den_$sfx"))
    val zero = lit(0L).cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val j = postings("ta", "a")
      .join(postings("tb", "b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("tf_a"), lit(0L)).as("tf_a"),
        coalesce(col("tf_b"), lit(0L)).as("tf_b"),
        ((coalesce(col("num_a"), zero) * coalesce(col("den_b"), one) +
          coalesce(col("num_b"), zero) * coalesce(col("den_a"), one))
          .cast("double") /
          (coalesce(col("den_a"), one) * coalesce(col("den_b"), one))
            .cast("double")).as("_s"))
    topKRanked(j, k, col("_s").desc, col("doc_id").asc)
      .select(col("doc_id"), col("tf_a"), col("tf_b"),
        round(col("_s"), 6).as("score"), col("rk"))
  }

  /** k-term BM25-family OR scoring — [[bm25Query]] generalized past
    * two terms: `terms` is an (ord, token) frame (ord 0-based;
    * duplicate tokens at several ords score twice, the standard query
    * multiset semantics), each term's score is ONE correctly-rounded
    * double division of the exact q206 integer rational, and the
    * k-way sum folds LEFT in fixed ord order — `((s0 + s1) + s2)…` —
    * so the oracle replays the identical float expression tree
    * (the bm25FullQuery two-term pattern generalized; a cross-
    * multiplied exact sum of k terms would overflow DECIMAL(38,0)
    * at k ≥ 3 corpus-scale denominators). `nTerms` bounds the pivot
    * width and must cover every ord in `terms`.
    *
    * Serving shape: one token join (≤cap posting rows per term), one
    * per-doc pivot aggregate, one top-k rank — the OR union of the
    * terms' posting lists is the only data-dependent size.
    */
  def bm25QueryK(index: DataFrame, nDocs: DataFrame, terms: DataFrame,
                 nTerms: Int, k: Int,
                 checkpointDir: Option[String] = None,
                 allowed: Option[DataFrame] = None,
                 excludedId: Option[Long] = None,
                 blocked: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    topKRanked(
        bm25ScoredK(index, nDocs, terms, nTerms, checkpointDir,
          allowed, excludedId, blocked),
        k, col("_score").desc, col("doc_id").asc)
      .select(col("doc_id"), col("n_terms_hit"),
        round(col("_score"), 6).as("score"), col("rk"))
  }

  /** The per-term impact rational over (tf, df, n_docs) columns —
    * `11·tf·(2N−2df+1) / ((5tf+6)(2df+1))`, exact DECIMAL(38,0)
    * products, one double division. ONE expression shared by the
    * single-query body ([[bm25ScoredK]]) and the batched form
    * ([[bm25QueryBatch]]) so their scores are bit-identical.
    */
  private def bm25ImpactCol: Column =
    (d38(lit(11L) * col("tf")) *
      d38(lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)))
      .cast("double") /
      (d38(lit(5L) * col("tf") + lit(6L)) *
        d38(lit(2L) * col("df") + lit(1L))).cast("double")

  /** BATCHED multi-query retrieval — N queries answered in ONE pass
    * over the capped index: the offline-evaluation / query-log-replay
    * / A-B-scoring read (a serving stack answers queries one at a
    * time; an evaluation pipeline scores thousands per run and must
    * not scan the index per query). `queries` carries (qid, ord,
    * token) — the [[searchTerms]] contract per qid; every query's
    * tokens probe the store in one broadcast join, scoring pivots per
    * (qid, doc), and the per-query rank is a PARTITIONED window on
    * qid (the q04 WindowGroupLimit shape — per-partition pre-prune;
    * qid is the partition dimension, so more queries mean more
    * partitions, never more single-task work — the one place a rank
    * Window is the RIGHT plan, vs the global-rank reads that must
    * TakeOrderedAndProject).
    */
  def bm25QueryBatch(index: DataFrame, nDocs: DataFrame,
                     queries: DataFrame, nTerms: Int, k: Int,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nTerms >= 1 && nTerms <= 8,
      "nTerms must be in [1, 8] (the pivot width)")
    val idx = Checkpoints.pin(index, checkpointDir, eager = false)
    val q = Checkpoints.pin(queries.select(col("qid"),
      when(col("ord") < 0 || col("ord") >= nTerms,
        raise_error(concat(lit("bm25QueryBatch: ord "),
          col("ord").cast("string"),
          lit(s" outside [0, $nTerms) — raise nTerms to cover every " +
            "query term")))).otherwise(col("ord")).as("ord"),
      col("token")), checkpointDir, eager = false)
    val n1 = oneRowScalar(nDocs, "n_docs", "bm25QueryBatch")
    val scored = idx.join(broadcast(q), Seq("token"))
      .crossJoin(broadcast(n1)) // exactly 1 row — enforced above
      .select(col("qid"), col("doc_id"), col("ord"),
        bm25ImpactCol.as("_s"))
    val pivots = (0 until nTerms).map(i =>
      max(when(col("ord") === i, col("_s"))).as(s"_s$i"))
    val g = scored.groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), pivots: _*)
    val score = (0 until nTerms).map(i =>
      coalesce(col(s"_s$i"), lit(0.0))).reduceLeft(_ + _)
    TopN.perGroup(g.withColumn("_score", score), Seq("qid"), "_score",
        Seq("doc_id"), k, rankName = "rk")
      .select(col("qid"), col("doc_id"), col("n_terms_hit"),
        round(col("_score"), 6).as("score"), col("rk").cast("long").as("rk"))
  }

  /** The scoring body of [[bm25QueryK]] WITHOUT the final rank —
    * (doc_id, n_terms_hit, _score) for every candidate doc, shared
    * with [[collapseSearch]] (which groups candidates before ranking,
    * so it must see the full cap-bounded candidate frame, not a
    * top-k cut). One implementation, so the collapse read's scores
    * cannot drift from the plain read's.
    */
  private def bm25ScoredK(index: DataFrame, nDocs: DataFrame,
                          terms: DataFrame, nTerms: Int,
                          checkpointDir: Option[String],
                          allowed: Option[DataFrame],
                          excludedId: Option[Long],
                          blocked: Option[DataFrame] = None): DataFrame = {
    require(nTerms >= 1 && nTerms <= 8,
      "nTerms must be in [1, 8] (the pivot width)")
    val idx = Checkpoints.pin(index, checkpointDir, eager = false)
    // an ord outside [0, nTerms) would join and inflate n_terms_hit
    // while the pivot silently dropped its score — a wrong ranking
    // with no error; the contract is ENFORCED per row instead (the
    // oneRowScalar posture)
    val t = Checkpoints.pin(terms.select(
      when(col("ord") < 0 || col("ord") >= nTerms,
        raise_error(concat(lit("bm25QueryK: ord "),
          col("ord").cast("string"),
          lit(s" outside [0, $nTerms) — raise nTerms to cover every " +
            "query term")))).otherwise(col("ord")).as("ord"),
      col("token")), checkpointDir, eager = false)
    val n1 = oneRowScalar(nDocs, "n_docs", "bm25QueryK")
    // filtered search: restrict candidates AFTER the term join (hits
    // are cap-bounded there: ≤ nTerms × maxPostings rows). The
    // allowed-doc frame — a facet-value doc list off
    // [[graft.Stores.facetIndex]] — is NOT cap-bounded (a popular
    // facet value is a large corpus fraction), and Spark can only
    // broadcast the RIGHT side of a left_semi, so a direct
    // hits ⋉ allowed would shuffle the doc-scale list per query.
    // Instead the allowed list is semi-joined DOWN to the broadcast
    // hit ids first (result ≤ the hit count), and the survivors
    // broadcast back — no Exchange over a doc-scale dimension in
    // either direction. Scoring statistics (df, n_docs) stay GLOBAL —
    // a filter narrows the result set, not the corpus the relevance
    // model was fit on; the rank then runs within the filtered set,
    // which is what a filtered result page shows.
    // self-exclusion for doc-as-query reads ([[moreLikeThis]]): one
    // pushed != predicate on the cap-bounded hit frame, applied before
    // the allowed-restriction so both filters narrow the same frame
    val hitsAll = idx.join(broadcast(t), Seq("token"))
    val hits0 = excludedId.fold(hitsAll)(id =>
      hitsAll.filter(col("doc_id") =!= lit(id)))
    val hits1 = allowed.fold(hits0) { a =>
      // two consumers of the hit frame (id probe + final semi-join)
      val h = Checkpoints.pin(hits0, checkpointDir, eager = false)
      val survivors = a.select(col("doc_id"))
        .join(broadcast(h.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_semi")
      h.join(broadcast(survivors), Seq("doc_id"), "left_semi")
    }
    // negative terms: `blocked` is a doc list that must NOT appear
    // (the "-term" search operator — the negative term's FULL,
    // UNCAPPED posting list: a capped exclusion would leak docs the
    // cap dropped). Like `allowed` it is df-bounded rather than
    // cap-bounded, so it is semi-joined DOWN to the broadcast hit ids
    // first and the intersection broadcast back as an ANTI join —
    // no Exchange over the doc-scale list in either direction.
    val hits = blocked.fold(hits1) { b =>
      val h = Checkpoints.pin(hits1, checkpointDir, eager = false)
      val blockers = b.select(col("doc_id"))
        .join(broadcast(h.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_semi")
      h.join(broadcast(blockers), Seq("doc_id"), "left_anti")
    }
    val scored = hits
      .crossJoin(broadcast(n1)) // exactly 1 row — enforced above
      .select(col("doc_id"), col("ord"), bm25ImpactCol.as("_s"))
    val pivots = (0 until nTerms).map(i =>
      max(when(col("ord") === i, col("_s"))).as(s"_s$i"))
    val g = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), pivots: _*)
    val score = (0 until nTerms).map(i =>
      coalesce(col(s"_s$i"), lit(0.0))).reduceLeft(_ + _)
    g.withColumn("_score", score)
      .select(col("doc_id"), col("n_terms_hit"), col("_score"))
  }

  /** Passage (chunk-level) retrieval with doc-level aggregation — the
    * RAG-era read: documents are indexed as overlapping fixed-width
    * chunks ([[chunkWords]] — the chunk is the retrieval unit a
    * context window consumes), relevance is scored per CHUNK
    * (statistics — df, N — live in the chunk domain), and documents
    * rank by their BEST chunk (the MaxP aggregation of the passage-
    * retrieval literature): a long document never outranks by sheer
    * length, and the winning `chunk_id` is returned — exactly what a
    * RAG pipeline feeds downstream.
    *
    * The chunk key is composite (`cid = doc_id · chunkKeyBase +
    * chunk_id`) so the shared [[bm25ScoredK]] body serves unchanged;
    * the doc-level argmax is a declarative struct-max (map-side
    * partial combine) and the final rank the shared
    * TakeOrderedAndProject top-k. Serving shape: everything after the
    * ≤ cap posting reads runs on cap-bounded candidate chunks.
    */
  def passageSearch(chunkIndex: DataFrame, nChunks: DataFrame,
                    terms: DataFrame, nTerms: Int, k: Int,
                    chunkKeyBase: Long = 100000L,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(chunkKeyBase >= 2L, "chunkKeyBase must exceed any chunk_id")
    // the "corpus size" statistic is the CHUNK count in this domain
    val scored = bm25ScoredK(chunkIndex,
      nChunks.select(col("n_chunks").as("n_docs")), terms, nTerms,
      checkpointDir, allowed = None, excludedId = None)
    val best = scored
      .select(expr(s"doc_id div $chunkKeyBase").as("d"),
        pmod(col("doc_id"), lit(chunkKeyBase)).as("ch"),
        col("n_terms_hit"), col("_score"))
      .groupBy(col("d"))
      .agg(max(struct(col("_score").as("s"), (-col("ch")).as("nch"),
        col("n_terms_hit").as("h"))).as("m"))
      .select(col("d").as("doc_id"), (-col("m.nch")).as("chunk_id"),
        col("m.h").as("n_terms_hit"), col("m.s").as("_score"))
    topKRanked(best, k, col("_score").desc, col("doc_id").asc)
      .select(col("doc_id"), col("chunk_id"), col("n_terms_hit"),
        round(col("_score"), 6).as("score"), col("rk"))
  }

  /** Field-collapsed search — the "group near-duplicates in results"
    * read every production result page runs: candidates score exactly
    * as [[bm25QueryK]] (same [[bm25ScoredK]] body), then collapse to
    * one row per near-dup cluster (`dupMap`: (doc_id, rep) for every
    * doc in an LSH connected component — [[graft.Stores.dupMap]];
    * docs absent from the map are their own group), keeping each
    * group's best-scoring doc (ties to the lower doc_id), and the
    * groups rank by their champion's score. Collapsing runs over the
    * FULL cap-bounded candidate frame — collapsing a pre-cut top-N
    * could miss a group entirely if its champion sat below the cut.
    *
    * Scale posture: the dup map is membership-scale (only docs that
    * participate in some near-dup pair), but still not cap-bounded —
    * so it is semi-joined DOWN to the broadcast candidate ids first
    * and the survivors broadcast back (the q270 allowed-frame
    * pattern); the group-best argmax is a declarative struct-max
    * (map-side partial combine), and the final rank is the shared
    * TakeOrderedAndProject top-k.
    */
  def collapseSearch(index: DataFrame, nDocs: DataFrame,
                     terms: DataFrame, nTerms: Int, k: Int,
                     dupMap: DataFrame,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // two consumers of the candidate frame: rep probe + group join
    val scored = Checkpoints.pin(
      bm25ScoredK(index, nDocs, terms, nTerms, checkpointDir,
        allowed = None, excludedId = None),
      checkpointDir, eager = false)
    // a dup map carrying duplicate doc_id rows would fan the left
    // join out and score one candidate into several groups silently —
    // the store-built map is unique only by construction, so
    // uniqueness is RESTORED here (min rep: deterministic) on the
    // already-candidate-bounded frame (ADVICE r18)
    val reps = dupMap.join(broadcast(scored.select(col("doc_id"))),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(min(col("rep")).as("rep"))
    val best = scored.join(broadcast(reps), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("rep"), col("doc_id")))
      .groupBy(col("group_id"))
      .agg(max(struct(col("_score").as("s"), (-col("doc_id")).as("nid"),
        col("n_terms_hit").as("h"))).as("m"))
      .select((-col("m.nid")).as("doc_id"), col("group_id"),
        col("m.h").as("n_terms_hit"), col("m.s").as("_score"))
    topKRanked(best, k, col("_score").desc, col("doc_id").asc)
      .select(col("doc_id"), col("group_id"), col("n_terms_hit"),
        round(col("_score"), 6).as("score"), col("rk"))
  }

  /** Parse a user's query STRING into the (ord, token) frame the
    * k-term reads ([[bm25QueryK]], [[andQueryK]], [[phraseQueryK]])
    * consume: whitespace tokens, ord = first-occurrence position,
    * duplicates dropped (a repeated word must not double its OR-sum
    * contribution, and bm25QueryK's per-ord pivot admits one token
    * per ord). The missing user story before this: every other term
    * derivation in the engine is a corpus statistic (top bigram /
    * trigram / highest-df pair) — this is what a person types into a
    * search box. Parsing is driver-side (a query string is bytes, not
    * data) and the returned frame is broadcast-sized by construction.
    */
  /** The ONE driver-side query parse behind [[searchTerms]] and
    * [[correctTerms]]: whitespace tokens, first-occurrence ords,
    * duplicates dropped. Shared so the corrected path can never drift
    * from the literal-search path's tokenization.
    */
  private def parseQuery(query: String): Seq[(Long, String)] = {
    val toks = query.trim.split("\\s+").filter(_.nonEmpty).distinct
    require(toks.nonEmpty, "empty query")
    toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
  }

  def searchTerms(s: org.apache.spark.sql.SparkSession,
                  query: String): DataFrame = {
    import s.implicits._
    parseQuery(query).toDF("ord", "token")
  }

  /** A BATCH of query strings as the (qid, ord, token) frame
    * [[bm25QueryBatch]] consumes — the same one [[parseQuery]] behind
    * [[searchTerms]], so batched evaluation can never tokenize
    * differently from the single-query serving path. qid = position
    * in the batch.
    */
  def searchTermsBatch(s: org.apache.spark.sql.SparkSession,
                       queries: Seq[String]): DataFrame = {
    require(queries.nonEmpty, "empty query batch")
    import s.implicits._
    queries.zipWithIndex.flatMap { case (q, i) =>
      parseQuery(q).map { case (ord, tok) => (i.toLong, ord, tok) }
    }.toDF("qid", "ord", "token")
  }

  /** "More like this" — the related-documents serving read: the seed
    * document becomes the query. Its top-`m` terms by (tf desc, df
    * asc, token asc) — frequent in the doc, rare in the corpus, the
    * integer-exact ordering (no double tf·idf whose ties could break
    * differently across engines) — feed the k-term BM25 read with the
    * seed excluded from its own results.
    *
    * Scale posture: the seed fetch is ONE pushed `doc_id =` predicate
    * on the corpus (row-group pruned; at 100 TB an id-addressed doc
    * store plays this role), the term scoring probes the dictionary
    * store with the doc-length-bounded seed frame BROADCAST into it
    * (the seed's tokens are data-dependent, so a pushed In literal
    * list is not available without a collect — the broadcast keeps
    * the derivation fully distributed), and the retrieval itself is
    * [[bm25QueryK]]'s cap-bounded read. A seed id that matches zero
    * or several rows RAISES via a bounded existence point-read — a
    * missing doc must not silently serve an empty related-items page.
    */
  def moreLikeThis(index: DataFrame, nDocs: DataFrame, vocab: DataFrame,
                   docs: DataFrame, idCol: String, textCol: String,
                   docId: Long, m: Int, k: Int,
                   checkpointDir: Option[String] = None): DataFrame = {
    // a missing/duplicated seed must RAISE, not silently serve an
    // empty related-items page. The check is a bounded point-read
    // (pushed id predicate + limit 2 — never more than 2 rows move),
    // NOT a raise_error guard frame: with zero seed rows every
    // downstream frame is empty and empty-relation propagation would
    // eliminate an in-plan guard before it could fire.
    val nSeed = docs.filter(col(idCol) === lit(docId))
      .select(col(idCol)).limit(2).count()
    if (nSeed != 1)
      throw new IllegalArgumentException(
        s"moreLikeThis: seed doc $docId matched $nSeed rows — need " +
          "exactly 1")
    bm25QueryK(index, nDocs,
      moreLikeThisTerms(vocab, docs, idCol, textCol, docId, m),
      nTerms = m, k,
      checkpointDir = checkpointDir, excludedId = Some(docId))
  }

  /** [[moreLikeThis]]'s seed-term derivation, exposed so its plan
    * shape is pinnable on its own (the k-term read pins the terms
    * frame, hiding this subtree behind the checkpoint): the seed
    * doc's tokens ranked by (tf desc, df asc, token asc), top `m`,
    * as the (ord, token) frame the k-term reads consume.
    */
  def moreLikeThisTerms(vocab: DataFrame, docs: DataFrame,
                        idCol: String, textCol: String,
                        docId: Long, m: Int): DataFrame = {
    require(m >= 1 && m <= 8, "m must be in [1, 8] (the pivot width)")
    val seedTf = docs.filter(col(idCol) === lit(docId))
      .select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("_stf"))
    val withDf = vocab.join(broadcast(seedTf), Seq("token"))
      .select(col("token"), col("_stf"), col("df"))
    TopN.globalRanked(withDf, m,
        col("_stf").desc, col("df").asc, col("token").asc)
      .select((col("rk") - 1L).as("ord"), col("token"))
  }

  /** Threshold-algorithm (Fagin TA) CERTIFIED pruned top-k — the
    * batch analog of WAND/MaxScore pruning: score only the union of
    * each query term's top-`m` impact postings instead of every doc
    * carrying either term, and PROVE the answer equals the exhaustive
    * [[bm25Query]] before serving it. Per term the impact (the q206
    * rational `11·tf·(2N−2df+1) / ((5tf+6)(2df+1))`) is monotone in
    * tf, so the top-m by (tf desc, doc_id asc) IS the top-m by score —
    * one WindowGroupLimit pre-prune per token (the q04 shape; hot
    * tokens are the skew). The TA bound: a doc outside BOTH kept lists
    * scores at most τ = Σ_t (t's m-th kept impact, or 0 if t's list
    * was kept whole); if the k-th candidate's exact score is strictly
    * above τ the pruned top-k is provably the exhaustive top-k
    * (per-term scores are strictly positive, so τ = 0 certifies
    * trivially). A failed certificate RAISES (the observable-cap
    * rule) — this op never silently serves an uncertified ranking;
    * re-run with a larger m. The certificate compares exact integer
    * ratios by DECIMAL(38,0) cross-multiplication of four pair
    * factors, exact while every per-term num/den stays ≤ 2.5e9
    * (N·tf ≲ 1e8 per pair) — and that bound is ENFORCED with a raise,
    * not assumed: past it the op refuses rather than serve a
    * certificate it cannot prove (Spark-side only, the oracle is
    * exhaustive).
    *
    * Serving shape: everything after the ≤cap posting reads runs on
    * 2m candidate rows — at 100 TB the win is that exact scoring and
    * the final rank touch m docs per term, not df.
    */
  def taTopK(index: DataFrame, nDocs: DataFrame, k: Int, m: Int,
             checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(m >= k, s"m ($m) must be >= k ($k): the candidate union " +
      "must be able to hold a full top-k")
    val idx = Checkpoints.pin(index, checkpointDir, eager = false)
    val top2 = idx.select(col("token"), col("df")).distinct()
      .orderBy(col("df").desc, col("token").asc).limit(2)
    val ab = top2.agg(min(col("token")).as("ta"), max(col("token")).as("tb"))
      .filter(col("ta") =!= col("tb"))
    // the certificate cross-multiplies FOUR pair factors, so for the
    // DECIMAL(38,0) products to stay exact every num/den must sit
    // under 2.5e9 (2·M⁴ < 10^38). The bound is ENFORCED, not assumed
    // (the observable-cap rule): past it the op raises rather than
    // either wrapping (the int64 failure this replaced) or serving a
    // certificate it cannot prove. N·tf ≲ 1e8 per term pair fits —
    // e.g. 1e7 docs at tf-cap 10; beyond, use bm25Query or shard.
    val certBound = lit(2500000000L).cast("decimal(38,0)")
    def guarded(c: Column, name: String): Column =
      when(c > certBound, raise_error(concat(
        lit(s"taTopK: $name exceeds the exact-certificate bound 2.5e9 "),
        lit("(N*tf too large for a provable prune at DECIMAL(38,0)); "),
        lit("use bm25Query or shard the corpus")))).otherwise(c)
    val posts = idx.join(broadcast(ab),
        col("token") === col("ta") || col("token") === col("tb"))
      .crossJoin(broadcast(oneRowScalar(nDocs, "n_docs", "taTopK")))
      .select(col("token"), (col("token") === col("ta")).as("is_a"),
        col("doc_id"), col("tf"),
        guarded(d38(lit(11L) * col("tf")) *
          d38(lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)),
          "num").as("num"),
        guarded(d38(lit(5L) * col("tf") + lit(6L)) *
          d38(lit(2L) * col("df") + lit(1L)), "den").as("den"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("tf").desc, col("doc_id").asc)
    val ranked = posts.withColumn("prk", row_number().over(wr))
    val kept = ranked.filter(col("prk") <= m)
    // τ per term: the m-th KEPT impact bounds every unseen posting of
    // that term; a list kept whole (count <= m) has no unseen postings
    val zero = lit(0L).cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val tau = ranked.groupBy(col("is_a"))
      .agg(count(lit(1)).as("cnt"),
        max(when(col("prk") === m,
          struct(col("num"), col("den")))).as("_m"))
      .select(col("is_a"),
        when(col("cnt") > m, col("_m.num")).otherwise(zero).as("tn"),
        when(col("cnt") > m, col("_m.den")).otherwise(one).as("td"))
    val tauRow = tau.agg(
      coalesce(max(when(col("is_a"), col("tn"))), zero).as("tna"),
      coalesce(max(when(col("is_a"), col("td"))), one).as("tda"),
      coalesce(max(when(!col("is_a"), col("tn"))), zero).as("tnb"),
      coalesce(max(when(!col("is_a"), col("td"))), one).as("tdb"))
    val aFull = posts.filter(col("is_a")).select(col("doc_id"),
      col("tf").as("tf_a"), col("num").as("num_a"), col("den").as("den_a"))
    val bFull = posts.filter(!col("is_a")).select(col("doc_id"),
      col("tf").as("tf_b"), col("num").as("num_b"), col("den").as("den_b"))
    val scoredCand = kept.select(col("doc_id")).distinct()
      .join(aFull, Seq("doc_id"), "left")
      .join(bFull, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tf_a"), lit(0L)).as("tf_a"),
        coalesce(col("tf_b"), lit(0L)).as("tf_b"),
        (coalesce(col("num_a"), zero) * coalesce(col("den_b"), one) +
          coalesce(col("num_b"), zero) * coalesce(col("den_a"), one))
          .as("nk"),
        (coalesce(col("den_a"), one) * coalesce(col("den_b"), one))
          .as("dk"))
      .withColumn("_s", col("nk").cast("double") / col("dk").cast("double"))
    topKRanked(scoredCand, k, col("_s").desc, col("doc_id").asc)
      .crossJoin(broadcast(tauRow))
      .select(col("doc_id"), col("tf_a"), col("tf_b"),
        // the certificate rides IN the served column (a dropped audit
        // column would be pruned with its raise_error): on the k-th
        // row, unseen ≤ τ must sit strictly below score_k. All
        // operands are guarded DECIMAL(38,0) (≤ 2.5e9 per pair
        // factor), so the triple products stay exact — the r16 review
        // killed the decimal(12,0) cast that silently nulled the
        // comparison past 1e12
        when(col("rk") === k &&
          !(col("nk") * col("tda") * col("tdb") >
            (col("tna") * col("tdb") + col("tnb") * col("tda")) *
              col("dk")),
          raise_error(concat(lit("taTopK: certificate failed at m="),
            lit(m).cast("string"),
            lit(" — kth score does not dominate tau; increase m"))))
          .otherwise(round(col("_s"), 6)).as("score"),
        col("rk"))
  }

  /** The doc-length "norms file" every BM25 engine stores beside its
    * index: (doc_id, dl) with dl = token count. One narrow projection
    * — no shuffle; built once at index time, read by
    * [[bm25FullQuery]] for length normalization (the capped index
    * cannot recover dl — that is exactly why real engines persist
    * norms separately).
    */
  def docNorms(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))

  /** Full BM25 with length normalization — [[bm25Query]] plus the `b`
    * term (b = 3/4, k1 = 6/5, the classic 0.75/1.2 point as exact
    * rationals): per term,
    * `idf · tf(k1+1) / (tf + k1(1−b + b·dl/avgdl))` with
    * avgdl = C/N taken from the norms store (C = Σdl, N = #docs).
    * Clearing denominators keeps everything integer:
    * num = 44·tf·C·(2N−2df+1), den = (20·tf·C + 6·C + 18·dl·N)·(2df+1).
    * Each term's score is ONE correctly-rounded double division of
    * those integers and the two-term OR sum is ONE correctly-rounded
    * addition in fixed (a, b) order — bit-identical on every engine
    * with no ln()/exp(). num and den fold in DECIMAL(38,0) (int64
    * would overflow at corpus scale: num multiplies tf·C·2N and C
    * alone reaches ~1e12 at 100 TB); decimal keeps the folds exact to
    * ~1e38 and the decimal→double division input is correctly
    * rounded, the same contract as the int64 form.
    *
    * Serving shape: corpus scalars (N, C) are a 1-row aggregate over
    * the norms store; the two ≤cap posting lists broadcast INTO the
    * norms join (dl lookup — postings are the small side by
    * construction); everything after runs at serving scale.
    */
  def bm25FullQuery(index: DataFrame, norms: DataFrame, k: Int,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val idx = Checkpoints.pin(index, checkpointDir, eager = false)
    val nc = norms.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("c_tokens"))
    val top2 = idx.select(col("token"), col("df")).distinct()
      .orderBy(col("df").desc, col("token").asc).limit(2)
    val ab = top2.agg(min(col("token")).as("ta"), max(col("token")).as("tb"))
      .filter(col("ta") =!= col("tb"))
    def side(term: String, sfx: String) = {
      val post = idx.join(broadcast(ab), col("token") === col(term))
        .select(col("doc_id"), col("tf"), col("df"))
      // DECIMAL(38,0) folds: the int64 forms overflow inside the op's
      // own envelope (num multiplies tf·C·2N — C alone is ~1e12 at
      // corpus scale; the r16 review finding); the decimal→double
      // casts stay correctly rounded
      norms.join(broadcast(post), "doc_id")
        .crossJoin(broadcast(nc)) // 1 row by construction
        .select(col("doc_id"), col("tf").as(s"tf_$sfx"),
          ((d38(lit(44L) * col("tf")) * d38(col("c_tokens")) *
            d38(lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)))
            .cast("double") /
            ((d38(lit(20L) * col("tf")) * d38(col("c_tokens")) +
              d38(lit(6L)) * d38(col("c_tokens")) +
              d38(lit(18L) * col("dl")) * d38(col("n_docs"))) *
              d38(lit(2L) * col("df") + lit(1L))).cast("double"))
            .as(s"s_$sfx"))
    }
    val j = side("ta", "a").join(side("tb", "b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("tf_a"), lit(0L)).as("tf_a"),
        coalesce(col("tf_b"), lit(0L)).as("tf_b"),
        (coalesce(col("s_a"), lit(0.0)) + coalesce(col("s_b"), lit(0.0)))
          .as("_s"))
    topKRanked(j, k, col("_s").desc, col("doc_id").asc)
      .select(col("doc_id"), col("tf_a"), col("tf_b"),
        round(col("_s"), 6).as("score"), col("rk"))
  }

  /** POSITIONAL postings — the phrase-capable index artifact:
    * (token, doc_id, tf, positions) with 0-based in-doc positions,
    * sorted (collect_list order is partition-dependent; the sort
    * makes the artifact deterministic). One hash aggregate over the
    * posexploded corpus — [[tokenPostings]] with positions carried;
    * array length per row is that token's tf in that doc, so a
    * posting row is bounded the way the tf column already is.
    */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Per-slice POSITIONAL postings — the positional index's warehouse
    * slices (the [[indexSlices]] lifecycle applied to the
    * phrase-capable artifact): each corpus slice aggregates its own
    * text to (slice, token, doc_id, tf, positions) rows. Positions are
    * GLOBAL in-doc offsets: a document whose text arrives split across
    * slices passes the later parts' start offset via `offsetCol`
    * (local posexplode position + offset = the position a full-corpus
    * rescan would assign), so [[positionalMergeSlices]]'s re-sort
    * reassembles exactly the [[positionalPostings]] row. One hash
    * aggregate per slice — work ∝ new data, text scanned once per
    * slice ever (the indexSlices contract).
    */
  def positionalSlices(docs: DataFrame, idCol: String, textCol: String,
                       sliceCol: String,
                       offsetCol: Option[String] = None): DataFrame = {
    val off = offsetCol.map(col(_).cast("int")).getOrElse(lit(0))
    docs.select(col(sliceCol).as("slice"), col(idCol).as("doc_id"),
        off.as("_off"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
      .groupBy(col("slice"), col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos") + col("_off")))
          .as("positions"))
  }

  /** Fold stored positional slices back into the
    * [[positionalPostings]] artifact: tf sums and position arrays
    * flatten + re-sort per (token, doc) — order-independent, so any
    * slice split (including one document's text across several
    * slices, offsets carried by [[positionalSlices]]) merges to what
    * a full-corpus rescan builds. Integrity is ENFORCED, not assumed
    * (the indexMergeSlices negative-tf posture): a duplicate global
    * position means the same text was ingested twice — that row
    * RAISES rather than serving phantom phrase matches (tf would
    * double too; the position-set check catches both).
    */
  def positionalMergeSlices(slices: DataFrame): DataFrame =
    slices.groupBy(col("token"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"),
        array_sort(flatten(collect_list(col("positions")))).as("_p"))
      .select(col("token"), col("doc_id"), col("tf"),
        when(size(array_distinct(col("_p"))) === size(col("_p")) &&
          size(col("_p")).cast("long") === col("tf"), col("_p"))
          .otherwise(raise_error(concat(
            lit("positionalMergeSlices: duplicate position for token "),
            col("token"), lit(" doc "), col("doc_id").cast("string"),
            lit(" — the same text was ingested twice"))))
          .as("positions"))

  /** Incremental positional ingest — [[indexIngest]] for the
    * positional store: aggregate ONLY the new slice's text through
    * [[positionalSlices]] (the same one code path as batch build) and
    * APPEND its rows to the token-bucketed table; history files stay
    * untouched. STREAMING: call per micro-batch inside `foreachBatch`
    * with slice = batch id (StreamingSpec pins per-batch ingest ≡
    * one-shot, append-only files).
    */
  def positionalIngest(docs: DataFrame, idCol: String, textCol: String,
                       sliceCol: String, table: String, buckets: Int,
                       offsetCol: Option[String] = None): Unit =
    Bucketing.appendBucketed(
      positionalSlices(docs, idCol, textCol, sliceCol, offsetCol),
      table, Seq("token"), buckets, sortCols = Seq("token"))

  /** Compact positional store slices into ONE replacement slice —
    * [[indexCompact]] for the positional index: the merged rows
    * re-tagged with a fresh slice id. The merge is an associative
    * set-union (flatten + re-sort), so compaction commutes with
    * reads the same way the tf-sum compaction does.
    */
  def positionalCompact(slices: DataFrame, newSlice: Long): DataFrame =
    positionalMergeSlices(slices).select(lit(newSlice).as("slice"),
      col("token"), col("doc_id"), col("tf"), col("positions"))

  /** DOC-ID-addressed deletes for the positional store — the
    * [[graft.ops.Similarity.applyTombstones]] posture rather than
    * [[indexTombstones]]'s content-addressed negation: position SETS
    * don't cancel arithmetically the way tf sums do, and a positional
    * delete is in practice "drop the document" (re-ingests go through
    * delete + append). The delete log is an append-only (doc_id)
    * frame; this read anti-joins it — store files stay untouched, and
    * a later compaction that rewrites without the deleted docs serves
    * the identical rows (the q213/q215 contract, proven by q254's
    * oracle recomputing from the corpus minus the deleted docs).
    */
  def positionalApplyTombstones(slices: DataFrame,
                                deletes: DataFrame): DataFrame =
    slices.join(deletes.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** PHRASE query on the positional index: docs where `w1` is
    * immediately followed by `w2`, ranked by match count — the
    * two-token exact-phrase read every positional index exists for.
    * `terms` is a 1-row (w1, w2) frame (w1 = w2 is legal: "the the"
    * self-adjacency counts positions p with p+1 also present). The
    * adjacency test is an in-row `array_intersect(pa+1, pb)` —
    * positions are distinct by construction so set semantics are
    * exact.
    *
    * Serving shape: the index is read twice with a pushed token
    * filter (rows ∝ df of the two query terms — narrow position
    * arrays, not text), one equi-join on doc_id, one top-k rank;
    * nothing scales with corpus size beyond those posting rows.
    */
  def phraseQuery(pindex: DataFrame, terms: DataFrame, k: Int,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // both term sides read the index AND the terms frame — each
    // pinned so a derived pindex (store merge) and a derived term
    // pick (a corpus aggregate) evaluate once, not per side
    val p = Checkpoints.pin(pindex, checkpointDir, eager = false)
    val t = Checkpoints.pin(terms, checkpointDir, eager = false)
    val a = p.join(broadcast(t), col("token") === col("w1"))
      .select(col("doc_id"), col("positions").as("pa"))
    val b = p.join(broadcast(t), col("token") === col("w2"))
      .select(col("doc_id"), col("positions").as("pb"))
    val m = a.join(b, "doc_id")
      .select(col("doc_id"),
        size(array_intersect(transform(col("pa"), p => p + 1),
          col("pb"))).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
    topKRanked(m, k, col("n_matches").desc, col("doc_id").asc)
  }


  /** k-term exact PHRASE query over [[positionalPostings]] — the
    * general form of [[phraseQuery]] (which stays as the optimized
    * two-term in-row intersect): `terms` is an (ord, token) frame,
    * ord = 0-based position in the phrase (duplicate tokens at
    * several ords are legal — "a a b" joins the 'a' postings twice),
    * and a document matches at anchor position `a` when EVERY ord has
    * its token at `a + ord`. Each posting position maps to its
    * candidate anchor (`pos − ord`); an anchor seen under all k
    * distinct ords is an occurrence — the classic positional-index
    * phrase algorithm as two hash aggregates.
    *
    * Serving shape: posting rows ∝ Σ df of the query terms (pushed
    * token join against the store), one anchor explode ∝ Σ tf, two
    * hash aggregates, one ≤candidates rank — nothing corpus-scale.
    */
  def phraseQueryK(pindex: DataFrame, terms: DataFrame, k: Int,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val p = Checkpoints.pin(pindex, checkpointDir, eager = false)
    val t = Checkpoints.pin(terms, checkpointDir, eager = false)
    // the phrase length travels as a 1-row frame (the nDocs posture):
    // a doc matches only when an anchor carries ALL k ords
    val nk = t.agg(countDistinct(col("ord")).as("_k"))
    val anchors = p.join(broadcast(t), Seq("token"))
      .select(col("doc_id"), col("ord"),
        explode(col("positions")).as("pos"))
      .select(col("doc_id"), col("ord"), (col("pos") - col("ord")).as("anchor"))
    val m = anchors.groupBy(col("doc_id"), col("anchor"))
      .agg(countDistinct(col("ord")).as("_n"))
      .crossJoin(broadcast(nk)) // 1 row by construction
      .filter(col("_n") === col("_k"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
    topKRanked(m, k, col("n_matches").desc, col("doc_id").asc)
  }

  /** Proximity (slop) query over [[positionalPostings]] —
    * [[phraseQuery]] relaxed to "w2 within `slop` tokens AFTER w1":
    * counts ordered position pairs (p, q) with 1 ≤ q − p ≤ slop, so
    * slop = 1 IS exact adjacency (pinned ≡ phraseQuery in the spec).
    * The pair count stays IN-ROW over the two posting arrays
    * (aggregate + filter higher-order functions — no explode, no join
    * growth; per candidate doc the work is |pa|·|pb|, both bounded by
    * doc length). Serving-scale top-k by (n_matches desc, doc_id) —
    * the q209 rank over ≤ |candidate docs| rows.
    */
  def proximityQuery(pindex: DataFrame, terms: DataFrame, k: Int,
                     slop: Int,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(slop >= 1, "slop must be >= 1")
    // the phraseQuery pins: one index derivation and one term-pick
    // derivation for both term sides
    val p = Checkpoints.pin(pindex, checkpointDir, eager = false)
    val t = Checkpoints.pin(terms, checkpointDir, eager = false)
    val a = p.join(broadcast(t), col("token") === col("w1"))
      .select(col("doc_id"), col("positions").as("pa"))
    val b = p.join(broadcast(t), col("token") === col("w2"))
      .select(col("doc_id"), col("positions").as("pb"))
    val m = a.join(b, "doc_id")
      .select(col("doc_id"),
        expr(("aggregate(pa, 0L, (acc, p) -> acc + " +
          s"size(filter(pb, q -> q > p AND q <= p + $slop)))"))
          .as("n_matches"))
      .filter(col("n_matches") > 0)
    topKRanked(m, k, col("n_matches").desc, col("doc_id").asc)
  }

  /** Snippet/highlight extraction for phrase hits — the serving step
    * AFTER ranking that every search result page needs: for each hit
    * doc, the text window of `context` tokens around the FIRST
    * occurrence of the (w1, w2) phrase, plus that occurrence's
    * 0-based anchor position. `hits` is [[phraseQuery]]'s output
    * (doc_id, n_matches, rk — ≤ k rows, broadcast); `terms` the 1-row
    * (w1, w2) statistic the hits were ranked under.
    *
    * Serving shape: the k-row hit frame broadcasts INTO one documents
    * join (text touched only for the k result docs), the first-anchor
    * scan and the window slice are in-row higher-order functions —
    * per-doc work ∝ doc length, total work ∝ k docs, never corpus
    * scale. n_matches > 0 guarantees the anchor exists; the window
    * clamps at both document edges.
    */
  def phraseSnippets(docs: DataFrame, hits: DataFrame, terms: DataFrame,
                     context: Int,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(context >= 0, "context must be >= 0")
    val t = Checkpoints.pin(terms, checkpointDir, eager = false)
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(hits.select(col("doc_id"), col("n_matches"),
        col("rk"))), "doc_id")
      .crossJoin(broadcast(t)) // 1 row by construction
      .withColumn("_ws", split(col("text"), " "))
      // first 1-based index i with ws[i] = w1 and ws[i+1] = w2 — the
      // guaranteed-present anchor (n_matches counted the same pairs)
      .withColumn("_a", expr(
        "element_at(filter(sequence(1, size(_ws) - 1), " +
          "i -> element_at(_ws, i) = w1 AND " +
          "element_at(_ws, i + 1) = w2), 1)"))
      .select(col("doc_id"), col("rk"), col("n_matches"),
        (col("_a") - 1).cast("long").as("first_pos"),
        array_join(slice(col("_ws"),
          greatest(lit(1), col("_a") - context),
          least(size(col("_ws")), col("_a") + context + 1) -
            greatest(lit(1), col("_a") - context) + 1), " ")
          .as("snippet"))
  }

  /** Term-highlight SNIPPETS for the k-term OR search ([[bm25QueryK]]
    * results — the q262 literal query): [[phraseSnippets]]' sibling
    * for queries with no phrase to anchor on. Per hit doc, every
    * position holding ANY query term is an anchor candidate; the BEST
    * window is the one showing the most DISTINCT query terms within
    * ±`window` tokens (ties to the earliest anchor — a deterministic,
    * engine-replayable pick), and the emitted snippet is that window.
    * A doc matching only one term simply shows a 1-term window — the
    * n_window_terms column says how much of the query the snippet
    * covers.
    *
    * Serving shape: the ≤ k hits BROADCAST into ONE documents join
    * (text touched only for the result docs — at 100 TB an
    * id-addressed doc store serves this point-read); anchor scan,
    * per-anchor distinct-term counting and the argmax fold are all
    * in-row higher-order functions — no explode, no extra shuffle.
    */
  def termSnippets(docs: DataFrame, hits: DataFrame, terms: DataFrame,
                   window: Int,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(window >= 0, "window must be >= 0")
    // the query-term SET as one broadcast row (order-insensitive —
    // only membership matters)
    val qt = Checkpoints.pin(
      terms.agg(sort_array(collect_set(col("token"))).as("qt")),
      checkpointDir, eager = false)
    val cnt = s"""size(array_distinct(filter(
      slice(_ws, greatest(1, i - $window),
        least(size(_ws), i + $window) - greatest(1, i - $window) + 1),
      x -> array_contains(qt, x))))"""
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(hits.select(col("doc_id"), col("n_terms_hit"),
        col("rk"))), "doc_id")
      .crossJoin(broadcast(qt)) // 1 row by construction
      .withColumn("_ws", split(col("text"), " "))
      // anchors = positions holding a query term (guaranteed non-empty:
      // a hit doc's postings came from this text); fold to the
      // (count, anchor) argmax — strict > keeps the EARLIEST tie
      .withColumn("_best", expr(s"""
        aggregate(
          transform(
            filter(sequence(1, size(_ws)),
              i -> array_contains(qt, element_at(_ws, i))),
            i -> named_struct('c', $cnt, 'a', i)),
          named_struct('c', -1, 'a', 0),
          (acc, s) -> IF(s.c > acc.c, s, acc))"""))
      .select(col("doc_id"), col("rk"), col("n_terms_hit"),
        (col("_best.a") - 1).cast("long").as("anchor"),
        col("_best.c").cast("long").as("n_window_terms"),
        array_join(slice(col("_ws"),
          greatest(lit(1), col("_best.a") - window),
          least(size(col("_ws")), col("_best.a") + window) -
            greatest(lit(1), col("_best.a") - window) + 1), " ")
          .as("snippet"))
  }

  /** Batched passage retrieval — the [[bm25QueryBatch]] pattern
    * applied to [[passageSearch]]: N RAG queries answered in ONE pass
    * over the chunk-level capped index (the offline-eval /
    * context-precompute read). Scoring, the composite-cid decompose,
    * and the MaxP struct-argmax all run per (qid, doc) in the same
    * hash aggregates; the per-query rank is a qid-PARTITIONED
    * WindowGroupLimit — more queries = more partitions, never more
    * single-task work. The spec pins batch ≡ per-query
    * [[passageSearch]] bit-identically.
    */
  def passageSearchBatch(chunkIndex: DataFrame, nChunks: DataFrame,
                         queries: DataFrame, nTerms: Int, k: Int,
                         chunkKeyBase: Long = 100000L,
                         checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nTerms >= 1 && nTerms <= 8,
      "nTerms must be in [1, 8] (the pivot width)")
    require(chunkKeyBase >= 2L, "chunkKeyBase must exceed any chunk_id")
    val idx = Checkpoints.pin(chunkIndex, checkpointDir, eager = false)
    val q = Checkpoints.pin(queries.select(col("qid"),
      when(col("ord") < 0 || col("ord") >= nTerms,
        raise_error(concat(lit("passageSearchBatch: ord "),
          col("ord").cast("string"),
          lit(s" outside [0, $nTerms) — raise nTerms to cover every " +
            "query term")))).otherwise(col("ord")).as("ord"),
      col("token")), checkpointDir, eager = false)
    val n1 = oneRowScalar(
      nChunks.select(col("n_chunks").as("n_docs")), "n_docs",
      "passageSearchBatch")
    val scored = idx.join(broadcast(q), Seq("token"))
      .crossJoin(broadcast(n1)) // exactly 1 row — enforced above
      .select(col("qid"), col("doc_id"), col("ord"),
        bm25ImpactCol.as("_s"))
    val pivots = (0 until nTerms).map(i =>
      max(when(col("ord") === i, col("_s"))).as(s"_s$i"))
    val g = scored.groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), pivots: _*)
    val score = (0 until nTerms).map(i =>
      coalesce(col(s"_s$i"), lit(0.0))).reduceLeft(_ + _)
    val best = g.withColumn("_score", score)
      .select(col("qid"), expr(s"doc_id div ${chunkKeyBase}L").as("d"),
        pmod(col("doc_id"), lit(chunkKeyBase)).as("ch"),
        col("n_terms_hit"), col("_score"))
      .groupBy(col("qid"), col("d"))
      .agg(max(struct(col("_score").as("s"), (-col("ch")).as("nch"),
        col("n_terms_hit").as("h"))).as("m"))
      .select(col("qid"), col("d").as("doc_id"),
        (-col("m.nch")).as("chunk_id"), col("m.h").as("n_terms_hit"),
        col("m.s").as("_score"))
    TopN.perGroup(best, Seq("qid"), "_score", Seq("doc_id"), k,
        rankName = "rk")
      .select(col("qid"), col("doc_id"), col("chunk_id"),
        col("n_terms_hit"), round(col("_score"), 6).as("score"),
        col("rk").cast("long").as("rk"))
  }
}
