package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.ops._
import DedupQueries.{duckBandsCte, duckEdgesBody}

/** Search over the written index stores ([[Stores.index]],
  * [[Stores.positional]], the chunk, dictionary and facet stores):
  * inverted index build and lifecycle, BM25 and threshold retrieval,
  * phrase and proximity queries, autocomplete, fuzzy and typo search,
  * faceted, filtered, hybrid and passage retrieval.
  */
object SearchQueries {
  /** The phrase/proximity serving view: the positional store
    * PREFILTERED to the caller's query-token frame (a broadcast
    * semi-join on token — the bucket scan streams through it) BEFORE
    * the position-set merge, so the per-query aggregate touches only
    * the query terms' posting rows, never the whole index. Callers
    * pass tokens off a persisted term statistic ([[bigramTokens]] for
    * the two-term reads, [[trigramTerms]] for the k-term ones) —
    * never a per-query corpus aggregate.
    */
  private def storedPositional(s: SparkSession, dir: String,
                               tokens: DataFrame): DataFrame =
    TextAnalysis.positionalMergeSlices(
      Stores.positional(s, dir)
        .join(broadcast(tokens), Seq("token"), "left_semi"))

  /** The bigram statistic's distinct tokens — the prefilter frame the
    * two-term reads pass to [[storedPositional]].
    */
  private[queries] def bigramTokens(s: SparkSession, dir: String): DataFrame =
    Stores.topBigram(s, dir)
      .select(explode(array(col("w1"), col("w2"))).as("token")).distinct()

  /** The trigram statistic as the (ord, token) frame the k-term reads
    * (q257/q259/q260) consume.
    */
  private def trigramTerms(s: SparkSession, dir: String): DataFrame =
    Stores.topTrigram(s, dir)
      .select(posexplode(array(col("w1"), col("w2"), col("w3")))
        .as(Seq("ord", "token")))

  /** Shared DuckDB positional oracle — q209/q249/q254 (phrase)
    * and q238/q250 (proximity) all replay the same positional
    * machinery: bigram pick over the FULL corpus, positional side
    * optionally restricted (`posWhere` — the tombstone entry deletes
    * docs from the INDEX, never from the term derivation), match
    * expression per query kind.
    */
  private[queries] def posOracle(posWhere: String, matchExpr: String): String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |pr AS (
       |  SELECT g.w1 AS w1, g.w2 AS w2 FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
       |             i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS g
       |    FROM w WHERE len(ws) >= 2)),
       |bg AS (
       |  SELECT w1, w2 FROM (
       |    SELECT w1, w2, count(*) AS c FROM pr GROUP BY 1, 2)
       |  ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1),
       |pos AS (
       |  SELECT doc_id, g.t AS token, g.p AS p FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(generate_series(1, len(ws)),
       |             i -> {'t': ws[i], 'p': i})) AS g
       |    FROM w$posWhere)),
       |a AS (
       |  SELECT doc_id, list_sort(list(p)) AS pa
       |  FROM pos, bg WHERE token = w1 GROUP BY doc_id),
       |b AS (
       |  SELECT doc_id, list_sort(list(p)) AS pb
       |  FROM pos, bg WHERE token = w2 GROUP BY doc_id),
       |m AS (
       |  SELECT a.doc_id, $matchExpr AS n_matches
       |  FROM a JOIN b USING (doc_id))
       |SELECT doc_id, n_matches, rk FROM (
       |  SELECT doc_id, n_matches,
       |         row_number() OVER (ORDER BY n_matches DESC, doc_id ASC) AS rk
       |  FROM m WHERE n_matches > 0)
       |WHERE rk <= 20""".stripMargin

  // phrase adjacency replayed on 1-based positions (shift-invariant
  // vs Spark's 0-based posexplode); proximity = the slop-3 pair count
  private[queries] val phraseMatchExpr =
    "len(list_intersect(list_transform(pa, p -> p + 1), pb))::BIGINT"

  private val proximityMatchExpr =
    "CAST(list_sum(list_transform(pa,\n" +
    "           p -> len(list_filter(pb, q -> q > p AND q <= p + 3))))\n" +
    "           AS BIGINT)"

  private val q209PhraseSql: String = posOracle("", phraseMatchExpr)

  private val q238ProximitySql: String = posOracle("", proximityMatchExpr)

  val all: Seq[Query] = Seq(
    // capped inverted index: WindowGroupLimit pre-prunes the
    // per-token rank below the shuffle (the q04 plan); df keeps any
    // truncation observable (df > cap ⇒ truncated)
    Query("q202_inverted_index", (s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir), "doc_id",
        "text", maxPostings = 5),
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT token, count(*) AS df, sum(tf)::BIGINT AS cf
        |  FROM post GROUP BY 1),
        |ranked AS (
        |  SELECT token, doc_id, tf,
        |         row_number() OVER (PARTITION BY token
        |                            ORDER BY tf DESC, doc_id ASC) AS rk
        |  FROM post)
        |SELECT r.token, r.doc_id, r.tf, r.rk, s.df, s.cf
        |FROM ranked r JOIN stats s USING (token)
        |WHERE r.rk <= 5""".stripMargin)),

    // AND-query served from the capped view over the WRITTEN index
    // store: the two highest-df terms (the worst-case intersection),
    // top-20 by combined tf; everything after the vocab argmax runs
    // at serving scale, and the corpus text is never rescanned
    Query("q203_and_query", (s, dir) =>
      TextAnalysis.andQuery(Stores.cappedIndex(s, dir),
        k = 20),
      // the capped-index read replayed end-to-end: same cap (1000),
      // same top-2-df term pick, same combined-tf ranking
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  -- df is the UNCAPPED document frequency (what the index's
        |  -- stats column carries), not the capped posting length
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |ab AS (
        |  SELECT min(token) AS ta, max(token) AS tb FROM (
        |    SELECT token FROM vocab
        |    ORDER BY df DESC, token ASC LIMIT 2)),
        |a AS (SELECT doc_id, tf AS tf_a FROM idx, ab WHERE token = ta),
        |b AS (SELECT doc_id, tf AS tf_b FROM idx, ab WHERE token = tb)
        |SELECT doc_id, tf_a, tf_b, tf_a + tf_b AS score, rk FROM (
        |  SELECT a.doc_id, tf_a, tf_b,
        |         row_number() OVER (ORDER BY tf_a + tf_b DESC,
        |                            a.doc_id ASC) AS rk
        |  FROM a JOIN b ON a.doc_id = b.doc_id)
        |WHERE rk <= 20""".stripMargin)),

    // inverted-index WAREHOUSE: each doc's text arrives split across
    // two slices (the append-log case — first-half words in slice 0,
    // rest in slice 1; short docs whole), per-slice postings
    // store-merge by tf-sum, capped view rebuilt through the SHARED
    // read body — the oracle is the full-corpus q202 index, proving
    // store-merge ≡ rescan relationally
    Query("q204_index_store", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val words = split(col("text"), " ")
      val n = size(words)
      val whole = d.filter(size(split(col("text"), " ")) < 4)
        .select(col("doc_id"), lit(0).as("slice"), col("text"))
      val big = d.filter(size(split(col("text"), " ")) >= 4)
      // integer halving: Column `/` is double division, and the
      // implicit double→int truncation drops the last word of every
      // odd-length doc (n=5 → lengths 2.5/3.5/2.5) — floor to int
      val half = floor(n / 2).cast("int")
      val partA = big.select(col("doc_id"), lit(0).as("slice"),
        array_join(slice(words, lit(1), half), " ").as("text"))
      val partB = big.select(col("doc_id"), lit(1).as("slice"),
        array_join(slice(words, half + 1, n - half), " ").as("text"))
      val store = TextAnalysis.indexSlices(
        whole.unionByName(partA).unionByName(partB),
        "doc_id", "text", "slice")
      TextAnalysis.cappedIndex(
        TextAnalysis.indexMergeSlices(store), maxPostings = 5)
    },
      // the merge ≡ rescan identity: the store round-trip (split-text
      // slices → tf-sum merge → shared capped read) must land on
      // EXACTLY the full-corpus index — so the oracle IS q202's query
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT token, count(*) AS df, sum(tf)::BIGINT AS cf
        |  FROM post GROUP BY 1),
        |ranked AS (
        |  SELECT token, doc_id, tf,
        |         row_number() OVER (PARTITION BY token
        |                            ORDER BY tf DESC, doc_id ASC) AS rk
        |  FROM post)
        |SELECT r.token, r.doc_id, r.tf, r.rk, s.df, s.cf
        |FROM ranked r JOIN stats s USING (token)
        |WHERE r.rk <= 5""".stripMargin)),

    // index-store COMPACTION: generation 0 (slices 0+1 — the q204
    // split, so doc tokens SPAN the compacted slices) folds into one
    // replacement slice, generation 1 (whole short docs, slice 2)
    // stays; the re-merged read must land on the full-corpus q202
    // index — compaction commutes with reads because the merge is an
    // associative tf sum
    Query("q205_index_compaction", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val words = split(col("text"), " ")
      val n = size(words)
      val whole = d.filter(size(split(col("text"), " ")) < 4)
        .select(col("doc_id"), lit(2).as("slice"), col("text"))
      val big = d.filter(size(split(col("text"), " ")) >= 4)
      val half = floor(n / 2).cast("int")
      val partA = big.select(col("doc_id"), lit(0).as("slice"),
        array_join(slice(words, lit(1), half), " ").as("text"))
      val partB = big.select(col("doc_id"), lit(1).as("slice"),
        array_join(slice(words, half + 1, n - half), " ").as("text"))
      val slices = TextAnalysis.indexSlices(
        whole.unionByName(partA).unionByName(partB),
        "doc_id", "text", "slice")
      val gen0 = TextAnalysis.indexCompact(
        slices.filter(col("slice") < 2), newSlice = 100L)
      val gen1 = slices.filter(col("slice") === 2)
        .select(col("slice").cast("long").as("slice"), col("token"),
          col("doc_id"), col("tf"))
      TextAnalysis.cappedIndex(
        TextAnalysis.indexMergeSlices(gen0.unionByName(gen1)),
        maxPostings = 5)
    },
      // compaction commutes with reads: the oracle IS q202's query again
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT token, count(*) AS df, sum(tf)::BIGINT AS cf
        |  FROM post GROUP BY 1),
        |ranked AS (
        |  SELECT token, doc_id, tf,
        |         row_number() OVER (PARTITION BY token
        |                            ORDER BY tf DESC, doc_id ASC) AS rk
        |  FROM post)
        |SELECT r.token, r.doc_id, r.tf, r.rk, s.df, s.cf
        |FROM ranked r JOIN stats s USING (token)
        |WHERE r.rk <= 5""".stripMargin)),

    // BM25-family scoring read on the capped index: tf-saturation ×
    // rational idf surrogate, both exact integer ratios (k1 = 6/5, no
    // ln/exp), summed by cross-multiplication — ONE correctly-rounded
    // double division ranks, so both engines sort identical doubles
    // index AND corpus count both come off the store pair (postings +
    // norms file) — the query plan touches no corpus text at all
    Query("q206_bm25", (s, dir) =>
      TextAnalysis.bm25Query(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")), k = 20),
      // the BM25 read replayed: same capped postings, same top-2-df term
      // pick, the same integer-ratio arithmetic and ONE double division
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |ab AS (
        |  SELECT min(token) AS ta, max(token) AS tb FROM (
        |    SELECT token FROM vocab
        |    ORDER BY df DESC, token ASC LIMIT 2)),
        |a AS (
        |  SELECT i.doc_id, i.tf AS tf_a,
        |         11 * i.tf * (2 * n_docs - 2 * v.df + 1) AS num_a,
        |         (5 * i.tf + 6) * (2 * v.df + 1) AS den_a
        |  FROM idx i JOIN vocab v USING (token), ab, nd
        |  WHERE i.token = ta),
        |b AS (
        |  SELECT i.doc_id, i.tf AS tf_b,
        |         11 * i.tf * (2 * n_docs - 2 * v.df + 1) AS num_b,
        |         (5 * i.tf + 6) * (2 * v.df + 1) AS den_b
        |  FROM idx i JOIN vocab v USING (token), ab, nd
        |  WHERE i.token = tb),
        |j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         coalesce(tf_a, 0) AS tf_a, coalesce(tf_b, 0) AS tf_b,
        |         (coalesce(num_a, 0) * coalesce(den_b, 1)
        |          + coalesce(num_b, 0) * coalesce(den_a, 1))::DOUBLE
        |         / (coalesce(den_a, 1) * coalesce(den_b, 1))::DOUBLE AS s
        |  FROM a FULL JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, tf_a, tf_b, round(s, 6) AS score, rk FROM (
        |  SELECT doc_id, tf_a, tf_b, s,
        |         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rk
        |  FROM j)
        |WHERE rk <= 20""".stripMargin)),

    // full BM25 with length normalization (b = 3/4, k1 = 6/5): the
    // norms store supplies dl and the corpus scalars; each term's
    // score is ONE correctly-rounded division of exact integers and
    // the OR sum ONE addition in fixed order — bit-exact both engines
    Query("q207_bm25_full", (s, dir) =>
      TextAnalysis.bm25FullQuery(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir), k = 20),
      // full BM25 replayed: same integer numerator/denominator per
      // term, one division + one fixed-order addition of doubles
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |norms AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
        |  FROM documents),
        |nc AS (
        |  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS c_tokens
        |  FROM norms),
        |ab AS (
        |  SELECT min(token) AS ta, max(token) AS tb FROM (
        |    SELECT token FROM vocab
        |    ORDER BY df DESC, token ASC LIMIT 2)),
        |a AS (
        |  SELECT i.doc_id, i.tf AS tf_a,
        |         (44 * i.tf * c_tokens
        |          * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((20 * i.tf * c_tokens + 6 * c_tokens
        |             + 18 * n.dl * n_docs) * (2 * v.df + 1))::DOUBLE AS s_a
        |  FROM idx i JOIN vocab v USING (token)
        |       JOIN norms n USING (doc_id), ab, nc
        |  WHERE i.token = ta),
        |b AS (
        |  SELECT i.doc_id, i.tf AS tf_b,
        |         (44 * i.tf * c_tokens
        |          * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((20 * i.tf * c_tokens + 6 * c_tokens
        |             + 18 * n.dl * n_docs) * (2 * v.df + 1))::DOUBLE AS s_b
        |  FROM idx i JOIN vocab v USING (token)
        |       JOIN norms n USING (doc_id), ab, nc
        |  WHERE i.token = tb),
        |j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         coalesce(tf_a, 0) AS tf_a, coalesce(tf_b, 0) AS tf_b,
        |         coalesce(s_a, 0.0) + coalesce(s_b, 0.0) AS s
        |  FROM a FULL JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, tf_a, tf_b, round(s, 6) AS score, rk FROM (
        |  SELECT doc_id, tf_a, tf_b, s,
        |         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rk
        |  FROM j)
        |WHERE rk <= 20""".stripMargin)),

    // phrase query SERVED FROM the written positional store (the
    // q206 posture — postings come off bucket files, the corpus is
    // never posexploded at query time): the corpus's most frequent
    // bigram (count desc, lexicographic tie-break — deterministic at
    // every SF) served as an exact-adjacency phrase match; the >= 2
    // filter guards Spark's descending sequence(0, -1) on 1-word docs
    Query("q209_phrase_query", (s, dir) =>
      TextAnalysis.phraseQuery(
        storedPositional(s, dir, bigramTokens(s, dir)),
        Stores.topBigram(s, dir), k = 20),
      // phrase adjacency replayed on 1-based positions (adjacency is
      // shift-invariant vs Spark's 0-based posexplode). The SAME oracle
      // proves the store lifecycle entry: q249's Spark side merges
      // offset-carrying split slices, so green = merge ≡ rescan
      Oracle(q209PhraseSql)),

    // the q209 phrase relaxed to "within 3 tokens after" — same
    // positional store read, same query terms, in-row pair counting
    Query("q238_proximity_query", (s, dir) =>
      TextAnalysis.proximityQuery(
        storedPositional(s, dir, bigramTokens(s, dir)),
        Stores.topBigram(s, dir), k = 20, slop = 3),
      // q209's positional machinery with the slop-3 pair count in place
      // of the adjacency intersect; q250's Spark side re-merges a
      // compacted generation, so the shared oracle proves compaction
      // commutes with reads
      Oracle(q238ProximitySql)),

    // index tombstone DELETES (the LSM posture): every doc_id % 10 = 0
    // doc is deleted by appending its negated postings; the merged
    // capped read must equal the index over the corpus WITHOUT those
    // docs — deletes cancel exactly, history files untouched
    Query("q212_index_tombstones", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // the ingest half reads the WRITTEN index store: the merge
      // is slice-agnostic (sums by (token, doc_id)), so the store's
      // generation tagging produces the identical merged frame as an
      // inline slice-0 rebuild — only the tombstone slice (request-
      // scale) derives from the corpus per query
      val ingest = Stores.index(s, dir)
      val tomb = TextAnalysis.indexTombstones(
        d.filter(col("doc_id") % 10 === 0).withColumn("slice", lit(9L)),
        "doc_id", "text", "slice")
      TextAnalysis.cappedIndex(
        TextAnalysis.indexMergeSlices(ingest.unionByName(tomb)),
        maxPostings = 5)
    },
      // deletes cancel exactly: the oracle is the q202 index over the
      // corpus MINUS the tombstoned docs
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 10 <> 0)
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT token, count(*) AS df, sum(tf)::BIGINT AS cf
        |  FROM post GROUP BY 1),
        |ranked AS (
        |  SELECT token, doc_id, tf,
        |         row_number() OVER (PARTITION BY token
        |                            ORDER BY tf DESC, doc_id ASC) AS rk
        |  FROM post)
        |SELECT r.token, r.doc_id, r.tf, r.rk, s.df, s.cf
        |FROM ranked r JOIN stats s USING (token)
        |WHERE r.rk <= 5""".stripMargin)),

    // threshold-algorithm CERTIFIED pruned retrieval: score only each
    // query term's top-256 impact postings, prove kth score > τ (the
    // Fagin bound — a failed certificate raises, never mis-serves; the
    // flat-tf corpus needs m ≈ 120 at sf0.1, measured, so 256 carries
    // margin while still pruning the ≤1000-posting lists), and the
    // oracle is the EXHAUSTIVE q206 scoring: green = the pruned read
    // provably returns the exhaustive top-20
    Query("q223_ta_topk", (s, dir) =>
      TextAnalysis.taTopK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        k = 20, m = 256),
      // exhaustive scoring — the q206 oracle verbatim: the pruned
      // TA read must reproduce it exactly (the certificate guarantees it)
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |ab AS (
        |  SELECT min(token) AS ta, max(token) AS tb FROM (
        |    SELECT token FROM vocab
        |    ORDER BY df DESC, token ASC LIMIT 2)),
        |a AS (
        |  SELECT i.doc_id, i.tf AS tf_a,
        |         11 * i.tf * (2 * n_docs - 2 * v.df + 1) AS num_a,
        |         (5 * i.tf + 6) * (2 * v.df + 1) AS den_a
        |  FROM idx i JOIN vocab v USING (token), ab, nd
        |  WHERE i.token = ta),
        |b AS (
        |  SELECT i.doc_id, i.tf AS tf_b,
        |         11 * i.tf * (2 * n_docs - 2 * v.df + 1) AS num_b,
        |         (5 * i.tf + 6) * (2 * v.df + 1) AS den_b
        |  FROM idx i JOIN vocab v USING (token), ab, nd
        |  WHERE i.token = tb),
        |j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         coalesce(tf_a, 0) AS tf_a, coalesce(tf_b, 0) AS tf_b,
        |         (coalesce(num_a, 0) * coalesce(den_b, 1)
        |          + coalesce(num_b, 0) * coalesce(den_a, 1))::DOUBLE
        |         / (coalesce(den_a, 1) * coalesce(den_b, 1))::DOUBLE AS s
        |  FROM a FULL JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, tf_a, tf_b, round(s, 6) AS score, rk FROM (
        |  SELECT doc_id, tf_a, tf_b, s,
        |         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rk
        |  FROM j)
        |WHERE rk <= 20""".stripMargin)),

    // positional-index WAREHOUSE: each long doc's text arrives split
    // across two slices, part B carrying its start OFFSET (the q204
    // append-log case applied to positions — local posexplode pos +
    // offset = the global position a rescan would assign); the merged
    // read serves the q209 phrase. The oracle recomputes from the raw
    // corpus, so green = offset-merge ≡ rescan — including bigrams
    // that SPAN the slice boundary
    // SERVED from the WRITTEN split-slice store: the two-way doc
    // split + posexplode aggregation runs once per process at
    // [[Stores.splitPositional]]'s build (the identical derivation —
    // offsets carried, one positionalSlices code path); this read is
    // the merge + phrase over the token-bucketed rows. The merge groups
    // by (token, doc_id) and never reads the slice tag, so the store's
    // q250-layout tags (whole docs at slice 2, not 0) serve this
    // query's rows exactly — whole and split docs are disjoint id sets
    Query("q249_pidx_store", (s, dir) =>
      TextAnalysis.phraseQuery(
        TextAnalysis.positionalMergeSlices(Stores.splitPositional(s, dir)),
        Stores.topBigram(s, dir), k = 20),
      Oracle(q209PhraseSql)),

    // positional-store COMPACTION: generation 0 (the split slices 0+1)
    // folds into one replacement slice, generation 1 (whole short
    // docs, slice 2) stays; the re-merged read serves the q238
    // proximity — compaction commutes with reads because the merge is
    // an associative position-set union
    // the generation slices come off the WRITTEN split-slice store
    // (same layout: gen 0 = slices 0+1, gen 1 = whole docs at
    // slice 2); the compaction fold itself — the operation this query
    // proves commutes with reads — still runs here, per read, only its
    // INPUT slices stop being re-derived from the corpus per query
    Query("q250_pidx_compaction", (s, dir) => {
      val slices = Stores.splitPositional(s, dir)
      val gen0 = TextAnalysis.positionalCompact(
        slices.filter(col("slice") < 2), newSlice = 100L)
      val gen1 = slices.filter(col("slice") === 2)
        .select(col("slice").cast("long").as("slice"), col("token"),
          col("doc_id"), col("tf"), col("positions"))
      TextAnalysis.proximityQuery(
        TextAnalysis.positionalMergeSlices(gen0.unionByName(gen1)),
        Stores.topBigram(s, dir), k = 20, slop = 3)
    },
      Oracle(q238ProximitySql)),

    // positional-store DELETES (the q213 id-addressed posture —
    // position sets don't cancel arithmetically the way tf sums do):
    // every doc_id % 10 = 0 doc is deleted via the read-time
    // anti-join against an append-only delete log; the phrase read
    // must serve as if they were never ingested. Query TERMS still
    // derive from the full corpus (deleting docs must not move the
    // deterministic term pick) — the oracle restricts only the
    // positional side
    Query("q254_pidx_tombstones", (s, dir) => {
      // the slice frame reads the WRITTEN positional store: the
      // tombstone anti-join is by doc_id and the position-set merge is
      // slice-agnostic, so the store's generation tagging produces the
      // identical merged frame as an inline slice-0 rebuild — the
      // corpus is no longer posexploded per query
      val slices = Stores.positional(s, dir)
      val deletes = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"))
      TextAnalysis.phraseQuery(
        TextAnalysis.positionalMergeSlices(
          TextAnalysis.positionalApplyTombstones(slices, deletes)),
        Stores.topBigram(s, dir), k = 20)
    },
      // tombstones delete docs from the INDEX only: the positional side
      // filters, the term pick stays corpus-wide
      Oracle(
        posOracle(" WHERE doc_id % 10 <> 0", phraseMatchExpr))),

    // k-TERM exact phrase (k = 3): the corpus's most frequent trigram
    // served off the positional store — every posting position maps
    // to its candidate anchor (pos − ord) and an anchor seen under
    // all three ords is an occurrence; the general form of the q209
    // two-term intersect. Store-prefiltered to the (≤3) distinct
    // query tokens, terms off the persisted trigram statistic
    Query("q257_phrase_trigram", (s, dir) => {
      val terms = trigramTerms(s, dir)
      TextAnalysis.phraseQueryK(
        storedPositional(s, dir, terms.select(col("token")).distinct()),
        terms, k = 20)
    },
      // three-term phrase: anchors (p − ord) grouped per doc, an anchor
      // holding all 3 distinct ords is an occurrence — 1-based positions
      // are shift-invariant vs Spark's 0-based anchors
      Oracle(
        """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tr AS (
        |  SELECT g.t1 AS t1, g.t2 AS t2, g.t3 AS t3 FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
        |             i -> {'t1': ws[i], 't2': ws[i + 1], 't3': ws[i + 2]})) AS g
        |    FROM w WHERE len(ws) >= 3)),
        |tg AS (
        |  SELECT t1, t2, t3 FROM (
        |    SELECT t1, t2, t3, count(*) AS c FROM tr GROUP BY 1, 2, 3)
        |  ORDER BY c DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 1),
        |g AS (
        |  SELECT t1 AS token, 0 AS ord FROM tg
        |  UNION ALL SELECT t2, 1 FROM tg
        |  UNION ALL SELECT t3, 2 FROM tg),
        |pos AS (
        |  SELECT doc_id, g2.t AS token, g2.p AS p FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(generate_series(1, len(ws)),
        |             i -> {'t': ws[i], 'p': i})) AS g2
        |    FROM w)),
        |an AS (
        |  SELECT pos.doc_id AS doc_id, pos.p - g.ord AS anchor, g.ord AS ord
        |  FROM pos JOIN g USING (token)),
        |m AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_matches FROM (
        |    SELECT doc_id, anchor FROM an
        |    GROUP BY doc_id, anchor HAVING count(DISTINCT ord) = 3)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_matches, rk FROM (
        |  SELECT doc_id, n_matches,
        |         row_number() OVER (ORDER BY n_matches DESC, doc_id ASC) AS rk
        |  FROM m)
        |WHERE rk <= 20""".stripMargin)),

    // k-term conjunctive retrieval: docs carrying ALL distinct tokens
    // of the top trigram, ranked by summed tf — the AND-k membership
    // test is a hash aggregate (distinct matched tokens == k), never
    // a k-way join chain; served from the materialized capped index
    Query("q259_and_trigram", (s, dir) =>
      TextAnalysis.andQueryK(Stores.cappedIndex(s, dir),
        trigramTerms(s, dir),
        k = 20),
      // AND-k over the capped index replayed: same capped postings as
      // q203, membership = distinct matched tokens == the trigram's
      // distinct-token count
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tr AS (
        |  SELECT g.t1 AS t1, g.t2 AS t2, g.t3 AS t3 FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
        |             i -> {'t1': ws[i], 't2': ws[i + 1], 't3': ws[i + 2]})) AS g
        |    FROM w WHERE len(ws) >= 3)),
        |tg AS (
        |  SELECT t1, t2, t3 FROM (
        |    SELECT t1, t2, t3, count(*) AS c FROM tr GROUP BY 1, 2, 3)
        |  ORDER BY c DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 1),
        |g AS (
        |  SELECT DISTINCT token FROM (
        |    SELECT t1 AS token FROM tg
        |    UNION ALL SELECT t2 FROM tg
        |    UNION ALL SELECT t3 FROM tg)),
        |m AS (
        |  SELECT doc_id, sum(tf)::BIGINT AS score
        |  FROM idx JOIN g USING (token)
        |  GROUP BY doc_id
        |  HAVING count(DISTINCT token) = (SELECT count(*) FROM g))
        |SELECT doc_id, score, rk FROM (
        |  SELECT doc_id, score,
        |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
        |  FROM m)
        |WHERE rk <= 20""".stripMargin)),

    // k-term BM25 OR ranking over the trigram's terms: per term ONE
    // correctly-rounded division of the exact q206 rational, the
    // 3-way sum folded LEFT in fixed ord order so the oracle replays
    // the identical float expression tree; served from the
    // materialized capped index + norms store
    Query("q260_bm25_trigram", (s, dir) =>
      TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        trigramTerms(s, dir),
        nTerms = 3, k = 20),
      // k-term BM25: per-(doc, ord) rational scores, pivoted and summed
      // left in fixed ord order — the identical float expression tree
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tr AS (
        |  SELECT g.t1 AS t1, g.t2 AS t2, g.t3 AS t3 FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
        |             i -> {'t1': ws[i], 't2': ws[i + 1], 't3': ws[i + 2]})) AS g
        |    FROM w WHERE len(ws) >= 3)),
        |tg AS (
        |  SELECT t1, t2, t3 FROM (
        |    SELECT t1, t2, t3, count(*) AS c FROM tr GROUP BY 1, 2, 3)
        |  ORDER BY c DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 1),
        |g AS (
        |  SELECT t1 AS token, 0 AS ord FROM tg
        |  UNION ALL SELECT t2, 1 FROM tg
        |  UNION ALL SELECT t3, 2 FROM tg),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN vocab v USING (token), nd),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sk, 6) AS score, rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0)
        |           AS sk,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 20""".stripMargin)),

    // LITERAL user-query search — what a person types into a search
    // box, not a corpus-derived statistic: "hash join window" parsed
    // by searchTerms (whitespace tokens, first-occurrence ords),
    // ranked by the k-term BM25 OR sum off the materialized capped
    // index + norms store. The user story every other retrieval
    // entry's deterministic term pick stands in for
    Query("q262_search_literal", (s, dir) =>
      TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 20),
      // the literal query's three tokens replayed through the q260
      // capped-index BM25 body — terms are literals, not a derivation
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN vocab v USING (token), nd),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sk, 6) AS score, rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0)
        |           AS sk,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 20""".stripMargin)),

    // snippet/highlight extraction — the serving step AFTER ranking
    // that every result page needs: for the q209 phrase top-10, the
    // ±2-token window around each doc's FIRST phrase occurrence plus
    // its 0-based anchor. Hits broadcast into ONE documents join
    // (text touched only for the 10 result docs); anchor scan and
    // window slice are in-row higher-order functions
    Query("q263_phrase_snippets", (s, dir) =>
      TextAnalysis.phraseSnippets(
        Tables.documents(s, dir),
        TextAnalysis.phraseQuery(
          storedPositional(s, dir, bigramTokens(s, dir)),
          Stores.topBigram(s, dir), k = 10),
        Stores.topBigram(s, dir), context = 2),
      // the q209 phrase ranking (top 10) joined back to the corpus for
      // the first-anchor scan and the clamped ±2-token window — 1-based
      // list positions throughout, anchor emitted 0-based like Spark's
      Oracle(
        """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pr AS (
        |  SELECT g.w1 AS w1, g.w2 AS w2 FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |             i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS g
        |    FROM w WHERE len(ws) >= 2)),
        |bg AS (
        |  SELECT w1, w2 FROM (
        |    SELECT w1, w2, count(*) AS c FROM pr GROUP BY 1, 2)
        |  ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1),
        |pos AS (
        |  SELECT doc_id, g.t AS token, g.p AS p FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(generate_series(1, len(ws)),
        |             i -> {'t': ws[i], 'p': i})) AS g
        |    FROM w)),
        |a AS (
        |  SELECT doc_id, list_sort(list(p)) AS pa
        |  FROM pos, bg WHERE token = w1 GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, list_sort(list(p)) AS pb
        |  FROM pos, bg WHERE token = w2 GROUP BY doc_id),
        |m AS (
        |  SELECT a.doc_id,
        |         len(list_intersect(list_transform(pa, p -> p + 1),
        |           pb))::BIGINT AS n_matches
        |  FROM a JOIN b USING (doc_id)),
        |top AS (
        |  SELECT doc_id, n_matches, rk FROM (
        |    SELECT doc_id, n_matches,
        |           row_number() OVER (
        |             ORDER BY n_matches DESC, doc_id ASC) AS rk
        |    FROM m WHERE n_matches > 0)
        |  WHERE rk <= 10),
        |anch AS (
        |  SELECT t.doc_id AS doc_id, t.rk AS rk,
        |         t.n_matches AS n_matches, w.ws AS ws,
        |         list_filter(generate_series(1, len(w.ws) - 1),
        |           i -> w.ws[i] = bg.w1 AND w.ws[i + 1] = bg.w2)[1] AS a
        |  FROM top t JOIN w USING (doc_id), bg)
        |SELECT doc_id, rk, n_matches, (a - 1)::BIGINT AS first_pos,
        |       array_to_string(
        |         ws[greatest(1, a - 2):least(len(ws), a + 3)], ' ')
        |         AS snippet
        |FROM anch""".stripMargin)),

    // prefix autocomplete — the search-box suggestion read: terms
    // starting with the literal "s", ranked by df, served from the
    // WRITTEN term dictionary (token-sorted, so the pushed StartsWith
    // prunes row groups). Dictionary-scale work: no postings, no
    // corpus, regardless of corpus size
    Query("q264_prefix_search", (s, dir) =>
      TextAnalysis.prefixSearch(Stores.vocab(s, dir), "s", k = 10),
      // the term dictionary recomputed from the corpus (df = distinct
      // docs per token), prefix-filtered, df-ranked — green proves the
      // WRITTEN dictionary serves exactly what a corpus scan derives
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token, count(*)::BIGINT AS df FROM post GROUP BY 1)
        |SELECT token, df, rk::BIGINT AS rk FROM (
        |  SELECT token, df,
        |         row_number() OVER (ORDER BY df DESC, token ASC) AS rk
        |  FROM vocab WHERE starts_with(token, 's'))
        |WHERE rk <= 10""".stripMargin)),

    // fuzzy term lookup ("did you mean") for the literal misspelling
    // "sow": the SymSpell deletion-neighborhood store turns the query
    // into |q|+1 pushed variant probes; levenshtein verifies the
    // CANDIDATES only — never an edit-distance scan of the vocabulary
    Query("q265_fuzzy_term", (s, dir) =>
      TextAnalysis.fuzzyTerms(Stores.deletions(s, dir), "sow", k = 10),
      // brute-force levenshtein over the recomputed dictionary — the
      // oracle pays the O(V) scan the deletion-neighborhood store
      // exists to avoid; green proves the filter-verify candidate path
      // returns exactly the distance-<=1 set
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token, count(*)::BIGINT AS df FROM post GROUP BY 1)
        |SELECT token, df, lev, rk::BIGINT AS rk FROM (
        |  SELECT token, df, levenshtein(token, 'sow')::BIGINT AS lev,
        |         row_number() OVER (
        |           ORDER BY levenshtein(token, 'sow') ASC, df DESC,
        |             token ASC) AS rk
        |  FROM vocab WHERE levenshtein(token, 'sow') <= 1)
        |WHERE rk <= 10""".stripMargin)),

    // batched infix (wildcard *q*) search over the char-trigram index
    // store: seven literal infixes in ONE read — gram-AND candidates,
    // contains-verify on candidates only, per-query df rank. "uery"
    // exercises the multi-gram AND; "zzz" proves zero-match queries
    // emit nothing
    Query("q266_infix_search", (s, dir) =>
      TextAnalysis.infixSearch(Stores.trigrams(s, dir),
        Seq("oin", "ort", "rea", "ble", "alu", "uery", "zzz"), k = 5),
      // brute-force contains over the recomputed dictionary — the O(V)
      // scan the trigram index exists to avoid; green proves gram-AND +
      // verify returns exactly the infix-match set per query
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token, count(*)::BIGINT AS df FROM post GROUP BY 1),
        |qs AS (
        |  SELECT unnest(['oin', 'ort', 'rea', 'ble', 'alu', 'uery',
        |                 'zzz']) AS q)
        |SELECT q, token, df, rk::BIGINT AS rk FROM (
        |  SELECT q, token, df,
        |         row_number() OVER (PARTITION BY q
        |                            ORDER BY df DESC, token ASC) AS rk
        |  FROM qs JOIN vocab ON contains(token, q))
        |WHERE rk <= 5""".stripMargin)),

    // the full "did you mean" serving path: the misspelling "sow" is
    // corrected to the top fuzzy suggestion off the deletion-
    // neighborhood store, and the corrected term runs the capped-index
    // BM25 read — three written stores composed (delneigh → cidx +
    // norms), the corpus touched by none of them
    Query("q267_corrected_search", (s, dir) =>
      TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.fuzzyTerms(Stores.deletions(s, dir), "sow", k = 1)
          .select(lit(0).as("ord"), col("token")),
        nTerms = 1, k = 20),
      // the correction replayed brute-force (levenshtein argmin over the
      // dictionary), then the q262 single-term BM25 body with the
      // corrected token
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |corr AS (
        |  SELECT token FROM (
        |    SELECT token,
        |           row_number() OVER (
        |             ORDER BY levenshtein(token, 'sow') ASC, df DESC,
        |               token ASC) AS crk
        |    FROM vocab WHERE levenshtein(token, 'sow') <= 1)
        |  WHERE crk = 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (
        |  SELECT i.doc_id AS doc_id,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN corr USING (token) JOIN vocab v USING (token),
        |       nd),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit, max(s) AS s0
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(coalesce(s0, 0.0), 6) AS score,
        |       rk FROM (
        |  SELECT doc_id, n_terms_hit, s0,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 20""".stripMargin)),

    // typo-tolerant multi-term search — the full search box: the
    // literal "hash joi windo" parses to three terms, EVERY term is
    // batch-corrected against the deletion-neighborhood store in one
    // broadcast join (hash stays hash at lev 0; joi→join,
    // windo→window at lev 1; a term with no lev<=1 match would just
    // drop — scoring 0, as an unknown word should), and the corrected
    // frame runs the q262 k-term BM25 body off the capped index
    Query("q268_typo_search", (s, dir) =>
      TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.correctTerms(Stores.deletions(s, dir),
          "hash joi windo"),
        nTerms = 3, k = 20),
      // per-term brute-force correction (levenshtein argmin over the
      // dictionary, exact match winning at lev 0), then the q262 k-term
      // BM25 body with the corrected tokens
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |qt AS (
        |  SELECT * FROM (VALUES ('hash', 0), ('joi', 1), ('windo', 2))
        |    AS t(q, ord)),
        |corr AS (
        |  SELECT ord, token FROM (
        |    SELECT qt.ord AS ord, v.token AS token,
        |           row_number() OVER (PARTITION BY qt.ord
        |             ORDER BY levenshtein(v.token, qt.q) ASC, v.df DESC,
        |               v.token ASC) AS crk
        |    FROM qt JOIN vocab v ON levenshtein(v.token, qt.q) <= 1)
        |  WHERE crk = 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, c.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN corr c USING (token) JOIN vocab v USING (token),
        |       nd),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sk, 6) AS score, rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0)
        |           AS sk,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 20""".stripMargin)),

    // faceted search — the counts a result page shows beside its
    // hits: every doc matching >= 1 term of the q262 literal query
    // (the capped-index match set), counted once per (lang, source)
    // facet value off the narrow metadata store. Corpus text touched
    // nowhere; one join + one aggregate for both facet dimensions
    Query("q269_faceted_search", (s, dir) =>
      TextAnalysis.facetCounts(
        Stores.cappedIndex(s, dir)
          .join(broadcast(TextAnalysis.searchTerms(s, "hash join window")
            .select(col("token"))), Seq("token")),
        Stores.docMeta(s, dir), Seq("lang", "source")),
      // the capped-index match set recomputed from the corpus, faceted
      // over the raw documents metadata — green proves the metadata
      // store serves exactly what a corpus scan derives
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id FROM (
        |    SELECT token, doc_id,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |g AS (
        |  SELECT 'hash' AS token
        |  UNION ALL SELECT 'join' UNION ALL SELECT 'window'),
        |m AS (SELECT DISTINCT doc_id FROM idx JOIN g USING (token))
        |SELECT facet, value, count(*)::BIGINT AS n_docs FROM (
        |  SELECT 'lang' AS facet, d.lang AS value
        |  FROM m JOIN documents d USING (doc_id)
        |  UNION ALL
        |  SELECT 'source', d.source
        |  FROM m JOIN documents d USING (doc_id))
        |GROUP BY 1, 2""".stripMargin)),

    // filtered search — the q262 literal query restricted to lang=en:
    // the facet-value doc list comes off the PARTITIONED facet index
    // (directory pruning — the scan lists only lang=en files), the
    // restriction is a semi-join on the cap-bounded hit set, scoring
    // statistics stay global, and the rank runs within the filter
    Query("q270_filtered_search", (s, dir) =>
      TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 20,
        allowed = Some(Stores.facetIndex(s, dir)
          .filter(col("facet") === "lang" && col("value") === "en"))),
      // the q262 scoring body with the candidate set restricted to
      // lang=en docs (global df/n_docs statistics, rank within the
      // filtered set)
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |ok AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN vocab v USING (token), nd
        |  WHERE i.doc_id IN (SELECT doc_id FROM ok)),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sk, 6) AS score, rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0)
        |           AS sk,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 20""".stripMargin)),

    // hybrid retrieval — the lexical+vector merge every modern search
    // stack runs: the q262 literal BM25 top-20 fused with the exact
    // cosine top-20 for query vector 0 (the id spaces align by
    // construction) via reciprocal-rank fusion, 1/(60+rank) summed
    // where present. RRF needs only RANKS — no calibration between
    // the BM25 scale and the cosine scale — which is why serving
    // stacks fuse this way
    Query("q271_hybrid_rrf", (s, dir) =>
      Similarity.rrfFuse(
        TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
          Stores.norms(s, dir)
            .agg(countDistinct(col("doc_id")).as("n_docs")),
          TextAnalysis.searchTerms(s, "hash join window"),
          nTerms = 3, k = 20)
          .select(col("doc_id"), col("rk").as("rank")),
        Similarity.cosineKnn(Tables.embeddings(s, dir), "vec_id",
          "embedding", Seq(0L), 20)
          .select(col("neighbor_id").as("doc_id"), col("rank")),
        k = 10),
      // the q262 lexical top-20 and the q25-shaped cosine top-20 for
      // query vector 0, RRF-fused: 1/(60+rank) summed where present,
      // absent ranks emitted as 0
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN vocab v USING (token), nd),
        |p AS (
        |  SELECT doc_id,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id),
        |lex AS (
        |  SELECT doc_id, rk FROM (
        |    SELECT doc_id,
        |           row_number() OVER (
        |             ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |               + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |    FROM p)
        |  WHERE rk <= 20),
        |e AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding,
        |             x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, norm2 AS q_norm2
        |  FROM e WHERE vec_id = 0),
        |vsc AS (
        |  SELECT e.vec_id AS doc_id,
        |         round(list_sum(list_transform(
        |                 generate_series(1, len(e.embedding)),
        |                 i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |               / sqrt(q.q_norm2 * e.norm2), 6) AS score
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |vec AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, score,
        |           row_number() OVER (
        |             ORDER BY score DESC, doc_id) AS rank
        |    FROM vsc)
        |  WHERE rank <= 20),
        |f AS (
        |  -- 1.0 alone parses as DECIMAL in DuckDB; the ::DOUBLE casts
        |  -- make this the same IEEE division Spark runs
        |  SELECT doc_id,
        |         coalesce(1.0::DOUBLE / (60 + l.rk), 0.0::DOUBLE)
        |           + coalesce(1.0::DOUBLE / (60 + v.rank), 0.0::DOUBLE)
        |           AS rrf0,
        |         coalesce(l.rk, 0)::BIGINT AS rank_a,
        |         coalesce(v.rank, 0)::BIGINT AS rank_b
        |  FROM lex l FULL JOIN vec v USING (doc_id))
        |SELECT doc_id, rank_a, rank_b, round(rrf0, 6) AS rrf,
        |       rk::BIGINT AS rk FROM (
        |  SELECT *, row_number() OVER (
        |    ORDER BY rrf0 DESC, doc_id ASC) AS rk
        |  FROM f)
        |WHERE rk <= 10""".stripMargin)),

    // the planner's read BEFORE touching postings: the literal query's
    // terms in AND-intersection order (df asc — drive from the rarest
    // list) with the expected candidate count after each step under
    // independence, all off the dictionary store — work ∝ |terms|
    Query("q272_query_plan", (s, dir) =>
      TextAnalysis.queryPlanEstimate(Stores.vocab(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        "hash join window"),
      // the planner replay: df per query term off the recomputed
      // dictionary, AND order by df asc, cumulative expected candidates
      // Π df / n^(i-1) — cumulative product over exactly-representable
      // longs, one double division, round 4
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token, count(*)::BIGINT AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |t AS (
        |  SELECT token, df FROM vocab
        |  WHERE token IN ('hash', 'join', 'window')),
        |r AS (
        |  SELECT token, df,
        |         row_number() OVER (ORDER BY df, token) AS plan_ord,
        |         product(df::DOUBLE) OVER (
        |           ORDER BY df, token
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum
        |  FROM t)
        |SELECT plan_ord::BIGINT AS plan_ord, token, df,
        |       round(cum / power(n_docs, plan_ord - 1), 4) AS cum_est
        |FROM r, nd""".stripMargin)),

    // "more like this": doc 0 becomes the query — its top-3 terms by
    // (tf desc, df asc) probe the capped index via the k-term BM25
    // read with the seed excluded; one pushed doc fetch + dictionary
    // probes + the cap-bounded retrieval, corpus rescanned nowhere
    Query("q273_more_like_this", (s, dir) =>
      TextAnalysis.moreLikeThis(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        Stores.vocab(s, dir),
        Tables.documents(s, dir), "doc_id", "text",
        docId = 0L, m = 3, k = 10),
      // seed-doc term derivation (tf desc, df asc, token asc → ord) +
      // the BM25 pivot over those terms with the seed excluded
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |seed AS (
        |  SELECT token, count(*) AS stf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id = 0)
        |  GROUP BY 1),
        |t AS (
        |  SELECT token, ord FROM (
        |    SELECT s.token AS token,
        |           row_number() OVER (
        |             ORDER BY s.stf DESC, v.df ASC, s.token ASC) - 1
        |             AS ord
        |    FROM seed s JOIN vocab v USING (token))
        |  WHERE ord <= 2),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, t.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN t USING (token) JOIN vocab v USING (token), nd
        |  WHERE i.doc_id <> 0),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sc0, 6) AS score,
        |       rk::BIGINT AS rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |           + coalesce(s2, 0.0) AS sc0,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 10""".stripMargin)),

    // tiered retrieval: the lexical recall stage nominates its top 100
    // off the capped index, the precision stage rescores ONLY those
    // candidates with the exact cosine against the query vector — the
    // cascade shape (cheap corpus-wide recall, expensive bounded
    // rerank) vs q271's rank-only fusion of two independent lists
    Query("q274_rerank_cosine", (s, dir) =>
      Similarity.rerankCosine(
        TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
          Stores.norms(s, dir)
            .agg(countDistinct(col("doc_id")).as("n_docs")),
          TextAnalysis.searchTerms(s, "hash join window"),
          nTerms = 3, k = 100)
          .select(col("doc_id"), col("rk").as("rank")),
        Tables.embeddings(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10),
      // q271's lexical CTE widened to the top-100 recall stage, then the
      // exact-cosine rescore over those candidates only (zero-norm
      // candidates drop, the query doc excludes itself)
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN vocab v USING (token), nd),
        |p AS (
        |  SELECT doc_id,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id),
        |lex AS (
        |  SELECT doc_id, rk AS lex_rk FROM (
        |    SELECT doc_id,
        |           row_number() OVER (
        |             ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |               + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |    FROM p)
        |  WHERE rk <= 100),
        |e AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding,
        |             x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |q AS (
        |  SELECT embedding AS q_emb, norm2 AS q_norm2
        |  FROM e WHERE vec_id = 0),
        |vsc AS (
        |  SELECT l.doc_id AS doc_id, l.lex_rk AS lex_rk,
        |         round(list_sum(list_transform(
        |                 generate_series(1, len(e.embedding)),
        |                 i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |               / sqrt(q.q_norm2 * e.norm2), 6) AS score
        |  FROM lex l JOIN e ON e.vec_id = l.doc_id
        |  CROSS JOIN q WHERE l.doc_id <> 0)
        |SELECT doc_id, lex_rk::BIGINT AS lex_rk, score, rk::BIGINT AS rk
        |FROM (
        |  SELECT *, row_number() OVER (
        |    ORDER BY score DESC, doc_id ASC) AS rk
        |  FROM vsc)
        |WHERE rk <= 10""".stripMargin)),

    // field-collapsed search: the same literal BM25 candidates, one
    // result per near-dup cluster (the written dup map's components),
    // each cluster represented by its best-scoring doc — the "group
    // similar results" read off two stores, corpus touched nowhere
    Query("q275_collapse_search", (s, dir) =>
      TextAnalysis.collapseSearch(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 10, dupMap = Stores.dupMap(s, dir)),
      // q65's component walk (bands → edges → recursive min-label) +
      // the k-term BM25 pivot, collapsed to the best doc per component
      // before the final rank
      Oracle(
        s"""$duckBandsCte,
         |$duckEdgesBody,
         |walk AS (
         |  WITH RECURSIVE w(v, l) AS (
         |    SELECT s, s FROM edges
         |    UNION
         |    SELECT e.s, w.l FROM edges e JOIN w ON e.t = w.v)
         |  SELECT * FROM w),
         |comp AS (SELECT v AS doc_id, min(l) AS rep FROM walk GROUP BY v),
         |post AS (
         |  SELECT token, doc_id, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents)
         |  GROUP BY 1, 2),
         |idx AS (
         |  SELECT token, doc_id, tf FROM (
         |    SELECT token, doc_id, tf,
         |           row_number() OVER (PARTITION BY token
         |                              ORDER BY tf DESC, doc_id ASC) AS prk
         |    FROM post)
         |  WHERE prk <= 1000),
         |tvocab AS (
         |  SELECT token, count(*) AS df FROM post GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |g AS (
         |  SELECT 'hash' AS token, 0 AS ord
         |  UNION ALL SELECT 'join', 1
         |  UNION ALL SELECT 'window', 2),
         |sc AS (
         |  SELECT i.doc_id AS doc_id, g.ord AS ord,
         |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
         |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
         |  FROM idx i JOIN g USING (token) JOIN tvocab v USING (token), nd),
         |p AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
         |         max(CASE WHEN ord = 0 THEN s END) AS s0,
         |         max(CASE WHEN ord = 1 THEN s END) AS s1,
         |         max(CASE WHEN ord = 2 THEN s END) AS s2
         |  FROM sc GROUP BY doc_id),
         |wg AS (
         |  SELECT p.doc_id AS doc_id, p.n_terms_hit AS n_terms_hit,
         |         coalesce(p.s0, 0.0) + coalesce(p.s1, 0.0)
         |           + coalesce(p.s2, 0.0) AS sc0,
         |         coalesce(c.rep, p.doc_id) AS group_id
         |  FROM p LEFT JOIN comp c ON c.doc_id = p.doc_id),
         |best AS (
         |  SELECT group_id, doc_id, n_terms_hit, sc0 FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY group_id
         |      ORDER BY sc0 DESC, doc_id ASC) AS brn
         |    FROM wg)
         |  WHERE brn = 1)
         |SELECT doc_id, group_id, n_terms_hit, round(sc0, 6) AS score,
         |       rk::BIGINT AS rk FROM (
         |  SELECT *, row_number() OVER (
         |    ORDER BY sc0 DESC, doc_id ASC) AS rk
         |  FROM best)
         |WHERE rk <= 10""".stripMargin)),

    // query expansion: the seed term's strongest collocation partners
    // (off the WRITTEN collocation dictionary, both bigram directions,
    // max lift per partner) join the query as OR-terms — "hash" plus
    // its two best partners through the k-term BM25 read; one pushed
    // store probe, dictionary-scale work before the cap-bounded read
    Query("q278_expansion_search", (s, dir) =>
      TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.expandTerms(Stores.collocations(s, dir),
          seed = "hash", e = 2),
        nTerms = 3, k = 10),
      // q237's lift CTEs (uncut) → seed-partner argmax → the 3-term
      // BM25 pivot with the seed at ord 0 and partners at 1..2
      Oracle(
        """WITH g0 AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT string_split(text, ' ') AS ws,
        |               unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |        FROM documents)),
        |bg AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM g0 GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM bg GROUP BY 1),
        |c2 AS (SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_y FROM bg GROUP BY 1),
        |n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bg),
        |lt AS (
        |  SELECT bg.w1, bg.w2,
        |         round((n.n_bi * bg.c_xy)::DOUBLE
        |               / (c1.c_x * c2.c_y)::DOUBLE, 6) AS lift
        |  FROM bg JOIN c1 USING (w1) JOIN c2 USING (w2), n
        |  WHERE bg.c_xy >= 5),
        |prt AS (
        |  SELECT partner, max(lift) AS ml FROM (
        |    SELECT CASE WHEN w1 = 'hash' THEN w2 ELSE w1 END AS partner,
        |           lift
        |    FROM lt WHERE w1 = 'hash' OR w2 = 'hash')
        |  WHERE partner <> 'hash' GROUP BY 1),
        |t AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL
        |  SELECT partner, rn FROM (
        |    SELECT partner, row_number() OVER (
        |      ORDER BY ml DESC, partner ASC) AS rn
        |    FROM prt)
        |  WHERE rn <= 2),
        |post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |tvocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, t.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN t USING (token) JOIN tvocab v USING (token), nd),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sc0, 6) AS score,
        |       rk::BIGINT AS rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |           + coalesce(s2, 0.0) AS sc0,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 10""".stripMargin)),

    // collocation-dictionary MAINTENANCE (the q212 lifecycle applied
    // to this family): an ingest slice plus a content-addressed
    // tombstone slice for every doc_id % 10 = 0 document merge to the
    // lift table a corpus-minus rescan builds — marginals and the
    // total shift automatically because the read derives them from
    // the merged counts; top-20 by (lift desc, w1, w2)
    Query("q280_colloc_maintenance", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val ingest = TextAnalysis.collocSlices(
        d.withColumn("slice", lit(0L)), "text", "slice")
      val tomb = TextAnalysis.collocTombstones(
        d.filter(col("doc_id") % 10 === 0).withColumn("slice", lit(1L)),
        "text", "slice")
      TextAnalysis.collocationTableFrom(
          TextAnalysis.collocMergeSlices(ingest.unionByName(tomb)),
          minCount = 5L)
        .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    },
      // q237's replay over the corpus minus the tombstoned docs
      Oracle(
        """WITH g AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT string_split(text, ' ') AS ws,
        |               unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |        FROM documents WHERE doc_id % 10 <> 0)),
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

    // negative search terms (the "-term" operator): "hash join
    // -window" — BM25 over the positives off the capped index, docs
    // carrying the negative term excluded via its FULL uncapped
    // posting list (a capped exclusion would leak; one pushed token
    // probe on the written store, then the semi-down/anti-back
    // broadcast pattern — no doc-scale shuffle)
    Query("q281_negative_search", (s, dir) =>
      TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTerms(s, "hash join"),
        nTerms = 2, k = 10,
        blocked = Some(TextAnalysis.indexMergeSlices(
          Stores.index(s, dir).filter(col("token") === "window"))
          .select(col("doc_id")))),
      // the 2-term BM25 pivot minus every doc that contains the
      // negative term (full posting list, not capped)
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |tvocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |neg AS (SELECT doc_id FROM post WHERE token = 'window'),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN tvocab v USING (token), nd
        |  WHERE i.doc_id NOT IN (SELECT doc_id FROM neg)),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sc0, 6) AS score,
        |       rk::BIGINT AS rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0) AS sc0,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 10""".stripMargin)),

    // passage retrieval (the RAG read): chunks are the retrieval unit
    // — the literal query scores CHUNKS off the written chunk-level
    // capped index (df/N in the chunk domain), docs rank by their
    // best chunk (MaxP), and the winning chunk_id rides along
    Query("q282_passage_search", (s, dir) =>
      TextAnalysis.passageSearch(
        Stores.chunkIndex(s, dir),
        Stores.chunkStats(s, dir),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 10, chunkKeyBase = Stores.ChunkKeyBase),
      // the q83 chunk derivation → chunk-domain BM25 (df/N over chunks)
      // → per-doc best-chunk argmax → doc rank
      Oracle(
        """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s0 AS (
        |  SELECT doc_id, ws,
        |         unnest(generate_series(0, greatest(len(ws) - 1 - 8, 0),
        |                                24)) AS sw
        |  FROM w),
        |ch AS (
        |  SELECT doc_id * 100000 + (sw // 24) AS cid,
        |         array_to_string(ws[sw + 1 : sw + 32], ' ') AS chunk
        |  FROM s0),
        |post AS (
        |  SELECT token, cid, count(*) AS tf FROM (
        |    SELECT cid, unnest(string_split(chunk, ' ')) AS token
        |    FROM ch)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, cid, tf FROM (
        |    SELECT token, cid, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, cid ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |tvocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(*) AS n_chunks FROM ch),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.cid AS cid, g.ord AS ord,
        |         (11 * i.tf * (2 * n_chunks - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN tvocab v USING (token), nd),
        |p AS (
        |  SELECT cid, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY cid),
        |dec AS (
        |  SELECT cid // 100000 AS d, cid % 100000 AS ch_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |           + coalesce(s2, 0.0) AS sc0
        |  FROM p),
        |best AS (
        |  SELECT d, ch_id, n_terms_hit, sc0 FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY d ORDER BY sc0 DESC, ch_id ASC) AS brn
        |    FROM dec)
        |  WHERE brn = 1)
        |SELECT d AS doc_id, ch_id::BIGINT AS chunk_id, n_terms_hit,
        |       round(sc0, 6) AS score, rk::BIGINT AS rk FROM (
        |  SELECT *, row_number() OVER (
        |    ORDER BY sc0 DESC, d ASC) AS rk
        |  FROM best)
        |WHERE rk <= 10""".stripMargin)),

    // statistics drift between generations: df as-of gen 2 vs the
    // live df, top movers by gained documents — the observability
    // read that tells a relevance owner WHICH terms' idf shifted
    // after an ingest (both sides off the written slice store; the
    // dictionary derivation is the shared termDictionary body)
    Query("q285_df_drift", (s, dir) => {
      val store = Stores.index(s, dir)
      def dfOf(sl: DataFrame) = TextAnalysis.termDictionary(
        TextAnalysis.indexMergeSlices(sl))
        .select(col("token"), col("df"))
      TopN.globalRanked(
        dfOf(store).select(col("token"), col("df").as("df_new"))
          .join(dfOf(store.filter(col("slice") <= 2L))
            .select(col("token"), col("df").as("df_old")),
            Seq("token"), "left")
          .select(col("token"),
            coalesce(col("df_old"), lit(0L)).as("df_old"),
            col("df_new"),
            (col("df_new") - coalesce(col("df_old"), lit(0L)))
              .as("delta")),
        20, col("delta").desc, col("token").asc)
    },
      // df over the full corpus vs the gen≤2 subset, delta rank
      Oracle(
        """WITH postn AS (
        |  SELECT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |posto AS (
        |  SELECT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 4 <= 2)
        |  GROUP BY 1, 2),
        |vn AS (SELECT token, count(*)::BIGINT AS df_new
        |       FROM postn GROUP BY 1),
        |vo AS (SELECT token, count(*)::BIGINT AS df_old
        |       FROM posto GROUP BY 1)
        |SELECT token, df_old, df_new, delta, rk::BIGINT AS rk FROM (
        |  SELECT vn.token AS token, coalesce(vo.df_old, 0) AS df_old,
        |         vn.df_new AS df_new,
        |         vn.df_new - coalesce(vo.df_old, 0) AS delta,
        |         row_number() OVER (
        |           ORDER BY vn.df_new - coalesce(vo.df_old, 0) DESC,
        |             vn.token ASC) AS rk
        |  FROM vn LEFT JOIN vo ON vo.token = vn.token)
        |WHERE rk <= 20""".stripMargin)),

    // batched multi-query retrieval: three query strings answered in
    // ONE pass over the capped index (the offline-eval / query-log-
    // replay read); per-query rank is a qid-PARTITIONED window
    // (WindowGroupLimit — more queries = more partitions, never more
    // single-task work)
    Query("q284_search_batch", (s, dir) =>
      TextAnalysis.bm25QueryBatch(Stores.cappedIndex(s, dir),
        Stores.norms(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTermsBatch(s,
          Seq("hash join window", "sort merge", "filter scan")),
        nTerms = 3, k = 10),
      // three query pivots over one idx probe, per-qid partitioned rank
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |tvocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |g AS (
        |  SELECT 0 AS qid, 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 0, 'join', 1
        |  UNION ALL SELECT 0, 'window', 2
        |  UNION ALL SELECT 1, 'sort', 0
        |  UNION ALL SELECT 1, 'merge', 1
        |  UNION ALL SELECT 2, 'filter', 0
        |  UNION ALL SELECT 2, 'scan', 1),
        |sc AS (
        |  SELECT g.qid AS qid, i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN tvocab v USING (token), nd),
        |p AS (
        |  SELECT qid, doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY qid, doc_id)
        |SELECT qid::BIGINT AS qid, doc_id, n_terms_hit,
        |       round(sc0, 6) AS score, rk::BIGINT AS rk FROM (
        |  SELECT qid, doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |           + coalesce(s2, 0.0) AS sc0,
        |         row_number() OVER (
        |           PARTITION BY qid
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 10""".stripMargin)),

    // RAG context assembly: the passage read's top-5 winning chunks
    // fetch their TEXT from the written chunk table (stored fields
    // beside postings — the context a generation pipeline consumes);
    // hits broadcast into one store join, corpus touched nowhere
    Query("q283_rag_context", (s, dir) =>
      Stores.chunkTable(s, dir)
        .join(broadcast(TextAnalysis.passageSearch(
          Stores.chunkIndex(s, dir),
          Stores.chunkStats(s, dir),
          TextAnalysis.searchTerms(s, "hash join window"),
          nTerms = 3, k = 5, chunkKeyBase = Stores.ChunkKeyBase)),
          Seq("doc_id", "chunk_id"))
        .select(col("doc_id"), col("chunk_id"), col("n_terms_hit"),
          col("score"), col("rk"), col("chunk")),
      // q282's replay at k=5 joined back to the chunk text
      Oracle(
        """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s0 AS (
        |  SELECT doc_id, ws,
        |         unnest(generate_series(0, greatest(len(ws) - 1 - 8, 0),
        |                                24)) AS sw
        |  FROM w),
        |ch AS (
        |  SELECT doc_id * 100000 + (sw // 24) AS cid,
        |         array_to_string(ws[sw + 1 : sw + 32], ' ') AS chunk
        |  FROM s0),
        |post AS (
        |  SELECT token, cid, count(*) AS tf FROM (
        |    SELECT cid, unnest(string_split(chunk, ' ')) AS token
        |    FROM ch)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, cid, tf FROM (
        |    SELECT token, cid, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, cid ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |tvocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(*) AS n_chunks FROM ch),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.cid AS cid, g.ord AS ord,
        |         (11 * i.tf * (2 * n_chunks - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN tvocab v USING (token), nd),
        |p AS (
        |  SELECT cid, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY cid),
        |dec AS (
        |  SELECT cid // 100000 AS d, cid % 100000 AS ch_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |           + coalesce(s2, 0.0) AS sc0
        |  FROM p),
        |best AS (
        |  SELECT d, ch_id, n_terms_hit, sc0 FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY d ORDER BY sc0 DESC, ch_id ASC) AS brn
        |    FROM dec)
        |  WHERE brn = 1),
        |rnk AS (
        |  SELECT d, ch_id, n_terms_hit, sc0, rk FROM (
        |    SELECT *, row_number() OVER (
        |      ORDER BY sc0 DESC, d ASC) AS rk
        |    FROM best)
        |  WHERE rk <= 5)
        |SELECT r.d AS doc_id, r.ch_id::BIGINT AS chunk_id,
        |       r.n_terms_hit, round(r.sc0, 6) AS score,
        |       r.rk::BIGINT AS rk, c.chunk AS chunk
        |FROM rnk r JOIN ch c ON c.cid = r.d * 100000 + r.ch_id""".stripMargin)),

    // time travel: the index store's slice tags ARE the history — an
    // as-of-generation read filters the written slices (one pushed
    // predicate on the bucket files), re-derives the capped view AND
    // its df/n_docs statistics from the surviving slices (statistics
    // must never straddle the as-of boundary), and serves the same
    // literal search the live read answers
    Query("q277_asof_search", (s, dir) => {
      val merged = graft.ops.Checkpoints.pin(
        TextAnalysis.indexMergeSlices(
          Stores.index(s, dir).filter(col("slice") <= 2L)),
        None, eager = false) // two consumers: capped view + n_docs
      TextAnalysis.bm25QueryK(
        TextAnalysis.cappedIndex(merged, maxPostings = 1000),
        merged.agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 10)
    },
      // the as-of replay: generation filter applied at the CORPUS level
      // (doc_id % 4 ≤ 2 — the slice-tagging rule), every statistic (df,
      // n_docs) recomputed from the filtered postings
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 4 <= 2)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM post),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN vocab v USING (token), nd),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, round(sc0, 6) AS score,
        |       rk::BIGINT AS rk FROM (
        |  SELECT doc_id, n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |           + coalesce(s2, 0.0) AS sc0,
        |         row_number() OVER (
        |           ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |             + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |  FROM p)
        |WHERE rk <= 10""".stripMargin)),

    // dictionary-store MAINTENANCE (the q280 lifecycle applied to the
    // term dictionary): an ingest generation plus a tombstone
    // generation of df/cf DELTAS (dictSlices over the same posting
    // slices the index family writes — one code path) merge to
    // exactly the dictionary a corpus-minus rescan builds, extinct
    // terms dropping; an ingest batch updates the store by appending
    // one batch-vocabulary-sized slice, never a rebuild. Top-20 by df
    Query("q292_dict_maintenance", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // measured: deriving the deltas from the 4-slice store made
      // this SLOWER (4× delta rows through the merge) — the inline
      // single-slice derivation stays
      val ing = TextAnalysis.dictSlices(TextAnalysis.indexSlices(
        d.withColumn("slice", lit(0L)), "doc_id", "text", "slice"))
      val tomb = TextAnalysis.dictSlices(TextAnalysis.indexTombstones(
        d.filter(col("doc_id") % 10 === 0).withColumn("slice", lit(1L)),
        "doc_id", "text", "slice"))
      TopN.globalRanked(
        TextAnalysis.dictMergeSlices(ing.unionByName(tomb)),
        20, col("df").desc, col("token").asc)
    },
      // df/cf over the corpus minus the tombstoned docs, df-desc top 20
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 10 <> 0)
        |  GROUP BY 1, 2)
        |SELECT token, df, cf, rk FROM (
        |  SELECT token, count(*)::BIGINT AS df,
        |         CAST(sum(tf) AS BIGINT) AS cf,
        |         row_number() OVER (
        |           ORDER BY count(*) DESC, token ASC) AS rk
        |  FROM post GROUP BY token)
        |WHERE rk <= 20""".stripMargin)),

    // the SymSpell store under the same slice lifecycle: the fuzzy
    // "did you mean" read served from the deletion-neighborhood
    // DELTAS' fold after a tombstone generation — variant expansion
    // commutes with the delta sum, so the slice-derived store answers
    // exactly what a rebuilt store over the surviving corpus would
    Query("q293_fuzzy_maintenance", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // measured: store-derived deltas were SLOWER here (4× rows
      // through the variant expansion) — the inline form stays, see
      // q292
      val ing = TextAnalysis.dictSlices(TextAnalysis.indexSlices(
        d.withColumn("slice", lit(0L)), "doc_id", "text", "slice"))
      val tomb = TextAnalysis.dictSlices(TextAnalysis.indexTombstones(
        d.filter(col("doc_id") % 10 === 0).withColumn("slice", lit(1L)),
        "doc_id", "text", "slice"))
      TextAnalysis.fuzzyTerms(
        TextAnalysis.delneighMergeSlices(
          TextAnalysis.delneighSlices(ing.unionByName(tomb))),
        "sow", k = 10)
    },
      // the q265 fuzzy replay over the surviving corpus's vocabulary
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 10 <> 0)
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token, count(*)::BIGINT AS df FROM post GROUP BY 1)
        |SELECT token, df, lev, rk::BIGINT AS rk FROM (
        |  SELECT token, df, levenshtein(token, 'sow')::BIGINT AS lev,
        |         row_number() OVER (
        |           ORDER BY levenshtein(token, 'sow') ASC, df DESC,
        |             token ASC) AS rk
        |  FROM vocab WHERE levenshtein(token, 'sow') <= 1)
        |WHERE rk <= 10""".stripMargin)),

    // term-highlight snippets for the literal k-term search — the
    // serving step after q262's ranking (q263 anchors on a phrase;
    // this is the no-phrase form): per hit, the ±2-token window
    // showing the most DISTINCT query terms, ties to the earliest
    // anchor; hits broadcast into ONE documents join, the anchor scan
    // and argmax fold in-row higher-order functions
    Query("q294_term_snippets", (s, dir) =>
      TextAnalysis.termSnippets(
        Tables.documents(s, dir),
        TextAnalysis.bm25QueryK(Stores.cappedIndex(s, dir),
          Stores.norms(s, dir)
            .agg(countDistinct(col("doc_id")).as("n_docs")),
          TextAnalysis.searchTerms(s, "hash join window"),
          nTerms = 3, k = 20),
        TextAnalysis.searchTerms(s, "hash join window"),
        window = 2),
      // the q262 top-20 joined back to the corpus; per doc every
      // query-term position is an anchor candidate, scored by distinct
      // query terms in its ±2 window, best-first with earliest-anchor
      // ties — replayed row-wise (the in-row fold and the ranked pick
      // agree because the tie-break is total)
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, doc_id, tf FROM (
        |    SELECT token, doc_id, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, doc_id ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |g AS (
        |  SELECT 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 'join', 1
        |  UNION ALL SELECT 'window', 2),
        |sc AS (
        |  SELECT i.doc_id AS doc_id, g.ord AS ord,
        |         (11 * i.tf * (2 * n_docs - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN vocab v USING (token), nd),
        |p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY doc_id),
        |top AS (
        |  SELECT doc_id, n_terms_hit, rk FROM (
        |    SELECT doc_id, n_terms_hit,
        |           row_number() OVER (
        |             ORDER BY coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |               + coalesce(s2, 0.0) DESC, doc_id ASC) AS rk
        |    FROM p)
        |  WHERE rk <= 20),
        |wd AS (
        |  SELECT t.doc_id AS doc_id, t.rk AS rk,
        |         t.n_terms_hit AS n_terms_hit,
        |         string_split(d.text, ' ') AS ws
        |  FROM top t JOIN documents d USING (doc_id)),
        |anch AS (
        |  SELECT doc_id, rk, n_terms_hit, ws, i,
        |         len(list_distinct(list_filter(
        |           ws[greatest(1, i - 2):least(len(ws), i + 2)],
        |           x -> list_contains(['hash', 'join', 'window'], x))))
        |           AS c
        |  FROM (
        |    SELECT doc_id, rk, n_terms_hit, ws,
        |           unnest(list_filter(generate_series(1, len(ws)),
        |             i -> list_contains(['hash', 'join', 'window'],
        |                                ws[i]))) AS i
        |    FROM wd)),
        |best AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY c DESC, i ASC) AS brn
        |    FROM anch)
        |  WHERE brn = 1)
        |SELECT doc_id, rk, n_terms_hit, (i - 1)::BIGINT AS anchor,
        |       c::BIGINT AS n_window_terms,
        |       array_to_string(
        |         ws[greatest(1, i - 2):least(len(ws), i + 2)], ' ')
        |         AS snippet
        |FROM best""".stripMargin)),

    // batched passage retrieval: three RAG queries in ONE pass over
    // the written chunk-level capped index (the q284 batch pattern
    // applied to q282's MaxP read); per-query rank is a
    // qid-partitioned WindowGroupLimit
    Query("q295_passage_batch", (s, dir) =>
      TextAnalysis.passageSearchBatch(
        Stores.chunkIndex(s, dir),
        Stores.chunkStats(s, dir),
        TextAnalysis.searchTermsBatch(s,
          Seq("hash join window", "sort merge", "filter scan")),
        nTerms = 3, k = 10, chunkKeyBase = Stores.ChunkKeyBase),
      // the q282 chunk scoring with the q284 qid pivot: three queries,
      // one chunk-index derivation, per-query MaxP + partitioned rank
      Oracle(
        """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s0 AS (
        |  SELECT doc_id, ws,
        |         unnest(generate_series(0, greatest(len(ws) - 1 - 8, 0),
        |                                24)) AS sw
        |  FROM w),
        |ch AS (
        |  SELECT doc_id * 100000 + (sw // 24) AS cid,
        |         array_to_string(ws[sw + 1 : sw + 32], ' ') AS chunk
        |  FROM s0),
        |post AS (
        |  SELECT token, cid, count(*) AS tf FROM (
        |    SELECT cid, unnest(string_split(chunk, ' ')) AS token
        |    FROM ch)
        |  GROUP BY 1, 2),
        |idx AS (
        |  SELECT token, cid, tf FROM (
        |    SELECT token, cid, tf,
        |           row_number() OVER (PARTITION BY token
        |                              ORDER BY tf DESC, cid ASC) AS prk
        |    FROM post)
        |  WHERE prk <= 1000),
        |tvocab AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY 1),
        |nd AS (SELECT count(*) AS n_chunks FROM ch),
        |g AS (
        |  SELECT 0 AS qid, 'hash' AS token, 0 AS ord
        |  UNION ALL SELECT 0, 'join', 1
        |  UNION ALL SELECT 0, 'window', 2
        |  UNION ALL SELECT 1, 'sort', 0
        |  UNION ALL SELECT 1, 'merge', 1
        |  UNION ALL SELECT 2, 'filter', 0
        |  UNION ALL SELECT 2, 'scan', 1),
        |sc AS (
        |  SELECT g.qid AS qid, i.cid AS cid, g.ord AS ord,
        |         (11 * i.tf * (2 * n_chunks - 2 * v.df + 1))::DOUBLE
        |         / ((5 * i.tf + 6) * (2 * v.df + 1))::DOUBLE AS s
        |  FROM idx i JOIN g USING (token) JOIN tvocab v USING (token), nd),
        |p AS (
        |  SELECT qid, cid, count(*)::BIGINT AS n_terms_hit,
        |         max(CASE WHEN ord = 0 THEN s END) AS s0,
        |         max(CASE WHEN ord = 1 THEN s END) AS s1,
        |         max(CASE WHEN ord = 2 THEN s END) AS s2
        |  FROM sc GROUP BY qid, cid),
        |dec AS (
        |  SELECT qid, cid // 100000 AS d, cid % 100000 AS ch_id,
        |         n_terms_hit,
        |         coalesce(s0, 0.0) + coalesce(s1, 0.0)
        |           + coalesce(s2, 0.0) AS sc0
        |  FROM p),
        |best AS (
        |  SELECT qid, d, ch_id, n_terms_hit, sc0 FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY qid, d ORDER BY sc0 DESC, ch_id ASC) AS brn
        |    FROM dec)
        |  WHERE brn = 1)
        |SELECT qid::BIGINT AS qid, d AS doc_id,
        |       ch_id::BIGINT AS chunk_id, n_terms_hit,
        |       round(sc0, 6) AS score, rk::BIGINT AS rk FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY sc0 DESC, d ASC) AS rk
        |  FROM best)
        |WHERE rk <= 10""".stripMargin)),
  )
}
