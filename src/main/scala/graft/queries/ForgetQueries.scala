package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.Stores.{erasedChunksMerged, erasedIndexCapped, erasedIndexMerged,
  erasedPositionalMerged, erasedWarehouse}
import graft.ops._
import DedupQueries.{duckBandsCte, duckEdgesBody}
import PqQueries.duckPqBody
import SearchQueries.{bigramTokens, phraseMatchExpr, posOracle}

/** Right-to-be-forgotten ([[Forget]]): the standing erasure request
  * applied across every written store, the cascade audit and the
  * post-forget reads of each store family.
  */
object ForgetQueries {
  val all: Seq[Query] = Seq(
    // right-to-be-forgotten cascade audit: one erasure request
    // (doc_id % 97 = 0) audited against EVERY warehouse family — the
    // record a GDPR request is answered with and the pre-flight
    // sizing for the per-family tombstone writes; one store scan per
    // family, forget set broadcast, corpus touched nowhere
    Query("q276_forget_audit", (s, dir) => {
      val forget = Stores.norms(s, dir)
        .filter(col("doc_id") % 97 === 0).select(col("doc_id"))
      // two consumers (postings audit + vocabulary extinction)
      val postings = graft.ops.Checkpoints.pin(
        TextAnalysis.indexMergeSlices(Stores.index(s, dir)),
        None, eager = false)
      Seq(
        Forget.familyAudit("index_postings", postings, "doc_id", forget),
        Forget.familyAudit("positional_positions",
          TextAnalysis.positionalMergeSlices(Stores.positional(s, dir)),
          "doc_id", forget, weight = col("tf")),
        Forget.familyAudit("norms", Stores.norms(s, dir), "doc_id",
          forget),
        Forget.familyAudit("doc_meta", Stores.docMeta(s, dir), "doc_id",
          forget),
        Forget.familyAudit("facets", Stores.facetIndex(s, dir),
          "doc_id", forget),
        Forget.familyAudit("pq_codes", Stores.pqCodes(s, dir), "vec_id",
          forget),
        Forget.familyAudit("dup_map", Stores.dupMap(s, dir), "doc_id",
          forget),
        // rows whose REP (cluster label) references a forgotten id —
        // surviving members would keep the erased id as their group
        // label after a member-only delete; execution must reassign
        // these reps ([[Forget.dupMapErase]]), and the audit surfaces
        // them
        Forget.familyAudit("dup_map_reps", Stores.dupMap(s, dir), "rep",
          forget),
        Forget.vocabAudit(postings, forget)
      ).reduce(_.unionByName(_))
    },
      // per-family recount from the raw corpus: postings/positions from
      // the unnested text, metadata/facet/code rows arithmetic off the
      // table counts, dup-map membership via the q65 component walk,
      // vocabulary extinction as the per-token all-quantifier
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
         |  GROUP BY 1, 2)
         |SELECT 'index_postings' AS family, b::BIGINT AS rows_before,
         |       r::BIGINT AS rows_removed, (b - r)::BIGINT AS rows_after
         |FROM (SELECT (SELECT count(*) FROM post) AS b,
         |             (SELECT count(*) FROM post
         |              WHERE doc_id % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'positional_positions', b::BIGINT, r::BIGINT,
         |       (b - r)::BIGINT
         |FROM (SELECT (SELECT sum(tf) FROM post) AS b,
         |             (SELECT coalesce(sum(tf), 0) FROM post
         |              WHERE doc_id % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'norms', b::BIGINT, r::BIGINT, (b - r)::BIGINT
         |FROM (SELECT (SELECT count(*) FROM documents) AS b,
         |             (SELECT count(*) FROM documents
         |              WHERE doc_id % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'doc_meta', b::BIGINT, r::BIGINT, (b - r)::BIGINT
         |FROM (SELECT (SELECT count(*) FROM documents) AS b,
         |             (SELECT count(*) FROM documents
         |              WHERE doc_id % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'facets', (2 * b)::BIGINT, (2 * r)::BIGINT,
         |       (2 * (b - r))::BIGINT
         |FROM (SELECT (SELECT count(*) FROM documents) AS b,
         |             (SELECT count(*) FROM documents
         |              WHERE doc_id % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'pq_codes', (8 * b)::BIGINT, (8 * r)::BIGINT,
         |       (8 * (b - r))::BIGINT
         |FROM (SELECT (SELECT count(*) FROM embeddings) AS b,
         |             (SELECT count(*) FROM embeddings
         |              WHERE vec_id % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'dup_map', b::BIGINT, r::BIGINT, (b - r)::BIGINT
         |FROM (SELECT (SELECT count(*) FROM comp) AS b,
         |             (SELECT count(*) FROM comp
         |              WHERE doc_id % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'dup_map_reps', b::BIGINT, r::BIGINT, (b - r)::BIGINT
         |FROM (SELECT (SELECT count(*) FROM comp) AS b,
         |             (SELECT count(*) FROM comp
         |              WHERE rep % 97 = 0) AS r)
         |UNION ALL
         |SELECT 'vocab_terms', b::BIGINT, r::BIGINT, (b - r)::BIGINT
         |FROM (SELECT (SELECT count(DISTINCT token) FROM post) AS b,
         |             (SELECT count(*) FROM (
         |                SELECT token FROM post GROUP BY token
         |                HAVING count(*) = count(CASE WHEN doc_id % 97 = 0
         |                                        THEN 1 END))) AS r)""".stripMargin)),

    // the forget EXECUTION read (q276's serving sibling): the
    // id-addressed erasure request fetches its texts by broadcast
    // semi-join (the content-addressed tombstone derivation), the
    // tombstone slice unions against the WRITTEN store, and the same
    // literal search serves with df/n_docs recomputed — results as if
    // the forgotten docs were never ingested; history files untouched
    Query("q279_forget_search", (s, dir) => {
      val forget = Stores.norms(s, dir)
        .filter(col("doc_id") % 97 === 0).select(col("doc_id"))
      val tomb = TextAnalysis.indexTombstones(
        Tables.documents(s, dir)
          .join(broadcast(forget), Seq("doc_id"), "left_semi")
          .withColumn("slice", lit(99L)),
        "doc_id", "text", "slice")
      val merged = graft.ops.Checkpoints.pin(
        TextAnalysis.indexMergeSlices(
          Stores.index(s, dir).unionByName(tomb)),
        None, eager = false) // two consumers: capped view + n_docs
      TextAnalysis.bm25QueryK(
        TextAnalysis.cappedIndex(merged, maxPostings = 1000),
        merged.agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 10)
    },
      // the forget replay: the erasure filter applied at the CORPUS
      // level, every statistic recomputed over the survivors
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 97 <> 0)
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
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM post),
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

    // forget execution, POSITIONAL family: the cascade's id-addressed
    // delete log applied to the written positional store (position
    // sets don't cancel arithmetically — the q213 anti-join posture),
    // then the q209 phrase read serves as if the forgotten docs were
    // never ingested; terms stay the persisted corpus statistic
    Query("q286_forget_phrase", (s, dir) =>
      // the erased positional MERGE is the shared per-process artifact;
      // the token prefilter moves from before the fold to a
      // pushed semi-join on the written merge — value-identical, the
      // fold is per-(token, doc) independent
      TextAnalysis.phraseQuery(
        erasedPositionalMerged(s, dir)
          .join(broadcast(bigramTokens(s, dir)), Seq("token"),
            "left_semi"),
        Stores.topBigram(s, dir), k = 20),
      // the q209 phrase replay with the position lists drawn from the
      // surviving corpus only (the erasure boundary); the bigram term
      // statistic stays the full-corpus artifact the store persists
      Oracle(
        posOracle(" WHERE doc_id % 97 <> 0", phraseMatchExpr))),

    // forget execution, CHUNK family: content tombstones over the
    // shared guarded chunk projection cancel the forgotten docs'
    // chunk postings in the written slice store; cap, df and the
    // chunk count all re-derive from the surviving merge (statistics
    // never straddle the erasure boundary), then the q282 passage
    // read serves
    Query("q287_forget_passage", (s, dir) => {
      // both consumers read the per-process erased-chunk merge table —
      // no per-query fold, no pin needed over a parquet read
      val merged = erasedChunksMerged(s, dir)
      TextAnalysis.passageSearch(
        TextAnalysis.cappedIndex(merged, maxPostings = 1000),
        merged.agg(countDistinct(col("doc_id")).as("n_chunks")),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 10, chunkKeyBase = Stores.ChunkKeyBase)
    },
      // the q282 chunk replay over the surviving documents — chunking,
      // cap, df and the chunk count all recomputed minus the forget set
      Oracle(
        """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id % 97 <> 0),
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

    // forget execution, METADATA family: the q269 faceted read with
    // BOTH sides erased — hits off the tombstone-merged re-capped
    // index, counts off the row-erased metadata store
    Query("q288_forget_facets", (s, dir) => {
      // hits off the per-process erased CAPPED index table (the
      // rank Window ran once at build); counts off the row-erased
      // metadata store, inline as before (request-scale anti-join)
      TextAnalysis.facetCounts(
        erasedIndexCapped(s, dir)
          .join(broadcast(TextAnalysis.searchTerms(s, "hash join window")
            .select(col("token"))), Seq("token")),
        erasedWarehouse(s, dir).docMeta, Seq("lang", "source"))
    },
      // the q269 facet replay with both sides erased: the capped hit
      // derivation re-runs over surviving postings (the cap backfills),
      // the metadata join over surviving documents
      Oracle(
        """WITH post AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 97 <> 0)
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
        |  WHERE d.doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT 'source', d.source
        |  FROM m JOIN documents d USING (doc_id)
        |  WHERE d.doc_id % 97 <> 0)
        |GROUP BY 1, 2""".stripMargin)),

    // forget execution, DUP-MAP family: the q275 collapsed read over
    // the erased index AND the rep-reassigned cluster map (forgotten
    // members dropped, groups relabeled by their new min surviving
    // member, sub-pair groups dropped — no erased id survives as a
    // group label)
    Query("q289_forget_collapse", (s, dir) => {
      // capped view and n_docs read the two per-process erased-index
      // tables; the rep-reassigned cluster map stays inline
      // (membership-scale)
      TextAnalysis.collapseSearch(
        erasedIndexCapped(s, dir),
        erasedIndexMerged(s, dir)
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        TextAnalysis.searchTerms(s, "hash join window"),
        nTerms = 3, k = 10, dupMap = erasedWarehouse(s, dir).dupMap)
    },
      // the q275 collapse replay post-erasure: scoring statistics from
      // the surviving corpus, the component walk's survivors relabeled
      // by their new min member with sub-pair groups dropped — the same
      // reassignment Forget.dupMapErase executes
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
         |ncomp AS (
         |  SELECT doc_id, nrep AS rep FROM (
         |    SELECT doc_id,
         |           min(doc_id) OVER (PARTITION BY rep) AS nrep,
         |           count(*) OVER (PARTITION BY rep) AS n
         |    FROM comp WHERE doc_id % 97 <> 0)
         |  WHERE n >= 2),
         |post AS (
         |  SELECT token, doc_id, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents WHERE doc_id % 97 <> 0)
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
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM post),
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
         |  FROM p LEFT JOIN ncomp c ON c.doc_id = p.doc_id),
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

    // forget execution, VECTOR family: the q89 ADC read over the
    // row-erased code table (id-addressed — the id spaces align by
    // construction); the CODEBOOKS stay, a trained model is not
    // per-row data and retraining is a store rewrite. Queries are
    // surviving ids (a forgotten user's vector cannot be a query)
    Query("q290_forget_ann", (s, dir) =>
      Pq.adcSearchCoded(
        erasedWarehouse(s, dir).pqCodes,
        Tables.embeddings(s, dir), "vec_id", "embedding",
        Stores.pqCodebooks(s, dir),
        queryIds = Seq(1L, 2L, 3L, 4L, 5L), k = 5,
        m = Stores.PqM, subDim = Stores.PqSubDim),
      // the q89 ADC replay over the erased code table (codebooks stay —
      // the model is not per-row data); queries are surviving ids 1–5
      Oracle(
        s"""WITH $duckPqBody,
         |scodes AS (SELECT * FROM codes WHERE vec_id % 97 <> 0),
         |lut AS (SELECT s.vec_id AS query_id, s.sub, c.code,
         |               round(list_sum(list_transform(generate_series(1, 8),
         |                 i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i]))), 6)::DECIMAL(28,10) AS pd
         |        FROM sv s JOIN cb c ON s.sub = c.sub
         |        WHERE s.vec_id >= 1 AND s.vec_id <= 5),
         |sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.pd)::DOUBLE AS approx_dist
         |       FROM scodes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
         |       WHERE cd.vec_id <> l.query_id
         |       GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, approx_dist,
         |             row_number() OVER (PARTITION BY query_id
         |                                ORDER BY approx_dist, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, approx_dist, rank FROM r WHERE rank <= 5""".stripMargin)),

    // forget execution, the WHOLE-WAREHOUSE record: one row per
    // family counting what actually SURVIVES the executed cascade
    // (not before-minus-removed arithmetic — each count runs over the
    // erased frame itself); the oracle recomputes every family from
    // the corpus minus the forget set, so a green row proves
    // erased-store ≡ corpus-minus-F rebuild across all nine families
    // in one read. Derived families (dictionary) re-derive from the
    // erased index — counted here off that derivation
    Query("q291_forget_execute", (s, dir) => {
      val e = erasedWarehouse(s, dir)
      def cnt(family: String, agged: DataFrame) =
        agged.select(lit(family).as("family"),
          col("rows_after").cast("long").as("rows_after"))
      // the three index-family merges read the per-process erased
      // tables — every fold ran once at its store build
      val idx = erasedIndexMerged(s, dir)
      Seq(
        cnt("index_postings", idx.agg(count(lit(1)).as("rows_after"))),
        cnt("positional_positions",
          erasedPositionalMerged(s, dir)
            .agg(coalesce(sum(col("tf")), lit(0L)).as("rows_after"))),
        cnt("chunk_postings",
          erasedChunksMerged(s, dir)
            .agg(count(lit(1)).as("rows_after"))),
        cnt("norms", e.norms.agg(count(lit(1)).as("rows_after"))),
        cnt("doc_meta", e.docMeta.agg(count(lit(1)).as("rows_after"))),
        cnt("facets", e.facets.agg(count(lit(1)).as("rows_after"))),
        cnt("pq_codes", e.pqCodes.agg(count(lit(1)).as("rows_after"))),
        cnt("dup_map", e.dupMap.agg(count(lit(1)).as("rows_after"))),
        cnt("vocab_terms", TextAnalysis.termDictionary(idx)
          .agg(count(lit(1)).as("rows_after")))
      ).reduce(_.unionByName(_))
    },
      // every family recounted from the corpus MINUS the forget set —
      // the erased-store ≡ rebuild identity, all nine families
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
         |sdup AS (SELECT rep, count(*) AS n FROM comp
         |         WHERE doc_id % 97 <> 0 GROUP BY rep),
         |spost AS (
         |  SELECT token, doc_id, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents WHERE doc_id % 97 <> 0)
         |  GROUP BY 1, 2),
         |wrd AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE doc_id % 97 <> 0),
         |ch0 AS (
         |  SELECT doc_id, ws,
         |         unnest(generate_series(0, greatest(len(ws) - 1 - 8, 0),
         |                                24)) AS sw
         |  FROM wrd),
         |chp AS (
         |  SELECT token, cid FROM (
         |    SELECT doc_id * 100000 + (sw // 24) AS cid,
         |           unnest(ws[sw + 1 : sw + 32]) AS token
         |    FROM ch0)
         |  GROUP BY 1, 2)
         |SELECT 'index_postings' AS family,
         |       (SELECT count(*) FROM spost)::BIGINT AS rows_after
         |UNION ALL SELECT 'positional_positions',
         |       (SELECT coalesce(sum(tf), 0) FROM spost)::BIGINT
         |UNION ALL SELECT 'chunk_postings',
         |       (SELECT count(*) FROM chp)::BIGINT
         |UNION ALL SELECT 'norms',
         |       (SELECT count(*) FROM documents
         |        WHERE doc_id % 97 <> 0)::BIGINT
         |UNION ALL SELECT 'doc_meta',
         |       (SELECT count(*) FROM documents
         |        WHERE doc_id % 97 <> 0)::BIGINT
         |UNION ALL SELECT 'facets',
         |       (SELECT 2 * count(*) FROM documents
         |        WHERE doc_id % 97 <> 0)::BIGINT
         |UNION ALL SELECT 'pq_codes',
         |       (SELECT 8 * count(*) FROM embeddings
         |        WHERE vec_id % 97 <> 0)::BIGINT
         |UNION ALL SELECT 'dup_map',
         |       (SELECT coalesce(sum(n), 0) FROM sdup WHERE n >= 2)::BIGINT
         |UNION ALL SELECT 'vocab_terms',
         |       (SELECT count(DISTINCT token) FROM spost)::BIGINT""".stripMargin)),
  )
}
