package graft.queries

import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.SparkEntry.queries
import graft.ops._
import SimilarityQueries.{q25KnnSql, q25KnnSqlFor, recallAudit, recallOf}

/** Product quantization ([[Pq]]) and the PQ code stores: PQ encode,
  * ADC search, IVF-PQ with and without residuals, reranking, their
  * recall audits, and the vector-store retrain lifecycle.
  */
object PqQueries {
  /** Shared DuckDB CTE body for the PQ family (q88/q89): subvector
    * expansion, one Lloyd round of per-subspace codebooks (the q70
    * unroll with `sub` as a grouping column; ordered means), and the
    * final code assignment. Defines CTEs e, sv, c0, d1, a1, m1, cb,
    * dd, codes.
    *
    * The PQ train+encode CTE chain, parameterized: `surviving` filters
    * the corpus (q298 trains model B on the corpus MINUS the erased
    * ids), `seedPred` picks the codebook seed vectors (model A seeds
    * 0–3; the retrained model B seeds 4–7). The default instance
    * ([[duckPqBody]]) is the q88/q89/q92 store regimen verbatim.
    */
  private def duckPqBodyFor(surviving: String, seedPred: String): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings WHERE $surviving),
      |sv AS (SELECT vec_id, j.sub, list_transform(embedding[j.sub*8+1 : j.sub*8+8], x -> x::DOUBLE) AS v
      |       FROM e CROSS JOIN generate_series(0, 7) j(sub)),
      |c0 AS (SELECT sub, vec_id AS code, list_transform(v, x -> round(x, 6)) AS c_vec
      |       FROM sv WHERE $seedPred),
      |d1 AS (SELECT s.vec_id, s.sub, c.code,
      |              round(sqrt(list_sum(list_transform(generate_series(1, 8),
      |                i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i])))), 6) AS dist
      |       FROM sv s JOIN c0 c ON s.sub = c.sub),
      |a1 AS (SELECT vec_id, sub, code FROM (
      |         SELECT vec_id, sub, code,
      |                row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
      |         FROM d1) WHERE rn = 1),
      |m1 AS (SELECT a.sub, a.code, t.d,
      |              round(list_sum(list(s.v[t.d] ORDER BY s.vec_id)) / count(*), 6) AS mn
      |       FROM a1 a JOIN sv s ON a.vec_id = s.vec_id AND a.sub = s.sub
      |       CROSS JOIN generate_series(1, 8) t(d)
      |       GROUP BY a.sub, a.code, t.d),
      |cb AS (SELECT c0.sub, c0.code, coalesce(u.c_vec, c0.c_vec) AS c_vec
      |       FROM c0 LEFT JOIN (
      |         SELECT sub, code, list(mn ORDER BY d) AS c_vec FROM m1 GROUP BY sub, code) u
      |       ON c0.sub = u.sub AND c0.code = u.code),
      |dd AS (SELECT s.vec_id, s.sub, c.code,
      |              round(sqrt(list_sum(list_transform(generate_series(1, 8),
      |                i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i])))), 6) AS dist
      |       FROM sv s JOIN cb c ON s.sub = c.sub),
      |codes AS (SELECT vec_id, sub, code FROM (
      |            SELECT vec_id, sub, code,
      |                   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
      |            FROM dd) WHERE rn = 1)""".stripMargin

  private[queries] val duckPqBody: String = duckPqBodyFor("TRUE", "vec_id < 4")

  /** q298's DuckDB SQL (the retrained-store ADC ≡ one-shot rebuild at
    * model B), shared with the q300 recall audit's nested CTE.
    */
  private lazy val q298RetrainSql: String =
    s"""WITH ${duckPqBodyFor("vec_id NOT IN (11, 13)",
                             "vec_id >= 4 AND vec_id < 8")},
       |lut AS (SELECT s.vec_id AS query_id, s.sub, c.code,
       |               round(list_sum(list_transform(generate_series(1, 8),
       |                 i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i]))), 6)::DECIMAL(28,10) AS pd
       |        FROM sv s JOIN cb c ON s.sub = c.sub WHERE s.vec_id < 10),
       |sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.pd)::DOUBLE AS approx_dist
       |       FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
       |       WHERE cd.vec_id <> l.query_id
       |       GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, approx_dist,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY approx_dist, neighbor_id) AS rank
       |      FROM sc)
       |SELECT query_id, neighbor_id, approx_dist, rank FROM r WHERE rank <= 5""".stripMargin

  /** q98's DuckDB SQL (residual IVF-PQ end-to-end), shared with the
    * q109 recall audit's nested CTE. The d1r/a1r/m1r/cbr block is ONE
    * Lloyd round over the residual subvectors — the duckPqBody d1/a1/
    * m1/cb unroll verbatim with `rsv`/`c0r` in place of `sv`/`c0` —
    * so the residual codebooks train under the SAME regimen as q92's
    * raw-vector codebooks (iters = 1, ordered means) and the q108 vs
    * q109 recall comparison is equal-footing.
    */
  private val q98ResidualSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, embedding AS c_vec FROM e WHERE vec_id < 8),
        |cvd AS (
        |  SELECT e.vec_id, c.centroid_id,
        |         round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |           i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
        |              * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
        |  FROM e CROSS JOIN cents c),
        |assign AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |    FROM cvd) WHERE rn = 1),
        |rv AS (
        |  SELECT e.vec_id, a.centroid_id,
        |         list_transform(generate_series(1, 64),
        |           i -> e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE) AS rvec
        |  FROM e JOIN assign a USING (vec_id)
        |  JOIN cents c ON a.centroid_id = c.centroid_id),
        |rsv AS (
        |  SELECT vec_id, centroid_id, j.sub, rvec[j.sub*8+1 : j.sub*8+8] AS v
        |  FROM rv CROSS JOIN generate_series(0, 7) j(sub)),
        |c0r AS (
        |  SELECT sub, vec_id AS code, list_transform(v, x -> round(x, 6)) AS c_vec
        |  FROM rsv WHERE vec_id IN (8, 9, 10, 11)),
        |d1r AS (
        |  SELECT s.vec_id, s.sub, c.code,
        |         round(sqrt(list_sum(list_transform(generate_series(1, 8),
        |           i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i])))), 6) AS dist
        |  FROM rsv s JOIN c0r c ON s.sub = c.sub),
        |a1r AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM d1r) WHERE rn = 1),
        |m1r AS (
        |  SELECT a.sub, a.code, t.d,
        |         round(list_sum(list(s.v[t.d] ORDER BY s.vec_id)) / count(*), 6) AS mn
        |  FROM a1r a JOIN rsv s ON a.vec_id = s.vec_id AND a.sub = s.sub
        |  CROSS JOIN generate_series(1, 8) t(d)
        |  GROUP BY a.sub, a.code, t.d),
        |cbr AS (
        |  SELECT c0r.sub, c0r.code, coalesce(u.c_vec, c0r.c_vec) AS c_vec
        |  FROM c0r LEFT JOIN (
        |    SELECT sub, code, list(mn ORDER BY d) AS c_vec FROM m1r GROUP BY sub, code) u
        |  ON c0r.sub = u.sub AND c0r.code = u.code),
        |codes AS (
        |  SELECT vec_id, centroid_id, sub, code FROM (
        |    SELECT s.vec_id, s.centroid_id, s.sub, c.code,
        |           row_number() OVER (PARTITION BY s.vec_id, s.sub
        |             ORDER BY round(sqrt(list_sum(list_transform(generate_series(1, 8),
        |               i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i])))), 6), c.code) AS rn
        |    FROM rsv s JOIN cbr c ON s.sub = c.sub) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |    FROM cvd WHERE vec_id < 10) WHERE rn <= 2),
        |rq AS (
        |  SELECT p.query_id, p.centroid_id,
        |         list_transform(generate_series(1, 64),
        |           i -> e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE) AS rvec
        |  FROM probes p JOIN e ON e.vec_id = p.query_id
        |  JOIN cents c ON p.centroid_id = c.centroid_id),
        |lut AS (
        |  SELECT r.query_id, r.centroid_id, j.sub, c.code,
        |         round(list_sum(list_transform(generate_series(1, 8),
        |           i -> (r.rvec[j.sub*8+i] - c.c_vec[i]) * (r.rvec[j.sub*8+i] - c.c_vec[i]))), 6)::DECIMAL(28,10) AS pd
        |  FROM rq r CROSS JOIN generate_series(0, 7) j(sub)
        |  JOIN cbr c ON c.sub = j.sub),
        |sc AS (
        |  SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.pd)::DOUBLE AS approx_dist
        |  FROM codes cd
        |  JOIN lut l ON l.centroid_id = cd.centroid_id
        |            AND l.sub = cd.sub AND l.code = cd.code
        |  WHERE cd.vec_id <> l.query_id
        |  GROUP BY 1, 2),
        |r2 AS (
        |  SELECT query_id, neighbor_id, approx_dist,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY approx_dist, neighbor_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, approx_dist, rank FROM r2 WHERE rank <= 5""".stripMargin

  /** q128's full SQL: the q92 IVF-PQ chain widened to a 20-candidate
    * shortlist, exact cosine (q25's expression) over only those pairs,
    * final top-5. A val so the q129 recall audit nests it verbatim.
    */
  private lazy val q128RerankSql: String =
    s"""WITH adc AS (${q92IvfPqSql(20)}),
       |en AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
       |    FROM embeddings)
       |  WHERE norm2 > 0),
       |sc AS (
       |  SELECT a.query_id, a.neighbor_id,
       |         round(list_sum(list_transform(generate_series(1, len(n.embedding)),
       |                 i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
       |               / sqrt(q.norm2 * n.norm2), 6) AS score
       |  FROM adc a JOIN en q ON q.vec_id = a.query_id
       |             JOIN en n ON n.vec_id = a.neighbor_id),
       |r AS (
       |  SELECT query_id, neighbor_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5""".stripMargin

  /** Full q92 IVF-PQ SQL (coarse probes over the seed centroids + ADC
    * scoring over the q88 codes) — shared by the q92 map entry and the
    * q108 recall audit's nested CTE.
    */
  private def q92IvfPqSql(k: Int = 5): String =
    s"""WITH $duckPqBody,
       |cents AS (SELECT vec_id AS centroid_id, embedding AS c_vec FROM e WHERE vec_id < 8),
       |cvd AS (
       |  SELECT e.vec_id, c.centroid_id,
       |         round(sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
       |           i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
       |              * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
       |  FROM e CROSS JOIN cents c),
       |assign AS (
       |  SELECT vec_id AS neighbor_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
       |    FROM cvd) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
       |    FROM cvd WHERE vec_id < 10) WHERE rn <= 2),
       |cand AS (
       |  SELECT p.query_id, a.neighbor_id
       |  FROM probes p JOIN assign a USING (centroid_id)
       |  WHERE p.query_id <> a.neighbor_id),
       |lut AS (SELECT s.vec_id AS query_id, s.sub, c.code,
       |               round(list_sum(list_transform(generate_series(1, 8),
       |                 i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i]))), 6)::DECIMAL(28,10) AS pd
       |        FROM sv s JOIN cb c ON s.sub = c.sub WHERE s.vec_id < 10),
       |sc AS (SELECT ca.query_id, ca.neighbor_id, sum(l.pd)::DOUBLE AS approx_dist
       |       FROM cand ca
       |       JOIN codes cd2 ON cd2.vec_id = ca.neighbor_id
       |       JOIN lut l ON l.query_id = ca.query_id
       |                 AND l.sub = cd2.sub AND l.code = cd2.code
       |       GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, approx_dist,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY approx_dist, neighbor_id) AS rank
       |      FROM sc)
       |SELECT query_id, neighbor_id, approx_dist, rank FROM r WHERE rank <= $k""".stripMargin

  val all: Seq[Query] = Seq(
    // product quantization codes: 8 subspaces x 4 learned codes (one
    // Lloyd round, ordered means for oracle parity) — each 64-float
    // vector compressed to 8 codes, SERVED from the written code table
    // (training + encoding run once at store build; the oracle unrolls
    // the per-subspace k-means — the q70 pattern with `sub` riding as
    // a grouping column — proving the store against a from-scratch
    // recompute, the q245 store-vs-log posture)
    Query("q88_pq_encode", (s, dir) =>
      Stores.pqCodes(s, dir).select(col("vec_id"), col("sub"), col("code")),
      Oracle(
        s"""WITH $duckPqBody
         |SELECT vec_id, sub, code FROM codes""".stripMargin)),

    // ADC top-5 per query over the STORED PQ codes: per-query LUT of
    // partial squared distances, DECIMAL-exact m-term sums — the
    // compressed-domain ANN scoring path; only the 10 query vectors
    // leave the embedding table
    Query("q89_pq_adc", (s, dir) =>
      Pq.adcSearchCoded(Stores.pqCodes(s, dir), Tables.embeddings(s, dir),
        "vec_id", "embedding", Stores.pqCodebooks(s, dir),
        queryIds = (0L until 10L).toSeq, k = 5,
        m = Stores.PqM, subDim = Stores.PqSubDim),
      // ADC: per-query (sub, code) partial squared distances as
      // DECIMAL(28,10) — exact, order-independent sums on both engines
      Oracle(
        s"""WITH $duckPqBody,
         |lut AS (SELECT s.vec_id AS query_id, s.sub, c.code,
         |               round(list_sum(list_transform(generate_series(1, 8),
         |                 i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i]))), 6)::DECIMAL(28,10) AS pd
         |        FROM sv s JOIN cb c ON s.sub = c.sub WHERE s.vec_id < 10),
         |sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.pd)::DOUBLE AS approx_dist
         |       FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
         |       WHERE cd.vec_id <> l.query_id
         |       GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, approx_dist,
         |             row_number() OVER (PARTITION BY query_id
         |                                ORDER BY approx_dist, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, approx_dist, rank FROM r WHERE rank <= 5""".stripMargin)),

    // IVF-PQ with RESIDUAL encoding — the canonical refinement: codes
    // quantize (vec − assigned centroid); each query builds a
    // LIST-LOCAL lookup table from its residual to each probed
    // centroid, and the LUT's (centroid, sub, code) join key doubles
    // as the candidate generator. Codebooks seed from the initIds'
    // residual subvectors (ids 8–11 — non-centroids, so residuals are
    // nonzero) and train ONE Lloyd round with ordered means — the SAME
    // regimen as q92's raw-vector codebooks, so the q108-vs-q109
    // recall comparison is equal-footing (iters = 0 here would
    // compare an untrained quantizer against a trained one)
    Query("q98_ivfpq_residual", (s, dir) =>
      Pq.ivfPqSearchCoded(Stores.pqResidualCodes(s, dir),
        Tables.embeddings(s, dir), "vec_id", "embedding",
        Stores.pqCoarse(s, dir), Stores.pqResidualCodebooks(s, dir),
        queryIds = (0L until 10L).toSeq, k = 5, nprobe = 2,
        m = Stores.PqM, subDim = Stores.PqSubDim),
      // residual IVF-PQ: residuals against the assigned coarse centroid,
      // codebooks = initIds' residual subvectors (rounded), list-local
      // query LUTs; DECIMAL sums as in q89 (shared val — q109's recall
      // audit nests the same SQL)
      Oracle(q98ResidualSql)),

    // IVF-PQ end-to-end: candidates implicit in the probed
    // centroid_id join against the STORED code table (a vector lives
    // in exactly one coarse list, carried as the store's bucket key),
    // scored in the COMPRESSED domain by ADC — the standard 100 TB
    // ANN memory layout: ~nprobe/nlists of the code table read per
    // query, vectors touched only for the queries themselves
    Query("q92_ivfpq", (s, dir) =>
      Pq.adcSearchProbed(Stores.pqCodes(s, dir), Tables.embeddings(s, dir),
        "vec_id", "embedding", Stores.pqCoarse(s, dir),
        Stores.pqCodebooks(s, dir), queryIds = (0L until 10L).toSeq,
        k = 5, nprobe = 2, m = Stores.PqM, subDim = Stores.PqSubDim),
      // coarse candidates exactly as in q69, ADC scoring exactly as in
      // q89 — composed
      Oracle(q92IvfPqSql())),

    // recall@5 of compressed-domain IVF-PQ (q92's ADC over 8-byte
    // codes) vs exact brute force — quantization loss + coarse-probe
    // loss in ONE measured number, the ADC counterpart of q87
    Query("q108_ivfpq_recall", (s, dir) => recallAudit(s, dir, "q92_ivfpq"),
      // recall@5 of the compressed-domain IVF-PQ search (q92) against
      // exact brute force (q25) — the q87 audit shape over ADC scores
      Oracle(
        s"""WITH adc AS (${q92IvfPqSql()}),
         |bf AS ($q25KnnSql),
         |hits AS (
         |  SELECT query_id, count(*) AS h
         |  FROM adc JOIN bf USING (query_id, neighbor_id) GROUP BY 1),
         |kk AS (SELECT query_id, count(*) AS k FROM bf GROUP BY 1)
         |SELECT kk.query_id,
         |       round(coalesce(h, 0)::DOUBLE / k::DOUBLE, 6) AS recall_at_5
         |FROM kk LEFT JOIN hits USING (query_id)""".stripMargin)),

    // recall@5 of the RESIDUAL IVF-PQ path (q98): the Jégou-canonical
    // layout quantizes (vec − centroid), which should beat q108's
    // raw-vector codes on the same data — this row MEASURES that claim
    // (the audit body and its oracle are shared with q87/q108)
    Query("q109_ivfpq_residual_recall", (s, dir) =>
      recallAudit(s, dir, "q98_ivfpq_residual"),
      // recall@5 of the RESIDUAL IVF-PQ path (q98) vs brute force — the
      // q87/q108 audit shape over the shared q98 SQL
      Oracle(
        s"""WITH adc AS ($q98ResidualSql),
         |bf AS ($q25KnnSql),
         |hits AS (
         |  SELECT query_id, count(*) AS h
         |  FROM adc JOIN bf USING (query_id, neighbor_id) GROUP BY 1),
         |kk AS (SELECT query_id, count(*) AS k FROM bf GROUP BY 1)
         |SELECT kk.query_id,
         |       round(coalesce(h, 0)::DOUBLE / k::DOUBLE, 6) AS recall_at_5
         |FROM kk LEFT JOIN hits USING (query_id)""".stripMargin)),

    // candidates-then-rerank, the production ANN serving layout: q92's
    // compressed-domain ADC prunes to a 20-candidate shortlist per
    // query (8-byte codes, ~nprobe/nlists of the corpus scanned), then
    // ONLY those pairs touch full-precision vectors, scored exactly in
    // the serving metric (cosine, the shared tail — q25's rounding and
    // tie-break). Recall becomes shortlist coverage (q129 measures the
    // recovery over raw ADC's q108)
    Query("q128_ivfpq_rerank", (s, dir) => {
      // served STORE-FIRST: the inline form re-trained the
      // codebooks (a Lloyd pass) and re-assigned the whole corpus to
      // coarse lists per query; the stored model/code tables carry the
      // same regimen (m=8, subDim=8, seeds 0-3, Lloyd-1 ordered means,
      // coarse = vec_id < 8), and adcSearchProbed is row-for-row the
      // adcSearch(candidates = ivfCandidates(...)) composition — the
      // q92 identity, reused here
      val emb = Tables.embeddings(s, dir)
      val shortlist = Pq.adcSearchProbed(Stores.pqCodes(s, dir), emb,
        "vec_id", "embedding", Stores.pqCoarse(s, dir),
        Stores.pqCodebooks(s, dir), queryIds = (0L until 10L).toSeq,
        k = 20, nprobe = 2, m = Stores.PqM, subDim = Stores.PqSubDim)
      Similarity.rerankExact(shortlist, emb, "vec_id", "embedding", k = 5)
    },
      // the q92 chain widened to a 20-candidate shortlist, then exact
      // cosine over ONLY those pairs (q25's scoring expression verbatim)
      Oracle(q128RerankSql)),

    // recall@5 of the reranked pipeline (q128) vs exact brute force —
    // the third column of the q87/q108/q109 recall story: coarse IVF
    // 0.86, raw ADC ~0.16, ADC shortlist + exact rerank recovers most
    // of the gap at 20 full-vector reads per query
    Query("q129_rerank_recall", (s, dir) =>
      recallAudit(s, dir, "q128_ivfpq_rerank"),
      // the q108 audit shape over the reranked result — the SAME q128
      // SQL nested verbatim (composed-oracle discipline, zero drift)
      Oracle(
        s"""WITH rr AS (SELECT query_id, neighbor_id FROM ($q128RerankSql) t),
         |bf AS ($q25KnnSql),
         |hits AS (
         |  SELECT query_id, count(*) AS h
         |  FROM rr JOIN bf USING (query_id, neighbor_id) GROUP BY 1),
         |kk AS (SELECT query_id, count(*) AS k FROM bf GROUP BY 1)
         |SELECT kk.query_id,
         |       round(coalesce(h, 0)::DOUBLE / k::DOUBLE, 6) AS recall_at_5
         |FROM kk LEFT JOIN hits USING (query_id)""".stripMargin)),

    // the vector-family RETRAIN lifecycle end-to-end (train model A →
    // ingest the corpus at it → erase two ids through the delete log →
    // retrain at model B on the survivors), read back through the
    // serving ADC path. The oracle recomputes a ONE-SHOT encode at
    // model B over the surviving vectors — the retrain-≡-rebuild
    // identity, with the pre-retrain erasures carried across the
    // rewrite
    Query("q298_vector_retrain", (s, dir) => {
      val t = Stores.retrainedVectorWarehouse(s, dir)
      graft.jobs.ServingWarehouse.annRead(s, t,
        Tables.embeddings(s, dir), queryIds = (0L until 10L).toSeq,
        k = 5)
    },
      // post-retrain ADC ≡ a one-shot rebuild at model B: the SAME
      // train+encode+ADC chain as q89, re-parameterized to the retrain
      // state — corpus minus the erased ids {11, 13} (they shape
      // neither the new codebooks nor the code table), seeds 4–7
      Oracle(q298RetrainSql)),

    // the vector family's DRIFT MONITOR as a first-class read (the
    // retrain trigger): probe the surviving corpus against the
    // retrained warehouse's WRITTEN model and emit one exact
    // reconstruction-statistics row — count, mean squared PQ
    // quantization error, mean squared distance to the assigned
    // coarse centroid. DECIMAL partial sums keep the fold
    // engine-exact, so the monitor itself is oracled
    Query("q299_model_audit", (s, dir) => {
      val t = Stores.retrainedVectorWarehouse(s, dir)
      graft.jobs.ServingWarehouse.vectorModelAudit(s, t,
        graft.ops.Forget.rowErase(
          Tables.embeddings(s, dir).select(col("vec_id"),
            col("embedding")),
          "vec_id", s.table(t.deletes)))
    },
      // the drift monitor replayed from scratch: encode the surviving
      // corpus at the retrained model and fold the reconstruction
      // errors with exact DECIMAL sums — one double division at the end
      Oracle(
        s"""WITH ${duckPqBodyFor("vec_id NOT IN (11, 13)",
                               "vec_id >= 4 AND vec_id < 8")},
         |qe AS (SELECT cd.vec_id,
         |              sum(round(list_sum(list_transform(generate_series(1, 8),
         |                i -> (s.v[i] - c.c_vec[i]) * (s.v[i] - c.c_vec[i]))), 6)::DECIMAL(28,10)) AS sq
         |       FROM codes cd
         |       JOIN sv s ON cd.vec_id = s.vec_id AND cd.sub = s.sub
         |       JOIN cb c ON cd.sub = c.sub AND cd.code = c.code
         |       GROUP BY 1),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS c_vec
         |          FROM e WHERE vec_id IN (0, 1)),
         |cd2 AS (SELECT e.vec_id,
         |               round(sqrt(list_sum(list_transform(generate_series(1, 64),
         |                 i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
         |                    * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
         |        FROM e CROSS JOIN cents c),
         |amin AS (SELECT vec_id, min(dist) AS dist FROM cd2 GROUP BY 1),
         |j AS (SELECT qe.vec_id, qe.sq, amin.dist FROM qe JOIN amin USING (vec_id))
         |SELECT count(*)::BIGINT AS n_probe,
         |       round(sum(sq)::DOUBLE / count(*), 6) AS mse_quant,
         |       round(sum(round(dist * dist, 6)::DECIMAL(28,10))::DOUBLE / count(*), 6) AS mse_coarse
         |FROM j""".stripMargin)),

    // recall@5 of the retrained store's serving ADC read against
    // exact cosine kNN over the SURVIVING corpus — the q108-shape
    // recall audit pointed at the LIVE warehouse (the drift number an
    // operator trends next to q299's reconstruction error; both are
    // deterministic, so the recall itself is oracled)
    Query("q300_retrain_recall", (s, dir) => {
      val t = Stores.retrainedVectorWarehouse(s, dir)
      recallOf(
        queries("q298_vector_retrain")(s, dir),
        Similarity.cosineKnn(
          graft.ops.Forget.rowErase(
            Tables.embeddings(s, dir).select(col("vec_id"),
              col("embedding")),
            "vec_id", s.table(t.deletes)),
          "vec_id", "embedding", (0L until 10L).toSeq, 5))
    },
      // recall@5 of the retrained store's serving ADC against exact
      // cosine kNN over the SURVIVING corpus — the q108-shape audit
      // pointed at the LIVE warehouse (the number an operator trends
      // next to q299's reconstruction error)
      Oracle(
        s"""WITH adc AS ($q298RetrainSql),
         |bf AS (${q25KnnSqlFor("vec_id NOT IN (11, 13)")}),
         |hits AS (
         |  SELECT query_id, count(*) AS h
         |  FROM adc JOIN bf USING (query_id, neighbor_id) GROUP BY 1),
         |kk AS (SELECT query_id, count(*) AS k FROM bf GROUP BY 1)
         |SELECT kk.query_id,
         |       round(coalesce(h, 0)::DOUBLE / k::DOUBLE, 6) AS recall_at_5
         |FROM kk LEFT JOIN hits USING (query_id)""".stripMargin)),
  )
}
