package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.SparkEntry.queries
import graft.ops._

/** Vector search ([[Similarity]]): brute-force kNN, LSH and IVF ANN,
  * learned centroids, Hamming signatures, quantization, tombstones and
  * compaction of the vector store, and the recall audits against the
  * exact baseline.
  */
object SimilarityQueries {
  /** recall@k audit body shared by q87 (learned IVF) and q108
    * (IVF-PQ/ADC): per-query hit count of the approximate result
    * against the exact brute-force baseline (q25), left-joined so a
    * zero-recall query still emits a row. One body — a rounding or
    * coalesce change cannot silently diverge the two audits (the SQL
    * side shares q25KnnSql / q92IvfPqSql the same way).
    */
  private[queries] def recallOf(approx: DataFrame, bf0: DataFrame): DataFrame = {
    val bf = bf0.select(col("query_id"), col("neighbor_id"))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(bf, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    bf.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("k").cast("double"), 6).as("recall_at_5"))
  }

  private[queries] def recallAudit(s: SparkSession, dir: String,
                          approxName: String): DataFrame =
    recallOf(queries(approxName)(s, dir),
      queries("q25_knn_bruteforce")(s, dir))

  /** The cosine brute-force kNN chain, parameterized over the corpus
    * filter (q300 ranks ground truth over the corpus MINUS the erased
    * ids); the default instance ([[q25KnnSql]]) is the q25/q87/q108
    * ground truth verbatim.
    */
  private[queries] def q25KnnSqlFor(surviving: String): String =
    s"""WITH e AS (
      |  SELECT * FROM (
      |    SELECT vec_id, embedding,
      |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
      |    FROM embeddings WHERE $surviving)
      |  WHERE norm2 > 0),
      |q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb, norm2 AS q_norm2
      |  FROM e WHERE vec_id < 10),
      |sc AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         round(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |                 i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
      |               / sqrt(q.q_norm2 * e.norm2), 6) AS score
      |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |r AS (
      |  SELECT query_id, neighbor_id, score,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY score DESC, neighbor_id) AS rank
      |  FROM sc)
      |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5""".stripMargin

  private[queries] val q25KnnSql: String = q25KnnSqlFor("TRUE")

  /** q69's IVF-search replay with the ASSIGNMENT side excluding the
    * deleted vec_id % 7 = 0 vectors — shared verbatim by q213
    * (tombstone read) and q215 (compaction rewrite): the two delete
    * mechanisms must be indistinguishable to a reader.
    */
  private val q213TombstoneIvfSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |c AS (SELECT vec_id AS centroid_id, embedding AS c_vec FROM e WHERE vec_id < 8),
      |cd AS (
      |  SELECT e.vec_id, c.centroid_id,
      |         round(sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |           i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
      |              * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
      |  FROM e CROSS JOIN c),
      |assign AS (
      |  SELECT vec_id AS neighbor_id, centroid_id FROM (
      |    SELECT vec_id, centroid_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
      |    FROM cd WHERE vec_id % 7 <> 0) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, centroid_id FROM (
      |    SELECT vec_id, centroid_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
      |    FROM cd WHERE vec_id < 10) WHERE rn <= 2),
      |n AS (
      |  SELECT * FROM (
      |    SELECT vec_id, embedding,
      |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
      |    FROM embeddings)
      |  WHERE norm2 > 0),
      |cand AS (
      |  SELECT p.query_id, a.neighbor_id
      |  FROM probes p JOIN assign a USING (centroid_id)
      |  WHERE p.query_id <> a.neighbor_id),
      |sc AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |         round(list_sum(list_transform(generate_series(1, len(nb.embedding)),
      |                 i -> q.embedding[i]::DOUBLE * nb.embedding[i]::DOUBLE))
      |               / sqrt(q.norm2 * nb.norm2), 6) AS score
      |  FROM cand
      |  JOIN n q ON q.vec_id = cand.query_id
      |  JOIN n nb ON nb.vec_id = cand.neighbor_id),
      |r AS (
      |  SELECT query_id, neighbor_id, score,
      |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |  FROM sc)
      |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5""".stripMargin

  /** q78's DuckDB SQL (both Lloyd rounds unrolled into the probe/score
    * shape), shared with the q87 recall audit. */
  private val q78IvfSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c0 AS (SELECT vec_id AS centroid_id,
        |              list_transform(embedding, x -> round(x::DOUBLE, 6)) AS c_vec
        |       FROM e WHERE vec_id < 8),
        |d1 AS (SELECT e.vec_id, c.centroid_id,
        |              round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |                i -> (e.embedding[i]::DOUBLE - c.c_vec[i]) * (e.embedding[i]::DOUBLE - c.c_vec[i])))), 6) AS dist
        |       FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, centroid_id FROM (
        |         SELECT vec_id, centroid_id,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |         FROM d1) WHERE rn = 1),
        |m1 AS (SELECT a.centroid_id, t.d,
        |              round(list_sum(list(e.embedding[t.d]::DOUBLE ORDER BY e.vec_id)) / count(*), 6) AS m
        |       FROM a1 a JOIN e USING (vec_id) CROSS JOIN generate_series(1, 64) t(d)
        |       GROUP BY a.centroid_id, t.d),
        |c1 AS (SELECT c0.centroid_id, coalesce(u.c_vec, c0.c_vec) AS c_vec
        |       FROM c0 LEFT JOIN (
        |         SELECT centroid_id, list(m ORDER BY d) AS c_vec FROM m1 GROUP BY centroid_id) u
        |       USING (centroid_id)),
        |d2 AS (SELECT e.vec_id, c.centroid_id,
        |              round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |                i -> (e.embedding[i]::DOUBLE - c.c_vec[i]) * (e.embedding[i]::DOUBLE - c.c_vec[i])))), 6) AS dist
        |       FROM e CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, centroid_id FROM (
        |         SELECT vec_id, centroid_id,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |         FROM d2) WHERE rn = 1),
        |m2 AS (SELECT a.centroid_id, t.d,
        |              round(list_sum(list(e.embedding[t.d]::DOUBLE ORDER BY e.vec_id)) / count(*), 6) AS m
        |       FROM a2 a JOIN e USING (vec_id) CROSS JOIN generate_series(1, 64) t(d)
        |       GROUP BY a.centroid_id, t.d),
        |c2 AS (SELECT c1.centroid_id, coalesce(u.c_vec, c1.c_vec) AS c_vec
        |       FROM c1 LEFT JOIN (
        |         SELECT centroid_id, list(m ORDER BY d) AS c_vec FROM m2 GROUP BY centroid_id) u
        |       USING (centroid_id)),
        |cd AS (SELECT e.vec_id, c.centroid_id,
        |              round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |                i -> (e.embedding[i]::DOUBLE - c.c_vec[i]) * (e.embedding[i]::DOUBLE - c.c_vec[i])))), 6) AS dist
        |       FROM e CROSS JOIN c2 c),
        |assign AS (
        |  SELECT vec_id AS neighbor_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |    FROM cd) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |    FROM cd WHERE vec_id < 10) WHERE rn <= 2),
        |n AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |cand AS (
        |  SELECT p.query_id, a.neighbor_id
        |  FROM probes p JOIN assign a USING (centroid_id)
        |  WHERE p.query_id <> a.neighbor_id),
        |sc AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         round(list_sum(list_transform(generate_series(1, len(nb.embedding)),
        |                 i -> q.embedding[i]::DOUBLE * nb.embedding[i]::DOUBLE))
        |               / sqrt(q.norm2 * nb.norm2), 6) AS score
        |  FROM cand
        |  JOIN n q ON q.vec_id = cand.query_id
        |  JOIN n nb ON nb.vec_id = cand.neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5""".stripMargin

  /** q142's full SQL parameterized by k — the q143 rerank oracle nests
    * it at k=20. DuckDB checks `1::BIGINT << 63` as an overflow where
    * Spark's shiftleft wraps to MIN_VALUE silently; the sign bit needs
    * the explicit two's-complement literal.
    */
  private def q142HammingSql(k: Int = 5): String =
    s"""WITH s AS (
       |  SELECT vec_id,
       |         coalesce(list_sum(list_transform(generate_series(0, least(len(embedding) - 1, 63)),
       |           i -> CASE WHEN embedding[i + 1] < 0 THEN 0::BIGINT
       |                     WHEN i = 63 THEN (-9223372036854775807 - 1)::BIGINT
       |                     ELSE (1::BIGINT << i) END)), 0)::BIGINT AS sig
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, sig AS q_sig FROM s WHERE vec_id < 10),
       |sc AS (SELECT q.query_id, s.vec_id AS neighbor_id,
       |              bit_count(xor(q.q_sig, s.sig))::BIGINT AS hamming
       |       FROM s CROSS JOIN q WHERE s.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, hamming,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY hamming, neighbor_id) AS rank
       |      FROM sc)
       |SELECT query_id, neighbor_id, hamming, rank FROM r WHERE rank <= $k""".stripMargin

  /** q143's full SQL: the binary shortlist at k=20, exact cosine over
    * only those pairs, final top-5 — q128's tail verbatim with the
    * Hamming chain as the candidate source.
    */
  private lazy val q143HammingRerankSql: String =
    s"""WITH hm AS (${q142HammingSql(20)}),
       |en AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
       |    FROM embeddings)
       |  WHERE norm2 > 0),
       |sc2 AS (
       |  SELECT a.query_id, a.neighbor_id,
       |         round(list_sum(list_transform(generate_series(1, len(n.embedding)),
       |                 i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
       |               / sqrt(q.norm2 * n.norm2), 6) AS score
       |  FROM hm a JOIN en q ON q.vec_id = a.query_id
       |            JOIN en n ON n.vec_id = a.neighbor_id),
       |r2 AS (
       |  SELECT query_id, neighbor_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc2)
       |SELECT query_id, neighbor_id, score, rank FROM r2 WHERE rank <= 5""".stripMargin

  val all: Seq[Query] = Seq(
    // ANN end-to-end on the LSH scale path: nearest cosine neighbor per
    // vector among same-bucket candidates (equi-join blocking, rank-1)
    Query("q42_ann_bucket_nearest", (s, dir) =>
      Similarity.bucketNearest(Tables.embeddings(s, dir), "vec_id", "embedding"),
      Oracle(
        """WITH e AS (
        |  SELECT * FROM (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2,
        |    list_sum(list_transform(generate_series(0, 7), p ->
        |      CASE WHEN list_sum(list_transform(generate_series(1, 64), d ->
        |             embedding[d]::DOUBLE *
        |             ((('0x'||substr(md5(p::VARCHAR || '_' || d::VARCHAR),1,15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0)
        |           )) >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS bucket
        |  FROM embeddings)
        |  WHERE norm2 > 0),
        |sc AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         round(list_sum(list_transform(generate_series(1, len(a.embedding)),
        |                 i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |               / sqrt(a.norm2 * b.norm2), 6) AS score
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id) AS rn
        |  FROM sc)
        |SELECT query_id, neighbor_id, score FROM r WHERE rn = 1""".stripMargin)),

    // brute-force cosine top-5 for query vectors 0..9
    Query("q25_knn_bruteforce", (s, dir) =>
      Similarity.cosineKnn(Tables.embeddings(s, dir), "vec_id", "embedding",
        (0L until 10L).toSeq, 5),
      Oracle(q25KnnSql)),

    // sign-random-projection LSH bucket per embedding (the ANN scale path)
    Query("q26_ann_lsh_buckets", (s, dir) =>
      Similarity.lshBuckets(Tables.embeddings(s, dir), "vec_id", "embedding"),
      Oracle(
        """SELECT vec_id,
        |  list_sum(list_transform(generate_series(0, 7), p ->
        |    CASE WHEN list_sum(list_transform(generate_series(1, 64), d ->
        |           embedding[d]::DOUBLE *
        |           ((('0x'||substr(md5(p::VARCHAR || '_' || d::VARCHAR),1,15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0)
        |         )) >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS bucket
        |FROM embeddings""".stripMargin)),

    // IVF-style coarse quantization: nearest deterministic centroid per
    // vector (the k-means-free stand-in for IVF ANN candidate blocking)
    Query("q33_ivf_assign", (s, dir) =>
      Similarity.ivfAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
        (0L until 8L).toSeq),
      Oracle(
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, embedding AS c_vec FROM e WHERE vec_id < 8),
        |sc AS (
        |  SELECT e.vec_id, c.centroid_id,
        |         round(sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
        |           i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
        |              * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
        |  FROM e CROSS JOIN c),
        |r AS (
        |  SELECT vec_id, centroid_id, dist,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY dist ASC, centroid_id ASC) AS rn
        |  FROM sc)
        |SELECT vec_id, centroid_id, dist FROM r WHERE rn = 1""".stripMargin)),

    // end-to-end IVF ANN: probe the 2 nearest of 8 centroid lists per
    // query, score only those lists' members — the scale path q33's
    // coarse assignment exists for (q25 is the exact baseline)
    Query("q69_ivf_search", (s, dir) =>
      Similarity.ivfSearch(Tables.embeddings(s, dir), "vec_id", "embedding",
        centroidIds = (0L until 8L).toSeq, queryIds = (0L until 10L).toSeq,
        k = 5, nprobe = 2),
      Oracle(
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, embedding AS c_vec FROM e WHERE vec_id < 8),
        |cd AS (
        |  SELECT e.vec_id, c.centroid_id,
        |         round(sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
        |           i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
        |              * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
        |  FROM e CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id AS neighbor_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |    FROM cd) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |    FROM cd WHERE vec_id < 10) WHERE rn <= 2),
        |n AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |cand AS (
        |  SELECT p.query_id, a.neighbor_id
        |  FROM probes p JOIN assign a USING (centroid_id)
        |  WHERE p.query_id <> a.neighbor_id),
        |sc AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         round(list_sum(list_transform(generate_series(1, len(nb.embedding)),
        |                 i -> q.embedding[i]::DOUBLE * nb.embedding[i]::DOUBLE))
        |               / sqrt(q.norm2 * nb.norm2), 6) AS score
        |  FROM cand
        |  JOIN n q ON q.vec_id = cand.query_id
        |  JOIN n nb ON nb.vec_id = cand.neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5""".stripMargin)),

    // Lloyd's k-means (2 deterministic rounds): learned-centroid
    // assignment, the production upgrade of q33's seed-vector
    // quantization; the oracle unrolls both rounds. orderedMeans=true
    // is the bit-exact oracle-parity mode — the DEFAULT (false) is the
    // scale path (plain partial-aggregating avg, no collect_list)
    Query("q70_kmeans_assign", (s, dir) =>
      Similarity.kmeansAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
        initIds = (0L until 8L).toSeq, iters = 2, orderedMeans = true),
      Oracle(
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c0 AS (SELECT vec_id AS centroid_id,
        |              list_transform(embedding, x -> round(x::DOUBLE, 6)) AS c_vec
        |       FROM e WHERE vec_id < 8),
        |d1 AS (SELECT e.vec_id, c.centroid_id,
        |              round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |                i -> (e.embedding[i]::DOUBLE - c.c_vec[i]) * (e.embedding[i]::DOUBLE - c.c_vec[i])))), 6) AS dist
        |       FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, centroid_id FROM (
        |         SELECT vec_id, centroid_id,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |         FROM d1) WHERE rn = 1),
        |m1 AS (SELECT a.centroid_id, t.d,
        |              round(list_sum(list(e.embedding[t.d]::DOUBLE ORDER BY e.vec_id)) / count(*), 6) AS m
        |       FROM a1 a JOIN e USING (vec_id) CROSS JOIN generate_series(1, 64) t(d)
        |       GROUP BY a.centroid_id, t.d),
        |c1 AS (SELECT c0.centroid_id, coalesce(u.c_vec, c0.c_vec) AS c_vec
        |       FROM c0 LEFT JOIN (
        |         SELECT centroid_id, list(m ORDER BY d) AS c_vec FROM m1 GROUP BY centroid_id) u
        |       USING (centroid_id)),
        |d2 AS (SELECT e.vec_id, c.centroid_id,
        |              round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |                i -> (e.embedding[i]::DOUBLE - c.c_vec[i]) * (e.embedding[i]::DOUBLE - c.c_vec[i])))), 6) AS dist
        |       FROM e CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, centroid_id FROM (
        |         SELECT vec_id, centroid_id,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |         FROM d2) WHERE rn = 1),
        |m2 AS (SELECT a.centroid_id, t.d,
        |              round(list_sum(list(e.embedding[t.d]::DOUBLE ORDER BY e.vec_id)) / count(*), 6) AS m
        |       FROM a2 a JOIN e USING (vec_id) CROSS JOIN generate_series(1, 64) t(d)
        |       GROUP BY a.centroid_id, t.d),
        |c2 AS (SELECT c1.centroid_id, coalesce(u.c_vec, c1.c_vec) AS c_vec
        |       FROM c1 LEFT JOIN (
        |         SELECT centroid_id, list(m ORDER BY d) AS c_vec FROM m2 GROUP BY centroid_id) u
        |       USING (centroid_id)),
        |d3 AS (SELECT e.vec_id, c.centroid_id,
        |              round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |                i -> (e.embedding[i]::DOUBLE - c.c_vec[i]) * (e.embedding[i]::DOUBLE - c.c_vec[i])))), 6) AS dist
        |       FROM e CROSS JOIN c2 c)
        |SELECT vec_id, centroid_id, dist FROM (
        |  SELECT vec_id, centroid_id, dist,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |  FROM d3) WHERE rn = 1""".stripMargin)),

    // the production IVF composition: ANN search over LEARNED k-means
    // centroid lists (q70's Lloyd rounds feeding q69's probe/score
    // shape) — candidate generation stays an equi-join on centroid_id,
    // ~nprobe/nlists of the corpus scored per query; the oracle unrolls
    // both k-means rounds then replays the probe/score pipeline
    Query("q78_ivf_learned", (s, dir) => {
      // centroids off the WRITTEN store: the two-round Lloyd
      // training ran once at store build (same seeds/rounds/rounding),
      // the serving read only assigns + probes — q87's recall audit
      // re-runs this body and inherits the saving
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfSearchWith(emb, "vec_id", "embedding",
        Stores.learnedCentroids(s, dir),
        queryIds = (0L until 10L).toSeq, k = 5, nprobe = 2)
    },
      // q70's two Lloyd rounds (c0 -> c2) feeding q69's probe/score shape
      Oracle(q78IvfSql)),

    // int8 scalar quantization (SQ8): per-vector scale + quantized
    // components, exploded — the 4x-memory ANN storage path
    Query("q74_quantize_int8", (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding"),
      Oracle(
        """WITH e AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS maxabs
        |  FROM embeddings),
        |f AS (SELECT vec_id, embedding, maxabs, round(maxabs / 127.0, 6) AS scale
        |      FROM e WHERE maxabs > 0)
        |SELECT vec_id, (i - 1)::INT AS pos,
        |       round(embedding[i]::DOUBLE / maxabs * 127.0)::INT AS q,
        |       scale
        |FROM (SELECT vec_id, embedding, maxabs, scale,
        |             unnest(generate_series(1, len(embedding))) AS i
        |      FROM f)""".stripMargin)),

    // ANN recall scaling: bucket-nearest over TWO independent SRP plane
    // families — candidates collide in ANY family, so per-family miss
    // rates multiply; still equi-join shaped (Σ bucket² per family)
    Query("q64_ann_multiprobe", (s, dir) =>
      Similarity.bucketNearestMulti(Tables.embeddings(s, dir),
        "vec_id", "embedding", families = 2),
      Oracle(
        """WITH fam AS (SELECT unnest(generate_series(0, 1)) AS family),
        |fb AS (
        |  SELECT e.vec_id, fam.family,
        |    list_sum(list_transform(generate_series(0, 7), p ->
        |      CASE WHEN list_sum(list_transform(generate_series(1, 64), d ->
        |             e.embedding[d]::DOUBLE *
        |             ((('0x'||substr(md5('f' || fam.family::VARCHAR || '_' || p::VARCHAR || '_' || d::VARCHAR),1,15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0)
        |           )) >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS bucket
        |  FROM embeddings e CROSS JOIN fam),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        |  FROM fb a JOIN fb b ON a.family = b.family AND a.bucket = b.bucket
        |                     AND a.vec_id <> b.vec_id),
        |e2 AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |sc AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         round(list_sum(list_transform(generate_series(1, 64),
        |             i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
        |           / sqrt(q.norm2 * n.norm2), 6) AS score
        |  FROM cand c
        |  JOIN e2 q ON c.query_id = q.vec_id
        |  JOIN e2 n ON c.neighbor_id = n.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id ASC) AS rn
        |  FROM sc)
        |SELECT query_id, neighbor_id, score FROM r WHERE rn = 1""".stripMargin)),

    // ANN quality audit: recall@5 of the learned-centroid IVF search
    // (q78, nprobe=2 of 8 lists) against the brute-force exact top-k
    // (q25), per query — the measured number a user tunes nprobe
    // against before scaling out. Both inputs are deterministic and
    // individually hash-exact, so the recall itself is oracled
    Query("q87_ivf_recall", (s, dir) => recallAudit(s, dir, "q78_ivf_learned"),
      // recall@5 of learned-IVF (q78) vs brute-force (q25), per query —
      // both sides' SQL is the shared val, wrapped as nested CTEs
      Oracle(
        s"""WITH ivf AS ($q78IvfSql),
         |bf AS ($q25KnnSql),
         |hits AS (
         |  SELECT query_id, count(*) AS h
         |  FROM ivf JOIN bf USING (query_id, neighbor_id) GROUP BY 1),
         |kk AS (SELECT query_id, count(*) AS k FROM bf GROUP BY 1)
         |SELECT kk.query_id,
         |       round(coalesce(h, 0)::DOUBLE / k::DOUBLE, 6) AS recall_at_5
         |FROM kk LEFT JOIN hits USING (query_id)""".stripMargin)),

    // cluster-balanced eval picks: a fixed 10 per centroid cluster by
    // salted-hash order — the diversity sampler (uniform sampling
    // over-represents dense regions; per-cluster quotas cover the
    // embedding space); rank<=n plans as WindowGroupLimit like q101
    Query("q105_cluster_balanced_sample", (s, dir) =>
      Sampling.fixedSizeSample(
        Similarity.ivfAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
          (0L until 8L).toSeq).select(col("vec_id"), col("centroid_id")),
        "vec_id", "centroid_id", n = 10, salt = "div:"),
      // q33's assignment head, q101's per-stratum rank over the cluster
      Oracle(
        """WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, embedding AS c_vec FROM e0 WHERE vec_id < 8),
        |sc AS (
        |  SELECT e0.vec_id, c.centroid_id,
        |         round(sqrt(list_sum(list_transform(generate_series(1, len(e0.embedding)),
        |           i -> (e0.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
        |              * (e0.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
        |  FROM e0 CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT vec_id, centroid_id FROM (
        |  SELECT vec_id, centroid_id,
        |         row_number() OVER (PARTITION BY centroid_id
        |           ORDER BY ('0x'||substr(md5('div:' || vec_id::VARCHAR),1,15))::BIGINT,
        |                    vec_id) AS rn
        |  FROM assign)
        |WHERE rn <= 10""".stripMargin)),

    // 1-bit-signature ANN: sign-packed 64-bit signatures, brute-force
    // popcount(XOR) top-5 — the 8-byte-per-vector first pass of a
    // binary serving stack (rerank exact over the shortlist, q128's
    // pattern); all-integer scores, so ranks replay exactly
    Query("q142_hamming_topk", (s, dir) =>
      Similarity.hammingTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", queryIds = (0L until 10L).toSeq, k = 5),
      // sign-packed signatures + popcount(xor) ranks — all integers,
      // q25's query/self-exclusion/tie-break conventions
      Oracle(q142HammingSql())),

    // binary-signature serving pipeline: 20-wide Hamming shortlist
    // (8 bytes/vector scanned), exact cosine over ONLY those pairs —
    // the q128 candidates-then-rerank layout with the cheapest
    // possible first pass
    Query("q143_hamming_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rerankExact(
        Similarity.hammingTopK(emb, "vec_id", "embedding",
          queryIds = (0L until 10L).toSeq, k = 20),
        emb, "vec_id", "embedding", k = 5)
    },
      // the q128 rerank tail over the 20-wide Hamming shortlist — the
      // SAME q142 SQL nested at k=20 (composed-oracle discipline)
      Oracle(q143HammingRerankSql)),

    // recall@5 of the binary pipeline vs exact brute force — the
    // fourth column of the recall story (IVF 0.86 / raw ADC ~0.16 /
    // ADC+rerank ~0.44 / binary+rerank measured here): on isotropic
    // random vectors 1-bit signatures quantize angles coarsely, so
    // this measures the floor of the compression spectrum
    Query("q144_hamming_recall", (s, dir) =>
      recallAudit(s, dir, "q143_hamming_rerank"),
      // the q129 audit shape over the binary pipeline
      Oracle(
        s"""WITH rr AS (SELECT query_id, neighbor_id FROM ($q143HammingRerankSql) t),
         |bf AS ($q25KnnSql),
         |hits AS (
         |  SELECT query_id, count(*) AS h
         |  FROM rr JOIN bf USING (query_id, neighbor_id) GROUP BY 1),
         |kk AS (SELECT query_id, count(*) AS k FROM bf GROUP BY 1)
         |SELECT kk.query_id,
         |       round(coalesce(h, 0)::DOUBLE / k::DOUBLE, 6) AS recall_at_5
         |FROM kk LEFT JOIN hits USING (query_id)""".stripMargin)),

    // TRUE multi-probe ANN (Lv 2007): each vector probes its own SRP
    // bucket plus the 2 buckets behind its least-confident sign bits
    // (smallest |margin| — where a true neighbor most likely flipped).
    // The OTHER recall lever from q64's stacked families: families buy
    // recall with memory, probing buys it with compute on ONE table
    Query("q146_ann_bitprobe", (s, dir) =>
      Similarity.bucketNearestProbed(Tables.embeddings(s, dir), "vec_id",
        "embedding", probes = 2),
      // the q26 plane matrix shared between bucket and margins: probe
      // planes = the 2 smallest round(|dot|,6) (plane-index tie-break),
      // probe buckets via xor, then the q64 scoring tail
      Oracle(
        """WITH pp AS (SELECT unnest(generate_series(0, 7)) AS p),
        |dt AS (
        |  SELECT e.vec_id, pp.p,
        |         list_sum(list_transform(generate_series(1, 64), d ->
        |           e.embedding[d]::DOUBLE *
        |           ((('0x'||substr(md5(pp.p::VARCHAR || '_' || d::VARCHAR),1,15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0))) AS dot
        |  FROM embeddings e CROSS JOIN pp),
        |fb AS (SELECT vec_id,
        |              sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p)
        |                       ELSE 0::BIGINT END)::BIGINT AS bucket
        |       FROM dt GROUP BY 1),
        |fl AS (SELECT vec_id, p FROM (
        |         SELECT vec_id, p,
        |                row_number() OVER (PARTITION BY vec_id
        |                                   ORDER BY round(abs(dot), 6), p) AS rn
        |         FROM dt) WHERE rn <= 2),
        |pb AS (SELECT f.vec_id, xor(fb.bucket, 1::BIGINT << f.p) AS probe_bucket
        |       FROM fl f JOIN fb USING (vec_id)
        |       UNION SELECT vec_id, bucket FROM fb),
        |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        |         FROM pb a JOIN fb b ON a.probe_bucket = b.bucket
        |                            AND a.vec_id <> b.vec_id),
        |e2 AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |sc AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         round(list_sum(list_transform(generate_series(1, 64),
        |             i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
        |           / sqrt(q.norm2 * n.norm2), 6) AS score
        |  FROM cand c
        |  JOIN e2 q ON c.query_id = q.vec_id
        |  JOIN e2 n ON c.neighbor_id = n.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id ASC) AS rn
        |  FROM sc)
        |SELECT query_id, neighbor_id, score FROM r WHERE rn = 1""".stripMargin)),

    // block-packed Hamming ANN (the binarySignPacked wide-vector path:
    // dims pack blockDim per BIGINT into an ARRAY, score = Σ popcount
    // per block): blockDim 16 over the 64-dim corpus forces 4 real
    // blocks through the gate, and the ranks must equal q142's —
    // same bits, same total popcount — so the oracle IS q142's SQL
    Query("q157_hamming_blocks", (s, dir) =>
      Similarity.hammingTopKBlocks(Tables.embeddings(s, dir), "vec_id",
        "embedding", queryIds = (0L until 10L).toSeq, k = 5,
        blockDim = 16),
      // block-packed signatures carry the SAME bits, so the total
      // popcount — and every rank — equals the single-BIGINT form: the
      // oracle is literally q142's SQL (the strongest statement of
      // block-layout equivalence)
      Oracle(q142HammingSql())),

    // incremental ANN-store ingest ≡ full rebuild at fixed centroids:
    // the store is built from the history slice and the fresh slice is
    // ingested against the SAME centroids (ivfStoreRows is the one
    // shared body of writeIvfBucketed and ivfIngest), so the union of
    // the two slices' store rows must equal assigning the WHOLE corpus
    // in one pass — which is exactly what the oracle computes (q33's
    // assignment with q25's zero-norm guard). `ingested` tags which
    // lifecycle path produced each row; AnnStoreSpec drives the
    // PHYSICAL append (old bucket files untouched, post-ingest search
    // ≡ rebuilt-store search); PLANS.md § "q167 incremental ANN-store
    // ingest" records the recall decay that tells the operator when
    // to re-centroid
    Query("q167_ivf_ingest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("c_vec"))
      val history = emb.filter(col("vec_id") % 5 =!= 0)
      val fresh = emb.filter(col("vec_id") % 5 === 0)
      Similarity.ivfStoreRows(history, "vec_id", "embedding", centroids)
        .withColumn("ingested", lit(false))
        .unionByName(
          Similarity.ivfStoreRows(fresh, "vec_id", "embedding", centroids)
            .withColumn("ingested", lit(true)))
        .select(col("vec_id"), col("centroid_id"),
          round(col("norm2"), 6).as("norm2"), col("ingested"))
    },
      // full-corpus single-pass assignment (q33's argmin at the 8 seed
      // centroids, q25's zero-norm guard) — the identity the two-phase
      // build+ingest must reproduce; `ingested` replays the slice split
      Oracle(
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, embedding AS c_vec FROM e WHERE vec_id < 8),
        |sc AS (
        |  SELECT e.vec_id, c.centroid_id,
        |         round(sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
        |           i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
        |              * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)))), 6) AS dist
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY dist ASC, centroid_id ASC) AS rn
        |    FROM sc) WHERE rn = 1),
        |n AS (
        |  SELECT vec_id,
        |         round(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), 6) AS norm2
        |  FROM e
        |  WHERE list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0)
        |SELECT a.vec_id, a.centroid_id, n.norm2,
        |       a.vec_id % 5 = 0 AS ingested
        |FROM a JOIN n ON a.vec_id = n.vec_id""".stripMargin)),

    // hard-negative mining (the DPR recipe): per anchor, top-5
    // negatives among the top-50 cosine candidates whose score lies in
    // [0.05, 0.5) — the ceiling excludes near-dups that would be FALSE
    // negatives, the floor excludes uninformative tail. Brute-force
    // candidate head at gate scale; the band+rank tail composes with
    // ANN candidates unchanged at corpus scale
    Query("q179_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), "vec_id",
        "embedding", queryIds = (0L until 10L).toSeq, candidateK = 50,
        simLo = 0.05, simHi = 0.5, k = 5),
      // q25's exact-knn body widened to the top-50 candidates, then the
      // [0.05, 0.5) band and the per-anchor re-rank — both comparisons
      // read the same 6-digit-rounded scores on both engines
      Oracle(
        """WITH e AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, norm2 AS q_norm2
        |  FROM e WHERE vec_id < 10),
        |sc AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         round(list_sum(list_transform(generate_series(1, len(e.embedding)),
        |                 i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |               / sqrt(q.q_norm2 * e.norm2), 6) AS score
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id) AS rank
        |  FROM sc),
        |band AS (
        |  SELECT query_id AS anchor_id, neighbor_id AS negative_id, score
        |  FROM r WHERE rank <= 50 AND score >= 0.05 AND score < 0.5),
        |rr AS (
        |  SELECT anchor_id, negative_id, score,
        |         row_number() OVER (PARTITION BY anchor_id
        |                            ORDER BY score DESC, negative_id) AS neg_rank
        |  FROM band)
        |SELECT anchor_id, negative_id, score, neg_rank::BIGINT AS neg_rank
        |FROM rr WHERE neg_rank <= 5""".stripMargin)),

    // MMR diversified top-3 over the top-20 cosine candidates
    // (Carbonell & Goldstein 1998 — the retrieval-diversification
    // staple after ANN): greedy λ·rel − μ·max-sim-to-picked with
    // λ = 0.7, μ = 0.3 passed as SEPARATE literals (1.0 − 0.7 is a
    // different double than 0.3 — the literal-operand float rule);
    // ties break by neighbor id, every score 6-digit-rounded before
    // the greedy arithmetic
    Query("q198_mmr_topk", (s, dir) =>
      Similarity.mmrTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryIds = (0L until 10L).toSeq, candidateK = 20, k = 3,
        lambdaRel = 0.7, lambdaDiv = 0.3),
      // the greedy loop unrolled (the duckBpeSql precedent): the q25
      // candidate body widened to top-20, pairwise candidate sims, then
      // three pick rounds — each an anti-join + max-sim + argmax with
      // the same raw-double ORDER BY the Spark struct argmin reads
      Oracle(
        """WITH e AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding,
        |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
        |    FROM embeddings)
        |  WHERE norm2 > 0),
        |q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm2 AS q_norm2
        |      FROM e WHERE vec_id < 10),
        |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |         round(list_sum(list_transform(generate_series(1, len(e.embedding)),
        |                 i -> q.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |               / sqrt(q.q_norm2 * e.norm2), 6) AS score
        |       FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |cand AS (SELECT query_id, neighbor_id, score FROM (
        |           SELECT *, row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, neighbor_id) AS rk
        |           FROM sc)
        |         WHERE rk <= 20),
        |cv AS (SELECT c.query_id, c.neighbor_id, e.embedding AS vec,
        |              e.norm2 AS n2
        |       FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        |ps AS (SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
        |         round(list_sum(list_transform(generate_series(1, len(a.vec)),
        |                 i -> a.vec[i]::DOUBLE * b.vec[i]::DOUBLE))
        |               / sqrt(a.n2 * b.n2), 6) AS sim
        |       FROM cv a JOIN cv b ON a.query_id = b.query_id
        |                          AND a.neighbor_id <> b.neighbor_id),
        |p1 AS (SELECT query_id, 1::BIGINT AS pick_rank, neighbor_id,
        |              score AS rel_score, 0.0 AS max_sim,
        |              round(0.7 * score - 0.3 * 0.0, 7) AS mmr_score
        |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                         ORDER BY 0.7 * score DESC, neighbor_id) AS rk
        |             FROM cand)
        |       WHERE rk = 1),
        |r2 AS (SELECT c.query_id, c.neighbor_id, c.score,
        |              coalesce(max(s.sim), 0.0) AS max_sim
        |       FROM cand c
        |       LEFT JOIN (SELECT ps.query_id, ps.a_id, ps.sim FROM ps
        |                  JOIN p1 ON ps.query_id = p1.query_id
        |                         AND ps.b_id = p1.neighbor_id) s
        |         ON s.query_id = c.query_id AND s.a_id = c.neighbor_id
        |       WHERE NOT EXISTS (SELECT 1 FROM p1
        |                         WHERE p1.query_id = c.query_id
        |                           AND p1.neighbor_id = c.neighbor_id)
        |       GROUP BY 1, 2, 3),
        |p2 AS (SELECT query_id, 2::BIGINT AS pick_rank, neighbor_id,
        |              score AS rel_score, max_sim,
        |              round(0.7 * score - 0.3 * max_sim, 7) AS mmr_score
        |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                         ORDER BY 0.7 * score - 0.3 * max_sim DESC,
        |                                  neighbor_id) AS rk
        |             FROM r2)
        |       WHERE rk = 1),
        |pp AS (SELECT query_id, neighbor_id FROM p1
        |       UNION ALL SELECT query_id, neighbor_id FROM p2),
        |r3 AS (SELECT c.query_id, c.neighbor_id, c.score,
        |              coalesce(max(s.sim), 0.0) AS max_sim
        |       FROM cand c
        |       LEFT JOIN (SELECT ps.query_id, ps.a_id, ps.sim FROM ps
        |                  JOIN pp ON ps.query_id = pp.query_id
        |                         AND ps.b_id = pp.neighbor_id) s
        |         ON s.query_id = c.query_id AND s.a_id = c.neighbor_id
        |       WHERE NOT EXISTS (SELECT 1 FROM pp
        |                         WHERE pp.query_id = c.query_id
        |                           AND pp.neighbor_id = c.neighbor_id)
        |       GROUP BY 1, 2, 3),
        |p3 AS (SELECT query_id, 3::BIGINT AS pick_rank, neighbor_id,
        |              score AS rel_score, max_sim,
        |              round(0.7 * score - 0.3 * max_sim, 7) AS mmr_score
        |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                         ORDER BY 0.7 * score - 0.3 * max_sim DESC,
        |                                  neighbor_id) AS rk
        |             FROM r3)
        |       WHERE rk = 1)
        |SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |UNION ALL SELECT * FROM p3""".stripMargin)),

    // vector-store tombstone DELETES (q212's id-addressed sibling):
    // every vec_id % 7 = 0 vector is deleted via the read-time
    // anti-join; the IVF search must serve as if they were never
    // stored — store files untouched, deleted ids can still QUERY
    Query("q213_ann_tombstones", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("c_vec"))
      val store = Similarity.ivfStoreRows(emb, "vec_id", "embedding",
        centroids)
      val tomb = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      Similarity.ivfSearchBucketed(
        Similarity.applyTombstones(store, tomb, "vec_id"), emb,
        "vec_id", "embedding", centroids,
        queryIds = (0L until 10L).toSeq, k = 5, nprobe = 2)
    },
      // ONE oracle proves both halves of the vector-store delete story:
      // q213 (tombstone read) and q215 (compaction rewrite) must both
      // serve the IVF search over the corpus minus deleted vectors —
      // q69's SQL with the assignment side excluding them (queries stay
      // unrestricted: deleted ids may still ask)
      Oracle(q213TombstoneIvfSql)),

    // vector-store COMPACTION: the rebuild-minus-tombstones rewrite
    // must serve exactly what the tombstone READ (q213) serves — the
    // same oracle proves both (the q205 compaction-commutes rule
    // applied to the id-addressed store)
    Query("q215_ann_compaction", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("c_vec"))
      val compacted = Similarity.ivfStoreRows(
        emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
        centroids)
      Similarity.ivfSearchBucketed(compacted, emb, "vec_id",
        "embedding", centroids,
        queryIds = (0L until 10L).toSeq, k = 5, nprobe = 2)
    },
      Oracle(q213TombstoneIvfSql)),
  )
}
