package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing.md5LongSql

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline: corpus x (broadcast)
  * query set — no UDFs, no collect. The scale path is [[lshBuckets]]:
  * sign-random-projection bucketing so candidate generation is an
  * equi-join on the bucket code instead of a cross product, and
  * [[bucketNearest]] for the end-to-end ANN (embedding-cosine near-dup
  * detection = filter its `score` at a threshold).
  *
  * All vector math runs through the native codegen'd
  * [[graft.functions.ArrayDotProduct array_dot]] /
  * [[graft.functions.ArraySquaredDiffSum array_sqdiff]] expressions
  * (one fused loop inside whole-stage codegen — the higher-order-
  * function formulation interprets every lambda element). Floats widen
  * to double element-wise before accumulation (deterministic IEEE ops
  * the SQL oracle reproduces), and scores are rounded to 6 digits
  * before ranking so orderings are stable across engines.
  */
object Similarity {

  /** Reciprocal-rank fusion of two ranked lists — the hybrid-retrieval
    * merge every lexical+vector search stack runs: each input carries
    * (doc_id, rank) and contributes 1/(c + rank) for the docs it
    * ranked (0 for the docs it didn't — full-outer semantics), fused
    * score descending with doc_id tie-break, top `k` emitted with
    * both source ranks (0 = "absent from that list", the topMovers
    * convention — no nullable rank columns for consumers to trip on).
    * Work ∝ the two input list sizes (both already top-k bounded);
    * the fusion itself is one join of two k-row frames and a k-row
    * rank — RRF's whole point is that it needs only RANKS, never
    * score calibration between a BM25 scale and a cosine scale.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(c >= 1, "c must be >= 1 (the RRF damping constant)")
    val fa = a.select(col("doc_id"), col("rank").as("rank_a"))
    val fb = b.select(col("doc_id"), col("rank").as("rank_b"))
    val fused = fa.join(fb, Seq("doc_id"), "full_outer")
      .withColumn("_rrf",
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)))
      .withColumn("rank_a", coalesce(col("rank_a"), lit(0L)))
      .withColumn("rank_b", coalesce(col("rank_b"), lit(0L)))
    TopN.globalRanked(fused, k, col("_rrf").desc, col("doc_id").asc)
      .select(col("doc_id"), col("rank_a"), col("rank_b"),
        round(col("_rrf"), 6).as("rrf"), col("rk"))
  }

  /** Tiered retrieval rerank — the cascade every production search
    * stack runs: a CHEAP recall stage (lexical BM25 off the capped
    * index) nominates `candidates` (doc_id, rank), and the EXPENSIVE
    * precision stage (exact cosine against the query vector) scores
    * only those candidates — never the corpus. [[rrfFuse]] merges two
    * independent top-k lists by rank alone; this instead RESCORES the
    * lexical list with exact vector math, the shape used when the
    * vector side is too expensive to run corpus-wide (a cross-encoder
    * or exact float scan at 100 TB) but trivially affordable on ≤ N
    * nominated rows.
    *
    * Scale posture: `candidates` is top-N bounded by construction
    * (the recall stage's k), so it broadcasts and the embedding scan
    * streams through one broadcast hash join — no Exchange over the
    * vector table, no corpus-wide cosine. Candidates whose vector is
    * missing or zero-norm are DROPPED (a zero norm makes cosine
    * 0/0 = NaN, which Spark orders above all doubles — the
    * [[normedVectors]] guard); the query vector itself must resolve
    * to exactly one non-zero row or the read raises (the oneRowScalar
    * posture — an absent query vector must not silently serve an
    * empty page). `queryId`'s own doc is excluded from the output,
    * matching [[cosineKnn]]'s self-exclusion.
    */
  def rerankCosine(candidates: DataFrame, emb: DataFrame,
                   idCol: String, vecCol: String,
                   queryId: Long, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val e = normedVectors(emb, idCol, vecCol)
    // exactly-one-row contract on the query vector: count + first is
    // exact on a ≤1-row frame, and 0 rows (absent id OR zero-norm
    // vector) raises instead of cross-joining an empty frame
    val q = e.filter(col("vid") === queryId)
      .agg(count(lit(1)).as("_nq"),
        first(col("vec")).as("q_vec"), first(col("norm2")).as("q_norm2"))
      .select(
        when(col("_nq") === 1L, col("q_vec"))
          .otherwise(raise_error(concat(
            lit(s"rerankCosine: query vector $queryId resolved to "),
            col("_nq").cast("string"),
            lit(" usable rows (absent or zero-norm)")))).as("q_vec"),
        col("q_norm2"))
    val cand = candidates.select(col("doc_id"), col("rank").as("lex_rk"))
    val scored = e.join(broadcast(cand), col("vid") === col("doc_id"))
      .filter(col("vid") =!= queryId)
      .crossJoin(broadcast(q)) // exactly 1 row — enforced above
      .select(col("doc_id"), col("lex_rk"),
        expr("round(array_dot(q_vec, vec) / sqrt(q_norm2 * norm2), 6)")
          .as("score"))
    TopN.globalRanked(scored, k, col("score").desc, col("doc_id").asc)
  }

  /** Squared L2 norm via the native codegen'd dot product. */
  private val norm2Sql = "array_dot(%s, %s)"

  /** (vid, vec, norm2) with zero vectors EXCLUDED: a zero norm makes
    * every cosine 0/0 = NaN, which Spark orders above all doubles — a
    * broken embedding would otherwise rank as everyone's best neighbor
    * (same guard as Dedup.embeddingNearDup; the SQL oracles apply it
    * identically).
    */
  private def normedVectors(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .withColumn("norm2", expr(norm2Sql.format("vec", "vec")))
      .filter(col("norm2") > 0)

  /** Shared scoring tail of the ANN paths: join the candidate id pairs
    * back to their vectors, score with the codegen'd dot product
    * (6-digit rounding — the oracle-parity convention), rank top-k per
    * query with the neighbor-id tie-break. One place, so rounding and
    * tie-break changes cannot diverge between the bucket/IVF variants.
    * Output: (query_id, neighbor_id, score, rank), rank <= k.
    */
  private def topKByCosine(cand: DataFrame, emb: DataFrame,
                           idCol: String, vecCol: String, k: Int): DataFrame = {
    val e = normedVectors(emb, idCol, vecCol)
    val scored = cand
      .join(e.select(col("vid").as("query_id"), col("vec").as("q_vec"),
        col("norm2").as("q_norm2")), "query_id")
      .join(e.select(col("vid").as("neighbor_id"), col("vec"), col("norm2")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        expr("round(array_dot(q_vec, vec) / sqrt(q_norm2 * norm2), 6)").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Rank-1 form of [[topKByCosine]] (the bucket-ANN variants' tail). */
  private def nearestByCosine(cand: DataFrame, emb: DataFrame,
                              idCol: String, vecCol: String): DataFrame =
    topKByCosine(cand, emb, idCol, vecCol, 1).drop("rank")

  /** Exact re-rank of an ANN shortlist — stage 2 of the
    * candidates-then-rerank serving layout (Jégou et al. 2011 §IV-D:
    * compressed-domain ADC prunes the corpus to C candidates per
    * query; ONLY those C pairs then touch full-precision vectors,
    * scored in the true serving metric). Cost per query: C vector
    * reads instead of the corpus scan brute force pays — recall is
    * bounded by shortlist coverage, exactness restored within it.
    * `shortlist` needs (query_id, neighbor_id); the scoring tail is
    * the SHARED [[topKByCosine]], so rounding and tie-break cannot
    * drift from the other ANN paths. Output: (query_id, neighbor_id,
    * score, rank), rank ≤ k.
    */
  def rerankExact(shortlist: DataFrame, emb: DataFrame, idCol: String,
                  vecCol: String, k: Int): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    topKByCosine(shortlist.select(col("query_id"), col("neighbor_id")),
      emb, idCol, vecCol, k)
  }

  /** Exact top-k cosine neighbors for each query id. The query side is
    * broadcast (keep query batches small; for bulk all-pairs use
    * lshBuckets to block first). Self-pairs excluded.
    * Output: (query_id, neighbor_id, score, rank).
    */
  def cosineKnn(emb: DataFrame, idCol: String, vecCol: String,
                queryIds: Seq[Long], k: Int): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val e = normedVectors(emb, idCol, vecCol)
    val q = e.filter(col("vid").isin(queryIds: _*))
      .select(col("vid").as("query_id"), col("vec").as("q_vec"),
        col("norm2").as("q_norm2"))
    val scored = e.join(broadcast(q), col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        expr("round(array_dot(q_vec, vec) / sqrt(q_norm2 * norm2), 6)").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** (vec_id, centroid_id, dist) for every row of `e` × every centroid:
    * the shared scoring head of [[ivfAssign]] (argmin) and [[ivfSearch]]
    * (probe ranking). Centroids are broadcast (k×dim values); dist is
    * round(sqrt(L2²), 6) via the codegen'd array_sqdiff.
    */
  private def centroidDists(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        expr("round(sqrt(array_sqdiff(vec, c_vec)), 6)").as("dist"))

  /** Nearest centroid per vector from a [[centroidDists]] frame:
    * min(struct(dist, centroid_id)) is a declarative aggregate with
    * map-side partial combine — the k candidate rows of each vector are
    * produced co-located by the broadcast join and collapse to one row
    * before any exchange, vs a Window argmin which would sort-shuffle
    * all n×k rows. Tie-break on centroid_id rides in the struct order.
    */
  private def nearestCentroid(dists: DataFrame): DataFrame =
    dists.groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("centroid_id"))).as("m"))
      .select(col("vec_id"), col("m.centroid_id").as("centroid_id"),
        col("m.dist").as("dist"))

  /** IVF-style coarse quantization: assign every vector to its nearest
    * centroid (L2), making ANN candidate generation an equi-join on
    * centroid_id. Centroids here are seeded deterministically from the
    * corpus (`centroidIds`) so the oracle can reproduce them; plug in
    * [[kmeansAssign]]'s learned centroids for real IVF quality — the
    * assignment plan (broadcast centroids, codegen-fed distances,
    * map-side-combining argmin, no window/sort) is identical. Distances
    * are rounded to 6 digits before the argmin so ordering is
    * engine-stable; ties break on centroid_id.
    */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                centroidIds: Seq[Long]): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val cents = e.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("centroid_id"), col("vec").as("c_vec"))
    nearestCentroid(centroidDists(e, cents))
  }

  /** End-to-end IVF ANN search: every vector lives in exactly one
    * centroid list ([[ivfAssign]]); each query ranks the centroids,
    * probes its `nprobe` nearest lists, and brute-force-scores only
    * those lists' members (cosine, 6-digit rounding, neighbor-id
    * tie-break), keeping the top `k`. Self-pairs excluded; zero-norm
    * vectors are excluded from scoring on both sides (cosine undefined —
    * same guard as [[cosineKnn]]).
    *
    * This is the IVF scale path the coarse assignment exists for:
    * candidate generation is an equi-join on centroid_id, so per query
    * the scored set is ~nprobe/nlists of the corpus instead of all of
    * it ([[cosineKnn]] stays the exact baseline); recall is bought with
    * `nprobe`, never with a bigger scan. The assignment side is one
    * broadcast join + map-side argmin over the corpus; the probe side
    * is queries×centroids (tiny).
    *
    * Output: (query_id, neighbor_id, score, rank), rank <= k.
    */
  def ivfSearch(emb: DataFrame, idCol: String, vecCol: String,
                centroidIds: Seq[Long], queryIds: Seq[Long],
                k: Int, nprobe: Int): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val cents = e.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("centroid_id"), col("vec").as("c_vec"))
    ivfSearchWith(emb, idCol, vecCol, cents, queryIds, k, nprobe)
  }

  /** [[ivfSearch]] with caller-supplied centroids — a DataFrame of
    * (centroid_id, c_vec), e.g. [[kmeansCentroids]]' learned means —
    * instead of corpus seed vectors. This is the production IVF
    * composition: `ivfSearchWith(emb, ..., kmeansCentroids(emb, ...),
    * queries, k, nprobe)`.
    */
  def ivfSearchWith(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, queryIds: Seq[Long],
                    k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    topKByCosine(ivfCandidates(emb, idCol, vecCol, centroids, queryIds, nprobe),
      emb, idCol, vecCol, k)
  }

  /** Each query's `nprobe` nearest centroids as (query_id,
    * centroid_id) — the probe-ranking head shared by EVERY IVF path
    * ([[ivfCandidates]], [[ivfSearchBucketed]], [[Pq.ivfPqSearch]]):
    * one place, so tie-break/rounding changes cannot silently diverge
    * the paths whose row-for-row equality the specs and oracles pin.
    * The Window partitions on the dimension-sized query set.
    */
  def probeCentroids(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, queryIds: Seq[Long],
                     nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist").asc, col("centroid_id").asc)
    distancesWith(emb.filter(col(idCol).isin(queryIds: _*)), idCol, vecCol,
        centroids)
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("centroid_id"))
  }

  /** The candidate-generation head of [[ivfSearchWith]] without the
    * cosine tail: (query_id, neighbor_id) pairs from probing each
    * query's `nprobe` nearest centroid lists, self excluded. Feed a
    * different scorer — e.g. [[Pq.adcSearch]]'s `candidates` for the
    * IVF-PQ composition (q92), where candidates come from the coarse
    * lists and scoring happens in the compressed domain.
    */
  def ivfCandidates(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, queryIds: Seq[Long],
                    nprobe: Int): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val assign = assignWith(emb, idCol, vecCol, centroids)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"))
    probeCentroids(emb, idCol, vecCol, centroids, queryIds, nprobe)
      .join(assign, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** [[ivfAssign]] with caller-supplied centroids (centroid_id, c_vec)
    * — the assignment head shared by the learned-IVF and residual-PQ
    * compositions. Output: (vec_id, centroid_id, dist).
    */
  def assignWith(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    nearestCentroid(centroidDists(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec")), centroids))
  }

  /** Every (vec_id, centroid_id, dist) row against caller-supplied
    * centroids — the probe-RANKING head ([[assignWith]] keeps only the
    * argmin). Rows × centroids; call on query-sized frames.
    */
  def distancesWith(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    centroidDists(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec")), centroids)
  }

  /** Write the corpus as a BUCKETED IVF store: every vector assigned to
    * its nearest centroid ([[ivfAssign]] semantics), then written once
    * bucketed (and bucket-sorted) by `centroid_id` via
    * [[Bucketing.writeBucketed]] — so every later probe join on
    * centroid_id reads bucket-partitioned vectors with ZERO
    * vector-carrying Exchange (AnnStoreSpec pins this), mirroring the
    * corpus pipeline's bucketed text store. At 100 TB this converts
    * the per-search-batch corpus shuffle into a one-time write cost —
    * the vector sibling of CorpusPipeline's bucketStore. Zero-norm
    * vectors are excluded at write (cosine undefined — the
    * [[cosineKnn]] guard, applied once instead of per search).
    *
    * Store schema: (vec_id, centroid_id, vec, norm2). Re-centroiding
    * (new k-means rounds) requires a rewrite — centroids are the
    * store's physical layout; that is the IVF trade everywhere.
    */
  def writeIvfBucketed(emb: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, table: String, buckets: Int,
                       path: Option[String] = None): Unit = {
    Bucketing.writeBucketed(ivfStoreRows(emb, idCol, vecCol, centroids),
      table, Seq("centroid_id"), buckets,
      sortCols = Seq("centroid_id"), path = path)
  }

  /** The store-row form of a vector slice at FIXED centroids — the
    * shared body of [[writeIvfBucketed]] (initial build) and
    * [[ivfIngest]] (incremental append), so the two paths cannot
    * diverge in assignment, zero-norm policy, or schema: (vec_id,
    * centroid_id, vec, norm2), one row per non-zero-norm vector,
    * assigned to its nearest centroid (the [[ivfAssign]] argmin —
    * 6-digit-rounded dists, centroid_id tie-break).
    */
  def ivfStoreRows(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    nearestCentroid(centroidDists(e, centroids))
      .select(col("vec_id"), col("centroid_id"))
      .join(e, "vec_id")
      .withColumn("norm2", expr(norm2Sql.format("vec", "vec")))
      .filter(col("norm2") > 0)
      .select(col("vec_id"), col("centroid_id"), col("vec"), col("norm2"))
  }

  /** Incremental ANN-store ingest (the lifecycle operation a live
    * serving corpus needs daily — the r13 verdict's store-triad gap):
    * assign the NEW vectors to the store's EXISTING centroids and
    * APPEND their store rows to the bucketed table — history is never
    * re-read, re-assigned, or re-shuffled; the append writes only the
    * new slice's bucket files (AnnStoreSpec pins old files untouched
    * and post-ingest search ≡ search over a full rebuild at the same
    * centroids — the q167 oracle proves the assignment identity
    * relationally). Spark validates the bucket spec against the
    * existing table, so a mismatched `buckets` fails loudly rather
    * than corrupting the layout.
    *
    * The trade this inherits: ingested vectors are assigned at the
    * STORE's centroids. As the corpus drifts, recall against a
    * brute-force baseline decays vs what retrained centroids would
    * give (recall@5 per nprobe of history-trained vs retrained
    * centroids on the grown corpus: PLANS.md § "q167 incremental
    * ANN-store ingest" records the measured table) — and
    * rewrite via [[writeIvfBucketed]] when the gap warrants; centroids
    * are the store's physical layout, so re-centroiding is a rewrite
    * everywhere (the IVF trade).
    *
    * STREAMING: call per micro-batch inside `foreachBatch` — the same
    * one code path, so per-batch ingest lands the exact one-shot store
    * (AnnStoreSpec pins store rows, served results, and append-only
    * files across batches; the novelty-gate posture of
    * TextAnalysis.noveltyAgainstStore applied to the vector store).
    */
  def ivfIngest(newVecs: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, table: String, buckets: Int): Unit =
    ivfStoreRows(newVecs, idCol, vecCol, centroids)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "centroid_id").sortBy("centroid_id")
      .saveAsTable(table)

  /** [[ivfSearch]] against a [[writeIvfBucketed]] store: the probe set
    * (queries × nprobe rows, joined to their query vectors) is
    * broadcast onto the store's centroid_id buckets — the store never
    * shuffles; the only post-scan exchange moves narrow
    * (query, neighbor, score) rows into the top-k rank. Scores and
    * ranking are identical to [[ivfSearch]] (same rounding, same
    * tie-break; AnnStoreSpec asserts row-for-row equality).
    */
  def ivfSearchBucketed(store: DataFrame, emb: DataFrame, idCol: String,
                        vecCol: String, centroids: DataFrame,
                        queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val qe = emb.filter(col(idCol).isin(queryIds: _*))
    val q = normedVectors(qe, idCol, vecCol)
      .select(col("vid").as("query_id"), col("vec").as("q_vec"),
        col("norm2").as("q_norm2"))
    val probes = probeCentroids(emb, idCol, vecCol, centroids, queryIds, nprobe)
    // both probe-side joins broadcast explicitly: queries × nprobe is
    // dimension-sized by contract, and size-based planning is often
    // disabled/blind here (derived frames have no stats)
    val scored = store
      .join(broadcast(probes.join(broadcast(q), "query_id")), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("round(array_dot(q_vec, vec) / sqrt(q_norm2 * norm2), 6)").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The vector store's DELETE log applied at read time — the
    * id-addressed sibling of the inverted index's tombstones
    * (TextAnalysis.indexTombstones): tombstoned vec_ids anti-join out
    * of the store before scoring, so a deleted vector can never
    * surface as a neighbor while the store's history files stay
    * byte-untouched. The delete log broadcasts (an id list is tiny
    * next to the vectors); once it isn't tiny anymore, compact —
    * rewrite the store through [[writeIvfBucketed]] minus the
    * tombstones (q215 pins compacted-store search ≡ tombstone-read
    * search relationally) and drop the log.
    */
  def applyTombstones(store: DataFrame, tombstones: DataFrame,
                      idCol: String): DataFrame = {
    // idCol names the id column in BOTH frames (it is the STORE's key
    // being deleted — renaming only the tombstone side would silently
    // anti-join a store that happens to carry an unrelated vec_id
    // column on the wrong key; the r16 review finding)
    require(store.columns.contains(idCol),
      s"applyTombstones: store has no id column '$idCol'")
    store.join(broadcast(tombstones.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")
  }

  /** Hard-negative mining for contrastive training (the DPR recipe —
    * Karpukhin et al. 2020: negatives similar enough to be
    * informative, below the near-dup ceiling that would make them
    * FALSE negatives): per anchor, score the top-`candidateK` cosine
    * candidates, keep those whose score lies in [simLo, simHi), emit
    * the top-`k` as (anchor, negative, score, neg_rank). The ceiling
    * matters as much as the floor — an unfiltered top-k would feed
    * near-duplicates of the anchor as "negatives" and teach the model
    * to push apart paraphrases. `candidateK` bounds the exact-scoring
    * stage; at corpus scale feed ANN candidates instead of the
    * brute-force head (the [[rerankExact]] composition — the band
    * filter and ranking tail are unchanged).
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    queryIds: Seq[Long], candidateK: Int, simLo: Double,
                    simHi: Double, k: Int): DataFrame = {
    require(simLo < simHi, "simLo must be < simHi")
    require(k >= 1 && candidateK >= k, "need candidateK >= k >= 1")
    val band = cosineKnn(emb, idCol, vecCol, queryIds, candidateK)
      .filter(col("score") >= simLo && col("score") < simHi)
      .select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("negative_id"), col("score"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("score").desc, col("negative_id").asc)
    band.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
  }

  /** MMR — Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily select `k` results balancing relevance
    * against redundancy — pick r = argmax over unpicked candidates of
    * λ·rel(c) − μ·max_{p∈picked} sim(c, p); the first pick has no
    * diversity term (max_sim = 0). The retrieval-diversification
    * staple a training-data selector runs after ANN: near-duplicate
    * results waste the downstream budget. λ and μ are passed as TWO
    * literals (not μ = 1 − λ): `1.0 - 0.7` is a DIFFERENT double than
    * the literal `0.3`, and the argmax must read bit-identical scores
    * on both engines (the literal-operand float rule).
    *
    * Shape: the candidate head is [[cosineKnn]] (bounded candidateK —
    * compose with ANN candidates at corpus scale, the [[rerankExact]]
    * seam); candidate-pair similarities are candidateK² per query,
    * dimension-scale; each greedy round is one anti-join + one
    * max-aggregate + one argmax — k rounds of hash aggregates, no
    * Window beyond the candidate head, no driver loop over data (the
    * Scala loop builds the PLAN k times, all data stays distributed).
    * Output: (query_id, pick_rank, neighbor_id, rel_score, max_sim,
    * mmr_score).
    */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], candidateK: Int, k: Int,
              lambdaRel: Double = 0.7, lambdaDiv: Double = 0.3,
              checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && candidateK >= k, "need candidateK >= k >= 1")
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    // pin the candidate head and the pair sims: every greedy round's
    // anti-join chains off `cand` and re-reads `sims`, so without the
    // pin round r re-derives the kNN (and its Window) r times over
    val cand = Checkpoints.pin(
      cosineKnn(emb, idCol, vecCol, queryIds, candidateK)
        .select(col("query_id"), col("neighbor_id"), col("score")),
      checkpointDir, eager = false)
    val ev = normedVectors(emb, idCol, vecCol)
    val withVec = cand.select(col("query_id"), col("neighbor_id"))
      .join(ev, col("neighbor_id") === col("vid"))
      .select(col("query_id"), col("neighbor_id"), col("vec"), col("norm2"))
    val sims = Checkpoints.pin(
      withVec
        .select(col("query_id"), col("neighbor_id").as("a_id"),
          col("vec").as("a_vec"), col("norm2").as("a_n"))
        .join(withVec.select(col("query_id"), col("neighbor_id").as("b_id"),
          col("vec").as("b_vec"), col("norm2").as("b_n")), Seq("query_id"))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("query_id"), col("a_id"), col("b_id"),
          expr("round(array_dot(a_vec, b_vec) / sqrt(a_n * b_n), 6)").as("sim")),
      checkpointDir, eager = false)
    var picked: DataFrame = null
    var remaining = cand
    for (r <- 1 to k) {
      val withMaxSim =
        if (r == 1) remaining.withColumn("max_sim", lit(0.0))
        else {
          val toPicked = sims
            .join(picked.select(col("query_id"),
              col("neighbor_id").as("b_id")), Seq("query_id", "b_id"))
            .groupBy(col("query_id"), col("a_id"))
            .agg(max(col("sim")).as("_ms"))
            .select(col("query_id"), col("a_id").as("neighbor_id"),
              col("_ms"))
          remaining.join(toPicked, Seq("query_id", "neighbor_id"), "left")
            .withColumn("max_sim", coalesce(col("_ms"), lit(0.0)))
            .drop("_ms")
        }
      val scored = withMaxSim.withColumn("mmr",
        lit(lambdaRel) * col("score") - lit(lambdaDiv) * col("max_sim"))
      val win = scored.groupBy(col("query_id"))
        .agg(min(struct((-col("mmr")).as("nm"),
          col("neighbor_id").as("nid"))).as("w"))
        .select(col("query_id"), col("w.nid").as("neighbor_id"))
      // round to SEVEN digits, not six: λ·s − μ·m over 6-digit inputs
      // with 1-digit λ/μ is EXACTLY a 7-decimal number, so a 6-digit
      // round hits the x.xxxxxx5 tie and Spark/DuckDB round ties
      // differently (found at sf0.01: 0.7·0.371485 = 0.2600395); at 7
      // digits the true value has no 8th digit to tie on
      val pickRound = scored.join(win, Seq("query_id", "neighbor_id"))
        .select(col("query_id"), lit(r.toLong).as("pick_rank"),
          col("neighbor_id"), col("score").as("rel_score"),
          col("max_sim"), round(col("mmr"), 7).as("mmr_score"))
      picked = if (picked == null) pickRound
               else picked.unionByName(pickRound)
      remaining = remaining.join(win, Seq("query_id", "neighbor_id"),
        "left_anti")
    }
    picked
  }

  /** Int8 scalar quantization of an embedding column (the SQ8 scheme of
    * the FAISS/vector-db world): per vector, `scale = maxabs/127` and
    * `q[pos] = round(x/maxabs·127) ∈ [-127, 127]` — 4× memory reduction
    * for ANN candidate storage, dequantized as `q·scale` with absolute
    * error ≤ scale/2 per component. Zero vectors are excluded (no
    * signal, undefined scale — the cosine-guard convention). Output is
    * exploded to (vec_id, pos, q, scale) rows; purely narrow (one
    * projection + one generator, no shuffle), scale rounded to 6 digits
    * and rounding half-away-from-zero on q so the SQL oracle reproduces
    * every value bit-for-bit.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .withColumn("maxabs", expr("array_max(transform(vec, x -> abs(cast(x as double))))"))
      .filter(col("maxabs") > 0)
      .select(col("vec_id"), col("maxabs"),
        round(col("maxabs") / 127.0, 6).as("scale"),
        posexplode(col("vec")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("int").as("pos"),
        expr("cast(round(cast(x as double) / maxabs * 127.0, 0) as int)").as("q"),
        col("scale"))

  /** 1-bit (sign) quantization: the sign bits of the first
    * min(dim, 64) dimensions packed into ONE BIGINT — 8 bytes per
    * vector, the most aggressive point on the compression spectrum
    * (SQ8 → PQ → this). `x >= 0` maps to bit 1; the packing is a
    * single codegen'd `aggregate` fold, no shuffle, and pure integer
    * output, so downstream Hamming arithmetic is engine-exact.
    * dim > 64 RAISES at runtime (the guardedBucket loud-failure
    * convention — a silent 64-dim truncation would quietly degrade
    * hammingTopK recall with no signal; pack per-64 blocks into an
    * array when a wider corpus actually needs it).
    */
  def binarySignPacked(emb: DataFrame, idCol: String,
                       vecCol: String): DataFrame =
    // the empty-vector guard matters: sequence(0, -1) is the
    // DESCENDING [0, -1] in Spark (the bpeMerges lesson), which would
    // drive element_at out of bounds — an empty vector signs to 0L
    // (the oracle's coalesce over an empty list_sum agrees)
    emb.select(col(idCol).as("vec_id"),
      expr(s"""if(size($vecCol) > 64,
              |  raise_error(concat('binarySignPacked: one BIGINT packs at most 64 dims, got ',
              |                     cast(size($vecCol) as string))),
              |if(size($vecCol) = 0, 0L,
              |  aggregate(sequence(0, size($vecCol) - 1), 0L,
              |    (acc, i) -> acc + if(element_at($vecCol, i + 1) >= 0D,
              |                         shiftleft(1L, i), 0L))))""".stripMargin)
        .as("sig"))

  /** Sign packing for vectors WIDER than one BIGINT — the path the
    * [[binarySignPacked]] >64-dim guard points at: dims pack
    * `blockDim` per BIGINT (bit j of block i = sign of dim
    * i·blockDim + j), output an ARRAY of ⌈dim/blockDim⌉ longs, so any
    * width is 8·⌈dim/64⌉ bytes per vector. Same bit convention as the
    * single-BIGINT form; `blockDim` < 64 exists so the multi-block
    * path is gate-exercised on this 64-dim corpus (q157: blockDim 16 ⇒
    * 4 blocks, ranks identical to q142 because the total popcount is
    * the same bits). Still one codegen'd fold, no shuffle; empty
    * vectors sign to an empty array.
    */
  def binarySignBlocks(emb: DataFrame, idCol: String, vecCol: String,
                       blockDim: Int = 64): DataFrame = {
    require(blockDim >= 1 && blockDim <= 64, "blockDim must be in [1, 64]")
    emb.select(col(idCol).as("vec_id"),
      expr(s"""if(size($vecCol) = 0, array(),
              |  transform(sequence(0, (size($vecCol) + ${blockDim - 1}) div $blockDim - 1),
              |    blk -> aggregate(sequence(0, ${blockDim - 1}), 0L,
              |      (acc, j) -> acc + if(blk * $blockDim + j < size($vecCol),
              |        if(element_at($vecCol,
              |             cast(blk * $blockDim + j + 1 as int)) >= 0D,
              |           shiftleft(1L, j), 0L),
              |        0L))))""".stripMargin)
        .as("sig_blocks"))
  }

  /** [[hammingTopK]] over block-packed signatures ([[binarySignBlocks]]):
    * score = Σ over blocks of popcount(XOR) — a zip_with fold per
    * candidate, still integer-exact, so ranks replay bit-for-bit.
    * All vectors must share one dimensionality (the corpus contract;
    * the queries come from the same table, so blocks always align).
    */
  def hammingTopKBlocks(emb: DataFrame, idCol: String, vecCol: String,
                        queryIds: Seq[Long], k: Int,
                        blockDim: Int = 64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val sig = binarySignBlocks(emb, idCol, vecCol, blockDim)
    val q = sig.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("sig_blocks").as("q_blocks"))
    val scored = sig.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        // zip_with pads the shorter side with NULLs (an empty vector's
        // block array is empty) — coalesce each block to 0L so an
        // empty/shorter signature scores as all-zero bits, matching
        // binarySignPacked's empty-vector convention and the q142
        // oracle; without it the null hamming would sort NULLS FIRST
        // and crown the empty vector every query's rank-1 neighbor
        expr("""aggregate(zip_with(q_blocks, sig_blocks,
               |  (a, b) -> bit_count(coalesce(a, 0L) ^ coalesce(b, 0L))),
               |  0L, (acc, x) -> acc + x)""".stripMargin)
          .cast("long").as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Brute-force Hamming top-k over the [[binarySignPacked]] signatures:
    * score = popcount(sig_q XOR sig_c) — one codegen'd integer op per
    * candidate against an 8-byte-per-row table, the realistic
    * compressed FIRST PASS of a binary-signature serving stack (the
    * shortlist then reranks exact, the q128 pattern). All-integer
    * scores ⇒ the oracle replays ranks bit-for-bit (ties broken by
    * neighbor id, self excluded — the q25 conventions).
    */
  def hammingTopK(emb: DataFrame, idCol: String, vecCol: String,
                  queryIds: Seq[Long], k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val sig = binarySignPacked(emb, idCol, vecCol)
    val q = sig.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("sig").as("q_sig"))
    val scored = sig.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("bit_count(q_sig ^ sig)").cast("long").as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Lloyd's k-means, deterministically seeded and fully declarative:
    * `iters` rounds of (assign to nearest centroid, recompute means),
    * returning the final assignment (vec_id, centroid_id, dist) — a
    * drop-in replacement for [[ivfAssign]] when learned centroids are
    * wanted instead of seed vectors. Construction launches no collect
    * and no materialization pass (the q40 caveat applies: translating
    * each pinned round to an RDD runs its upstream stages under AQE);
    * the iterations unroll into one DAG (each round's k×dim centroid
    * aggregate is re-broadcast into the next).
    *
    * Determinism (the oracle-parity contract): initial centroids are
    * the `initIds` vectors with components rounded to 6 digits; with
    * `orderedMeans = true` every mean is an ordered left-fold over
    * member values sorted by vec_id — double addition is not
    * associative, so a plain avg() could hash differently per
    * partitioning/engine — then rounded to 6; distances
    * round(sqrt(L2²), 6) with centroid-id tie-break; empty clusters
    * keep their previous centroid.
    *
    * Scale shape, per iteration: one broadcast join (k×dim doubles) +
    * map-side-combining argmin (no window, no sort) + one posexplode
    * and two hash aggregates for the means (k×dim groups). The DEFAULT
    * (`orderedMeans = false`) is the scale path: plain
    * partial-aggregating avg() with no collect anywhere (last-ulp
    * nondeterminism the 6-digit rounding almost always hides).
    * `orderedMeans = true` is the bit-exact oracle-parity mode — it
    * collects each (centroid, dim)'s member values into one array
    * before folding, fine at verification scale but at 100 TB a big
    * cluster's member list does not fit a row; only cross-engine hash
    * comparisons (the q70/q78 oracles) should opt into it.
    *
    * Each round's centroid frame references the previous round twice
    * (through the assignment and through the empty-cluster coalesce),
    * so the unrolled plan doubles per iteration; `pinIterations`
    * (default) lazily checkpoints the k-row centroid frame each round
    * ([[Checkpoints.pin]], `eager=false` — no collect, no
    * materialization pass), keeping the plan linear in `iters` and
    * each round's assignment computed exactly once. `checkpointDir`
    * switches the pin to a reliable root for cluster runs
    * (executor-loss caveat in [[Checkpoints]]).
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   initIds: Seq[Long], iters: Int,
                   orderedMeans: Boolean = false,
                   pinIterations: Boolean = true,
                   checkpointDir: Option[String] = None): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    nearestCentroid(centroidDists(e, kmeansCentroids(emb, idCol, vecCol,
      initIds, iters, orderedMeans, pinIterations, checkpointDir)))
  }

  /** The learned centroids of [[kmeansAssign]]'s Lloyd iterations as a
    * (centroid_id, c_vec) frame — feed [[ivfSearchWith]] for IVF ANN
    * over learned lists. Same determinism/pinning contract as
    * kmeansAssign (whose final assignment is exactly
    * nearest-centroid against this frame).
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      initIds: Seq[Long], iters: Int,
                      orderedMeans: Boolean = false,
                      pinIterations: Boolean = true,
                      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val init = e.filter(col("vec_id").isin(initIds: _*))
      .select(col("vec_id").as("centroid_id"),
        expr("transform(vec, x -> round(cast(x as double), 6))").as("c_vec"))
    val mean =
      if (orderedMeans)
        expr("""round(aggregate(array_sort(collect_list(named_struct('vec_id', vec_id, 'v', cast(v as double)))),
               |               cast(0.0 as double), (a, s) -> a + s.v) / count(v), 6)""".stripMargin)
      else round(avg(col("v")), 6)
    val finalCents = (1 to iters).foldLeft(init) { (cents, _) =>
      val assign = nearestCentroid(centroidDists(e, cents))
      val dims = assign.join(e, "vec_id")
        .select(col("centroid_id"), col("vec_id"),
          posexplode(col("vec")).as(Seq("d", "v")))
        .groupBy(col("centroid_id"), col("d"))
        .agg(mean.as("m"))
      val updated = dims.groupBy(col("centroid_id"))
        .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)")
          .as("c_vec_new"))
      val next = cents.join(updated, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("c_vec_new"), col("c_vec")).as("c_vec"))
      if (pinIterations) Checkpoints.pin(next, checkpointDir, eager = false)
      else next
    }
    finalCents
  }

  /** Sign-random-projection LSH bucket per vector: `planes` pseudo-random
    * hyperplanes with components derived deterministically from the
    * cross-engine md5 hash ((md5_60(p"_"d) % 2001 - 1000)/1000 in
    * [-1, 1]); bucket bit p = sign(vec . plane_p). Vectors sharing a
    * bucket are ANN candidates — candidate generation becomes
    * groupBy/join on `bucket`.
    *
    * The plane matrix is materialized once on the driver (the md5 math
    * matches the in-query hash bit-for-bit, so the SQL oracle can
    * recompute it) and embedded as array literals — vs deriving each
    * component per row, which costs planes*dim interpreted md5 calls
    * per vector.
    *
    * `dim` defaults to the embedding length of an arbitrary row (one
    * column-pruned peek; empty input gives an empty result). A
    * mismatching row would otherwise corrupt the bucket silently —
    * zip_with null-pads the shorter side, turning the whole dot product
    * null and the bit 0 — so every row is guarded with raise_error
    * instead (ADVICE r1): mixed-length corpora always fail loudly,
    * whichever row seeded the derivation.
    */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String,
                 planes: Int = 8, dim: Int = -1): DataFrame = {
    val d = probeDim(emb, vecCol, dim) match {
      case Some(n) => n
      case None =>           // empty input: empty output, same schema
        return emb.select(col(idCol).as("vec_id"), lit(0L).as("bucket")).limit(0)
    }
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    emb.select(col(idCol).as("vec_id"),
      guardedBucket(emb, idCol, vecCol, planes, d, "").as("bucket"))
  }

  /** Recall scaling for the SRP family: `families` INDEPENDENT plane
    * families, one bucket per (vector, family) — a candidate pair only
    * needs to collide in ANY family, so the per-family miss rates
    * multiply (two 8-plane families ⇒ miss² instead of miss). Output
    * (vec_id, family, bucket); block on (family, bucket). Cost is
    * linear in `families` for bucketing and for the candidate join.
    */
  def lshBucketFamilies(emb: DataFrame, idCol: String, vecCol: String,
                        planes: Int = 8, families: Int = 2,
                        dim: Int = -1): DataFrame = {
    require(families >= 1, "families must be >= 1")
    val d = probeDim(emb, vecCol, dim) match {
      case Some(n) => n
      case None =>
        return emb.select(col(idCol).as("vec_id"), lit(0).as("family"),
          lit(0L).as("bucket")).limit(0)
    }
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val fams = (0 until families).map { f =>
      struct(lit(f).as("family"),
        guardedBucket(emb, idCol, vecCol, planes, d, s"f${f}_").as("bucket"))
    }
    emb.select(col(idCol).as("vec_id"), explode(array(fams: _*)).as("fb"))
      .select(col("vec_id"), col("fb.family").as("family"),
        col("fb.bucket").as("bucket"))
  }

  /** Auto-size the SRP plane count for a corpus of `n` vectors:
    * `ceil(log2 n) + margin` sign bits, capped at 62 (the bucket code
    * is one Long). At margin 0 the expected bucket occupancy is O(1)
    * (≈ n balls into ≥ n bins); each extra margin bit halves it, at
    * the cost of per-family recall — buy recall back by stacking
    * families ([[lshBucketFamilies]] / [[bucketNearestMulti]]), not by
    * under-sizing planes (a 2^8-bucket code over 1e8 vectors puts
    * ~400k vectors in every bucket and the candidate join goes
    * quadratic inside each). The `planes = 8` defaults on the bucket
    * ops are test-scale; real corpora should pass
    * `planesFor(corpus.count())`.
    */
  def planesFor(n: Long, margin: Int = 2): Int = {
    require(n >= 0, "n must be >= 0")
    require(margin >= 0, "margin must be >= 0")
    val lg = if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.min(math.max(lg + margin, 1), 62)
  }

  private def probeDim(emb: DataFrame, vecCol: String, dim: Int): Option[Int] =
    if (dim > 0) Some(dim)
    else emb.select(size(col(vecCol))).head(1) match {
      case Array(r) => Some(r.getInt(0))
      case _        => None
    }

  /** The SRP bucket expression: sign bits of `planes` md5-derived
    * hyperplane dot products (seed string `"$prefix${p}_$d"` — the SQL
    * oracle recomputes the identical matrix), with the row-level length
    * guard (ADVICE r1: mixed-length corpora fail loudly).
    */
  /** The md5-seeded hyperplane dot products backing [[guardedBucket]]
    * — exposed separately so [[bucketNearestProbed]] can rank planes
    * by |margin| with the SAME matrix the bucket used.
    */
  private def planeDots(vecCol: String, planes: Int, d: Int,
                        prefix: String): Seq[Column] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5Long60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    (0 until planes).map { p =>
      val plane = (1 to d).map(dd =>
        (md5Long60(s"$prefix${p}_$dd") % 2001 - 1000) / 1000.0)
      call_function("array_dot", col(vecCol), typedLit(plane))
    }
  }

  private def guardedBucket(emb: DataFrame, idCol: String, vecCol: String,
                            planes: Int, d: Int, prefix: String): Column = {
    val dot = planeDots(vecCol, planes, d, prefix)
    val bucket = dot.zipWithIndex.foldLeft(lit(0L)) { case (acc, (dp, p)) =>
      acc + when(dp >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    when(size(col(vecCol)) === d, bucket)
      .otherwise(raise_error(concat(
        lit(s"lshBuckets: embedding length != $d for $idCol="),
        col(idCol).cast("string"))))
  }

  /** ANN via LSH blocking end-to-end: nearest neighbor (cosine) for each
    * vector among the vectors sharing its sign-random-projection bucket.
    * This is the scale path for all-vectors similarity: candidate
    * generation is an equi-join on `bucket` (sum over buckets of
    * |bucket|², never n² — the brute-force [[cosineKnn]] is the exact
    * baseline for small query sets), scoring is the codegen-fed dot
    * product, selection is a rank-1 window per query vector. Vectors
    * alone in their bucket produce no row (no candidates — in production
    * multi-probe or a second plane family shrinks that miss rate).
    * Size `planes` with [[planesFor]] at real corpus sizes. Scores are
    * rounded to 6 digits before ranking; ties break on neighbor id.
    */
  def bucketNearest(emb: DataFrame, idCol: String, vecCol: String,
                    planes: Int = 8): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val fb = lshBuckets(emb, idCol, vecCol, planes)
    val cand = fb.select(col("vec_id").as("query_id"), col("bucket"))
      .join(fb.select(col("vec_id").as("neighbor_id"),
        col("bucket").as("bucket_b")),
        col("bucket") === col("bucket_b") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    nearestByCosine(cand, emb, idCol, vecCol)
  }

  /** [[bucketNearest]] with stacked plane families: candidate pairs
    * share a bucket in ANY family ([[lshBucketFamilies]]), are deduped
    * as id pairs (cheap — ids only, vectors joined back afterwards so
    * arrays never pass through the distinct), then scored once and
    * rank-1'd per query. Strictly higher recall than a single family at
    * `families`× the candidate-join cost; the plan stays equi-join
    * shaped — work ∝ Σ per-family bucket sizes², never n².
    */
  def bucketNearestMulti(emb: DataFrame, idCol: String, vecCol: String,
                         planes: Int = 8, families: Int = 2): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val fb = lshBucketFamilies(emb, idCol, vecCol, planes, families)
    val a = fb.select(col("vec_id").as("query_id"), col("family"), col("bucket"))
    val b = fb.select(col("vec_id").as("neighbor_id"),
      col("family").as("family_b"), col("bucket").as("bucket_b"))
    val cand = a.join(b, col("family") === col("family_b") &&
        col("bucket") === col("bucket_b") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    nearestByCosine(cand, emb, idCol, vecCol)
  }

  /** [[bucketNearest]] with TRUE multi-probe (Lv et al. 2007): each
    * vector probes its own bucket PLUS the `probes` buckets reached by
    * flipping its least-confident sign bits — the planes with the
    * smallest |dot| margin, exactly where a true neighbor most likely
    * landed on the other side. The other recall lever from
    * [[bucketNearestMulti]]: stacked families buy recall with MEMORY
    * (another full bucket table); probing buys it with COMPUTE
    * (probes× the candidate join on the SAME single table) — the
    * standard trade when the index must stay small.
    *
    * Margins are rounded to 6 digits before ranking (plane index
    * tie-break), so probe choice — and therefore the result — is
    * engine-deterministic; everything stays equi-join shaped (probe
    * buckets are an explode, candidates join on bucket, Σ|bucket|²
    * work). Output: (query_id, neighbor_id, score), rank-1 per query
    * via the shared cosine tail.
    */
  def bucketNearestProbed(emb: DataFrame, idCol: String, vecCol: String,
                          planes: Int = 8, probes: Int = 2,
                          checkpointDir: Option[String] = None): DataFrame = {
    require(probes >= 0 && probes <= planes,
      "probes must be in [0, planes]")
    val d = probeDim(emb, vecCol, -1) match {
      case Some(n) => n
      case None =>
        return emb.select(col(idCol).as("query_id"),
          col(idCol).as("neighbor_id"), lit(0.0).as("score")).limit(0)
    }
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    val dots = planeDots(vecCol, planes, d, "")
    // pinned: both sides of the candidate join read it, and the
    // bucket+margins projection is planes× array_dot work (the q70
    // twice-referenced-frame discipline)
    val base = Checkpoints.pin(emb.select(col(idCol).as("vec_id"),
      guardedBucket(emb, idCol, vecCol, planes, d, "").as("bucket"),
      array(dots.zipWithIndex.map { case (dp, p) =>
        struct(round(abs(dp), 6).as("m"), lit(p).as("p"))
      }: _*).as("margins")), checkpointDir, eager = false)
    val probed = base.select(col("vec_id").as("query_id"),
      explode(concat(array(col("bucket")),
        expr(s"""transform(slice(array_sort(margins), 1, $probes),
                |  f -> bucket ^ shiftleft(1L, f.p))""".stripMargin)))
        .as("probe_bucket"))
    val cand = probed.join(
        base.select(col("vec_id").as("neighbor_id"),
          col("bucket").as("bucket_b")),
        col("probe_bucket") === col("bucket_b") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    nearestByCosine(cand, emb, idCol, vecCol)
  }
}
