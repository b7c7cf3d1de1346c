package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Bucketing, Checkpoints, Dedup, Sampling, TextAnalysis}

/** The training-data pipeline end-to-end: one composable flow over the
  * documents table chaining the engine's corpus operators —
  *
  *   1. deterministic sample      (Sampling.hashSample — reproducible cut)
  *   2. PII scrub                 (optional: TextAnalysis.redactCol in
  *                                 place — before dedup, so scrubbed
  *                                 variants of one text collapse)
  *   3. exact dedup               (Dedup.exactGroups keeps min doc per md5)
  *   4. near-dup dedup            (MinHash LSH candidates → drop the
  *                                 higher id of each colliding pair)
  *   5. embedding near-dup        (optional: Dedup.embeddingNearDup over
  *                                 the surviving docs' vectors — catches
  *                                 paraphrases text fingerprints miss)
  *   6. quality filter            (TextAnalysis.qualityScore >= threshold)
  *   7. repetition filter         (optional: drop docs whose
  *                                 dup_gram_frac exceeds the cap — the
  *                                 Gopher boilerplate gate; docs too
  *                                 short to have grams pass through)
  *   8. mixture weighting         (Sampling.mixture to target source mix)
  *
  * Every stage is a DataFrame → DataFrame transform; every membership
  * decision is hash-deterministic, so the same corpus comes out on
  * every run at any parallelism. Each stage is persisted before its
  * count so the per-stage metrics and downstream stages read the
  * materialized result instead of replaying the whole upstream lineage
  * per action (at 100 TB the persist becomes a checkpoint to durable
  * storage — same structure). Only the dimension-sized mixture count
  * map is collected to the driver.
  *
  * THE FULL-WIDTH CORPUS NEVER SHUFFLES: every gate is expressed as an
  * anti/semi join of the corpus against a NARROW derived id set (exact
  * losers, LSH losers, quality survivors, repetition violators), and
  * anti/semi joins preserve the left side's partitioning — so with
  * `bucketStore` set, the sampled corpus is written ONCE bucketed by
  * doc_id ([[Bucketing.writeBucketed]]) and every recurring doc_id
  * gate reads bucket-partitioned data with ZERO corpus-side Exchange
  * (CorpusBucketingSpec pins this); only the id-sized derived frames
  * shuffle. At 100 TB the one bucketed write replaces a full-corpus
  * shuffle per dedup stage.
  */
object CorpusPipeline {

  /** Returns the surviving corpus (persisted; caller unpersists when
    * done) plus per-stage row counts.
    *
    * @param bucketStore   when Some(path): write the sampled corpus
    *                      bucketed by doc_id under `path` (registered
    *                      as `bucketTable`) and run every downstream
    *                      gate against the bucketed table
    * @param bucketCount   bucket count for `bucketStore` (share it
    *                      with other tables joined on doc_id)
    * @param persistStages cache each stage (the default; disable only
    *                      to inspect the end-to-end plan — counts then
    *                      replay lineage). Contract note: this pipeline
    *                      still COMPUTES counts when the flag is off;
    *                      sibling [[SelectionPipeline]]'s same-named
    *                      flag instead SKIPS them (its semDedup lineage
    *                      makes uncached counts quadratic) — divergence
    *                      is deliberate, see its scaladoc
    * @param checkpointDir reliable checkpoint root for the embedding-
    *                      stage pin (default executor-local — the
    *                      [[graft.ops.Checkpoints]] caveat)
    */
  def run(docs: DataFrame, sampleFraction: Double = 1.0,
          qualityThreshold: Double = 0.4,
          mixture: Map[String, Double] = Map.empty,
          embeddings: Option[DataFrame] = None,
          cosineThreshold: Double = 0.9,
          maxBucketSize: Int = 10000,
          embIdCol: String = "vec_id",
          embVecCol: String = "embedding",
          redactPii: Boolean = false,
          maxDupGramFrac: Double = 1.0,
          bucketStore: Option[String] = None,
          bucketCount: Int = 32,
          bucketTable: String = "graft_corpus_sampled",
          persistStages: Boolean = true,
          checkpointDir: Option[String] = None): (DataFrame, Seq[(String, Long)]) = {
    // pin (lazy localCheckpoint / reliable checkpoint), not cache():
    // a cache keeps the full logical lineage, so every stage count and
    // every downstream stage re-analyzes a tree that grows with the
    // stage number — measured at sf0.1, over HALF of q85's wall was
    // driver-side planning gaps between its 37 jobs. The pin truncates
    // the plan at each stage boundary (the q121 hand-off lesson applied
    // inside the pipeline); values are unchanged — only where the
    // stage's rows are read from.
    def cached(df: DataFrame): DataFrame =
      if (persistStages) Checkpoints.pin(df, checkpointDir, eager = false)
      else df
    val counts = Seq.newBuilder[(String, Long)]
    val sampling = sampleFraction < 1.0
    // when nothing is sampled away the input IS the sampled stage —
    // don't pay a second full scan just to print the same number twice
    if (sampling) counts += "input" -> docs.count()

    val cut =
      if (sampling) Sampling.hashSample(docs, "doc_id", sampleFraction)
      else docs
    // scrub BEFORE dedup (narrow, in place): two docs differing only in
    // their PII collapse to one group afterwards
    val scrubbed =
      if (redactPii) cut.withColumn("text", TextAnalysis.redactCol(col("text")))
      else cut
    val sampled = bucketStore match {
      case Some(path) =>
        // one bucketed write; every downstream doc_id gate reads it
        // (or an anti/semi-join descendant) partition-aligned
        Bucketing.writeBucketed(scrubbed, bucketTable, Seq("doc_id"),
          bucketCount, sortCols = Seq("doc_id"), path = Some(path))
        docs.sparkSession.table(bucketTable)
      case None => cached(scrubbed)
    }
    val sampledN = sampled.count()
    if (!sampling) counts += "input" -> sampledN
    counts += "sampled" -> sampledN

    // exact dedup: drop every doc whose md5 group keeps a smaller id.
    // The group join runs on a NARROW (doc_id, text_hash) projection
    // and only the loser ids come back — the full-width corpus is
    // gated by a doc_id anti-join, never shuffled by text_hash
    val exactLosers = sampled
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(Dedup.exactGroups(sampled, "doc_id", "text")
          .select(col("text_hash"), col("keep_id")),
        Seq("text_hash"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as("exact_loser"))
    val exactKept = cached(sampled.join(exactLosers,
      col("doc_id") === col("exact_loser"), "left_anti"))
    counts += "exact_dedup" -> exactKept.count()

    // near-dup dedup: LSH band collisions; drop the higher id per pair.
    // Bands feed three consumers (pairs, the oversized audit, group
    // dedup of oversized buckets) — persist them once so the expensive
    // minhash pipeline runs a single time
    val bands =
      if (persistStages) Dedup.minhashBands(exactKept, "doc_id", "text").persist()
      else Dedup.minhashBands(exactKept, "doc_id", "text")
    val pairLosers = Dedup.lshCandidates(bands, maxBucketSize)
      .select(col("doc_b").as("loser_id"))
    // buckets past the pair-generation cap are duplicate explosions —
    // dedup them AS GROUPS (keep min id per bucket) rather than
    // silently skipping them
    val ovLosers = Dedup.lshOversizedLosers(bands, maxBucketSize)
    val losers = pairLosers.union(ovLosers).distinct()
    val nearKept = cached(exactKept.join(losers,
      col("doc_id") === col("loser_id"), "left_anti"))
    counts += "near_dedup" -> nearKept.count()
    if (persistStages) bands.unpersist()

    // optional vector-space pass: near-dup pairs among the SURVIVING
    // docs' embeddings (vec_id keyed like doc_id); drop the higher id
    val embKept = embeddings match {
      case Some(emb) =>
        val alive = emb.join(
          nearKept.select(col("doc_id").as("alive_id")),
          col(embIdCol) === col("alive_id"), "left_semi")
        // PIN (lazy), don't just cache: the SRP bucket subtree carries
        // the plane matrix as plane×dim array LITERALS, referenced 4×
        // through the self-join — without lineage truncation every
        // downstream stage action re-analyzes/re-optimizes that fat
        // tree and planning (not data) dominates the run (the
        // connected-components r3 lesson; ~3× on the whole pipeline
        // at sf0.1). The pinned frame is loser-ID-sized.
        val embLosers = Checkpoints.pin(
          Dedup.embeddingNearDup(alive, embIdCol, embVecCol, cosineThreshold)
            .select(col("vec_b").as("emb_loser")).distinct(),
          checkpointDir, eager = false)
        val kept = cached(nearKept.join(embLosers,
          col("doc_id") === col("emb_loser"), "left_anti"))
        counts += "embedding_dedup" -> kept.count()
        kept
      case None => nearKept
    }

    val quality = TextAnalysis.qualityScore(embKept, "doc_id", "text")
      .filter(col("quality") >= qualityThreshold)
      .select(col("doc_id").as("q_id"))
    val qualityKept = cached(embKept.join(quality,
      col("doc_id") === col("q_id"), "left_semi"))
    counts += "quality" -> qualityKept.count()

    // repetition gate: anti-join on the VIOLATORS, so documents too
    // short to have any n-gram (no repetitionStats row) pass through
    val repKept =
      if (maxDupGramFrac >= 1.0) qualityKept
      else {
        val violators = TextAnalysis.repetitionStats(qualityKept, "doc_id", "text")
          .filter(col("dup_gram_frac") > maxDupGramFrac)
          .select(col("doc_id").as("rep_id"))
        val kept = cached(qualityKept.join(violators,
          col("doc_id") === col("rep_id"), "left_anti"))
        counts += "repetition" -> kept.count()
        kept
      }

    val mixed = cached(
      if (mixture.isEmpty) repKept
      else Sampling.mixture(repKept, "doc_id", "source", mixture))
    counts += "mixed" -> mixed.count()

    // when mixture is empty, `mixed` IS the last stage frame (cache()
    // returns this) — unpersisting it here would strip the returned
    // DataFrame's cache before the caller's first action
    if (persistStages) {
      sampled.unpersist() // no-op in bucketed mode (a table, never cached)
      exactKept.unpersist()
      nearKept.unpersist()
      if (embKept ne nearKept) embKept.unpersist()
      if (qualityKept ne mixed) qualityKept.unpersist()
      if ((repKept ne qualityKept) && (repKept ne mixed)) repKept.unpersist()
    }
    (mixed, counts.result())
  }
}
