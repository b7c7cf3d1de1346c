package graft.queries

import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.ops._
import DedupQueries.{duckBandsBody, q102SemDedupSql}
import SamplingQueries.{duckDomainGateSql, duckDsirSql, duckEpochAllocSql, duckQualitySql}

/** The composed corpus and selection pipelines end to end
  * ([[graft.jobs.CorpusPipeline]], [[graft.jobs.SelectionPipeline]]):
  * each oracle replays every stage in one DuckDB statement.
  */
object PipelineQueries {
  /** Shared DuckDB CTE prefix for the corpus-pipeline replays
    * (q85/q93): sample(0.8) → exact-dedup → band collisions →
    * near-dedup survivors. Defines sampled, exg, ex, the bands body
    * (s/h/m/b), cand, nd. Prepend `WITH `.
    */
  private lazy val duckCorpusPrefix: String =
    s"""sampled AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 10000 < 8000),
       |exg AS MATERIALIZED (
       |  SELECT md5(text) AS text_hash, min(doc_id) AS keep_id
       |  FROM sampled GROUP BY 1 HAVING count(*) >= 2),
       |ex AS MATERIALIZED (
       |  SELECT sa.doc_id, sa.source, sa.text FROM sampled sa
       |  LEFT JOIN exg ON md5(sa.text) = exg.text_hash
       |  WHERE exg.text_hash IS NULL OR sa.doc_id = exg.keep_id),
       |${duckBandsBody("ex")},
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM b a JOIN b b2
       |    ON a.band_id = b2.band_id AND a.band_hash = b2.band_hash
       |   AND a.doc_id < b2.doc_id
       |  GROUP BY 1, 2),
       |nd AS MATERIALIZED (
       |  SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_b FROM cand))""".stripMargin

  /** Shared DuckDB CTE tail for the corpus-pipeline replays: quality
    * gate (>= 0.4) then repetition gate (dup_gram_frac <= 0.2,
    * violators-only) over relation `rel`. Defines cq, qk, gr, rv, rk.
    *
    * The top-level CTEs here and in [[duckCorpusPrefix]] are
    * MATERIALIZED: DuckDB inlines plain CTEs transitively, so the q121
    * composition (this chain feeding the q117 chain) re-expanded every
    * upstream stage per reference — exponential scans, "too many open
    * files" at eleven stages. Results are identical; only the plan
    * changes. Caveat that forced the `cq` name: DuckDB 1.0 resolves a
    * nested subquery's plain CTE against a SAME-NAMED outer
    * MATERIALIZED CTE (outer q shadowed the domain-gate body's inner
    * q), so materialized top-level names must not collide with any
    * nested parameterized body's internals.
    */
  private def duckCorpusTail(rel: String): String =
    s"""cq AS MATERIALIZED (
       |  SELECT doc_id,
       |    round(0.4 * least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0)
       |        + 0.4 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
       |                 / len(string_split(text, ' '))::DOUBLE)
       |        + 0.2 * least(5.0 * len(list_filter(string_split(text, ' '),
       |              w -> list_contains(['the','a','of','and','in','to','is','on','for','with'], w)))::DOUBLE
       |                 / len(string_split(text, ' '))::DOUBLE, 1.0), 6) AS quality
       |  FROM $rel),
       |qk AS MATERIALIZED (
       |  SELECT $rel.* FROM $rel JOIN cq USING (doc_id) WHERE cq.quality >= 0.4),
       |gr AS MATERIALIZED (
       |  SELECT doc_id, gram, count(*) AS cnt
       |  FROM (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws,
       |                     unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
       |              FROM qk))
       |  GROUP BY doc_id, gram),
       |rv AS MATERIALIZED (
       |  SELECT doc_id FROM gr GROUP BY doc_id
       |  HAVING round(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)::DOUBLE
       |               / sum(cnt)::DOUBLE, 6) > 0.2),
       |rk AS MATERIALIZED (
       |  SELECT * FROM qk WHERE doc_id NOT IN (SELECT doc_id FROM rv))""".stripMargin

  val all: Seq[Query] = Seq(
    // the flagship corpus pipeline END-TO-END (jobs/CorpusPipeline.run,
    // plain mode): sample(0.8) → exact dedup → LSH near-dedup →
    // quality gate (>= 0.4) → repetition gate (dup_gram_frac <= 0.2).
    // Output = the final kept (doc_id, source) set PLUS every per-stage
    // survivor count, all hash-compared against a DuckDB CTE chain that
    // replays the gates — the "whole pipeline is correct" claim, not
    // just its stages (each stage is ALSO individually oracled:
    // q47/q20/q22/q43/q71)
    Query("q85_corpus_pipeline", (s, dir) => {
      val (kept, counts) = graft.jobs.CorpusPipeline.run(
        Tables.documents(s, dir),
        sampleFraction = 0.8, qualityThreshold = 0.4, maxDupGramFrac = 0.2)
      import s.implicits._
      val stageRows = counts.map { case (stage, n) => ("stage:" + stage, n) }
        .toDF("kind", "doc_id")
        .withColumn("source", lit(null).cast("string"))
      // kept stays CACHED: the stage counts already materialized it,
      // and the consumer's write would otherwise replay the whole
      // five-stage lineage a second time (the frame is survivor-sized
      // — id/source/text rows — not a corpus-scale pin)
      kept.select(lit("kept").as("kind"), col("doc_id"), col("source"))
        .unionByName(stageRows)
    },
      // replays the WHOLE CorpusPipeline: sample(0.8, salt '') →
      // exact-dedup (keep min doc_id per md5(text)) → LSH near-dedup
      // (drop doc_b of every colliding band pair; no oversized buckets
      // at this cap) → quality >= 0.4 → repetition dup_gram_frac <= 0.2
      // (violators-only anti-join: gram-less docs pass). Stage counts and
      // the final kept set in one frame
      Oracle(
        s"""WITH $duckCorpusPrefix,
         |${duckCorpusTail("nd")}
         |SELECT 'kept' AS kind, doc_id, source FROM rk
         |UNION ALL SELECT 'stage:input', (SELECT count(*) FROM documents), NULL
         |UNION ALL SELECT 'stage:sampled', (SELECT count(*) FROM sampled), NULL
         |UNION ALL SELECT 'stage:exact_dedup', (SELECT count(*) FROM ex), NULL
         |UNION ALL SELECT 'stage:near_dedup', (SELECT count(*) FROM nd), NULL
         |UNION ALL SELECT 'stage:quality', (SELECT count(*) FROM qk), NULL
         |UNION ALL SELECT 'stage:repetition', (SELECT count(*) FROM rk), NULL
         |UNION ALL SELECT 'stage:mixed', (SELECT count(*) FROM rk), NULL""".stripMargin)),

    // q85 WITH the optional vector-space stage: embedding near-dup
    // losers (SRP-bucketed, exact in-bucket cosine >= 0.3) dropped
    // between near-dedup and the quality gate — the complete pipeline
    // composition including its only previously spec-only stage
    Query("q93_corpus_pipeline_emb", (s, dir) => {
      val (kept, counts) = graft.jobs.CorpusPipeline.run(
        Tables.documents(s, dir),
        sampleFraction = 0.8, qualityThreshold = 0.4, maxDupGramFrac = 0.2,
        embeddings = Some(Tables.embeddings(s, dir)), cosineThreshold = 0.3)
      import s.implicits._
      val stageRows = counts.map { case (stage, n) => ("stage:" + stage, n) }
        .toDF("kind", "doc_id")
        .withColumn("source", lit(null).cast("string"))
      // kept stays cached — same reasoning as q85
      kept.select(lit("kept").as("kind"), col("doc_id"), col("source"))
        .unionByName(stageRows)
    },
      // q85 WITH the optional embedding near-dup stage: SRP-bucket
      // blocking + exact in-bucket cosine over the near-dedup survivors'
      // vectors (the q59 machinery), losers dropped before the quality
      // gate — the full CorpusPipeline composition including its
      // vector-space member
      Oracle(
        s"""WITH $duckCorpusPrefix,
         |eb AS (
         |  SELECT e2.vec_id, e2.embedding,
         |    list_sum(list_transform(generate_series(0, 7), p ->
         |      CASE WHEN list_sum(list_transform(generate_series(1, 64), d ->
         |             e2.embedding[d]::DOUBLE *
         |             ((('0x'||substr(md5(p::VARCHAR || '_' || d::VARCHAR),1,15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0)
         |           )) >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS bucket
         |  FROM embeddings e2 JOIN nd ON e2.vec_id = nd.doc_id),
         |en AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding, bucket,
         |           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
         |    FROM eb)
         |  WHERE norm2 > 0),
         |el AS (
         |  SELECT DISTINCT c.vec_id AS loser FROM en a JOIN en c
         |    ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |  WHERE round(list_sum(list_transform(generate_series(1, 64),
         |            i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
         |          / sqrt(a.norm2 * c.norm2), 6) >= 0.3),
         |ek AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT loser FROM el)),
         |${duckCorpusTail("ek")}
         |SELECT 'kept' AS kind, doc_id, source FROM rk
         |UNION ALL SELECT 'stage:input', (SELECT count(*) FROM documents), NULL
         |UNION ALL SELECT 'stage:sampled', (SELECT count(*) FROM sampled), NULL
         |UNION ALL SELECT 'stage:exact_dedup', (SELECT count(*) FROM ex), NULL
         |UNION ALL SELECT 'stage:near_dedup', (SELECT count(*) FROM nd), NULL
         |UNION ALL SELECT 'stage:embedding_dedup', (SELECT count(*) FROM ek), NULL
         |UNION ALL SELECT 'stage:quality', (SELECT count(*) FROM qk), NULL
         |UNION ALL SELECT 'stage:repetition', (SELECT count(*) FROM rk), NULL
         |UNION ALL SELECT 'stage:mixed', (SELECT count(*) FROM rk), NULL""".stripMargin)),

    // the data-SELECTION pipeline END-TO-END (jobs/SelectionPipeline
    // .run): semantic dedup (q102) → per-domain quality gate (q107) →
    // DSIR resample (q103 — LM trained on the stage's own survivors)
    // → epoch allocation (q104). Output = the final kept (doc_id,
    // source) set PLUS every per-stage survivor count PLUS the
    // allocation table unpivoted into (kind, value, stratum) rows, all
    // hash-compared against a DuckDB CTE chain that replays the gates
    // with the SAME parameterized SQL bodies the stage oracles use —
    // the q85 "whole pipeline is correct" claim for the selection
    // layer (each stage also individually oracled)
    Query("q117_selection_pipeline", (s, dir) => {
      val (kept, counts, alloc) = graft.jobs.SelectionPipeline.run(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        centroidIds = (0L until 8L).toSeq, semThreshold = 0.3,
        targetFilter = col("source") === "src0", budget = 1000000L,
        epochWeights = Map("src0" -> 4L, "src1" -> 2L))
      import s.implicits._
      val stageRows = counts.map { case (stage, n) => ("stage:" + stage, n) }
        .toDF("kind", "doc_id")
        .withColumn("source", lit(null).cast("string"))
      // the allocation frame is dimension-sized; ONE stack unpivots
      // all seven fields in a single pass, stratum riding as `source`
      val allocRows = alloc.select(col("stratum"),
          expr("""stack(7,
                 |  'alloc:wt', wt,
                 |  'alloc:avail_tokens', avail_tokens,
                 |  'alloc:target_tokens', target_tokens,
                 |  'alloc:epochs', epochs,
                 |  'alloc:rem_tokens', rem_tokens,
                 |  'alloc:rem_docs', rem_docs,
                 |  'alloc:rem_kept_tokens', rem_kept_tokens)
                 |AS (kind, doc_id)""".stripMargin))
        .select(col("kind"), col("doc_id"), col("stratum").as("source"))
      // kept stays CACHED (the q85 discipline): the dsir stage count
      // materialized it, and the consumer's write plus the allocation
      // both read the cache instead of replaying the three-gate lineage
      kept.select(lit("kept").as("kind"), col("doc_id"), col("source"))
        .unionByName(stageRows)
        .unionByName(allocRows)
    },
      // the q85 "whole pipeline" claim for the SELECTION layer: replay
      // sem-dedup → per-domain quality gate → DSIR → epoch allocation as
      // one CTE chain. Each stage nests the SAME parameterized SQL body
      // its individual oracle uses (q102/q107/q103/q104) — composition,
      // zero drift; the stage CTEs (sd/qk/dk) are what the survivor
      // counts and the next stage both read
      Oracle(
        s"""WITH losers AS ($q102SemDedupSql),
         |sd AS (SELECT * FROM documents
         |       WHERE doc_id NOT IN (SELECT vec_id FROM losers)),
         |gsel AS (${duckDomainGateSql("sd")}),
         |qk AS (SELECT * FROM sd WHERE doc_id IN (SELECT doc_id FROM gsel)),
         |dsel AS (${duckDsirSql("qk")}),
         |dk AS (SELECT * FROM qk WHERE doc_id IN (SELECT doc_id FROM dsel)),
         |alloc AS (${duckEpochAllocSql("dk")})
         |SELECT 'kept' AS kind, doc_id, source FROM dk
         |UNION ALL SELECT 'stage:input', (SELECT count(*) FROM documents), NULL
         |UNION ALL SELECT 'stage:sem_dedup', (SELECT count(*) FROM sd), NULL
         |UNION ALL SELECT 'stage:quality_gate', (SELECT count(*) FROM qk), NULL
         |UNION ALL SELECT 'stage:dsir', (SELECT count(*) FROM dk), NULL
         |UNION ALL SELECT 'alloc:wt', wt, source FROM alloc
         |UNION ALL SELECT 'alloc:avail_tokens', avail_tokens, source FROM alloc
         |UNION ALL SELECT 'alloc:target_tokens', target_tokens, source FROM alloc
         |UNION ALL SELECT 'alloc:epochs', epochs, source FROM alloc
         |UNION ALL SELECT 'alloc:rem_tokens', rem_tokens, source FROM alloc
         |UNION ALL SELECT 'alloc:rem_docs', rem_docs, source FROM alloc
         |UNION ALL SELECT 'alloc:rem_kept_tokens', rem_kept_tokens, source FROM alloc""".stripMargin)),

    // FROZEN per-domain quality gate (streaming/StreamingGate): cut
    // points = each source's top-quartile minimum quality, frozen in
    // batch (the q107 computation); the gate itself is the STATELESS
    // online path — per-row score + broadcast join on the domain +
    // threshold — here run in batch over the same corpus (one code
    // path, two modes; StreamingSpec pins batch ≡ streaming). Where
    // q107 keeps exactly the top quartile with id tie-break, the
    // frozen form keeps everything AT or above the cut VALUE — the
    // documented adaptive-vs-frozen difference, exercised by the
    // oracle's >= join
    // the cuts come off the WRITTEN calibration table
    // ([[Stores.frozenCuts]]): frozen-gate semantics say the cut points
    // are computed once at calibration and broadcast to every gate —
    // re-deriving the grouped exact ntile per query contradicted the
    // operator's own contract; the gate's corpus scan is unchanged
    Query("q118_frozen_gate", (s, dir) =>
      graft.streaming.StreamingGate.gateDocs(
        Tables.documents(s, dir), Stores.frozenCuts(s, dir),
        "doc_id", "text", "source"),
      // frozen gate: cuts = min quality of each source's q107 top
      // quartile (the nested duckDomainGateSql body), then a VALUE
      // threshold — both sides nest the same quality body (duckQualitySql)
      Oracle(
        s"""WITH topq AS (SELECT * FROM (${duckDomainGateSql("documents")})),
         |cuts AS (SELECT source, min(quality) AS q_cut FROM topq GROUP BY source),
         |scored AS (SELECT * FROM (${duckQualitySql("documents")}))
         |SELECT s.doc_id, s.source AS domain, s.quality
         |FROM scored s JOIN cuts c ON s.source = c.source
         |WHERE s.quality >= c.q_cut""".stripMargin)),

    // the FULL STACK end-to-end: CorpusPipeline (q85's clean: sample →
    // exact-dedup → LSH near-dedup → quality → repetition) feeding
    // SelectionPipeline (q117's select: sem-dedup → domain gate → DSIR
    // → epoch allocation) — eleven chained stages, every membership
    // decision hash-deterministic, oracled as ONE frame (kept set +
    // both pipelines' stage counts + the allocation) against a DuckDB
    // chain that nests the SAME parameterized bodies the q85 and q117
    // oracles use. The "a user can run the whole engine and the result
    // is bit-reproducible" claim in one row set
    Query("q121_full_stack", (s, dir) => {
      val (cleanRaw, corpusCounts) = graft.jobs.CorpusPipeline.run(
        Tables.documents(s, dir),
        sampleFraction = 0.8, qualityThreshold = 0.4, maxDupGramFrac = 0.2)
      // the HAND-OFF between the two halves is the doc_id-bucketed
      // corpus table SelectionPipeline's bucketed mode writes: ONE
      // action materializes the 5-stage corpus lineage (reading the
      // stage caches), and every selection gate then plans against a
      // bucket-partitioned LEAF — the same lineage cut the previous
      // localCheckpoint pin bought (uncut re-analysis measured ~3× the
      // sum of parts) PLUS zero corpus-side Exchange in the selection
      // gates, and it exercises the store-shaped hand-off a 100 TB
      // deployment would actually persist between the two jobs
      // DELIBERATELY nonce-free (unlike Stores.key): the hand-off is
      // a transient artifact overwritten on every run — a per-process
      // nonce would strand one full corpus copy in tmpdir per JVM.
      // One stable location per source dir keeps the leak bounded at
      // one copy, which the next run overwrites.
      val handoffTable = "graft_fullstack_corpus_" + {
        val p = java.nio.file.Paths.get(dir)
        val canon =
          try p.toRealPath().toString
          catch { case _: Exception => p.normalize().toString }
        canon.toLowerCase.replaceAll("[^a-z0-9]+", "_")
          .replaceAll("^_+|_+$", "")
      }
      val handoffPath = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), handoffTable).toString
      val (kept, selCounts, alloc) = graft.jobs.SelectionPipeline.run(
        cleanRaw, Tables.embeddings(s, dir),
        centroidIds = (0L until 8L).toSeq, semThreshold = 0.3,
        targetFilter = col("source") === "src0", budget = 1000000L,
        epochWeights = Map("src0" -> 4L, "src1" -> 2L),
        bucketStore = Some(handoffPath), bucketTable = handoffTable,
        // the bucket count is the per-scale knob (Bucketing scaladoc:
        // size a bucket to an executor core's memory at target scale
        // — thousands at 100 TB); at bench scale 8 keeps the
        // hand-off's file count from dominating the write
        bucketCount = 8)
      // the corpus half's stage caches fed the one bucketed write —
      // nothing reads them again
      cleanRaw.unpersist(false)
      import s.implicits._
      val stageRows =
        (corpusCounts.map { case (st, n) => ("corpus:" + st, n) } ++
          selCounts.map { case (st, n) => ("select:" + st, n) })
        .toDF("kind", "doc_id")
        .withColumn("source", lit(null).cast("string"))
      val allocRows = alloc.select(col("stratum"),
          expr("""stack(7,
                 |  'alloc:wt', wt,
                 |  'alloc:avail_tokens', avail_tokens,
                 |  'alloc:target_tokens', target_tokens,
                 |  'alloc:epochs', epochs,
                 |  'alloc:rem_tokens', rem_tokens,
                 |  'alloc:rem_docs', rem_docs,
                 |  'alloc:rem_kept_tokens', rem_kept_tokens)
                 |AS (kind, doc_id)""".stripMargin))
        .select(col("kind"), col("doc_id"), col("stratum").as("source"))
      // both pipelines' kept frames stay cached (the q85/q117
      // discipline): their counts materialized them; the final write
      // and the allocation read the caches, not the 11-stage lineage
      kept.select(lit("kept").as("kind"), col("doc_id"), col("source"))
        .unionByName(stageRows)
        .unionByName(allocRows)
    },
      // full stack: the q85 corpus chain (prefix + tail over nd, final
      // survivors rk) feeding the q117 selection chain — every stage CTE
      // nests the SAME parameterized body its own oracle uses; selection
      // CTEs renamed (qsel/dk2) where they would collide with the corpus
      // tail's q/qk
      Oracle(
        s"""WITH $duckCorpusPrefix,
         |${duckCorpusTail("nd")},
         |losers AS MATERIALIZED ($q102SemDedupSql),
         |sd AS MATERIALIZED (SELECT * FROM rk
         |       WHERE doc_id NOT IN (SELECT vec_id FROM losers)),
         |gsel AS MATERIALIZED (SELECT * FROM (${duckDomainGateSql("sd")})),
         |qsel AS MATERIALIZED (SELECT * FROM sd WHERE doc_id IN (SELECT doc_id FROM gsel)),
         |dsel AS MATERIALIZED (SELECT * FROM (${duckDsirSql("qsel")})),
         |dk2 AS MATERIALIZED (SELECT * FROM qsel WHERE doc_id IN (SELECT doc_id FROM dsel)),
         |alloc AS MATERIALIZED (SELECT * FROM (${duckEpochAllocSql("dk2")}))
         |SELECT 'kept' AS kind, doc_id, source FROM dk2
         |UNION ALL SELECT 'corpus:input', (SELECT count(*) FROM documents), NULL
         |UNION ALL SELECT 'corpus:sampled', (SELECT count(*) FROM sampled), NULL
         |UNION ALL SELECT 'corpus:exact_dedup', (SELECT count(*) FROM ex), NULL
         |UNION ALL SELECT 'corpus:near_dedup', (SELECT count(*) FROM nd), NULL
         |UNION ALL SELECT 'corpus:quality', (SELECT count(*) FROM qk), NULL
         |UNION ALL SELECT 'corpus:repetition', (SELECT count(*) FROM rk), NULL
         |UNION ALL SELECT 'corpus:mixed', (SELECT count(*) FROM rk), NULL
         |UNION ALL SELECT 'select:input', (SELECT count(*) FROM rk), NULL
         |UNION ALL SELECT 'select:sem_dedup', (SELECT count(*) FROM sd), NULL
         |UNION ALL SELECT 'select:quality_gate', (SELECT count(*) FROM qsel), NULL
         |UNION ALL SELECT 'select:dsir', (SELECT count(*) FROM dk2), NULL
         |UNION ALL SELECT 'alloc:wt', wt, source FROM alloc
         |UNION ALL SELECT 'alloc:avail_tokens', avail_tokens, source FROM alloc
         |UNION ALL SELECT 'alloc:target_tokens', target_tokens, source FROM alloc
         |UNION ALL SELECT 'alloc:epochs', epochs, source FROM alloc
         |UNION ALL SELECT 'alloc:rem_tokens', rem_tokens, source FROM alloc
         |UNION ALL SELECT 'alloc:rem_docs', rem_docs, source FROM alloc
         |UNION ALL SELECT 'alloc:rem_kept_tokens', rem_kept_tokens, source FROM alloc""".stripMargin)),
  )
}
