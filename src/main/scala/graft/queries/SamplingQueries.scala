package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** Deterministic sampling and data selection ([[Sampling]],
  * [[Sharding]]): splits, stratified/weighted/fixed-size samples,
  * mixtures, importance resampling, epoch allocation, the per-domain
  * quality gate and shard manifests.
  */
object SamplingQueries {
  /** The q66 quality-score body parameterized by the corpus relation:
    * (doc_id, source, quality) for every document. Factored out of
    * [[duckDomainGateSql]] so the frozen gate (q118) scores arrivals
    * with the SAME SQL the cut-point computation uses — zero drift.
    */
  private[queries] def duckQualitySql(rel: String): String =
    s"""WITH c AS (
       |  SELECT doc_id, source,
       |    len(string_split(text, ' '))::BIGINT AS n_words,
       |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct_words,
       |    len(list_filter(string_split(text, ' '),
       |        w -> list_contains(['the','a','of','and','in','to','is','on','for','with'], w)))::BIGINT AS stopword_cnt
       |  FROM $rel)
       |SELECT doc_id, source,
       |  round(0.4 * least(n_words::DOUBLE / 100.0, 1.0)
       |      + 0.4 * (n_distinct_words::DOUBLE / n_words::DOUBLE)
       |      + 0.2 * least(5.0 * stopword_cnt::DOUBLE / n_words::DOUBLE, 1.0), 6) AS quality
       |FROM c""".stripMargin

  /** q107's DuckDB SQL parameterized by the corpus relation (the
    * [[duckQualitySql]] body + ntile(4) per source, keep the top
    * quartile): `documents` at the q107 entry, the sem-dedup survivors
    * CTE inside q117 — one body, zero drift between the stage and the
    * chain.
    */
  private[queries] def duckDomainGateSql(rel: String): String =
    s"""WITH q AS (SELECT * FROM (${duckQualitySql(rel)})),
       |n AS (
       |  SELECT doc_id, source, quality,
       |         ntile(4) OVER (PARTITION BY source
       |                        ORDER BY quality ASC, doc_id ASC)::BIGINT AS bucket
       |  FROM q)
       |SELECT doc_id, source, quality FROM n WHERE bucket = 4""".stripMargin

  /** q103's DuckDB SQL parameterized by the corpus relation (add-one
    * smoothed target-vs-corpus unigram LLR — q80's fold shape — then
    * the q66 hash-threshold keep on exp(llr/T)): `documents` at the
    * q103 entry, the quality-gate survivors inside q117 (DSIR's LM is
    * trained on the stage's own input corpus in both).
    */
  private[queries] def duckDsirSql(rel: String): String =
    s"""WITH w AS (
       |  SELECT doc_id, source = 'src0' AS is_target,
       |         unnest(string_split(text, ' ')) AS term
       |  FROM $rel),
       |tf AS (SELECT doc_id, is_target, term, count(*) AS tf FROM w GROUP BY 1, 2, 3),
       |wc AS (SELECT term, sum(tf) AS cnt_c FROM tf GROUP BY 1),
       |wt AS (SELECT term, sum(tf) AS cnt_t FROM tf WHERE is_target GROUP BY 1),
       |tot AS (SELECT (SELECT sum(cnt_c) FROM wc) AS total_c,
       |               (SELECT count(*) FROM wc) AS vocab,
       |               (SELECT sum(cnt_t) FROM wt) AS total_t),
       |v AS (
       |  SELECT tf.doc_id, tf.term, tf.tf,
       |         tf.tf * ln(((coalesce(wt.cnt_t, 0) + 1)::DOUBLE * (tot.total_c + tot.vocab)::DOUBLE)
       |                  / ((wc.cnt_c + 1)::DOUBLE * (tot.total_t + tot.vocab)::DOUBLE)) AS v
       |  FROM tf JOIN wc USING (term) LEFT JOIN wt USING (term) CROSS JOIN tot),
       |s AS (
       |  SELECT doc_id, sum(tf)::BIGINT AS n_words,
       |         round(list_sum(list(v ORDER BY term)) / sum(tf), 6)
       |           + 0.0::DOUBLE AS llr
       |  FROM v GROUP BY 1)
       |SELECT doc_id, n_words, llr FROM s
       |WHERE ('0x'||substr(md5('dsir' || doc_id::VARCHAR),1,15))::BIGINT % 10000 <
       |      floor(least(greatest(round(exp(llr / 0.01), 6), 0.0), 1.0) * 10000)""".stripMargin

  /** q104's DuckDB SQL parameterized by the corpus relation (integer
    * floor-div epoch allocation at weights 4:2:1, budget 1M; the
    * remainder keep is the cross-multiplied hash compare in HUGEINT):
    * `documents` at the q104 entry, the DSIR survivors inside q117.
    */
  private[queries] def duckEpochAllocSql(rel: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS tok
       |  FROM $rel),
       |a AS (
       |  SELECT source,
       |         (CASE WHEN source = 'src0' THEN 4
       |               WHEN source = 'src1' THEN 2 ELSE 1 END)::BIGINT AS wt,
       |         sum(tok)::BIGINT AS avail_tokens
       |  FROM t GROUP BY 1),
       |sw AS (SELECT sum(wt)::BIGINT AS sum_w FROM a WHERE avail_tokens > 0 AND wt > 0),
       |al AS (
       |  SELECT source, wt, avail_tokens,
       |         (1000000 * wt) // sum_w AS target_tokens
       |  FROM a CROSS JOIN sw WHERE avail_tokens > 0 AND wt > 0),
       |a2 AS (
       |  SELECT *, target_tokens // avail_tokens AS epochs,
       |         target_tokens % avail_tokens AS rem_tokens
       |  FROM al),
       |k AS (
       |  SELECT t.source, t.tok, a2.wt, a2.avail_tokens, a2.target_tokens,
       |         a2.epochs, a2.rem_tokens,
       |         ((('0x'||substr(md5('epoch:' || t.doc_id::VARCHAR),1,15))::BIGINT)::HUGEINT
       |            * a2.avail_tokens)
       |           < (a2.rem_tokens::HUGEINT * 1152921504606846976::HUGEINT) AS keep
       |  FROM t JOIN a2 USING (source))
       |SELECT source, wt, avail_tokens, target_tokens, epochs, rem_tokens,
       |       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS rem_docs,
       |       sum(CASE WHEN keep THEN tok ELSE 0 END)::BIGINT AS rem_kept_tokens
       |FROM k GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  val all: Seq[Query] = Seq(
    // deterministic train/val/test split: disjoint + exhaustive hash
    // bands over the id space — one narrow projection, no RNG
    Query("q84_dataset_split", (s, dir) =>
      Sampling.split(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("source"), col("split")),
      // bands: train < 9000, val < 9500, test otherwise (1/10000 units)
      Oracle(
        """SELECT doc_id, source,
        |  CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 10000 < 9000 THEN 'train'
        |       WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 10000 < 9500 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    // deterministic stratified sampling: membership from an id hash, so
    // the sample is reproducible across runs/partitionings/engines —
    // a pure pushdown-friendly filter, no RNG state (Sampling.scala)
    Query("q47_stratified_sample", (s, dir) =>
      Sampling.stratifiedHashSample(Tables.documents(s, dir), "doc_id", "source",
          Map("src0" -> 0.5, "src1" -> 0.25), 0.1)
        .select(col("doc_id"), col("source")),
      Oracle(
        """SELECT doc_id, source FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 10000 <
        |      floor(CASE WHEN source = 'src0' THEN 0.5
        |                 WHEN source = 'src1' THEN 0.25
        |                 ELSE 0.1 END * 10000)""".stripMargin)),

    // quality-weighted deterministic sampling: keep each doc with
    // probability = its quality score — a pure hash filter, no RNG
    Query("q66_quality_weighted_sample", (s, dir) =>
      Sampling.weightedHashSample(
        TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id", col("quality"), salt = "wq")
        .select(col("doc_id"), col("quality")),
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
        |SELECT doc_id, quality FROM q
        |WHERE ('0x'||substr(md5('wq' || doc_id::VARCHAR),1,15))::BIGINT % 10000 <
        |      floor(least(greatest(quality, 0.0), 1.0) * 10000)""".stripMargin)),

    // deterministic corpus mixture (Sampling.mixture): weights 4:2:1:1
    // over four strata — the binding stratum (src0, largest share over
    // equal counts) is kept whole, every other weighted stratum is
    // hash-sampled down to realize the target proportions; unweighted
    // strata drop. All shares are powers of two so the Scala-side
    // double arithmetic (share x scale / count) is bit-exact in both
    // engines
    Query("q86_mixture", (s, dir) =>
      Sampling.mixture(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0))
        .select(col("doc_id"), col("source")),
      // replays Sampling.mixture exactly: per-stratum counts, the binding
      // stratum (min count/share), the keep fractions (binding pinned to
      // 1.0), then the salted hash-threshold filter. Shares are powers of
      // two (weights 4:2:1:1 / 8) so every double step is bit-exact
      Oracle(
        """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.25),
        |                            ('src2', 0.125), ('src3', 0.125)) AS t(source, share)),
        |p AS (SELECT c.source, c.n, w.share FROM c JOIN w USING (source) WHERE c.n > 0),
        |bind AS (SELECT source, n / share AS scale FROM p
        |         ORDER BY n / share LIMIT 1),
        |f AS (SELECT p.source,
        |             CASE WHEN p.source = (SELECT source FROM bind) THEN 1.0
        |                  ELSE least(1.0, p.share * (SELECT scale FROM bind) / p.n)
        |             END AS frac
        |      FROM p)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN f ON d.source = f.source
        |WHERE ('0x'||substr(md5('mixture:' || d.doc_id::VARCHAR),1,15))::BIGINT % 10000
        |      < floor(f.frac * 10000)""".stripMargin)),

    // fixed-size per-stratum sample: exactly 5 docs per source by
    // salted-hash order — the fixed-N eval-set construction (fraction
    // samplers drift with stratum size); rank<=n plans as
    // WindowGroupLimit so partitions pre-prune before the exchange
    Query("q101_fixed_size_sample", (s, dir) =>
      Sampling.fixedSizeSample(Tables.documents(s, dir), "doc_id", "source",
          n = 5, salt = "eval:")
        .select(col("doc_id"), col("source")),
      Oracle(
        """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY ('0x'||substr(md5('eval:' || doc_id::VARCHAR),1,15))::BIGINT,
        |                    doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin)),

    // DSIR importance resampling: score every doc by its unigram
    // log-likelihood ratio against the src0 slice's LM, keep with
    // probability exp(llr/T) by id hash — tilts the corpus toward the
    // target domain with zero RNG and one token explode
    Query("q103_importance_resample", (s, dir) => {
      val scored = TextAnalysis.importanceScore(Tables.documents(s, dir),
        "doc_id", "text", col("source") === "src0")
      Sampling.weightedHashSample(scored, "doc_id",
        round(exp(col("llr") / 0.01), 6), salt = "dsir")
        .select(col("doc_id"), col("n_words"), col("llr"))
    },
      // add-one smoothed target-vs-corpus unigram LLR (q80's fold shape),
      // then the q66 hash-threshold keep on exp(llr/T) (parameterized
      // body shared with q117's chain)
      Oracle(duckDsirSql("documents"))),

    // token-budget epoching: how many full passes of each source a
    // 1M-token budget buys at 4:2:1:…:1 weights, plus the hash-picked
    // fractional-epoch remainder — every keep decision integer-exact
    // (DECIMAL cross-multiply, no double threshold)
    Query("q104_epoch_allocation", (s, dir) =>
      Sampling.epochAllocation(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_words")),
        "doc_id", "source", "n_words",
        weights = Map("src0" -> 4L, "src1" -> 2L), defaultWeight = 1L,
        budget = 1000000L)
        .withColumnRenamed("stratum", "source"),
      // integer floor-div allocation; the remainder keep is the
      // cross-multiplied hash compare in HUGEINT — exact on both engines
      // (parameterized body shared with q117's chain)
      Oracle(duckEpochAllocSql("documents"))),

    // per-domain adaptive quality gate: keep each source's own top
    // quality quartile — a global threshold over-prunes clean domains
    // and under-prunes noisy ones; the per-source quartile is the
    // FineWeb-style per-dump threshold. Grouped exact ntile rides the
    // PrefixSum core (range partition + distributed offsets, no
    // low-cardinality Window sort — 20 sources would mean 20 tasks)
    Query("q107_domain_quality_gate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // quality is a pure per-row projection, so `source` rides along in
      // the SAME select (qualityScore carryCols) — the previous
      // join-back shape paid a second full text scan plus an equi-join
      // shuffle for a column the projection already had in hand
      val q = TextAnalysis.qualityScore(docs, "doc_id", "text",
          carryCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("quality"))
      Quantiles.exactNtile(q, "source", Seq("quality", "doc_id"), buckets = 4)
        .filter(col("bucket") === 4)
        .select(col("doc_id"), col("source"), col("quality"))
    },
      // q66's quality body + ntile(4) per source; keep the top quartile
      // (parameterized body shared with q117's chain)
      Oracle(duckDomainGateSql("documents"))),

    // deterministic training-shard manifest (ops/Sharding): shard =
    // salted 60-bit md5 mod 16 (layout-independent, decorrelated from
    // upstream samples), per-shard token intervals via the range-
    // partitioned PrefixSum core — sum() OVER (PARTITION BY shard)
    // would funnel the corpus through 16 tasks (the low-cardinality
    // WindowExec trap); the oracle runs exactly that Window form,
    // proving the distributed offsets equal it
    Query("q119_shard_manifest", (s, dir) =>
      graft.ops.Sharding.shardManifest(
        Tables.documents(s, dir).withColumn("n_tokens",
          size(split(col("text"), " ")).cast("long")),
        "doc_id", "n_tokens", nShards = 16, carryCols = Seq("source")),
      // shard manifest: the hash is the q47 convention (top-60-bit md5 of
      // salt||id); the offsets are the Window formulation the PrefixSum
      // core replaces
      Oracle(
        """WITH t AS (
        |  SELECT doc_id, source,
        |         len(string_split(text, ' '))::BIGINT AS n_tokens,
        |         ('0x'||substr(md5('shard:'||doc_id::VARCHAR),1,15))::BIGINT % 16 AS shard
        |  FROM documents)
        |SELECT doc_id, source, n_tokens, shard,
        |       sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS token_end,
        |       sum(n_tokens) OVER (PARTITION BY shard)::BIGINT AS shard_tokens,
        |       (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                            ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS token_start
        |FROM t""".stripMargin)),

    // temperature-flattened mixture (UniMax shape): weights ∝ √n per
    // source — derived from the data, not caller-supplied, so the whole
    // chain (isqrt weights, cross-multiplied binding argmin, integer
    // keep thresholds vs the salted hash bucket) stays in exact BIGINT
    // arithmetic; no double ever decides membership
    Query("q135_temperature_mixture", (s, dir) =>
      Sampling.temperatureMixture(Tables.documents(s, dir), "doc_id", "source")
        .select(col("doc_id"), col("source")),
      // temperature mixture: replays Sampling.temperatureMixture's exact
      // integers — corrected-floor isqrt weights, binding stratum by
      // cross-multiplied argmin (HUGEINT — no double ordering), integer
      // keep thresholds against the 'tmix:'-salted hash bucket
      Oracle(
        """WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1),
        |p AS (SELECT source, n,
        |             w0 - CASE WHEN w0*w0 > n THEN 1 ELSE 0 END
        |                + CASE WHEN (w0+1)*(w0+1) <= n THEN 1 ELSE 0 END AS w
        |      FROM (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w0 FROM c)),
        |bind AS (SELECT a.n AS nb, a.w AS wb FROM p a
        |         WHERE NOT EXISTS (
        |           SELECT 1 FROM p b
        |           WHERE b.n::HUGEINT * a.w < a.n::HUGEINT * b.w
        |              OR (b.n::HUGEINT * a.w = a.n::HUGEINT * b.w
        |                  AND b.source < a.source))),
        |f AS (SELECT p.source,
        |             least(10000, (p.w * (SELECT nb FROM bind) * 10000)
        |                          // ((SELECT wb FROM bind) * p.n)) AS thr
        |      FROM p)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN f ON d.source = f.source
        |WHERE ('0x'||substr(md5('tmix:' || d.doc_id::VARCHAR),1,15))::BIGINT % 10000
        |      < f.thr""".stripMargin)),

    // half-life recency sampling for retrain-set assembly: keep
    // probability halves every 3 days of age vs the 2024-02-01 anchor
    // (integer 10000 >> k thresholds — no exp(), every decision
    // engine-exact; the events span Jan 2024, so k runs 0..10)
    Query("q147_decayed_sample", (s, dir) =>
      Sampling.decayedSample(Tables.events(s, dir), "event_id", "ts",
          anchorEpochS = 1706745600L, halfLifeS = 259200L)
        .select(col("event_id"), col("user_id"), col("event_type")),
      // the same integer half-life thresholds: age in whole half-lives
      // (floor // vs Spark's truncating div agree — negatives clamp to 0
      // AFTER division on both sides), threshold = 10000 >> k
      Oracle(
        """SELECT event_id, user_id, event_type
        |FROM events
        |WHERE ('0x'||substr(md5('decay:' || event_id::VARCHAR),1,15))::BIGINT % 10000
        |      < (10000 >> least(greatest(
        |          (1706745600 - epoch_us(ts)//1000000) // 259200, 0), 14))""".stripMargin)),

    // epoch-deterministic global shuffle: two epochs' reproducible
    // permutations of the corpus, ranks via the PrefixSum core (no
    // single-task global sort); the oracle runs the row_number Window
    // form, proving the distributed ranks equal it exactly
    Query("q162_epoch_shuffle", (s, dir) => {
      val d = Tables.documents(s, dir)
      (1 to 2).map(e => Sampling.epochShuffle(d, "doc_id", e)
          .select(lit(e.toLong).as("epoch"), col("doc_id"),
            col("shuffle_rank")))
        .reduce(_ unionByName _)
    },
      // the exact Window form the engine's PrefixSum core must equal
      Oracle(
        """SELECT 1::BIGINT AS epoch, doc_id,
        |       row_number() OVER (ORDER BY
        |         ('0x'||substr(md5('ord:1:'||doc_id::VARCHAR),1,15))::BIGINT,
        |         doc_id)::BIGINT AS shuffle_rank
        |FROM documents
        |UNION ALL
        |SELECT 2::BIGINT, doc_id,
        |       row_number() OVER (ORDER BY
        |         ('0x'||substr(md5('ord:2:'||doc_id::VARCHAR),1,15))::BIGINT,
        |         doc_id)::BIGINT
        |FROM documents""".stripMargin)),
  )
}
