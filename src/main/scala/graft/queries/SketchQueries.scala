package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** Approximate summaries and their error-band audits ([[SketchStore]],
  * the typed sketch aggregates): Bloom/HLL/KMV/Count–Min/Misra–Gries
  * estimates, the sketch warehouses, and the band twins that verify
  * each estimate against the exact answer.
  */
object SketchQueries {
  /** Shared body of the distinct-count band audits (q110/q111/q114):
    * join the sketch estimate to the exact per-window count and emit
    * (window bounds, exact uv, |est − exact| ≤ max(absFloor,
    * band·exact)). The exact side is DuckDB-reproducible and the
    * boolean deterministic (the estimates are partition-independent),
    * so the whole row hashes. `absFloor` covers integer round-off at
    * tiny cardinalities, where a relative band is meaningless (a
    * 3-user window estimated as 2 is a count-off-by-one, not a 33%
    * sketch failure).
    */
  private def sketchBand(est: DataFrame, exact: DataFrame,
                         estCol: String, band: Double,
                         absFloor: Double = 0.0): DataFrame =
    est.join(exact, Seq("window_start", "window_end"))
      .select(col("window_start"), col("window_end"), col("uv"),
        (abs(col(estCol).cast("double") - col("uv").cast("double")) <=
          greatest(lit(absFloor), lit(band) * col("uv").cast("double")))
          .as("within_band"))

  val all: Seq[Query] = Seq(
    // A5 bit-parity Bloom sketch UV per hour (reference Redis bitmap
    // scheme, UvWithBloomFilter.scala:103-121); approximate → rows-only
    // check (2^17-bit maps here: one buffer per (window, partition))
    Query("q32_uv_bloom_hourly", (s, dir) =>
      Tables.events(s, dir).filter(col("event_type") === "view")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(graft.functions.TypedAggs.bloomDistinct(
          col("user_id").cast("string"), 1 << 17).as("uv_bloom"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          unix_timestamp(col("window.end")).as("window_end"), col("uv_bloom")),
      BandTwin("q111_bloom_band")),

    // mergeable UV rollup: hourly DataSketches-HLL sketches UNIONED
    // into daily estimates — the events scan once, every coarser
    // granularity derives from the stored fine sketches (exact daily
    // UV would re-scan per granularity; distinct doesn't add).
    // Approximate by design (no DuckDB sketch twin): rows-only +
    // error band vs exact daily UV in ApproxErrorSpec
    Query("q100_uv_sketch_daily", (s, dir) =>
      WindowedAgg.sketchRollupDistinct(
        Tables.events(s, dir).filter(col("event_type") === "view"),
        "ts", fine = "1 hour", coarse = "1 day", distinctCol = "user_id"),
      BandTwin("q114_sketch_rollup_band")),

    // approximate heavy hitters (Misra–Gries, k=20 counters): fixed
    // memory — each partition ships ONE k-entry map instead of
    // shuffling every distinct term. Estimates TOTAL term frequency
    // (q34's topTerms ranks by DOCUMENT frequency — a different
    // statistic, not just exact-vs-approx). Approximate by design
    // (rows-only, like q03/q32): merge order affects which
    // sub-threshold terms survive; the super-threshold guarantee is
    // spec-proven (ApproxErrorSpec)
    Query("q99_heavy_hitters", (s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir), "text", k = 20),
      BandTwin("q113_mg_band")),

    // band audit of q03's HLL++ sketch: |estimate − exact| per hourly
    // window against a 5% band (5× the rsd=0.01 target). HLL register
    // maxima are commutative/idempotent, so the estimate — hence the
    // boolean — is DETERMINISTIC under any partitioning; the oracle
    // computes the exact side and asserts the band holds, turning the
    // sketch's guarantee into a hash-exact row (the q03 entry itself
    // stays rows-only: its VALUES are not DuckDB-reproducible)
    Query("q110_hll_band", (s, dir) => {
      val v = Tables.events(s, dir).filter(col("event_type") === "view")
      sketchBand(
        WindowedAgg.tumblingApproxDistinct(v, "ts", "1 hour", "user_id"),
        WindowedAgg.tumblingDistinct(v, "ts", "1 hour", "user_id"),
        "uv_approx", band = 0.05)
    },
      // band audits (q110/q111/q114): the oracle computes the EXACT side
      // and asserts the sketch's guarantee held — the estimate is
      // deterministic (register maxima / bitmap OR), so the Spark-side
      // boolean is reproducible and true by the sketch's error bound
      Oracle(
        """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS window_start,
        |       CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 + 3600 AS window_end,
        |       count(DISTINCT user_id) AS uv, true AS within_band
        |FROM events WHERE event_type = 'view' GROUP BY 1, 2""".stripMargin)),

    // band audit of q32's bit-parity Bloom sketch (2^17 bits, 3 hashes):
    // the -m/k·ln(1-X/m) estimate vs exact hourly UV. The band is
    // max(2, 8%·exact) — measured honestly, NOT the textbook Bloom
    // bound: the reference's polynomial hash r = r·seed + char maps
    // every single-char key to the same bit under all 3 seeds (seed
    // never multiplies in), so tiny ids under-fill the bitmap, and the
    // rounded estimator is off-by-one at 1–8-user windows (the abs
    // floor). Measured: ≤1 absolute at sf0.01, ≤6.9% relative at
    // sf0.1. VALIDITY RANGE: the 8%/absFloor=2 band is a CALIBRATION
    // at sf0.01/sf0.1, not an analytic bound — per-window distincts
    // there stay ≪ 2^17 bits so the estimator is near-linear; at a
    // larger sf (or a smaller bitmap) the fill fraction rises and the
    // relative error grows, so a q111 failure after an sf bump means
    // RECALIBRATE THE BAND (re-measure, widen), not a code bug. The
    // bitmap OR is commutative, the popcount deterministic — same
    // hash-exact-boolean construction as q110
    Query("q111_bloom_band", (s, dir) => {
      val v = Tables.events(s, dir).filter(col("event_type") === "view")
      val est = v.groupBy(window(col("ts"), "1 hour"))
        .agg(graft.functions.TypedAggs.bloomDistinct(
          col("user_id").cast("string"), 1 << 17).as("uv_bloom"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          unix_timestamp(col("window.end")).as("window_end"), col("uv_bloom"))
      sketchBand(est,
        WindowedAgg.tumblingDistinct(v, "ts", "1 hour", "user_id"),
        "uv_bloom", band = 0.08, absFloor = 2.0)
    },
      Oracle(
        """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS window_start,
        |       CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 + 3600 AS window_end,
        |       count(DISTINCT user_id) AS uv, true AS within_band
        |FROM events WHERE event_type = 'view' GROUP BY 1, 2""".stripMargin)),

    // band audit of q99's Misra–Gries summary, keyed by the TOP-30
    // EXACT terms (a deterministic key set — which sub-threshold MG
    // entries survive is merge-order-dependent, so keying on the MG
    // side would not hash). Per term the guarantee is integer-exact:
    // present ⇒ cnt − n/(k+1) ≤ est ≤ cnt (cross-multiplied, no
    // division); absent ⇒ cnt ≤ n/(k+1). Always true under any merge
    // order ⇒ hash-exact
    Query("q113_mg_band", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = docs.select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val exact = words.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val tot = exact.agg(sum(col("cnt")).as("n"))
      val top = exact.orderBy(col("cnt").desc, col("term").asc).limit(30)
      top.join(TextAnalysis.heavyHitters(docs, "text", k = 20), Seq("term"), "left")
        .crossJoin(broadcast(tot))
        .select(col("term"), col("cnt"),
          when(col("est_cnt").isNotNull,
            col("est_cnt") <= col("cnt") &&
              (col("cnt") - col("est_cnt")) * 21 <= col("n"))
            .otherwise(col("cnt") * 21 <= col("n")).as("within_band"))
    },
      // top-30 exact terms (deterministic key set); the MG guarantee
      // (no overcount, undercount ≤ n/(k+1), presence above threshold)
      // holds under any merge order ⇒ within_band is always true
      Oracle(
        """WITH w AS (
        |  SELECT term FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE len(term) > 0),
        |f AS (SELECT term, count(*)::BIGINT AS cnt FROM w GROUP BY 1)
        |SELECT term, cnt, true AS within_band FROM f
        |ORDER BY cnt DESC, term ASC LIMIT 30""".stripMargin)),

    // band audit of q100's DataSketches HLL rollup: daily
    // union-of-hourly-sketches estimate vs exact daily UV, 5% band
    // (~3× the lgK=12 rsd). Register maxima ⇒ deterministic estimate ⇒
    // hash-exact boolean, as in q110
    Query("q114_sketch_rollup_band", (s, dir) => {
      val v = Tables.events(s, dir).filter(col("event_type") === "view")
      sketchBand(
        WindowedAgg.sketchRollupDistinct(v, "ts", fine = "1 hour",
          coarse = "1 day", distinctCol = "user_id"),
        WindowedAgg.tumblingDistinct(v, "ts", "1 day", "user_id"),
        "uv_approx", band = 0.05)
    },
      Oracle(
        """SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS window_start,
        |       CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 + 86400 AS window_end,
        |       count(DISTINCT user_id) AS uv, true AS within_band
        |FROM events WHERE event_type = 'view' GROUP BY 1, 2""".stripMargin)),

    // per-source heavy hitters: q99's mergeable Misra–Gries summary
    // under a groupBy — per-domain top terms, the common production
    // form. Each (partition, source) ships one k-entry map.
    // APPROXIMATE BY DESIGN (rows-only, like q99): which sub-threshold
    // terms survive is merge-order-dependent; q116 is its hash-exact
    // band audit
    Query("q115_grouped_heavy_hitters", (s, dir) =>
      TextAnalysis.heavyHittersBy(Tables.documents(s, dir), "source",
        "text", k = 10),
      BandTwin("q116_grouped_mg_band")),

    // band audit of q115, the q113 construction PER GROUP: keyed by
    // each source's top-10 EXACT terms; per term the per-group MG
    // guarantee (n_g = the source's own term count, k = 10) is
    // integer-exact and merge-order-independent, so the boolean
    // hashes. The per-source rank<=10 pre-prunes as WindowGroupLimit
    // (the q101 shape); the source totals derive from the exact term
    // counts — no second corpus explode
    Query("q116_grouped_mg_band", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = docs
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
      val tot = exact.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("cnt").desc, col("term").asc)
      val top = exact.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 10).drop("_rn")
      top
        .join(TextAnalysis.heavyHittersBy(docs, "source", "text", k = 10),
          Seq("source", "term"), "left")
        .join(broadcast(tot), "source")
        .select(col("source"), col("term"), col("cnt"),
          when(col("est_cnt").isNotNull,
            col("est_cnt") <= col("cnt") &&
              (col("cnt") - col("est_cnt")) * 11 <= col("n"))
            .otherwise(col("cnt") * 11 <= col("n")).as("within_band"))
    },
      // q113's construction per source: top-10 exact terms per group, the
      // per-group MG guarantee always true under any merge order
      Oracle(
        """WITH w AS (
        |  SELECT source, term FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE len(term) > 0),
        |f AS (SELECT source, term, count(*)::BIGINT AS cnt FROM w GROUP BY 1, 2)
        |SELECT source, term, cnt, true AS within_band FROM (
        |  SELECT source, term, cnt,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY cnt DESC, term ASC) AS rn
        |  FROM f) WHERE rn <= 10""".stripMargin)),

    // Count–Min point-frequency estimates for the corpus's top-30
    // exact terms (the deterministic key set, the q113 convention).
    // UNLIKE the Misra–Gries audits this needs no band: CMS counters
    // are sums, so the sketch is merge-order-independent and the
    // DuckDB oracle replays the estimate EXACTLY (min over rows of
    // md5-bucket sums) — an approximate sketch with a hash-exact
    // oracle. One corpus explode feeds both the exact counts and the
    // keyless sketch (fixed 3×2048 buffer per partition, vector-add
    // merge — nothing per-term ever shuffles on the sketch side)
    Query("q124_cms_counts", (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val top = words.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(30)
      val sk = words.agg(graft.functions.TypedAggs.countMin(col("term")).as("sk"))
      top.crossJoin(broadcast(sk))
        .select(col("term"), col("cnt"),
          graft.functions.TypedAggs.countMinEstimate(col("sk"), col("term")).as("est_cnt"))
    },
      // CMS replayed relationally: bucket = md5-60(row-prefixed term)
      // mod width; a row's counter = the bucket's term-count sum;
      // estimate = least over the 3 rows. Exact by construction —
      // counters are merge-order-independent sums
      Oracle(
        """WITH w AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, count(*)::BIGINT AS cnt FROM w
        |      WHERE length(term) > 0 GROUP BY 1),
        |h AS (SELECT term, cnt,
        |        ('0x'||substr(md5('cms0:'||term),1,15))::BIGINT % 2048 AS b0,
        |        ('0x'||substr(md5('cms1:'||term),1,15))::BIGINT % 2048 AS b1,
        |        ('0x'||substr(md5('cms2:'||term),1,15))::BIGINT % 2048 AS b2
        |      FROM c),
        |r0 AS (SELECT b0 AS b, sum(cnt)::BIGINT AS s FROM h GROUP BY 1),
        |r1 AS (SELECT b1 AS b, sum(cnt)::BIGINT AS s FROM h GROUP BY 1),
        |r2 AS (SELECT b2 AS b, sum(cnt)::BIGINT AS s FROM h GROUP BY 1),
        |top AS (SELECT term, cnt, b0, b1, b2 FROM h
        |        ORDER BY cnt DESC, term ASC LIMIT 30)
        |SELECT top.term, top.cnt, least(r0.s, r1.s, r2.s) AS est_cnt
        |FROM top JOIN r0 ON top.b0 = r0.b JOIN r1 ON top.b1 = r1.b
        |         JOIN r2 ON top.b2 = r2.b""".stripMargin)),

    // KMV/bottom-k distinct sketch next to the exact count: per event
    // type, estimated distinct users from the 64 smallest md5-60
    // hashes. Like q124 the sketch state is merge-order-independent
    // (k smallest of a union) and the hash family is cross-engine, so
    // the oracle replays the ESTIMATE hash-exactly — no band. Each
    // (partition, group) ships ≤64 longs vs the exact side's
    // every-user shuffle; KMV (unlike HLL) also supports downstream
    // set operations over the kept hashes
    Query("q127_kmv_distinct", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          round(graft.functions.TypedAggs.kmvDistinct(
            col("user_id").cast("string")), 4).as("est_distinct")),
      // KMV replayed relationally: rank the distinct md5-60 hashes per
      // group, read the 64th smallest, apply (k-1)*2^60/h_k (count
      // exactly when under capacity). Merge-order-independent ⇒ exact
      Oracle(
        """WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT DISTINCT event_type,
        |        ('0x'||substr(md5('kmv:'||user_id::VARCHAR),1,15))::BIGINT AS hv
        |      FROM e),
        |r AS (SELECT event_type, hv,
        |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS nd
        |      FROM h),
        |x AS (SELECT event_type, count(*)::BIGINT AS n_exact FROM e GROUP BY 1),
        |est AS (SELECT event_type,
        |          CASE WHEN max(nd) < 64 THEN max(nd)::DOUBLE
        |               ELSE 63.0 * 1152921504606846976
        |                    / max(CASE WHEN rn = 64 THEN hv END) END AS est
        |        FROM r GROUP BY 1)
        |SELECT x.event_type, n_exact, round(est, 4) AS est_distinct
        |FROM x JOIN est USING (event_type)""".stripMargin)),

    // KMV SET operations (the reason to keep hashes, not just an
    // estimate): pairwise event-type audience overlap from the
    // per-type bottom-64 sketches alone — combined bottom-k of the
    // union, Jaccard = K∩/k over it (SIGMOD'07 ρ-estimator),
    // intersection = ρ·union-est. Every quantity is a deterministic
    // function of the two hash sets, so the oracle replays all three
    // estimates hash-exactly. At 100 TB the pairwise stage touches
    // ONLY dimension-sized sketch rows — the corpus is scanned once
    // for the sketches, never per pair
    Query("q130_kmv_overlap", (s, dir) => {
      val k = 64
      val sk = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.TypedAggs.kmvHashes(
          col("user_id").cast("string"), k).as("hs"))
      sk.select(col("event_type").as("type_a"), col("hs").as("hs_a"))
        .crossJoin(broadcast(
          sk.select(col("event_type").as("type_b"), col("hs").as("hs_b"))))
        .filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("hs_a"), col("hs_b"),
          expr(s"slice(array_sort(array_union(hs_a, hs_b)), 1, $k)").as("comb"))
        .select(col("type_a"), col("type_b"),
          size(col("comb")).as("kk"),
          expr("size(filter(comb, h -> array_contains(hs_a, h) AND array_contains(hs_b, h)))")
            .as("k_int"),
          expr(s"""IF(size(comb) < $k, CAST(size(comb) AS DOUBLE),
                  |   ${k - 1}D * 1152921504606846976.0D / element_at(comb, $k))"""
            .stripMargin).as("union_est"))
        .select(col("type_a"), col("type_b"),
          round(col("union_est"), 4).as("union_est"),
          round(col("k_int").cast("double") / col("kk"), 6).as("jaccard_est"),
          round(col("k_int").cast("double") / col("kk") * col("union_est"), 4)
            .as("inter_est"))
    },
      // KMV set ops replayed relationally: per-type bottom-64 hash
      // lists, combined bottom-k per pair, K∩ by joining the combined
      // list back to both sketches, the same union/Jaccard/intersection
      // arithmetic. Deterministic ⇒ all three estimates hash-exact
      Oracle(
        """WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT DISTINCT event_type,
        |        ('0x'||substr(md5('kmv:'||user_id::VARCHAR),1,15))::BIGINT AS hv
        |      FROM e),
        |bk AS (SELECT event_type, hv FROM (
        |         SELECT event_type, hv,
        |                row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |         FROM h)
        |       WHERE rn <= 64),
        |t AS (SELECT DISTINCT event_type FROM e),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |      FROM t a JOIN t b ON a.event_type < b.event_type),
        |u AS (SELECT DISTINCT p.type_a, p.type_b, bk.hv
        |      FROM p JOIN bk ON bk.event_type = p.type_a OR bk.event_type = p.type_b),
        |comb AS (SELECT type_a, type_b, hv,
        |                row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn
        |         FROM u),
        |ck AS (SELECT * FROM comb WHERE rn <= 64),
        |inter AS (SELECT ck.type_a, ck.type_b, count(*)::BIGINT AS k_int
        |          FROM ck JOIN bk x ON x.event_type = ck.type_a AND x.hv = ck.hv
        |                  JOIN bk y ON y.event_type = ck.type_b AND y.hv = ck.hv
        |          GROUP BY 1, 2),
        |st AS (SELECT type_a, type_b, count(*)::BIGINT AS kk,
        |              max(CASE WHEN rn = 64 THEN hv END) AS hk
        |       FROM ck GROUP BY 1, 2),
        |est AS (SELECT st.type_a, st.type_b, kk,
        |               coalesce(k_int, 0) AS k_int,
        |               CASE WHEN kk < 64 THEN kk::DOUBLE
        |                    ELSE 63.0 * 1152921504606846976 / hk END AS union_est
        |        FROM st LEFT JOIN inter USING (type_a, type_b))
        |SELECT type_a, type_b, round(union_est, 4) AS union_est,
        |       round(k_int::DOUBLE / kk, 6) AS jaccard_est,
        |       round(k_int::DOUBLE / kk * union_est, 4) AS inter_est
        |FROM est""".stripMargin)),

    // KMV sketch WAREHOUSE: per-(event_type, day) bottom-64 sketch rows
    // — the unit a store persists (SketchStoreSpec drives the bucketed
    // write + zero-Exchange store-merge + store⊕slice ≡ full-rescan) —
    // merged down to one state per type and read as (n_slices,
    // estimate). Bottom-k of a union of bottom-k's IS the union's
    // bottom-k, so the merged estimate replays hash-exactly against the
    // raw corpus (the q127 oracle) and n_slices pins the store shape
    Query("q152_kmv_warehouse", (s, dir) => {
      val slices = SketchStore.kmvSlices(
        Tables.events(s, dir)
          .withColumn("day", to_date(col("ts")))
          .withColumn("u", col("user_id").cast("string")),
        Seq("event_type"), "day", col("u"))
      SketchStore.kmvMergeSlices(slices, Seq("event_type"))
        .select(col("event_type"), col("n_slices"),
          round(SketchStore.kmvEstimate(col("hs")), 4).as("est_distinct"))
    },
      // warehouse-merged KMV ≡ global KMV (bottom-k of a union of
      // bottom-k's): the q127 estimate replay + per-type slice counts
      // (distinct days) pinning the store shape
      Oracle(
        """WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT DISTINCT event_type,
        |        ('0x'||substr(md5('kmv:'||user_id::VARCHAR),1,15))::BIGINT AS hv
        |      FROM e),
        |r AS (SELECT event_type, hv,
        |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS nd
        |      FROM h),
        |d AS (SELECT event_type,
        |        count(DISTINCT date_trunc('day', ts))::BIGINT AS n_slices
        |      FROM events GROUP BY 1),
        |est AS (SELECT event_type,
        |          CASE WHEN max(nd) < 64 THEN max(nd)::DOUBLE
        |               ELSE 63.0 * 1152921504606846976
        |                    / max(CASE WHEN rn = 64 THEN hv END) END AS est
        |        FROM r GROUP BY 1)
        |SELECT d.event_type, n_slices, round(est, 4) AS est_distinct
        |FROM d JOIN est USING (event_type)""".stripMargin)),

    // Count–Min WAREHOUSE: per-source CMS matrices over document terms
    // (the q124 sketch, sliced), vector-added to one store state and
    // point-read for the exact top-30 terms. Counters are sums, so the
    // merged matrix ≡ the full-corpus matrix bit-exactly — same
    // hash-exact oracle as q124, plus the slice count
    Query("q153_cms_warehouse", (s, dir) => {
      // measured and reverted: pinning the token explode (it feeds
      // both the sketch build and the exact top-30) read 1.32 -> 1.50 s
      // isolated best-of-5 — the localCheckpoint block write costs more
      // than the duplicated explode saves at this row width; the two
      // subtree scans stay
      val words = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val merged = SketchStore.cmsMergeSlices(
        SketchStore.cmsSlices(words, Nil, "source", col("term")), Nil)
      val top = words.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(30)
      top.crossJoin(broadcast(merged))
        .select(col("term"), col("cnt"), col("n_slices"),
          graft.functions.TypedAggs.countMinEstimate(col("sk"), col("term"))
            .as("est_cnt"))
    },
      // warehouse-merged CMS ≡ global CMS (counters are sums): the q124
      // replay + the distinct-source slice count on every row
      Oracle(
        """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |w2 AS (SELECT source, term FROM w WHERE length(term) > 0),
        |c AS (SELECT term, count(*)::BIGINT AS cnt FROM w2 GROUP BY 1),
        |h AS (SELECT term, cnt,
        |        ('0x'||substr(md5('cms0:'||term),1,15))::BIGINT % 2048 AS b0,
        |        ('0x'||substr(md5('cms1:'||term),1,15))::BIGINT % 2048 AS b1,
        |        ('0x'||substr(md5('cms2:'||term),1,15))::BIGINT % 2048 AS b2
        |      FROM c),
        |r0 AS (SELECT b0 AS b, sum(cnt)::BIGINT AS s FROM h GROUP BY 1),
        |r1 AS (SELECT b1 AS b, sum(cnt)::BIGINT AS s FROM h GROUP BY 1),
        |r2 AS (SELECT b2 AS b, sum(cnt)::BIGINT AS s FROM h GROUP BY 1),
        |ns AS (SELECT count(DISTINCT source)::BIGINT AS n_slices FROM w2),
        |top AS (SELECT term, cnt, b0, b1, b2 FROM h
        |        ORDER BY cnt DESC, term ASC LIMIT 30)
        |SELECT top.term, top.cnt, ns.n_slices, least(r0.s, r1.s, r2.s) AS est_cnt
        |FROM top CROSS JOIN ns
        |JOIN r0 ON top.b0 = r0.b JOIN r1 ON top.b1 = r1.b
        |JOIN r2 ON top.b2 = r2.b""".stripMargin)),

    // HLL register warehouse — the third sketch type (q152 KMV, q153
    // CMS): per-(type, day) 64-register vectors, element-wise-max
    // merged, RAW estimate read from the merged registers. Register
    // max is merge-order-independent and the harmonic sum is an exact
    // integer, so even the float estimate replays hash-exactly (the
    // ln()-dependent small-range correction is deliberately absent —
    // SketchStore.hllEstimate scaladoc)
    Query("q158_hll_warehouse", (s, dir) => {
      val slices = SketchStore.hllSlices(
        Tables.events(s, dir)
          .withColumn("day", to_date(col("ts")))
          .withColumn("u", col("user_id").cast("string")),
        Seq("event_type"), "day", col("u"))
      SketchStore.hllMergeSlices(slices, Seq("event_type"))
        .select(col("event_type"), col("n_slices"),
          round(SketchStore.hllEstimate(col("regs")), 4).as("est_distinct"))
    },
      // HLL registers replayed relationally: bucket = md5-60 hash mod
      // 64, rank = 55 − bit-length of the remaining 54 bits (0 → 55),
      // register = max rank per bucket; empty buckets contribute 2^55 to
      // the exact-integer harmonic sum; estimate = α₆₄·m²·2^55 / S with
      // every float operand identical cross-engine
      Oracle(
        """WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT event_type,
        |        ('0x'||substr(md5('hll:'||user_id::VARCHAR),1,15))::BIGINT AS hv
        |      FROM e),
        |bw AS (SELECT event_type, hv % 64 AS j, hv // 64 AS w FROM h),
        |rk AS (SELECT event_type, j,
        |         CASE WHEN w = 0 THEN 55
        |              ELSE 55 - list_max(list_transform(generate_series(0, 53),
        |                     i -> CASE WHEN (w >> i) & 1 = 1 THEN i + 1 ELSE 0 END))
        |         END AS rank
        |       FROM bw),
        |reg AS (SELECT event_type, j, max(rank) AS r FROM rk GROUP BY 1, 2),
        |s AS (SELECT event_type,
        |        (sum(1::BIGINT << (55 - r)::INT)
        |         + (64 - count(*)) * 36028797018963968)::BIGINT AS sint
        |      FROM reg GROUP BY 1),
        |d AS (SELECT event_type,
        |        count(DISTINCT date_trunc('day', ts))::BIGINT AS n_slices
        |      FROM events GROUP BY 1)
        |SELECT d.event_type, n_slices,
        |       round(0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
        |             / sint::DOUBLE, 4) AS est_distinct
        |FROM d JOIN s USING (event_type)""".stripMargin)),

    // histogram sketch WAREHOUSE — the quantile member (q152 KMV, q153
    // CMS, q158 HLL): per-(source, slice) fixed-bin doc-length
    // histograms, element-wise-added to one store state, percentile
    // bounds read by integer rank arithmetic (p50/p90/p99). Counters
    // are sums, so slice+merge ≡ full rescan bit-exactly; the read's
    // bin lower bound provably brackets the exact rank statistic
    // (bound ≤ exact < bound + width for middle bins), and the in-bin
    // audit columns pin that against exact percentiles computed
    // relationally on BOTH engines — the q112 band pattern with a
    // tautology-by-construction band, which is precisely what catches
    // off-by-one rank arithmetic
    Query("q168_hist_warehouse", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("source"), (col("doc_id") % 3).as("slice"),
          length(col("text")).cast("long").as("len"))
      val merged = SketchStore.histMergeSlices(
        SketchStore.histSlices(docs, Seq("source"), "slice", col("len"),
          lo = 0L, width = 16L, nBins = 40), Seq("source"),
        lo = 0L, width = 16L, nBins = 40)
      val reads = merged.select(col("source"), col("n_slices"),
        aggregate(col("cs"), lit(0L), (a, x) => a + x).as("n_docs"),
        SketchStore.histPercentileBound(col("cs"), 0.5, 0L, 16L).as("p50_bound"),
        SketchStore.histPercentileBound(col("cs"), 0.9, 0L, 16L).as("p90_bound"),
        SketchStore.histPercentileBound(col("cs"), 0.99, 0L, 16L).as("p99_bound"))
      // exact rank statistics (audit side, query-scale sort per group):
      // min len whose cumulative count reaches rank ⌈p·n⌉
      val cum = docs.groupBy(col("source"), col("len"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("len"))))
      val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val exact = cum.join(tot, "source")
        .select(col("source"), col("len"), col("cum"), col("n"),
          explode(array(lit(0.5), lit(0.9), lit(0.99))).as("pp"))
        .filter(col("cum") >=
          ceil(col("pp") * col("n").cast("double")).cast("long"))
        .groupBy(col("source"), col("pp")).agg(min(col("len")).as("v"))
        .groupBy(col("source")).agg(
          max(when(col("pp") === 0.5, col("v"))).as("p50_exact"),
          max(when(col("pp") === 0.9, col("v"))).as("p90_exact"),
          max(when(col("pp") === 0.99, col("v"))).as("p99_exact"))
      reads.join(exact, "source")
        .select(col("source"), col("n_slices"), col("n_docs"),
          col("p50_bound"), col("p90_bound"), col("p99_bound"),
          col("p50_exact"), col("p90_exact"), col("p99_exact"),
          (col("p50_exact") >= col("p50_bound") &&
            col("p50_exact") < col("p50_bound") + 16L).as("p50_in_bin"),
          (col("p90_exact") >= col("p90_bound") &&
            col("p90_exact") < col("p90_bound") + 16L).as("p90_in_bin"),
          (col("p99_exact") >= col("p99_bound") &&
            col("p99_exact") < col("p99_bound") + 16L).as("p99_in_bin"))
    },
      // merged histogram ≡ full-corpus histogram (counters are sums), so
      // the oracle bins the raw lengths once: 1-based state position =
      // len//16 + 2 for middle bins (position 1 underflow, 42 overflow),
      // bound = (pos − 2)·16, rank = ceil(p·n) — identical literal
      // float multiply on both engines; exact side = min len with
      // cumulative count ≥ rank
      Oracle(
        """WITH d AS (SELECT source, doc_id, length(text) AS len FROM documents),
        |t AS (SELECT source, count(*) AS n_docs,
        |             count(DISTINCT doc_id % 3) AS n_slices FROM d GROUP BY 1),
        |b AS (SELECT source,
        |             CASE WHEN len < 0 THEN 1
        |                  WHEN len // 16 >= 40 THEN 42
        |                  ELSE (len // 16) + 2 END AS bin
        |      FROM d),
        |h AS (SELECT source, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |cm AS (SELECT source, bin,
        |              sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum
        |       FROM h),
        |pr AS (SELECT source, n_docs, unnest([0.5, 0.9, 0.99]) AS pp FROM t),
        |rk AS (SELECT source, pp, ceil(pp * n_docs) AS rnk FROM pr),
        |sel AS (SELECT rk.source, rk.pp, min(cm.bin) AS bin
        |        FROM rk JOIN cm ON cm.source = rk.source AND cm.cum >= rk.rnk
        |        GROUP BY 1, 2),
        |bd AS (SELECT source, pp,
        |              CASE WHEN bin = 1 THEN -16
        |                   WHEN bin = 42 THEN 640
        |                   ELSE (bin - 2) * 16 END AS bound
        |       FROM sel),
        |lc AS (SELECT source, len, count(*) AS c FROM d GROUP BY 1, 2),
        |lcm AS (SELECT source, len,
        |               sum(c) OVER (PARTITION BY source ORDER BY len) AS cum
        |        FROM lc),
        |ex AS (SELECT rk.source, rk.pp, min(lcm.len) AS v
        |       FROM rk JOIN lcm ON lcm.source = rk.source AND lcm.cum >= rk.rnk
        |       GROUP BY 1, 2),
        |f AS (SELECT source,
        |             max(CASE WHEN pp = 0.5 THEN bound END) AS p50_bound,
        |             max(CASE WHEN pp = 0.9 THEN bound END) AS p90_bound,
        |             max(CASE WHEN pp = 0.99 THEN bound END) AS p99_bound
        |      FROM bd GROUP BY 1),
        |g AS (SELECT source,
        |             max(CASE WHEN pp = 0.5 THEN v END) AS p50_exact,
        |             max(CASE WHEN pp = 0.9 THEN v END) AS p90_exact,
        |             max(CASE WHEN pp = 0.99 THEN v END) AS p99_exact
        |      FROM ex GROUP BY 1)
        |SELECT t.source, t.n_slices::BIGINT AS n_slices,
        |       t.n_docs::BIGINT AS n_docs,
        |       f.p50_bound::BIGINT AS p50_bound,
        |       f.p90_bound::BIGINT AS p90_bound,
        |       f.p99_bound::BIGINT AS p99_bound,
        |       g.p50_exact::BIGINT AS p50_exact,
        |       g.p90_exact::BIGINT AS p90_exact,
        |       g.p99_exact::BIGINT AS p99_exact,
        |       g.p50_exact >= f.p50_bound AND g.p50_exact < f.p50_bound + 16 AS p50_in_bin,
        |       g.p90_exact >= f.p90_bound AND g.p90_exact < f.p90_bound + 16 AS p90_in_bin,
        |       g.p99_exact >= f.p99_bound AND g.p99_exact < f.p99_bound + 16 AS p99_in_bin
        |FROM t JOIN f ON t.source = f.source
        |       JOIN g ON t.source = g.source""".stripMargin)),

    // small-range-corrected HLL reading (q158's documented bias gap
    // closed as an OPT-IN): per event_type over a deliberately small
    // value universe (user_id mod 37 → 37 distinct) so the linear-
    // counting branch genuinely fires — raw ≈ 1.3·n biased high at
    // n ≪ m, corrected ≈ n. ln() is not engine-reproducible, so this
    // entry is rows-only BY DESIGN (the q03 convention); q172 is its
    // hash-exact band sibling
    Query("q171_hll_corrected", (s, dir) => {
      val slices = SketchStore.hllSlices(
        Tables.events(s, dir)
          .withColumn("day", to_date(col("ts")))
          .withColumn("u", (col("user_id") % 37).cast("string")),
        Seq("event_type"), "day", col("u"))
      SketchStore.hllMergeSlices(slices, Seq("event_type"))
        .select(col("event_type"), col("n_slices"),
          round(SketchStore.hllEstimate(col("regs")), 4).as("est_raw"),
          round(SketchStore.hllEstimateCorrected(col("regs")), 4)
            .as("est_corrected"))
    },
      BandTwin("q172_hll_corrected_band")),

    // q171's band audit (the q110 pattern): the zero-register count
    // and exact distinct replay as integers; the branch decision is
    // engine-exact (raw = one division of identical integer operands),
    // and the band edge (20%) sits orders of magnitude beyond any ulp
    // divergence in ln() — so the boolean hashes
    Query("q172_hll_corrected_band", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("u", (col("user_id") % 37).cast("string"))
      val est = SketchStore.hllMergeSlices(
        SketchStore.hllSlices(ev.withColumn("day", to_date(col("ts"))),
          Seq("event_type"), "day", col("u")),
        Seq("event_type"))
        .select(col("event_type"),
          size(filter(col("regs"), r => r === 0L)).cast("long").as("v_zero"),
          SketchStore.hllEstimateCorrected(col("regs")).as("est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("u")).as("uv"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("uv"), col("v_zero"),
          (abs(col("est") - col("uv").cast("double")) <=
            lit(0.2) * col("uv").cast("double")).as("within_band"))
    },
      // q158's register replay over the mod-37 universe; corrected =
      // linear counting when raw <= 160 and zero registers exist (the
      // branch inputs are integer-exact; DuckDB's own ln() evaluates the
      // band boolean, edge at 20%)
      Oracle(
        """WITH e AS (SELECT DISTINCT event_type, user_id % 37 AS u FROM events),
        |h AS (SELECT event_type,
        |        ('0x'||substr(md5('hll:'||u::VARCHAR),1,15))::BIGINT AS hv
        |      FROM e),
        |bw AS (SELECT event_type, hv % 64 AS j, hv // 64 AS w FROM h),
        |rk AS (SELECT event_type, j,
        |         CASE WHEN w = 0 THEN 55
        |              ELSE 55 - list_max(list_transform(generate_series(0, 53),
        |                     i -> CASE WHEN (w >> i) & 1 = 1 THEN i + 1 ELSE 0 END))
        |         END AS rank
        |       FROM bw),
        |reg AS (SELECT event_type, j, max(rank) AS r FROM rk GROUP BY 1, 2),
        |s AS (SELECT event_type,
        |        (sum(1::BIGINT << (55 - r)::INT)
        |         + (64 - count(*)) * 36028797018963968)::BIGINT AS sint,
        |        (64 - count(*))::BIGINT AS v_zero
        |      FROM reg GROUP BY 1),
        |x AS (SELECT event_type, count(DISTINCT u)::BIGINT AS uv FROM e GROUP BY 1)
        |SELECT x.event_type, x.uv, s.v_zero,
        |       abs(CASE WHEN (0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
        |                      / sint::DOUBLE) <= 160.0 AND v_zero > 0
        |                THEN 64.0 * ln(64.0 / v_zero::DOUBLE)
        |                ELSE 0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
        |                     / sint::DOUBLE END
        |           - uv::DOUBLE) <= 0.2 * uv::DOUBLE AS within_band
        |FROM x JOIN s USING (event_type)""".stripMargin)),

    // CMS join-size estimation (the AMS inner product): |src1 words ⋈
    // src2 words| answered from two warehouse sketch rows — min over
    // depth rows of the bucket-wise counter product; collisions only
    // add, so never_under must hold and the ratio quantifies the
    // overshoot. Exact side computed relationally on both engines
    Query("q183_cms_join_size", (s, dir) => {
      val words = Tables.documents(s, dir)
        .filter(col("source").isin("src1", "src2"))
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val sk = words.groupBy(col("source"))
        .agg(graft.functions.TypedAggs.countMin(col("term"))("counts")
          .as("counts"))
      val a = sk.filter(col("source") === "src1")
        .select(col("counts").as("ca"))
      val b = sk.filter(col("source") === "src2")
        .select(col("counts").as("cb"))
      val exact = words.filter(col("source") === "src1")
        .groupBy(col("term")).agg(count(lit(1)).as("na"))
        .join(words.filter(col("source") === "src2")
          .groupBy(col("term")).agg(count(lit(1)).as("nb")), "term")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_join"))
      a.crossJoin(b).crossJoin(exact) // three 1-row frames
        .select(col("exact_join"),
          SketchStore.cmsInnerProduct(col("ca"), col("cb")).as("est_join"))
        .withColumn("ratio", round(col("est_join").cast("double") /
          col("exact_join").cast("double"), 6))
        .withColumn("never_under", col("est_join") >= col("exact_join"))
    },
      // both CMS matrices rebuilt relationally (the q153 bucket salts),
      // inner product per depth row over shared buckets, min across
      // rows; exact side = Σ cntA·cntB over shared terms
      Oracle(
        """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |           FROM documents WHERE source IN ('src1', 'src2')),
        |w2 AS (SELECT source, term FROM w WHERE length(term) > 0),
        |c AS (SELECT source, term, count(*)::BIGINT AS cnt
        |      FROM w2 GROUP BY 1, 2),
        |h AS (SELECT source, cnt,
        |        ('0x'||substr(md5('cms0:'||term),1,15))::BIGINT % 2048 AS b0,
        |        ('0x'||substr(md5('cms1:'||term),1,15))::BIGINT % 2048 AS b1,
        |        ('0x'||substr(md5('cms2:'||term),1,15))::BIGINT % 2048 AS b2
        |      FROM c),
        |m AS (
        |  SELECT source, 0 AS d, b0 AS wb, sum(cnt)::BIGINT AS cc
        |  FROM h GROUP BY 1, 3
        |  UNION ALL
        |  SELECT source, 1 AS d, b1 AS wb, sum(cnt)::BIGINT AS cc
        |  FROM h GROUP BY 1, 3
        |  UNION ALL
        |  SELECT source, 2 AS d, b2 AS wb, sum(cnt)::BIGINT AS cc
        |  FROM h GROUP BY 1, 3),
        |ip AS (
        |  SELECT a.d, sum(a.cc * b.cc)::BIGINT AS prod
        |  FROM m a JOIN m b ON a.d = b.d AND a.wb = b.wb
        |  WHERE a.source = 'src1' AND b.source = 'src2'
        |  GROUP BY 1),
        |ds AS (SELECT unnest(generate_series(0, 2)) AS d),
        |ip2 AS (SELECT ds.d, coalesce(ip.prod, 0) AS prod
        |        FROM ds LEFT JOIN ip ON ds.d = ip.d),
        |est AS (SELECT min(prod)::BIGINT AS est_join FROM ip2),
        |ex AS (
        |  SELECT coalesce(sum(ca.cnt * cb.cnt), 0)::BIGINT AS exact_join
        |  FROM c ca JOIN c cb ON ca.term = cb.term
        |  WHERE ca.source = 'src1' AND cb.source = 'src2')
        |SELECT ex.exact_join, est.est_join,
        |       round(est.est_join::DOUBLE / ex.exact_join::DOUBLE, 6) AS ratio,
        |       est.est_join >= ex.exact_join AS never_under
        |FROM ex CROSS JOIN est""".stripMargin)),

    // Bloom MEMBERSHIP warehouse — the fifth sketch type (q152 KMV,
    // q153 CMS, q158 HLL, q168 HIST): per-(type, day) bit vectors over
    // user ids, bitwise-OR merged to one store state per type. The
    // md5-60 hash family is cross-engine, so every merged WORD replays
    // hash-exactly (emitted as rows — the full state is the result,
    // not just a derived estimate)
    Query("q188_bloom_warehouse", (s, dir) => {
      val slices = SketchStore.bloomSlices(
        Tables.events(s, dir)
          .withColumn("day", to_date(col("ts")))
          .withColumn("u", col("user_id").cast("string")),
        Seq("event_type"), "day", col("u"), mBits = 65536)
      SketchStore.bloomMergeSlices(slices, Seq("event_type"),
          mBits = 65536)
        .select(col("event_type"), col("n_slices"),
          posexplode(col("bits")).as(Seq("word_idx", "word")))
        .select(col("event_type"), col("n_slices"),
          col("word_idx").cast("long").as("word_idx"), col("word"))
    },
      // the Bloom state replayed relationally: each member's 3 md5-60
      // positions OR into per-word bitmaps (bit 63 needs the explicit
      // Long.MinValue form — DuckDB checks 1<<63 as overflow); the grid
      // left join materializes zero words so the full 1024-word vector
      // is the result
      Oracle(
        """WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
        |p AS (SELECT event_type,
        |        ('0x'||substr(md5('bloom'||i::VARCHAR||':'||user_id::VARCHAR),1,15))::BIGINT
        |          % 65536 AS pos
        |      FROM e, unnest([0, 1, 2]) AS t(i)),
        |w AS (SELECT event_type, pos // 64 AS wi,
        |        bit_or(CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1)
        |                    ELSE 1::BIGINT << (pos % 64)::INT END) AS word
        |      FROM p GROUP BY 1, 2),
        |grid AS (SELECT event_type, unnest(generate_series(0, 1023)) AS wi
        |         FROM (SELECT DISTINCT event_type FROM events)),
        |d AS (SELECT event_type,
        |        count(DISTINCT date_trunc('day', ts))::BIGINT AS n_slices
        |      FROM events GROUP BY 1)
        |SELECT g.event_type, d.n_slices, g.wi::BIGINT AS word_idx,
        |       coalesce(w.word, 0)::BIGINT AS word
        |FROM grid g JOIN d USING (event_type)
        |LEFT JOIN w ON w.event_type = g.event_type AND w.wi = g.wi""".stripMargin)),

    // the q188 store PROBED — membership is deterministic (same md5-60
    // positions both engines), so unlike the estimate sketches this
    // audit is fully hash-exact: every member must hit (no false
    // negatives — the Bloom contract), and 500 known non-member probes
    // measure the false-positive rate against a 5% band (m=65536,
    // k=3 at these cardinalities sits orders of magnitude below it)
    Query("q191_bloom_membership", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("u", col("user_id").cast("string"))
      val store = SketchStore.bloomMergeSlices(
        SketchStore.bloomSlices(ev, Seq("event_type"), "day", col("u"),
          mBits = 65536),
        Seq("event_type"), mBits = 65536)
        .select(col("event_type"), col("bits"))
      val mem = ev.select(col("event_type"), col("u")).distinct()
        .join(broadcast(store), "event_type")
        .select(col("event_type"),
          SketchStore.bloomContains(col("bits"), col("u"), 65536).as("hit"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_members"),
          (count(lit(1)) === sum(when(col("hit"), 1L).otherwise(0L)))
            .as("fn_free"))
      // "probe_<i>" strings can never collide with numeric user ids —
      // guaranteed non-members at every scale factor
      val probes = ev.select(col("event_type")).distinct()
        .crossJoin(s.range(500)
          .select(concat(lit("probe_"), col("id")).as("u")))
      val fp = probes.join(broadcast(store), "event_type")
        .select(col("event_type"),
          SketchStore.bloomContains(col("bits"), col("u"), 65536).as("hit"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("fp_count"))
        .select(col("event_type"), col("fp_count"),
          round(col("fp_count").cast("double") / lit(500.0), 6).as("fpr"),
          (col("fp_count") <= lit(25L)).as("fpr_ok"))
      mem.join(fp, "event_type")
    },
      // membership replayed as position semi-joins: a probe hits iff
      // every one of its 3 positions appears among the member-set
      // positions (exactly the bits the q188 vector has set)
      Oracle(
        """WITH e AS (SELECT DISTINCT event_type, user_id::VARCHAR AS u
        |           FROM events),
        |setbits AS (SELECT DISTINCT event_type,
        |              ('0x'||substr(md5('bloom'||i::VARCHAR||':'||u),1,15))::BIGINT
        |                % 65536 AS pos
        |            FROM e, unnest([0, 1, 2]) AS t(i)),
        |mp AS (SELECT event_type, u,
        |         ('0x'||substr(md5('bloom'||i::VARCHAR||':'||u),1,15))::BIGINT
        |           % 65536 AS pos
        |       FROM e, unnest([0, 1, 2]) AS t(i)),
        |mhit AS (SELECT mp.event_type, mp.u,
        |                bool_and(sb.pos IS NOT NULL) AS hit
        |         FROM mp LEFT JOIN setbits sb
        |           ON sb.event_type = mp.event_type AND sb.pos = mp.pos
        |         GROUP BY 1, 2),
        |mem AS (SELECT event_type, count(*)::BIGINT AS n_members,
        |               count(*) = sum(CASE WHEN hit THEN 1 ELSE 0 END)
        |                 AS fn_free
        |        FROM mhit GROUP BY 1),
        |pr AS (SELECT event_type, 'probe_'||i::VARCHAR AS u
        |       FROM (SELECT DISTINCT event_type FROM events),
        |            unnest(generate_series(0, 499)) AS t(i)),
        |pp AS (SELECT event_type, u,
        |         ('0x'||substr(md5('bloom'||i::VARCHAR||':'||u),1,15))::BIGINT
        |           % 65536 AS pos
        |       FROM pr, unnest([0, 1, 2]) AS t(i)),
        |phit AS (SELECT pp.event_type, pp.u,
        |                bool_and(sb.pos IS NOT NULL) AS hit
        |         FROM pp LEFT JOIN setbits sb
        |           ON sb.event_type = pp.event_type AND sb.pos = pp.pos
        |         GROUP BY 1, 2),
        |fp AS (SELECT event_type,
        |              sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS fp_count
        |       FROM phit GROUP BY 1)
        |SELECT mem.event_type, mem.n_members, mem.fn_free, fp.fp_count,
        |       round(fp.fp_count::DOUBLE / 500.0, 6) AS fpr,
        |       fp.fp_count <= 25 AS fpr_ok
        |FROM mem JOIN fp USING (event_type)""".stripMargin)),

    // funnel latency percentiles FROM THE QUANTILE WAREHOUSE (q69's
    // funnel × q168's histogram store): per user, seconds from first
    // signup to first subsequent purchase, histogrammed into day bins
    // per signup-day slice, merged, and read as p50/p90/p99 bin
    // bounds — the time-to-convert dashboard answered from sketch
    // rows alone; integer rank arithmetic replays hash-exactly
    Query("q194_funnel_latency_hist", (s, dir) => {
      val ev = Tables.events(s, dir)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val lat = su.join(pu, "user_id")
        .filter(col("p_ts") >= col("signup_ts"))
        .groupBy(col("user_id"), col("signup_ts"))
        .agg(min(col("p_ts")).as("first_purchase_ts"))
        .select(col("user_id"),
          (unix_timestamp(col("first_purchase_ts")) -
            unix_timestamp(col("signup_ts"))).as("latency_sec"),
          to_date(col("signup_ts")).as("day"))
      val merged = SketchStore.histMergeSlices(
        SketchStore.histSlices(lat, Nil, "day", col("latency_sec"),
          lo = 0L, width = 86400L, nBins = 30),
        Nil, lo = 0L, width = 86400L, nBins = 30)
      merged.select(col("n_slices"),
        aggregate(col("cs"), lit(0L), (a, x) => a + x).as("n_users"),
        SketchStore.histPercentileBound(col("cs"), 0.5, 0L, 86400L)
          .as("p50_bound"),
        SketchStore.histPercentileBound(col("cs"), 0.9, 0L, 86400L)
          .as("p90_bound"),
        SketchStore.histPercentileBound(col("cs"), 0.99, 0L, 86400L)
          .as("p99_bound"))
    },
      // the histogram read replayed as an order statistic: each latency
      // maps to its BIN LOWER BOUND (overflow → lo + 30·86400), and the
      // p-th bound is the rank-⌈p·n⌉ smallest — exactly
      // histPercentileBound's integer rank arithmetic
      Oracle(
        """WITH su AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT su.user_id, su.signup_ts, min(e.ts) AS first_purchase_ts
        |       FROM su JOIN events e ON e.user_id = su.user_id
        |        AND e.event_type = 'purchase' AND e.ts >= su.signup_ts
        |       GROUP BY 1, 2),
        |lat AS (SELECT user_id, date_trunc('day', signup_ts) AS day,
        |          CAST(floor(epoch(first_purchase_ts)) AS BIGINT)
        |            - CAST(floor(epoch(signup_ts)) AS BIGINT) AS l
        |        FROM fp),
        |b AS (SELECT CASE WHEN l // 86400 >= 30 THEN 2592000::BIGINT
        |                  ELSE (l // 86400) * 86400 END AS bound
        |      FROM lat),
        |r AS (SELECT bound, row_number() OVER (ORDER BY bound) AS rn,
        |             count(*) OVER () AS n
        |      FROM b)
        |SELECT (SELECT count(DISTINCT day) FROM lat)::BIGINT AS n_slices,
        |       (SELECT count(*) FROM lat)::BIGINT AS n_users,
        |       max(CASE WHEN rn = ceil(0.5 * n) THEN bound END)::BIGINT
        |         AS p50_bound,
        |       max(CASE WHEN rn = ceil(0.9 * n) THEN bound END)::BIGINT
        |         AS p90_bound,
        |       max(CASE WHEN rn = ceil(0.99 * n) THEN bound END)::BIGINT
        |         AS p99_bound
        |FROM r""".stripMargin)),

    // KMV SET ANALYTICS from the warehouse (q183's sibling planning
    // question: "how much do these corpora OVERLAP?"): per source
    // pair, Jaccard and intersection-size estimates read from the two
    // stored bottom-64 sketches alone — the union's bottom-k members
    // present in both sketches estimate ρ = J — audited against the
    // exact term overlap computed relationally. Sketch frames are
    // dimension-sized (one row per source), so the pair join is a
    // broadcast of kilobytes at any corpus scale
    Query("q199_kmv_set_stats", (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val sk = words.groupBy(col("source"))
        .agg(graft.functions.TypedAggs.kmvHashes(col("term"), 64).as("hs"))
      val pairs = sk.select(col("source").as("src_a"), col("hs").as("ha"))
        .join(sk.select(col("source").as("src_b"), col("hs").as("hb")),
          col("src_a") < col("src_b"))
      val ex = words.select(col("source"), col("term")).distinct()
      val exact = ex.select(col("source").as("src_a"), col("term"))
        .join(ex.select(col("source").as("src_b"), col("term")), "term")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(countDistinct(col("term")).as("exact_intersection"))
      pairs
        .withColumn("st", SketchStore.kmvSetStats(col("ha"), col("hb")))
        .join(exact, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("st.n_common"),
          col("st.est_union"), col("st.est_jaccard"),
          col("st.est_intersection"),
          coalesce(col("exact_intersection"), lit(0L))
            .as("exact_intersection"))
    },
      // the q152 bottom-k CTE per source, paired: union bottom-64 from
      // the concatenated lists, ρ = members present in both, estimates
      // from the same one-division arithmetic as kmvEstimate
      Oracle(
        """WITH w AS (SELECT DISTINCT source, term FROM (
        |             SELECT source, unnest(string_split(text, ' ')) AS term
        |             FROM documents)
        |           WHERE length(term) > 0),
        |h AS (SELECT source,
        |        ('0x'||substr(md5('kmv:'||term),1,15))::BIGINT AS hv
        |      FROM w),
        |hd AS (SELECT DISTINCT source, hv FROM h),
        |r AS (SELECT source, hv,
        |        row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |      FROM hd),
        |sk AS (SELECT source, list(hv ORDER BY hv) AS hs
        |       FROM r WHERE rn <= 64 GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |             a.hs AS ha, b.hs AS hb
        |      FROM sk a JOIN sk b ON a.source < b.source),
        |u AS (SELECT src_a, src_b, ha, hb,
        |        list_slice(list_sort(list_distinct(list_concat(ha, hb))),
        |                   1, 64) AS uk
        |      FROM p),
        |st AS (SELECT src_a, src_b,
        |         len(list_filter(uk, x -> list_contains(ha, x)
        |                                  AND list_contains(hb, x)))::BIGINT
        |           AS n_common,
        |         len(uk) AS denom,
        |         CASE WHEN len(uk) < 64 THEN len(uk)::DOUBLE
        |              ELSE 63.0 * 1152921504606846976 / uk[64] END AS est_u
        |       FROM u),
        |ex AS (SELECT a.source AS src_a, b.source AS src_b,
        |              count(*)::BIGINT AS exact_intersection
        |       FROM w a JOIN w b ON a.term = b.term AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT st.src_a, st.src_b, st.n_common,
        |       round(est_u, 4) AS est_union,
        |       round(n_common::DOUBLE / denom, 6) AS est_jaccard,
        |       round(n_common::DOUBLE / denom * est_u, 4) AS est_intersection,
        |       coalesce(ex.exact_intersection, 0)::BIGINT AS exact_intersection
        |FROM st LEFT JOIN ex USING (src_a, src_b)""".stripMargin)),
  )
}
