package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Stores, Tables}
import graft.SparkEntry.queries
import graft.ops._

/** Table profiles, datasheets and drift ([[Profile]], [[Drift]]):
  * the exact and approximate column profiles, rollup datasheets,
  * dataset cards, skew audits and store-maintenance plans.
  */
object ProfileQueries {
  val all: Seq[Query] = Seq(
    // drift histogram between two slices (even vs odd doc ids) over
    // n_chars: cut points = exact decile maxima of the reference
    // (PrefixSum ntile, no single-task Window sort), BOTH slices
    // bucketed by the same cuts; counts + 6-digit proportions only —
    // ln() is not engine-reproducible, so the PSI fold stays with the
    // consumer (Drift.scala's scaladoc)
    Query("q141_drift_histogram", (s, dir) => {
      val d = Tables.documents(s, dir)
      Drift.histogramShift(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), "doc_id", "n_chars")
    },
      // reference deciles via standard ntile (the exactNtileGlobal
      // contract IS SQL ntile), cuts as one sorted list, both slices
      // bucketed by count-of-cuts-below, empty buckets kept via the
      // generate_series dimension
      Oracle(
        """WITH a AS (SELECT doc_id, n_chars AS m FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, n_chars AS m FROM documents WHERE doc_id % 2 = 1),
        |nt AS (SELECT m, ntile(10) OVER (ORDER BY m, doc_id) AS bucket FROM a),
        |cuts AS (SELECT list_sort(list(cut)) AS cuts FROM (
        |           SELECT bucket, max(m) AS cut FROM nt GROUP BY 1
        |           HAVING bucket < 10)),
        |ba AS (SELECT (1 + len(list_filter(cuts.cuts, c -> a.m > c)))::BIGINT AS bucket,
        |              count(*)::BIGINT AS cnt_ref
        |       FROM a CROSS JOIN cuts GROUP BY 1),
        |bb AS (SELECT (1 + len(list_filter(cuts.cuts, c -> b.m > c)))::BIGINT AS bucket,
        |              count(*)::BIGINT AS cnt_cmp
        |       FROM b CROSS JOIN cuts GROUP BY 1),
        |dim AS (SELECT unnest(generate_series(1, 10))::BIGINT AS bucket),
        |j AS (SELECT dim.bucket, coalesce(ba.cnt_ref, 0)::BIGINT AS cnt_ref,
        |             coalesce(bb.cnt_cmp, 0)::BIGINT AS cnt_cmp
        |      FROM dim LEFT JOIN ba USING (bucket) LEFT JOIN bb USING (bucket)),
        |t AS (SELECT sum(cnt_ref)::BIGINT AS tr, sum(cnt_cmp)::BIGINT AS tc FROM j)
        |SELECT bucket, cnt_ref, cnt_cmp,
        |       round(cnt_ref::DOUBLE / tr, 6) AS p_ref,
        |       round(cnt_cmp::DOUBLE / tc, 6) AS p_cmp
        |FROM j CROSS JOIN t""".stripMargin)),

    // dataset CARD (the datasheet rollup a corpus release ships): per
    // source — doc count, token mass, mean doc length, language
    // spread, and the dominant language by a deterministic struct
    // argmax (count, then lexicographic) — two hash aggregates and a
    // dimension join, no Window; the one-page answer to "what is in
    // this corpus"
    Query("q185_dataset_card", (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
      val base = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 2)
          .as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      val topLang = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(max(struct(col("c"), col("lang"))).as("m"))
        .select(col("source"), col("m.lang").as("top_lang"),
          col("m.c").as("top_lang_docs"))
      base.join(topLang, "source")
    },
      // integer aggregates with one rounded division; dominant language
      // = (count desc, lang desc) — the struct-max order
      Oracle(
        """WITH d AS (SELECT source, lang, length(text) AS n_chars,
        |                  len(string_split(text, ' ')) AS n_words
        |           FROM documents),
        |b AS (SELECT source, count(*)::BIGINT AS n_docs,
        |             sum(n_words)::BIGINT AS total_words,
        |             round(sum(n_chars)::DOUBLE / count(*), 2) AS avg_chars,
        |             count(DISTINCT lang)::BIGINT AS n_langs
        |      FROM d GROUP BY 1),
        |lc AS (SELECT source, lang, count(*)::BIGINT AS c
        |       FROM d GROUP BY 1, 2),
        |tl AS (SELECT source, lang AS top_lang, c AS top_lang_docs FROM (
        |         SELECT source, lang, c,
        |                row_number() OVER (PARTITION BY source
        |                                   ORDER BY c DESC, lang DESC) AS rn
        |         FROM lc) WHERE rn = 1)
        |SELECT b.source, b.n_docs, b.total_words, b.avg_chars, b.n_langs,
        |       tl.top_lang, tl.top_lang_docs
        |FROM b JOIN tl ON b.source = tl.source""".stripMargin)),

    // dataset card × assembly completeness (the
    // datasheet column): per source, the REAL per-modality
    // decode/demux success rates — image (q150's codec flag), audio
    // (q165's), video (q186's demux + completeness witness) — and the
    // all-modalities complete rate a multimodal release publishes.
    // Reusing the oracled entries (the q156/q176 rule) keeps the card
    // and the decode passes from drifting; still hash aggregates + a
    // dimension join, no Window
    Query("q189_card_completeness", (s, dir) => {
      // served STORE-FIRST: the three decode passes ran once at
      // the per-modality store builds (which invoke the DECLARED
      // q150/q165/q186 queries — one code path); this scorecard joins
      // three narrow flag tables instead of re-decoding every payload
      val src = Stores.docMeta(s, dir).select(col("doc_id"), col("source"))
      val img = Stores.imageDecode(s, dir)
        .select(col("doc_id"), col("decoded").as("img_ok"))
      val aud = Stores.audioDecode(s, dir)
        .select(col("doc_id"), col("decoded").as("aud_ok"))
      val vid = Stores.videoFp(s, dir)
        .select(col("doc_id"),
          (col("parsed") && col("walk_complete")).as("vid_ok"))
      def rate(flag: Column): Column =
        round(sum(when(flag, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6)
      src.join(img, "doc_id").join(aud, "doc_id").join(vid, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          rate(col("img_ok")).as("img_ok_rate"),
          rate(col("aud_ok")).as("aud_ok_rate"),
          rate(col("vid_ok")).as("video_demux_rate"),
          rate(col("img_ok") && col("aud_ok") && col("vid_ok"))
            .as("complete_rate"))
    },
      // every modality's rot convention is doc_id % 10 = 0 (image and
      // audio decode failures, video walk failures all coincide by
      // construction), so each real decode-flag rate replays as the mod
      // test — the q176 oracle rule lifted to the per-source rollup
      Oracle(
        """SELECT source, count(*)::BIGINT AS n_docs,
        |  round(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS img_ok_rate,
        |  round(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS aud_ok_rate,
        |  round(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS video_demux_rate,
        |  round(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS complete_rate
        |FROM documents GROUP BY 1""".stripMargin)),

    // exact table profile of the events feed — per-column row/null/
    // distinct counts and typed min/max in ONE aggregate pass; the
    // data-quality audit a warehouse runs before trusting a feed
    Query("q218_profile", (s, dir) =>
      graft.ops.Profile.table(Tables.events(s, dir),
        numCols = Seq("event_id", "user_id", "value"),
        strCols = Seq("event_type", "props"),
        tsCols = Seq("ts")),
      Oracle(
        """WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM events)
        |SELECT 'event_id' AS "column", n_rows,
        |       n_rows - count(event_id) AS n_null,
        |       count(DISTINCT event_id)::BIGINT AS n_distinct,
        |       round(min(event_id)::DOUBLE, 6) AS min_num,
        |       round(max(event_id)::DOUBLE, 6) AS max_num,
        |       NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
        |FROM events, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'user_id', n_rows, n_rows - count(user_id),
        |       count(DISTINCT user_id)::BIGINT,
        |       round(min(user_id)::DOUBLE, 6),
        |       round(max(user_id)::DOUBLE, 6), NULL, NULL
        |FROM events, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'value', n_rows, n_rows - count(value),
        |       count(DISTINCT value)::BIGINT,
        |       round(min(value)::DOUBLE, 6),
        |       round(max(value)::DOUBLE, 6), NULL, NULL
        |FROM events, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'event_type', n_rows, n_rows - count(event_type),
        |       count(DISTINCT event_type)::BIGINT, NULL, NULL,
        |       min(event_type), max(event_type)
        |FROM events, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'props', n_rows, n_rows - count(props),
        |       count(DISTINCT props)::BIGINT, NULL, NULL,
        |       min(props), max(props)
        |FROM events, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'ts', n_rows, n_rows - count(ts),
        |       -- distinct on EPOCH SECONDS: the Spark side profiles the
        |       -- projected unix_timestamp, so sub-second ts ties merge
        |       count(DISTINCT CAST(floor(epoch(ts)) AS BIGINT))::BIGINT,
        |       round(CAST(floor(epoch(min(ts))) AS BIGINT)::DOUBLE, 6),
        |       round(CAST(floor(epoch(max(ts))) AS BIGINT)::DOUBLE, 6),
        |       NULL, NULL
        |FROM events, n GROUP BY n_rows""".stripMargin)),

    // hierarchical rollup datasheet: (source), (source, lang) and
    // grand-total composition rows in ONE Expand+aggregate pass;
    // gid disambiguates rolled-up "(all)" from data values
    Query("q229_rollup_sheet", (s, dir) =>
      graft.ops.Profile.rollupSheet(Tables.documents(s, dir),
        Seq("source", "lang"), "n_chars"),
      // GROUP BY ROLLUP with the standard grouping bitmask
      Oracle(
        """SELECT coalesce(source, '(all)') AS source,
        |       coalesce(lang, '(all)') AS lang,
        |       GROUPING(source, lang)::BIGINT AS gid,
        |       count(*)::BIGINT AS n_rows,
        |       sum(n_chars)::BIGINT AS w_sum
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin)),

    // key-skew audit: top-20 hottest keys with exact ppm shares and
    // running concentration — the pre-shuffle operability read that
    // decides when q96's salting is warranted
    Query("q234_skew_audit", (s, dir) =>
      graft.ops.Profile.skewAudit(Tables.events(s, dir), "user_id", 20),
      Oracle(
        """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
        |         count(*)::BIGINT AS n_keys FROM c),
        |top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 20)
        |SELECT CAST(row_number() OVER o AS BIGINT) AS rank, key, cnt,
        |       t.total_rows, t.n_keys,
        |       CAST(cnt * 1000000 // t.total_rows AS BIGINT) AS share_ppm,
        |       CAST(sum(cnt) OVER (o ROWS UNBOUNDED PRECEDING) * 1000000
        |            // t.total_rows AS BIGINT) AS cum_ppm
        |FROM top, t
        |WINDOW o AS (ORDER BY cnt DESC, key ASC)""".stripMargin)),

    // small-file compaction plan over the per-source doc manifest:
    // ordered start-offset binning at 8 KiB keeps every bin a
    // contiguous doc_id range (clustering survives the rewrite)
    Query("q235_compaction_plan", (s, dir) =>
      graft.ops.Profile.compactionPlan(Tables.documents(s, dir),
        "source", "doc_id", "n_chars", targetBytes = 8192L),
      Oracle(
        """WITH f AS (
        |  SELECT CAST(source AS VARCHAR) AS grp, doc_id AS id,
        |         n_chars AS bytes
        |  FROM documents),
        |b AS (
        |  SELECT grp, id, bytes,
        |         CAST(coalesce(sum(bytes) OVER (PARTITION BY grp ORDER BY id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS before
        |  FROM f)
        |SELECT grp, CAST(before // 8192 AS BIGINT) AS bin,
        |       count(*)::BIGINT AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS bytes,
        |       min(id) AS id_lo, max(id) AS id_hi
        |FROM b GROUP BY 1, 2""".stripMargin)),

    // the 100×-scale profile: q218 with HLL++ estimates in place of
    // the exact-distinct Expand — approximate → rows-only check here,
    // the q253 band audit is the hash-exact sibling (the q03/q110
    // pairing)
    Query("q252_profile_approx", (s, dir) =>
      graft.ops.Profile.approxTable(Tables.events(s, dir),
        numCols = Seq("event_id", "user_id", "value"),
        strCols = Seq("event_type", "props"),
        tsCols = Seq("ts")),
      BandTwin("q253_profile_approx_band")),

    // q252's band audit: per profiled column, the HLL++ estimate must
    // sit within max(2, 10%) of the exact distinct count — the exact
    // side is DuckDB-reproducible and the estimate deterministic
    // (HLL register merges are order-independent), so the whole row
    // hashes
    Query("q253_profile_approx_band", (s, dir) => {
      val exact = queries("q218_profile")(s, dir)
        .select(col("column"), col("n_distinct"))
      val est = queries("q252_profile_approx")(s, dir)
        .select(col("column"), col("n_distinct").as("_est"))
      exact.join(est, "column")
        .select(col("column"), col("n_distinct"),
          (abs(col("_est").cast("double") -
            col("n_distinct").cast("double")) <=
            greatest(lit(2.0),
              lit(0.1) * col("n_distinct").cast("double")))
            .as("within_band"))
    },
      // one row per profiled column; numeric and string bounds ride
      // separate typed columns (double→string casts differ by engine)
      // q252 is approximate (rows-only); q253 is its hash-exact band
      // audit — the exact distincts replayed per column, within_band
      // asserted TRUE (the q110 pattern)
      Oracle(
        """SELECT 'event_id' AS "column",
        |       count(DISTINCT event_id)::BIGINT AS n_distinct,
        |       TRUE AS within_band FROM events
        |UNION ALL
        |SELECT 'user_id', count(DISTINCT user_id)::BIGINT, TRUE FROM events
        |UNION ALL
        |SELECT 'value', count(DISTINCT value)::BIGINT, TRUE FROM events
        |UNION ALL
        |SELECT 'event_type', count(DISTINCT event_type)::BIGINT, TRUE
        |FROM events
        |UNION ALL
        |SELECT 'props', count(DISTINCT props)::BIGINT, TRUE FROM events
        |UNION ALL
        |SELECT 'ts', count(DISTINCT CAST(floor(epoch(ts)) AS BIGINT))::BIGINT,
        |       TRUE FROM events""".stripMargin)),

    // store-slice datasheet over the index warehouse (slices split by
    // doc_id % 3 + a tombstone slice deleting doc_id % 10 = 0): per
    // slice the row/key counts, tf sum, and tombstone-row count — the
    // "how many generations, how big, is it compaction time" audit.
    // The datasheet op itself is ONE hash aggregate at store scale;
    // this ENTRY derives the slice frame from the corpus inline (the
    // q249 lifecycle-proof shape) so the oracle can replay it — a
    // deployment reads the written slice table instead
    Query("q258_store_datasheet", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val ingest = TextAnalysis.indexSlices(
        d.withColumn("slice", col("doc_id") % 3), "doc_id", "text",
        "slice")
      val tomb = TextAnalysis.indexTombstones(
        d.filter(col("doc_id") % 10 === 0).withColumn("slice", lit(9L)),
        "doc_id", "text", "slice")
      graft.ops.Profile.sliceDatasheet(ingest.unionByName(tomb),
        "slice", Seq("token", "doc_id"), "tf")
    },
      // per-slice posting aggregates replayed: slice = doc_id % 3 for
      // ingest, 9 for the negated tombstone slice of doc_id % 10 = 0
      Oracle(
        """WITH tok AS (
        |  SELECT doc_id % 3 AS slice, doc_id, t AS token,
        |         count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2, 3),
        |tmb AS (
        |  SELECT 9 AS slice, doc_id, t AS token,
        |         -(count(*)::BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents WHERE doc_id % 10 = 0)
        |  GROUP BY 1, 2, 3),
        |s AS (SELECT * FROM tok UNION ALL SELECT * FROM tmb)
        |SELECT slice::BIGINT AS slice, count(*)::BIGINT AS n_rows,
        |       count(DISTINCT (token, doc_id))::BIGINT AS n_keys,
        |       sum(tf)::BIGINT AS w_sum,
        |       count(CASE WHEN tf < 0 THEN 1 END)::BIGINT
        |         AS n_tombstone_rows
        |FROM s GROUP BY 1""".stripMargin)),

    // store MAINTENANCE decision over the ACTUAL written serving
    // tables (q258's datasheet derives its slice frame inline so the
    // oracle can replay it; this is the deployment form): per-
    // generation sliceDatasheet rows of the written index, positional,
    // and edge warehouses feed the compaction planner, emitting one
    // "compact generations [gen_lo..gen_hi]" row per planned rewrite
    // bin. The oracle recomputes generation sizes from the raw corpus
    // and replays the binning (the q245 store-vs-log posture), so a
    // green row proves the written generations hold exactly what a
    // from-scratch derivation assigns them — the read an operator
    // schedules nightly; work ∝ the 12-row manifest, never the data
    Query("q261_store_maintenance", (s, dir) => {
      def sheet(label: String, slices: DataFrame,
                keys: Seq[String], w: String) =
        graft.ops.Profile.sliceDatasheet(slices, "slice", keys, w)
          .select(lit(label).as("store"), col("slice"), col("n_rows"))
      val sheets =
        sheet("idx", Stores.index(s, dir), Seq("token", "doc_id"), "tf")
          .unionByName(sheet("pidx", Stores.positional(s, dir),
            Seq("token", "doc_id"), "tf"))
          .unionByName(sheet("edges", Stores.edges(s, dir),
            Seq("src", "dst"), "w"))
      graft.ops.Profile.compactionPlan(sheets, "store", "slice",
          "n_rows", targetBytes = 5000L)
        .select(col("grp").as("store"), col("bin"),
          col("n_files").as("n_gens"), col("bytes").as("n_rows"),
          col("id_lo").as("gen_lo"), col("id_hi").as("gen_hi"))
    },
      // the written stores' generation sizes recomputed from the raw
      // corpus (slice = id % 4, the store builds' tagging), then the
      // planner's START-OFFSET binning replayed: bin = (running rows of
      // earlier generations) div target
      Oracle(
        """WITH tok AS (
        |  SELECT doc_id % 4 AS slice, doc_id, t AS token,
        |         count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2, 3),
        |idx AS (
        |  SELECT 'idx' AS store, slice::BIGINT AS slice,
        |         count(*)::BIGINT AS n_rows
        |  FROM tok GROUP BY 2),
        |pidx AS (
        |  SELECT 'pidx' AS store, slice, n_rows FROM idx),
        |ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nx AS (
        |  SELECT user_id, item AS src,
        |         lead(item) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS dst
        |  FROM ev),
        |tr AS (
        |  SELECT user_id % 4 AS slice, src, dst
        |  FROM nx WHERE dst IS NOT NULL AND dst <> src),
        |eg AS (
        |  SELECT 'edges' AS store, slice::BIGINT AS slice,
        |         count(*)::BIGINT AS n_rows
        |  FROM (SELECT slice, src, dst FROM tr GROUP BY 1, 2, 3)
        |  GROUP BY 2),
        |sheets AS (
        |  SELECT * FROM idx UNION ALL SELECT * FROM pidx
        |  UNION ALL SELECT * FROM eg),
        |binned AS (
        |  SELECT store, slice, n_rows,
        |         COALESCE(SUM(n_rows) OVER (
        |           PARTITION BY store ORDER BY slice
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) // 5000 AS bin
        |  FROM sheets)
        |SELECT store, bin::BIGINT AS bin, count(*)::BIGINT AS n_gens,
        |       sum(n_rows)::BIGINT AS n_rows,
        |       min(slice)::BIGINT AS gen_lo, max(slice)::BIGINT AS gen_hi
        |FROM binned GROUP BY 1, 2""".stripMargin)),
  )
}
