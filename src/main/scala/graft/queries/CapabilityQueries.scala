package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** The paper's behaviour-stream capabilities over the `events` table:
  * windowed PV/UV counts and top-N ([[WindowedAgg]], [[TopN]]), the
  * click blacklist ([[FraudBlacklist]]), login-fail and order-timeout
  * detection ([[SequenceDetect]], [[Timeout]], the CEP mini-DSL),
  * two-stream reconciliation ([[StreamMatch]]), sessions and running
  * totals.
  *
  * The `events` table plays the role of the reference's behavior
  * streams: event_type ∈ {view, click, purchase, signup, error} maps
  * to pv-views / ad-clicks / pays / order-creates / login-fails, and
  * the `props` JSON field `k` is the item/ad id.
  */
object CapabilityQueries {
  /** events with the JSON item id projected out (P1/P5 analogs:
    * the reference's CSV parse-and-cast map, HotItems.scala:57-67).
    */
  private[queries] def eventsWithItem(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("item_id", get_json_object(col("props"), "$.k").cast("long"))

  val all: Seq[Query] = Seq(
    // A3/F2 — hourly PV count (PageView.scala:59-60)
    Query("q01_pv_hourly", (s, dir) =>
      WindowedAgg.tumblingCount(
        Tables.events(s, dir).filter(col("event_type") === "view"),
        "ts", "1 hour"),
      Oracle(
        """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS window_start,
        |       CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 + 3600 AS window_end,
        |       count(*) AS cnt
        |FROM events WHERE event_type = 'view' GROUP BY 1, 2""".stripMargin)),

    // A4 — hourly exact UV (UniqueVisitor.scala:62-83)
    Query("q02_uv_hourly", (s, dir) =>
      WindowedAgg.tumblingDistinct(
        Tables.events(s, dir).filter(col("event_type") === "view"),
        "ts", "1 hour", "user_id"),
      Oracle(
        """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS window_start,
        |       CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 + 3600 AS window_end,
        |       count(DISTINCT user_id) AS uv
        |FROM events WHERE event_type = 'view' GROUP BY 1, 2""".stripMargin)),

    // A5 — hourly approx UV via HLL++ (UvWithBloomFilter.scala:103-165);
    // approximate → no DuckDB oracle (rows-only check)
    Query("q03_uv_approx_hourly", (s, dir) =>
      WindowedAgg.tumblingApproxDistinct(
        Tables.events(s, dir).filter(col("event_type") === "view"),
        "ts", "1 hour", "user_id"),
      BandTwin("q110_hll_band")),

    // A1+T1 — top-5 hot items per sliding 1h/5m window
    // (HotItems.scala:79-84,132-175)
    Query("q04_hot_items_top5", (s, dir) => {
      val counts = WindowedAgg.slidingCount(
        eventsWithItem(s, dir).filter(col("event_type") === "view"),
        "ts", "1 hour", "5 minutes", Seq("item_id"))
      TopN.perGroup(counts, Seq("window_start"), "cnt", Seq("item_id"), 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      Oracle(
        """WITH v AS (
        |  SELECT json_extract_string(props, '$.k')::BIGINT AS item_id,
        |         CAST(floor(epoch(ts)/300) AS BIGINT)*300 AS slot
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT slot - 300*g AS window_start, item_id, count(*) AS cnt
        |  FROM v CROSS JOIN generate_series(0, 11) t(g)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT window_start, window_start + 3600 AS window_end, item_id, cnt,
        |         row_number() OVER (PARTITION BY window_start
        |                            ORDER BY cnt DESC, item_id ASC) AS rank
        |  FROM c)
        |SELECT window_start, window_end, item_id, cnt, rank
        |FROM r WHERE rank <= 5""".stripMargin)),

    // A6/F3 — keyless sliding marketing total (AppMarketing.scala:38-40);
    // the reference's dummy-key global agg replaced by keyless aggregation
    Query("q05_marketing_total", (s, dir) =>
      WindowedAgg.slidingCount(
        Tables.events(s, dir).filter(col("event_type") =!= "error"),
        "ts", "1 hour", "10 minutes"),
      Oracle(
        """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)/600) AS BIGINT)*600 - 600*g AS window_start
        |  FROM events CROSS JOIN generate_series(0, 5) t(g)
        |  WHERE event_type <> 'error')
        |SELECT window_start, window_start + 3600 AS window_end, count(*) AS cnt
        |FROM e GROUP BY 1, 2""".stripMargin)),

    // A7/P3 — sliding count by channel (AppMarketingByChannel.scala:37-39)
    Query("q06_marketing_by_channel", (s, dir) =>
      WindowedAgg.slidingCount(
        Tables.events(s, dir).filter(col("event_type") =!= "error"),
        "ts", "1 hour", "10 minutes", Seq("event_type")),
      Oracle(
        """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)/600) AS BIGINT)*600 - 600*g AS window_start
        |  FROM events CROSS JOIN generate_series(0, 5) t(g)
        |  WHERE event_type <> 'error')
        |SELECT window_start, window_start + 3600 AS window_end, event_type,
        |       count(*) AS cnt
        |FROM e GROUP BY 1, 2, 3""".stripMargin)),

    // A8 — sliding ad count per geo (AdStatisticsByGeo.scala:57-60);
    // province analog = item_id % 10
    Query("q07_ad_count_by_geo", (s, dir) =>
      WindowedAgg.slidingCount(
        eventsWithItem(s, dir).filter(col("event_type") === "click")
          .withColumn("province_id", col("item_id") % 10),
        "ts", "1 hour", "10 minutes", Seq("province_id")),
      Oracle(
        """WITH e AS (
        |  SELECT json_extract_string(props, '$.k')::BIGINT % 10 AS province_id,
        |         CAST(floor(epoch(ts)/600) AS BIGINT)*600 - 600*g AS window_start
        |  FROM events CROSS JOIN generate_series(0, 5) t(g)
        |  WHERE event_type = 'click')
        |SELECT window_start, window_start + 3600 AS window_end, province_id,
        |       count(*) AS cnt
        |FROM e GROUP BY 1, 2, 3""".stripMargin)),

    // C1 — click-fraud blacklist: same user clicking same ad >= 2 times in
    // a day (AdStatisticsByGeo.scala:68-113)
    Query("q08_click_blacklist", (s, dir) =>
      FraudBlacklist.flagDaily(
        eventsWithItem(s, dir).filter(col("event_type") === "click")
          .withColumnRenamed("item_id", "ad_id"),
        "ts", 2, Seq("user_id", "ad_id")),
      Oracle(
        """SELECT user_id, json_extract_string(props, '$.k')::BIGINT AS ad_id,
        |       CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS day_start,
        |       count(*) AS cnt
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin)),

    // C2/C3 — consecutive login-fail within 2h (LoginFail.scala:61-119,
    // intended <=gap semantics per SURVEY Appendix A.1)
    Query("q09_login_fail", (s, dir) =>
      SequenceDetect.consecutiveFails(
        Tables.events(s, dir), "user_id", "ts", "event_type", "event_id",
        "error", "2 HOURS"),
      Oracle(
        """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id, event_id AS warn_id,
        |       CAST(floor(epoch(prev_ts)) AS BIGINT) AS first_fail,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS last_fail
        |FROM o
        |WHERE event_type = 'error' AND prev_type = 'error'
        |  AND ts <= prev_ts + INTERVAL 2 HOUR""".stripMargin)),

    // C4/C5 — order-pay timeout: signup=create, purchase=pay, 24h deadline
    // (OrderTimeout.scala:50-93)
    Query("q10_order_timeout", (s, dir) => {
      val ev = Tables.events(s, dir)
      val creates = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("id"), col("user_id").as("key"),
          col("ts").as("create_ts"))
      val pays = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts").as("pay_ts"))
      Timeout.detect(creates, pays, "24 HOURS")
        .withColumnRenamed("key", "user_id")
        .withColumnRenamed("id", "order_id")
    },
      Oracle(
        """SELECT s.event_id AS order_id, s.user_id,
        |       CAST(floor(epoch(s.ts)) AS BIGINT) AS create_ts,
        |       CASE WHEN count(p.user_id) > 0 THEN 'payed successfully'
        |            ELSE 'timeout' END AS status
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = s.user_id AND p.ts > s.ts
        | AND p.ts <= s.ts + INTERVAL 24 HOUR
        |GROUP BY 1, 2, 3""".stripMargin)),

    // C6 — two-stream reconciliation via full-outer join
    // (TxMatchDetect.scala:88-138): purchases vs clicks per (user, day)
    Query("q11_tx_match", (s, dir) => {
      val ev = Tables.events(s, dir)
      def side(t: String, cnt: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"),
          (floor(unix_timestamp(col("ts")) / 86400) * 86400).cast("long")
            .as("bucket_start"))
        .agg(count(lit(1)).as(cnt))
      StreamMatch.reconcile(side("purchase", "pay_cnt"), side("click", "receipt_cnt"),
        Seq("user_id", "bucket_start"), "pay_cnt", "receipt_cnt")
    },
      Oracle(
        """WITH p AS (
        |  SELECT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS bucket_start,
        |         count(*) AS pay_cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS bucket_start,
        |         count(*) AS receipt_cnt
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT COALESCE(p.user_id, r.user_id) AS user_id,
        |       COALESCE(p.bucket_start, r.bucket_start) AS bucket_start,
        |       COALESCE(p.pay_cnt, 0) AS pay_cnt,
        |       COALESCE(r.receipt_cnt, 0) AS receipt_cnt,
        |       CASE WHEN p.user_id IS NOT NULL AND r.user_id IS NOT NULL THEN 'matched'
        |            WHEN p.user_id IS NOT NULL THEN 'unmatched_left'
        |            ELSE 'unmatched_right' END AS tag
        |FROM p FULL OUTER JOIN r
        |  ON p.user_id = r.user_id AND p.bucket_start = r.bucket_start""".stripMargin)),

    // C7 — interval join (TxMatchByJoin.scala:68-71): each purchase joined
    // to the same user's clicks in the preceding 6h
    Query("q12_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val pays = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pay_id"), col("user_id"),
          col("ts").as("pay_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      StreamMatch.intervalJoin(pays, clicks, "user_id", "pay_ts", "click_ts",
          "6 HOURS", "0 SECONDS")
        .select(col("pay_id"), col("click_id"), col("l_key").as("user_id"))
    },
      Oracle(
        """SELECT p.event_id AS pay_id, c.event_id AS click_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts""".stripMargin)),

    // C3 via the CEP mini-DSL: same semantics as q09 (strict-contiguity
    // two-step pattern compiled to the NFA) — shares q09's oracle
    Query("q16_cep_login_fail", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select(
          col("user_id").cast("string").as("key"), col("ts"),
          col("event_type").as("eventType"), col("event_id").as("id"))
        .as[graft.cep.CepEvent]
      val p = graft.cep.Pattern.begin("first", _.eventType == "error")
        .next("second", _.eventType == "error")
        .within("2 hours")
      graft.cep.CEP.detectBatch(ev, p)
        .map(m => (m.key.toLong, m.events.last.id,
          m.events.head.tsMs / 1000, m.events.last.tsMs / 1000))
        .toDF("user_id", "warn_id", "first_fail", "last_fail")
    },
      Oracle(
        """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id, event_id AS warn_id,
        |       CAST(floor(epoch(prev_ts)) AS BIGINT) AS first_fail,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS last_fail
        |FROM o
        |WHERE event_type = 'error' AND prev_type = 'error'
        |  AND ts <= prev_ts + INTERVAL 2 HOUR""".stripMargin)),

    // C4 via the CEP mini-DSL with timeout side output: same per-create
    // classification as q10 — shares q10's oracle
    Query("q17_cep_order_timeout", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id").cast("string").as("key"), col("ts"),
          when(col("event_type") === "signup", "create").otherwise("pay").as("eventType"),
          col("event_id").as("id"))
        .as[graft.cep.CepEvent]
      val p = graft.cep.Pattern.begin("create", _.eventType == "create")
        .followedBy("pay", _.eventType == "pay")
        .within("24 hours")
      graft.cep.CEP.detectBatch(ev, p, emitTimeouts = true)
        .map(m => (m.events.head.id, m.key.toLong, m.events.head.tsMs / 1000,
          if (m.timedOut) "timeout" else "payed successfully"))
        .toDF("order_id", "user_id", "create_ts", "status")
    },
      Oracle(
        """SELECT s.event_id AS order_id, s.user_id,
        |       CAST(floor(epoch(s.ts)) AS BIGINT) AS create_ts,
        |       CASE WHEN count(p.user_id) > 0 THEN 'payed successfully'
        |            ELSE 'timeout' END AS status
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = s.user_id AND p.ts > s.ts
        | AND p.ts <= s.ts + INTERVAL 24 HOUR
        |GROUP BY 1, 2, 3""".stripMargin)),

    // Session windows (absent in the reference; SURVEY.md §2.10 notes
    // session_window makes them free): 30-min-gap sessions per user
    Query("q18_sessionization", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("session_window.start")).as("session_start"),
          col("user_id"), col("cnt")),
      Oracle(
        """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |       user_id, count(*) AS cnt
        |FROM s GROUP BY user_id, sid""".stripMargin)),

    // Window-function surface: per-user running total (event-time order,
    // decimal-exact running sum)
    Query("q19_running_total", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir).select(col("user_id"), col("event_id"),
        round(sum(col("value").cast("decimal(18,2)")).over(w), 2)
          .cast("double").as("running_total"))
    },
      Oracle(
        """SELECT user_id, event_id,
        |       round(sum(CAST(value AS DECIMAL(18,2)))
        |               OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING), 2)::DOUBLE AS running_total
        |FROM events""".stripMargin)),
  )
}
