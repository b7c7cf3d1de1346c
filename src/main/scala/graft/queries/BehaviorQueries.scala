package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._
import CapabilityQueries.eventsWithItem

/** User-behaviour analytics over the event log ([[Behavior]],
  * [[Funnel]]): funnels, cohorts, path analysis, attribution, sequence
  * export, spikes and anomalies, growth accounting, gap fill and
  * trending items.
  */
object BehaviorQueries {
  val all: Seq[Query] = Seq(
    // windowFunnel (earliest-chain): per user, how deep the
    // view -> click -> purchase sequence completes within 2 days
    Query("q73_window_funnel", (s, dir) =>
      Funnel.windowFunnel(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), "2 DAY"),
      Oracle(
        """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |t1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT t1.user_id, t1.t1, min(e.ts) AS t2 FROM t1 JOIN e USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > t1.t1
        |         AND e.ts <= t1.t1 + INTERVAL 2 DAY
        |       GROUP BY 1, 2),
        |t3 AS (SELECT t2.user_id, t2.t1, t2.t2, min(e.ts) AS t3 FROM t2 JOIN e USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |         AND e.ts <= t2.t1 + INTERVAL 2 DAY
        |       GROUP BY 1, 2, 3)
        |SELECT t1.user_id,
        |       (1 + CASE WHEN t2.t2 IS NULL THEN 0 ELSE 1 END
        |          + CASE WHEN t3.t3 IS NULL THEN 0 ELSE 1 END)::INT AS depth,
        |       epoch_us(t1.t1) AS t1_us, epoch_us(t2.t2) AS t2_us, epoch_us(t3.t3) AS t3_us
        |FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        |        LEFT JOIN t3 ON t1.user_id = t3.user_id""".stripMargin)),

    // weekly cohort retention triangle anchored on the signup event
    // (cohort week projected to epoch seconds for the oracle compare)
    Query("q75_cohort_retention", (s, dir) =>
      Behavior.cohortRetention(Tables.events(s, dir), "user_id", "event_type",
          "ts", "signup")
        .select(unix_timestamp(col("cohort_week")).as("cohort_week_s"),
          col("week_n"), col("active_users"), col("cohort_size"),
          col("retention_rate")),
      Oracle(
        """WITH a AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s AS (SELECT cohort_week, count(DISTINCT user_id) AS cohort_size FROM a GROUP BY 1),
        |act AS (SELECT cohort_week, week_n, count(DISTINCT user_id) AS active_users FROM (
        |          SELECT a.cohort_week, e.user_id,
        |                 ((epoch_us(e.ts)//1000000) - (epoch_us(a.cohort_week)//1000000)) // 604800 AS week_n
        |          FROM events e JOIN a USING (user_id)) t
        |        WHERE week_n >= 0 GROUP BY 1, 2)
        |SELECT epoch_us(act.cohort_week)//1000000 AS cohort_week_s, week_n::BIGINT AS week_n,
        |       active_users::BIGINT AS active_users, s.cohort_size::BIGINT AS cohort_size,
        |       round(active_users::DOUBLE / s.cohort_size, 6) AS retention_rate
        |FROM act JOIN s USING (cohort_week)""".stripMargin)),

    // first-order event-type transition matrix (path analysis); ties on
    // ts broken by event_id so the pairs are engine-deterministic
    Query("q76_transitions", (s, dir) =>
      Behavior.transitionCounts(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id"),
      Oracle(
        """SELECT from_type, to_type, count(*)::BIGINT AS cnt FROM (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events) t
        |WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin)),

    // behavior log → sequential training data: one row per (user,
    // 30-min-gap session) with the item sequence in (ts, event_id)
    // order — the assembly step for next-item-prediction corpora and
    // the bridge from the reference's behavior analytics to this
    // engine's training-data side
    Query("q148_session_sequences", (s, dir) =>
      Behavior.sessionSequences(eventsWithItem(s, dir), "user_id",
        "item_id", "ts", "event_id"),
      // gap flag via lag + running-sum session ids over the same (ts,
      // event_id) total order; gaps compare FLOORED epoch seconds on
      // both sides, so the boundary is engine-exact
      Oracle(
        """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |f AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |                   OR epoch_us(ts)//1000000
        |                      - epoch_us(lag(ts) OVER w)//1000000 > 1800
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS s_id
        |  FROM f)
        |SELECT user_id, s_id::BIGINT AS s_id,
        |       min(epoch_us(ts)//1000000)::BIGINT AS session_start_s,
        |       count(*)::BIGINT AS n_items,
        |       string_agg(item::VARCHAR, ' ' ORDER BY ts, event_id) AS item_seq
        |FROM s GROUP BY 1, 2""".stripMargin)),

    // session_window session sequences — BATCH mode of the exact code
    // path the live streaming twin runs (StreamingSessions; StreamingSpec
    // pins stream ≡ batch on it), so the streaming corpus assembler gets
    // a DuckDB gate of its own next to the lag-based q148. Same strict->
    // gap rule as q148, compared at full microsecond precision (q148
    // floors to seconds first); window end = last event + gap
    Query("q151_session_window_seq", (s, dir) =>
      graft.streaming.StreamingSessions.sessionSequences(
        eventsWithItem(s, dir), "user_id", "item_id", "ts", "event_id"),
      // session_window semantics replayed lag-relationally: new session
      // when the full-precision microsecond gap strictly exceeds 1800s
      // (an event exactly on the close MERGES — measured, spec-pinned);
      // window start = min ts, end = max ts + gap, floored to seconds
      // only at output
      Oracle(
        """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |f AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS s_id
        |  FROM f)
        |SELECT user_id,
        |       (epoch_us(min(ts))//1000000)::BIGINT AS session_start_s,
        |       (epoch_us(max(ts))//1000000 + 1800)::BIGINT AS session_end_s,
        |       count(*)::BIGINT AS n_items,
        |       string_agg(item::VARCHAR, ' ' ORDER BY ts, event_id) AS item_seq
        |FROM s GROUP BY user_id, s_id""".stripMargin)),

    // item-affinity lift (market-basket over the behavior log): pairs
    // co-touched by >= 2 distinct users, lift = N·n_ab/(n_a·n_b) over
    // the bot-capped distinct (user, item) frame — integer counts,
    // one rounded division, fully relational
    Query("q182_item_lift", (s, dir) =>
      graft.ops.Behavior.itemLift(eventsWithItem(s, dir), "user_id",
        "item_id"),
      // distinct (user, item) with the 1000-item bot cap, self-join
      // pairs, integer lift with one rounded division
      Oracle(
        """WITH ui0 AS (
        |  SELECT DISTINCT user_id AS u,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |uc AS (SELECT u, count(*) AS c FROM ui0 GROUP BY 1),
        |ui AS (SELECT ui0.u, ui0.item FROM ui0 JOIN uc ON ui0.u = uc.u
        |       WHERE uc.c <= 1000),
        |t AS (SELECT item, count(*)::BIGINT AS n FROM ui GROUP BY 1),
        |nu AS (SELECT count(DISTINCT u)::BIGINT AS n_users FROM ui),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |             count(*)::BIGINT AS n_both
        |      FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.item_a, p.item_b, p.n_both, ta.n AS n_a, tb.n AS n_b,
        |       round(p.n_both::DOUBLE * nu.n_users::DOUBLE
        |             / (ta.n::DOUBLE * tb.n::DOUBLE), 6) AS lift
        |FROM p
        |JOIN t ta ON p.item_a = ta.item
        |JOIN t tb ON p.item_b = tb.item
        |CROSS JOIN nu""".stripMargin)),

    // q182's cap made observable (the q95 rule — an invisible cap is
    // a silent result change): the users a cap of 50 would exclude,
    // with their distinct-item counts
    Query("q184_item_lift_capped", (s, dir) =>
      graft.ops.Behavior.itemLiftCappedUsers(eventsWithItem(s, dir),
        "user_id", "item_id", maxItemsPerUser = 50),
      Oracle(
        """WITH ui AS (
        |  SELECT DISTINCT user_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL)
        |SELECT user_id, count(*)::BIGINT AS n_items
        |FROM ui GROUP BY 1 HAVING count(*) > 50""".stripMargin)),

    // conversion ATTRIBUTION (the reference's channel-marketing jobs'
    // analytics sibling): purchases credit the click/view touch that
    // preceded them within 7 days — last-touch (q41's as-of semantics
    // with a horizon) and first-touch in ONE hash aggregate (max/min
    // of (ts, id, channel) structs — no Window); channel derived
    // deterministically from the event props; zero-touch conversions
    // attribute to "(none)"
    Query("q190_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val convs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts").as("conv_ts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("ts").as("touch_ts"),
          concat(lit("ch"),
            (get_json_object(col("props"), "$.k").cast("long") % 4)
              .cast("string")).as("channel"))
      graft.ops.Behavior.attribution(convs, touches, "user_id",
          "conv_id", "conv_ts", "touch_id", "touch_ts", "channel",
          windowSec = 7L * 24 * 3600)
        .select(col("user_id"), col("conv_id"),
          unix_timestamp(col("conv_ts")).as("conv_ts"), col("n_touches"),
          col("last_channel"), col("last_touch_id"),
          col("first_channel"), col("first_touch_id"))
    },
      // last/first touch replayed with two deterministic row_numbers
      // (ts then id — the argmax structs' exact tie-break); the left
      // joins re-admit zero-touch conversions as "(none)"
      Oracle(
        """WITH c AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts,
        |        'ch'||(json_extract_string(props, '$.k')::BIGINT % 4)::VARCHAR
        |          AS channel
        |      FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.conv_id, t.touch_id, t.touch_ts, t.channel
        |      FROM c JOIN t ON c.user_id = t.user_id
        |       AND t.touch_ts <= c.conv_ts
        |       AND t.touch_ts >= c.conv_ts - INTERVAL 604800 SECOND),
        |r AS (SELECT conv_id, touch_id, channel,
        |        row_number() OVER (PARTITION BY conv_id
        |                           ORDER BY touch_ts DESC, touch_id DESC) AS rl,
        |        row_number() OVER (PARTITION BY conv_id
        |                           ORDER BY touch_ts ASC, touch_id ASC) AS rf,
        |        count(*) OVER (PARTITION BY conv_id) AS nt
        |      FROM j),
        |lt AS (SELECT conv_id, channel AS last_channel,
        |              touch_id AS last_touch_id, nt FROM r WHERE rl = 1),
        |ft AS (SELECT conv_id, channel AS first_channel,
        |              touch_id AS first_touch_id FROM r WHERE rf = 1)
        |SELECT c.user_id, c.conv_id,
        |       CAST(floor(epoch(c.conv_ts)) AS BIGINT) AS conv_ts,
        |       coalesce(lt.nt, 0)::BIGINT AS n_touches,
        |       coalesce(lt.last_channel, '(none)') AS last_channel,
        |       coalesce(lt.last_touch_id, -1)::BIGINT AS last_touch_id,
        |       coalesce(ft.first_channel, '(none)') AS first_channel,
        |       coalesce(ft.first_touch_id, -1)::BIGINT AS first_touch_id
        |FROM c LEFT JOIN lt USING (conv_id) LEFT JOIN ft USING (conv_id)""".stripMargin)),

    // LINEAR attribution rollup (q190's multi-touch sibling): every
    // touch in the 7-day window earns 1/n of its conversion's credit,
    // summed per channel — credit as integer micro-shares (10^6 div n;
    // a float 1/n fold would sum order-dependently and break replay)
    Query("q193_linear_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val convs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts").as("conv_ts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("ts").as("touch_ts"),
          concat(lit("ch"),
            (get_json_object(col("props"), "$.k").cast("long") % 4)
              .cast("string")).as("channel"))
      graft.ops.Behavior.linearAttribution(convs, touches, "user_id",
        "conv_id", "conv_ts", "touch_id", "touch_ts", "channel",
        windowSec = 7L * 24 * 3600)
    },
      // q190's window join + integer micro-credit rollup: 10^6 // n per
      // touch (both engines floor), channel sums are integer — replay
      // is exact by construction
      Oracle(
        """WITH c AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts,
        |        'ch'||(json_extract_string(props, '$.k')::BIGINT % 4)::VARCHAR
        |          AS channel
        |      FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.conv_id, t.touch_id, t.channel
        |      FROM c JOIN t ON c.user_id = t.user_id
        |       AND t.touch_ts <= c.conv_ts
        |       AND t.touch_ts >= c.conv_ts - INTERVAL 604800 SECOND),
        |n AS (SELECT conv_id, count(*)::BIGINT AS nt FROM j GROUP BY 1),
        |cr AS (SELECT j.channel, j.conv_id, 1000000 // n.nt AS micro
        |       FROM j JOIN n USING (conv_id))
        |SELECT channel, count(DISTINCT conv_id)::BIGINT AS n_convs,
        |       count(*)::BIGINT AS n_touches,
        |       sum(micro)::BIGINT AS credit_micro
        |FROM cr GROUP BY 1""".stripMargin)),

    // POSITION-BASED (U-shaped, 40/20/40) attribution — with q190
    // (last/first) and q193 (linear), the canonical model family;
    // first/last identified by the same (ts, id) tie-break as q190,
    // middles share 20% by integer division
    Query("q196_position_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val convs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts").as("conv_ts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("ts").as("touch_ts"),
          concat(lit("ch"),
            (get_json_object(col("props"), "$.k").cast("long") % 4)
              .cast("string")).as("channel"))
      graft.ops.Behavior.positionAttribution(convs, touches, "user_id",
        "conv_id", "conv_ts", "touch_id", "touch_ts", "channel",
        windowSec = 7L * 24 * 3600)
    },
      // q193's join + the U-shaped credit: 40/20/40 via integer
      // micro-shares, first/last by the q190 row_number tie-break
      Oracle(
        """WITH c AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts,
        |        'ch'||(json_extract_string(props, '$.k')::BIGINT % 4)::VARCHAR
        |          AS channel
        |      FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.conv_id, t.touch_id, t.touch_ts, t.channel
        |      FROM c JOIN t ON c.user_id = t.user_id
        |       AND t.touch_ts <= c.conv_ts
        |       AND t.touch_ts >= c.conv_ts - INTERVAL 604800 SECOND),
        |n AS (SELECT conv_id, count(*)::BIGINT AS nt FROM j GROUP BY 1),
        |r AS (SELECT conv_id, touch_id, channel,
        |        row_number() OVER (PARTITION BY conv_id
        |                           ORDER BY touch_ts ASC, touch_id ASC) AS rf,
        |        row_number() OVER (PARTITION BY conv_id
        |                           ORDER BY touch_ts DESC, touch_id DESC) AS rl
        |      FROM j),
        |cr AS (SELECT r.channel, r.conv_id,
        |         CASE WHEN n.nt = 1 THEN 1000000
        |              WHEN n.nt = 2 THEN 500000
        |              WHEN r.rf = 1 OR r.rl = 1 THEN 400000
        |              ELSE 200000 // (n.nt - 2) END AS micro
        |       FROM r JOIN n USING (conv_id))
        |SELECT channel, count(DISTINCT conv_id)::BIGINT AS n_convs,
        |       count(*)::BIGINT AS n_touches,
        |       sum(micro)::BIGINT AS credit_micro
        |FROM cr GROUP BY 1""".stripMargin)),

    // TIME-DECAY attribution: weight = 10^6 >> full days before the
    // conversion — the one decay schedule that is pure integer
    // arithmetic (2^(-age/λ) needs exp(), not engine-reproducible)
    Query("q197_decay_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val convs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts").as("conv_ts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("ts").as("touch_ts"),
          concat(lit("ch"),
            (get_json_object(col("props"), "$.k").cast("long") % 4)
              .cast("string")).as("channel"))
      graft.ops.Behavior.decayAttribution(convs, touches, "user_id",
        "conv_id", "conv_ts", "touch_id", "touch_ts", "channel",
        windowSec = 7L * 24 * 3600)
    },
      // integer halving per full day of age: 10^6 >> ((conv_ts −
      // touch_ts) // 86400); absolute weight sums, no normalization
      Oracle(
        """WITH c AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts,
        |        'ch'||(json_extract_string(props, '$.k')::BIGINT % 4)::VARCHAR
        |          AS channel
        |      FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.conv_id, t.channel,
        |        (1000000::BIGINT >> ((CAST(floor(epoch(c.conv_ts)) AS BIGINT)
        |          - CAST(floor(epoch(t.touch_ts)) AS BIGINT)) // 86400)::INT)
        |          AS w
        |      FROM c JOIN t ON c.user_id = t.user_id
        |       AND t.touch_ts <= c.conv_ts
        |       AND t.touch_ts >= c.conv_ts - INTERVAL 604800 SECOND)
        |SELECT channel, count(DISTINCT conv_id)::BIGINT AS n_convs,
        |       count(*)::BIGINT AS n_touches, sum(w)::BIGINT AS weight_micro
        |FROM j GROUP BY 1""".stripMargin)),

    // RFM segmentation over the order log: the log reduces to one row
    // per customer first, then three PrefixSum ntiles on the
    // dimension-scale frame (never a single-task global Window)
    Query("q200_rfm_segments", (s, dir) =>
      Behavior.rfmSegments(Tables.orders(s, dir), "o_custkey",
        "o_orderdate", "o_totalprice", buckets = 5),
      // SQL-standard ntile ≡ exactNtile (the q40 identity); spend sums
      // as DECIMAL so the fold is order-independent (the q14 rule)
      Oracle(
        """WITH per AS (
        |  SELECT o_custkey AS cust, max(o_orderdate) AS last_ts,
        |         count(*) AS freq,
        |         sum(CAST(o_totalprice AS DECIMAL(28,10))) AS money
        |  FROM orders GROUP BY 1),
        |scored AS (
        |  SELECT cust, money,
        |         ntile(5) OVER (ORDER BY last_ts ASC, cust ASC)::BIGINT AS r_score,
        |         ntile(5) OVER (ORDER BY freq ASC, cust ASC)::BIGINT AS f_score,
        |         ntile(5) OVER (ORDER BY money ASC, cust ASC)::BIGINT AS m_score
        |  FROM per)
        |SELECT r_score, f_score, m_score,
        |       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
        |            WHEN r_score >= 4 THEN 'recent'
        |            WHEN f_score >= 4 THEN 'at_risk'
        |            ELSE 'hibernating' END AS segment,
        |       count(*) AS n_customers,
        |       round(sum(money), 2)::DOUBLE AS revenue
        |FROM scored GROUP BY 1, 2, 3, 4""".stripMargin)),

    // A/B read-out: salted-hash arm assignment (replayable, unlike
    // rand() splits), two-proportion z from +,-,×,÷,sqrt only — all
    // correctly-rounded IEEE ops, so the oracle's identical
    // expression tree reproduces the doubles bit-for-bit
    Query("q201_ab_test", (s, dir) =>
      Behavior.abTest(Tables.events(s, dir), "user_id", "event_type",
        "purchase"),
      // the z expression tree mirrors the Spark side token-for-token
      // (left-assoc products, same literal operands) — with only
      // correctly-rounded IEEE ops the doubles match bit-for-bit; the
      // significance flag reads FULL-precision z on both engines
      Oracle(
        """WITH u AS (
        |  SELECT user_id,
        |         CASE WHEN sum(CASE WHEN lower(event_type) = 'purchase'
        |                            THEN 1 ELSE 0 END) * 5 > count(*)
        |              THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |v AS (
        |  SELECT ('0x'||substr(md5('ab:'||user_id::VARCHAR),1,15))::BIGINT % 2
        |           AS variant, conv
        |  FROM u),
        |arms AS (
        |  SELECT variant, count(*) AS n, sum(conv)::BIGINT AS x
        |  FROM v GROUP BY 1),
        |p AS (
        |  SELECT a0.n AS n_control, a0.x AS conv_control,
        |         a1.n AS n_treat, a1.x AS conv_treat
        |  FROM (SELECT n, x FROM arms WHERE variant = 0) a0,
        |       (SELECT n, x FROM arms WHERE variant = 1) a1),
        |z AS (
        |  SELECT *,
        |         CASE WHEN conv_control + conv_treat = 0
        |                OR conv_control + conv_treat = n_control + n_treat
        |              THEN 0.0
        |              ELSE (conv_treat::DOUBLE / n_treat::DOUBLE
        |                      - conv_control::DOUBLE / n_control::DOUBLE)
        |                   / sqrt(((conv_control + conv_treat)::DOUBLE
        |                             / (n_control + n_treat)::DOUBLE)
        |                          * (1.0 - (conv_control + conv_treat)::DOUBLE
        |                                   / (n_control + n_treat)::DOUBLE)
        |                          * (1.0 / n_control::DOUBLE
        |                             + 1.0 / n_treat::DOUBLE)) END AS zf
        |  FROM p)
        |SELECT n_control, conv_control, n_treat, conv_treat,
        |       round(conv_control::DOUBLE / n_control::DOUBLE, 6) AS rate_control,
        |       round(conv_treat::DOUBLE / n_treat::DOUBLE, 6) AS rate_treat,
        |       round(zf, 6) AS z_score,
        |       abs(zf) > 1.96 AS significant
        |FROM z""".stripMargin)),

    // traffic-spike detection: hourly series counts vs their trailing
    // 24-bucket window, the integer cross-multiply cnt·n > 2·Σ — no
    // division anywhere, the trailing witnesses ride along
    Query("q210_traffic_spikes", (s, dir) =>
      Behavior.trafficSpikes(Tables.events(s, dir), "event_type", "ts"),
      // rows-based trailing window — identical bucket-gap semantics
      Oracle(
        """WITH c AS (
        |  SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT series, bucket, cnt,
        |       count(cnt) OVER w AS trailing_n,
        |       coalesce(sum(cnt) OVER w, 0)::BIGINT AS trailing_sum,
        |       count(cnt) OVER w > 0
        |         AND cnt * (count(cnt) OVER w)
        |             > 2 * coalesce(sum(cnt) OVER w, 0) AS is_spike
        |FROM c
        |WINDOW w AS (PARTITION BY series ORDER BY bucket
        |             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // top-20 three-step item journeys (the Sankey read): per-user
    // consecutive triples ordered by (ts, event_id), counted, ranked
    Query("q211_journey_paths", (s, dir) =>
      Behavior.journeyPaths(
        eventsWithItem(s, dir).filter(col("item_id").isNotNull),
        "user_id", "item_id", "ts", "event_id", k = 20),
      Oracle(
        """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |tri AS (
        |  SELECT item AS step1,
        |         lead(item, 1) OVER w AS step2,
        |         lead(item, 2) OVER w AS step3
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |cnt AS (
        |  SELECT step1, step2, step3, count(*)::BIGINT AS n_paths
        |  FROM tri WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |SELECT step1, step2, step3, n_paths, rk FROM (
        |  SELECT step1, step2, step3, n_paths,
        |         row_number() OVER (ORDER BY n_paths DESC, step1 ASC,
        |                            step2 ASC, step3 ASC) AS rk
        |  FROM cnt)
        |WHERE rk <= 20""".stripMargin)),

    // TWAP per event-type series: step-interpolated value × holding
    // seconds, DECIMAL-folded numerator, ONE final division — the
    // monitoring/market read over irregular observations
    Query("q214_twap", (s, dir) =>
      Behavior.twap(Tables.events(s, dir), "event_type", "ts",
        "event_id", "value"),
      // decimal-exact numerator, one final division; lead durations and
      // the right-open last-observation drop replayed verbatim
      Oracle(
        """WITH d AS (
        |  SELECT event_type AS series, value,
        |         CAST(floor(epoch(lead(ts) OVER (PARTITION BY event_type
        |                                         ORDER BY ts, event_id)))
        |              AS BIGINT)
        |         - CAST(floor(epoch(ts)) AS BIGINT) AS dur
        |  FROM events),
        |a AS (
        |  SELECT series, count(*)::BIGINT AS n_obs,
        |         sum(dur)::BIGINT AS total_sec,
        |         sum(value::DECIMAL(18,6) * dur) AS sw
        |  FROM d WHERE dur IS NOT NULL GROUP BY 1)
        |SELECT series, n_obs, total_sec,
        |       round(sw::DOUBLE / total_sec::DOUBLE, 6) AS twap
        |FROM a""".stripMargin)),

    // seasonal-baseline spikes: each hour compares to the SAME hour of
    // the prior 7 days (partition (series, hour-of-day)) — the diurnal
    // baseline; same integer cross-multiply and witnesses as q210
    Query("q216_seasonal_spikes", (s, dir) =>
      Behavior.seasonalSpikes(Tables.events(s, dir), "event_type", "ts"),
      // same-hour-of-day trailing partition; otherwise q210 verbatim
      Oracle(
        """WITH c AS (
        |  SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT series, hour(bucket)::BIGINT AS hod, bucket, cnt,
        |       count(cnt) OVER w AS trailing_n,
        |       coalesce(sum(cnt) OVER w, 0)::BIGINT AS trailing_sum,
        |       count(cnt) OVER w > 0
        |         AND cnt * (count(cnt) OVER w)
        |             > 2 * coalesce(sum(cnt) OVER w, 0) AS is_spike
        |FROM c
        |WINDOW w AS (PARTITION BY series, hour(bucket) ORDER BY bucket
        |             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // week-over-week top-20 item movers: two sort-limit leaderboards
    // anchored at the log's max ts, full-outer joined, tagged
    // entered/left/up/down/flat; rank 0 = outside that week's top-k
    Query("q217_top_movers", (s, dir) =>
      Behavior.topMovers(
        eventsWithItem(s, dir).filter(col("item_id").isNotNull),
        "item_id", "ts", k = 20),
      Oracle(
        """WITH e AS (
        |  SELECT json_extract_string(props, '$.k')::BIGINT AS item,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS s
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |a AS (
        |  -- anchor over the ITEM frame, the same frame the Spark op
        |  -- receives — an all-events anchor would shift both windows
        |  -- whenever the globally-latest event carries no item
        |  SELECT max(s) AS anchor FROM e),
        |cur AS (
        |  SELECT item, count(*)::BIGINT AS cur_cnt FROM e, a
        |  WHERE s > anchor - 604800 AND s <= anchor GROUP BY 1),
        |curt AS (
        |  SELECT * FROM (
        |    SELECT item, cur_cnt,
        |           row_number() OVER (ORDER BY cur_cnt DESC, item ASC)
        |             AS cur_rank
        |    FROM cur) WHERE cur_rank <= 20),
        |prev AS (
        |  SELECT item, count(*)::BIGINT AS prev_cnt FROM e, a
        |  WHERE s > anchor - 1209600 AND s <= anchor - 604800 GROUP BY 1),
        |prevt AS (
        |  SELECT * FROM (
        |    SELECT item, prev_cnt,
        |           row_number() OVER (ORDER BY prev_cnt DESC, item ASC)
        |             AS prev_rank
        |    FROM prev) WHERE prev_rank <= 20),
        |j AS (
        |  SELECT coalesce(curt.item, prevt.item) AS item,
        |         coalesce(cur_rank, 0) AS cur_rank,
        |         coalesce(cur_cnt, 0) AS cur_cnt,
        |         coalesce(prev_rank, 0) AS prev_rank,
        |         coalesce(prev_cnt, 0) AS prev_cnt
        |  FROM curt FULL JOIN prevt ON curt.item = prevt.item)
        |SELECT item, cur_rank, cur_cnt, prev_rank, prev_cnt,
        |       CASE WHEN prev_rank = 0 THEN 'entered'
        |            WHEN cur_rank = 0 THEN 'left'
        |            WHEN cur_rank < prev_rank THEN 'up'
        |            WHEN cur_rank > prev_rank THEN 'down'
        |            ELSE 'flat' END AS status
        |FROM j""".stripMargin)),

    // LOCF gap-fill: the dense per-series hourly grid with missing
    // hours carrying the last observed count forward, observed=false
    // as the fill witness — the read every chart/model joins against
    Query("q224_gap_fill", (s, dir) =>
      Behavior.gapFill(Tables.events(s, dir), "event_type", "ts")
        .select(col("series"), unix_timestamp(col("bucket")).as("bucket_s"),
          col("cnt"), col("observed")),
      // LOCF over the dense hourly grid (LIST-form generate_series —
      // the lateral gotcha); first bucket per series always observed
      Oracle(
        """WITH c AS (
        |  SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT series, min(bucket) AS mn, max(bucket) AS mx
        |      FROM c GROUP BY 1),
        |g AS (SELECT series,
        |             unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
        |               AS bucket
        |      FROM b),
        |f AS (SELECT g.series, g.bucket, c.cnt
        |      FROM g LEFT JOIN c
        |        ON g.series = c.series AND g.bucket = c.bucket)
        |SELECT series, CAST(floor(epoch(bucket)) AS BIGINT) AS bucket_s,
        |       last_value(cnt IGNORE NULLS) OVER (
        |         PARTITION BY series ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS cnt,
        |       cnt IS NOT NULL AS observed
        |FROM f""".stripMargin)),

    // gap-fill served FROM the hourly-count warehouse — same body as
    // q224 (one code path), merge of two slice generations feeds it:
    // the stored grid read never re-scans events
    Query("q230_gap_fill_store", (s, dir) => {
      val ev = Tables.events(s, dir)
      val sliced = Behavior.hourCountSlices(
        ev.withColumn("slice", col("event_id") % 2), "event_type", "ts",
        "slice")
      Behavior.gapFillFromCounts(Behavior.hourCountMerge(sliced))
        .select(col("series"), unix_timestamp(col("bucket")).as("bucket_s"),
          col("cnt"), col("observed"))
    },
      // the q224 oracle replayed — the store path must serve the same
      // grid the one-shot pass computes
      Oracle(
        """WITH c AS (
        |  SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT series, min(bucket) AS mn, max(bucket) AS mx
        |      FROM c GROUP BY 1),
        |g AS (SELECT series,
        |             unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
        |               AS bucket
        |      FROM b),
        |f AS (SELECT g.series, g.bucket, c.cnt
        |      FROM g LEFT JOIN c
        |        ON g.series = c.series AND g.bucket = c.bucket)
        |SELECT series, CAST(floor(epoch(bucket)) AS BIGINT) AS bucket_s,
        |       last_value(cnt IGNORE NULLS) OVER (
        |         PARTITION BY series ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS cnt,
        |       cnt IS NOT NULL AS observed
        |FROM f""".stripMargin)),

    // daily growth accounting: every day's active base decomposed into
    // new/retained/resurrected plus the churned count on the day the
    // user went silent — the growth identity dashboards reconcile
    Query("q232_growth_accounting", (s, dir) =>
      Behavior.growthAccounting(Tables.events(s, dir), "user_id", "ts")
        // DATE hashes engine-differently in the compare; timestamp is
        // the proven cross-engine dtype (the q210 bucket precedent)
        .withColumn("day", col("day").cast("timestamp")),
      Oracle(
        """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (
        |  SELECT user_id, day,
        |         lag(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev,
        |         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next
        |  FROM ud),
        |mx AS (SELECT max(day) AS max_day FROM ud),
        |act AS (
        |  SELECT day,
        |         CASE WHEN prev IS NULL THEN 'new'
        |              WHEN day - prev = 1 THEN 'retained'
        |              ELSE 'resurrected' END AS status
        |  FROM m),
        |ch AS (
        |  SELECT day + 1 AS day, 'churned' AS status
        |  FROM m, mx
        |  WHERE (next IS NULL OR next - day > 1) AND day < max_day)
        |SELECT CAST(day AS TIMESTAMP) AS day,
        |       count(*) FILTER (WHERE status = 'new') AS new_users,
        |       count(*) FILTER (WHERE status = 'retained') AS retained_users,
        |       count(*) FILTER (WHERE status = 'resurrected') AS resurrected_users,
        |       count(*) FILTER (WHERE status = 'churned') AS churned_users
        |FROM (SELECT * FROM act UNION ALL SELECT * FROM ch)
        |GROUP BY 1""".stripMargin)),

    // DAU/WAU/MAU + the DAU/MAU stickiness ratio as exact ppm; the
    // trailing distincts come from the monthDays× user-day expansion,
    // never a per-day range join over the log
    Query("q233_stickiness", (s, dir) =>
      Behavior.stickiness(Tables.events(s, dir), "user_id", "ts")
        .withColumn("day", col("day").cast("timestamp")),
      Oracle(
        """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |mx AS (SELECT max(day) AS max_day FROM ud),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
        |wexp AS (
        |  SELECT user_id, CAST(unnest(generate_series(day, day + 6,
        |         INTERVAL 1 DAY)) AS DATE) AS day FROM ud),
        |wau AS (
        |  SELECT w.day, count(DISTINCT w.user_id) AS wau
        |  FROM wexp w, mx WHERE w.day <= mx.max_day GROUP BY w.day),
        |mexp AS (
        |  SELECT user_id, CAST(unnest(generate_series(day, day + 29,
        |         INTERVAL 1 DAY)) AS DATE) AS day FROM ud),
        |mau AS (
        |  SELECT m.day, count(DISTINCT m.user_id) AS mau
        |  FROM mexp m, mx WHERE m.day <= mx.max_day GROUP BY m.day)
        |SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau, mau.mau,
        |       dau.dau * 1000000 // mau.mau AS stickiness_ppm
        |FROM dau JOIN wau ON dau.day = wau.day
        |         JOIN mau ON dau.day = mau.day""".stripMargin)),

    // exact p50/p90/p99 of the time-to-next-action after each event
    // type — consecutive same-user gaps in whole seconds through the
    // q51 guarded-exact-percentile body
    Query("q240_gap_percentiles", (s, dir) =>
      Quantiles.guardedExactPercentiles(
        Behavior.interEventGaps(Tables.events(s, dir), "user_id",
          "event_type", "ts", "event_id"),
        "event_type", "gap_s",
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")),
      Oracle(
        """WITH g AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT)
        |           - CAST(floor(epoch(ts)) AS BIGINT) AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type,
        |       round(quantile_cont(gap_s, 0.5), 2) AS p50,
        |       round(quantile_cont(gap_s, 0.9), 2) AS p90,
        |       round(quantile_cont(gap_s, 0.99), 2) AS p99,
        |       count(*) AS cnt
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY 1""".stripMargin)),
    // daily bounce rate: single-event sessions / sessions started that
    // day, the q18 gap-sessionization rule, rate as integer ppm
    Query("q241_bounce_rate", (s, dir) =>
      Behavior.bounceRate(Tables.events(s, dir), "user_id", "ts",
          "event_id")
        .withColumn("day", col("day").cast("timestamp")),
      Oracle(
        """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS s
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(s) OVER w IS NULL
        |                OR s - lag(s) OVER w > 1800 THEN 1 ELSE 0 END
        |           AS new_s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS s_id
        |  FROM m),
        |sess AS (
        |  SELECT user_id, s_id, CAST(min(ts) AS DATE) AS day,
        |         count(*)::BIGINT AS n
        |  FROM s2 GROUP BY 1, 2)
        |SELECT CAST(day AS TIMESTAMP) AS day,
        |       count(*)::BIGINT AS n_sessions,
        |       count(*) FILTER (WHERE n = 1) AS n_bounces,
        |       CAST(count(*) FILTER (WHERE n = 1) * 1000000
        |            // count(*) AS BIGINT) AS bounce_ppm
        |FROM sess GROUP BY 1""".stripMargin)),

    // trending top-20: per-event weight 2^20 >> age_days (clamped 63 —
    // the decayAttribution shift lesson), integer-exact, sort-limit
    Query("q242_trending_items", (s, dir) =>
      Behavior.trendingItems(eventsWithItem(s, dir), "item_id", "ts",
        k = 20),
      Oracle(
        """WITH e AS (
        |  SELECT json_extract_string(props, '$.k')::BIGINT AS item,
        |         CAST(ts AS DATE) AS day
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |mx AS (SELECT max(day) AS max_day FROM e)
        |SELECT item,
        |       CAST(sum(1048576 >> least(max_day - day, 63)) AS BIGINT)
        |         AS weight,
        |       count(*)::BIGINT AS n_events
        |FROM e, mx
        |GROUP BY item
        |ORDER BY weight DESC, item ASC
        |LIMIT 20""".stripMargin)),

    // median/MAD robust anomaly flags on the daily series counts —
    // level-shift-proof where q210's trailing mean is not; the flag is
    // the exact integer cross-multiply 2*dev2 > 3*mad4
    Query("q247_robust_anomalies", (s, dir) =>
      Behavior.robustAnomalies(Tables.events(s, dir), "event_type", "ts")
        .withColumn("day", col("day").cast("timestamp")),
      Oracle(
        """WITH daily AS (
        |  SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT series, CAST(quantile_cont(cnt, 0.5) * 2 AS BIGINT)
        |           AS med2
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.series, d.day, d.cnt, m.med2,
        |         abs(2 * d.cnt - m.med2) AS dev2
        |  FROM daily d JOIN med m USING (series)),
        |mad AS (
        |  SELECT series, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT)
        |           AS mad4
        |  FROM dev GROUP BY 1)
        |SELECT dev.series, CAST(dev.day AS TIMESTAMP) AS day, dev.cnt,
        |       dev.med2, dev.dev2, mad.mad4,
        |       2 * dev.dev2 > 3 * mad.mad4 AS is_anomaly
        |FROM dev JOIN mad USING (series)""".stripMargin)),

    // q242 SERVED FROM the item-hour count warehouse (slices split by
    // event_id % 3, merged, read by the decay body) — the oracle
    // recomputes from the raw log, so green = store read ≡ log read
    Query("q245_trending_store", (s, dir) => {
      val ev = eventsWithItem(s, dir).filter(col("item_id").isNotNull)
        .withColumn("slice", col("event_id") % 3)
      Behavior.trendingFromCounts(
        Behavior.hourCountMerge(
          Behavior.hourCountSlices(ev, "item_id", "ts", "slice")),
        k = 20)
    },
      // recomputed from the RAW log — green proves the warehouse-served
      // read equals the one-shot pass
      Oracle(
        """WITH e AS (
        |  SELECT json_extract_string(props, '$.k')::BIGINT AS item,
        |         CAST(ts AS DATE) AS day
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |mx AS (SELECT max(day) AS max_day FROM e)
        |SELECT item,
        |       CAST(sum(1048576 >> least(max_day - day, 63)) AS BIGINT)
        |         AS weight,
        |       count(*)::BIGINT AS n_events
        |FROM e, mx
        |GROUP BY item
        |ORDER BY weight DESC, item ASC
        |LIMIT 20""".stripMargin)),
  )
}
