package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** Point-in-time reads over the event log ([[Scd]], the as-of join
  * operator): as-of joins, SCD2 dimension build and maintenance, the
  * point-in-time join and the CDC type-1 state.
  */
object ScdQueries {
  val all: Seq[Query] = Seq(
    // As-of join surface (absent from Spark's built-ins; implemented as
    // union + keyed sort in StreamMatch.asofJoin): each purchase paired
    // with the user's latest click at-or-before the purchase time
    Query("q41_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val pays = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pay_id"), col("user_id"),
          col("ts").as("pay_ts"))
      // dedupe right side per (key, ts) so the as-of winner is unique
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"))
      StreamMatch.asofJoin(pays, clicks, "user_id", "pay_ts", "click_ts",
          Seq("click_id"))
        .select(col("pay_id"), col("user_id"),
          unix_timestamp(col("pay_ts")).as("pay_ts"), col("click_id"),
          unix_timestamp(col("asof_click_ts")).as("click_ts"))
    },
      Oracle(
        """WITH p AS (
        |  SELECT event_id AS pay_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.pay_id, p.user_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT) AS pay_ts,
        |       c.click_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts""".stripMargin)),

    // The same as-of semantics through the custom Catalyst operator
    // (graft.plans.AsofJoin: logical node + injected strategy + merge-
    // scan exec — one co-partitioning exchange+sort per side, O(1) scan
    // state, no WindowExec). Shares q41's oracle.
    Query("q46_asof_join_native", (s, dir) => {
      val ev = Tables.events(s, dir)
      val pays = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pay_id"), col("user_id"),
          col("ts").as("pay_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.plans.AsofJoin(pays, clicks, "user_id", "pay_ts", "click_ts",
          Seq("click_id"))
        .select(col("pay_id"), col("user_id"),
          unix_timestamp(col("pay_ts")).as("pay_ts"), col("click_id"),
          unix_timestamp(col("asof_click_ts")).as("click_ts"))
    },
      Oracle(
        """WITH p AS (
        |  SELECT event_id AS pay_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.pay_id, p.user_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT) AS pay_ts,
        |       c.click_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts""".stripMargin)),

    // SCD2 dimension build from the account-state change log
    // (signup/error events): consecutive same-state rows collapse,
    // versions carry right-open validity intervals, null valid_to =
    // current (timestamps projected to epoch seconds — the q75 rule)
    Query("q219_scd2", (s, dir) =>
      graft.ops.Scd.scd2(
        Tables.events(s, dir)
          .filter(col("event_type").isin("signup", "error")),
        "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("state"),
          unix_timestamp(col("valid_from")).as("valid_from_s"),
          unix_timestamp(col("valid_to")).as("valid_to_s"),
          col("is_current"), col("version")),
      Oracle(
        """WITH ch AS (
        |  SELECT user_id, event_type AS state, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |v AS (
        |  SELECT user_id, state, ts AS valid_from, event_id
        |  FROM ch WHERE prev IS NULL OR prev <> state),
        |v2 AS (
        |  SELECT user_id, state, valid_from,
        |         lead(valid_from) OVER (PARTITION BY user_id
        |                                ORDER BY valid_from, event_id)
        |           AS valid_to,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY valid_from, event_id)
        |           AS version
        |  FROM v)
        |SELECT user_id, state,
        |       CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_s,
        |       CAST(floor(epoch(valid_to)) AS BIGINT) AS valid_to_s,
        |       valid_to IS NULL AS is_current,
        |       version::BIGINT AS version
        |FROM v2""".stripMargin)),

    // point-in-time join: each purchase picks the account-state
    // version valid AT purchase time (the feature-store leakage
    // guard); purchases before any version surface as "(none)"
    Query("q220_pit_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = graft.ops.Scd.scd2(
        ev.filter(col("event_type").isin("signup", "error")),
        "user_id", "ts", "event_id", "event_type")
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.Scd.pointInTime(facts, dim, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          coalesce(col("state"), lit("(none)")).as("state"),
          coalesce(unix_timestamp(col("valid_from")), lit(-1L))
            .as("valid_from_s"))
    },
      Oracle(
        """WITH ch AS (
        |  SELECT user_id, event_type AS state, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |v AS (
        |  SELECT user_id, state, ts AS valid_from, event_id
        |  FROM ch WHERE prev IS NULL OR prev <> state),
        |v2 AS (
        |  SELECT user_id, state, valid_from,
        |         lead(valid_from) OVER (PARTITION BY user_id
        |                                ORDER BY valid_from, event_id)
        |           AS valid_to
        |  FROM v),
        |f AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id,
        |       coalesce(v2.state, '(none)') AS state,
        |       coalesce(CAST(floor(epoch(v2.valid_from)) AS BIGINT), -1)
        |         AS valid_from_s
        |FROM f LEFT JOIN v2 ON f.user_id = v2.user_id
        |  AND v2.valid_from <= f.ts
        |  AND (v2.valid_to IS NULL OR f.ts < v2.valid_to)""".stripMargin)),

    // CDC type-1 state store: split the log at its epoch midpoint,
    // build the tombstone-retaining LWW artifact from the pre slice,
    // fold the post slice in with cdcApply, serve — the oracle is the
    // ONE-SHOT LWW over the full log, so the green row proves
    // apply(state(pre), post) ≡ state(pre ∪ post) relationally
    // (argmax associativity; errors act as deletes)
    Query("q221_cdc_state", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
      val cut = ev.agg(((min(unix_timestamp(col("ts"))) +
        max(unix_timestamp(col("ts")))) / 2).cast("long").as("cut"))
      val wc = ev.crossJoin(broadcast(cut))
      val pre = wc.filter(unix_timestamp(col("ts")) < col("cut"))
      val post = wc.filter(unix_timestamp(col("ts")) >= col("cut"))
      val state = graft.ops.Scd.cdcState(pre, "user_id", "ts",
        "event_id", "event_type", "op")
      graft.ops.Scd.cdcServe(graft.ops.Scd.cdcApply(state, post,
          "user_id", "ts", "event_id", "event_type", "op"))
        .select(col("user_id"), col("state"),
          unix_timestamp(col("ts")).as("ts_s"),
          col("tie").as("event_id"))
    },
      // one-shot last-writer-wins over the FULL log — the incremental
      // split lives only on the Spark side, so the green row proves the
      // cdcApply merge identity
      Oracle(
        """WITH l AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         CASE WHEN event_type = 'error' THEN 'delete'
        |              ELSE 'upsert' END AS op
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC)
        |            AS rn
        |  FROM l)
        |SELECT user_id, state,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id
        |FROM r WHERE rn = 1 AND op <> 'delete'""".stripMargin)),

    // incremental SCD2 maintenance: dimension built from the pre slice,
    // post slice folded in with scd2Apply (current versions re-seed the
    // collapse, closed history passes through); oracle = the q219
    // one-shot rebuild over the full log — incremental ≡ rebuild
    Query("q222_scd2_apply", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "error"))
      val cut = ev.agg(((min(unix_timestamp(col("ts"))) +
        max(unix_timestamp(col("ts")))) / 2).cast("long").as("cut"))
      val wc = ev.crossJoin(broadcast(cut))
      val pre = wc.filter(unix_timestamp(col("ts")) < col("cut"))
      val post = wc.filter(unix_timestamp(col("ts")) >= col("cut"))
      val dim = graft.ops.Scd.scd2(pre, "user_id", "ts", "event_id",
        "event_type")
      graft.ops.Scd.scd2Apply(dim, post, "user_id", "ts", "event_id",
          "event_type")
        .select(col("user_id"), col("state"),
          unix_timestamp(col("valid_from")).as("valid_from_s"),
          unix_timestamp(col("valid_to")).as("valid_to_s"),
          col("is_current"), col("version"))
    },
      // the q219 one-shot rebuild — incremental scd2Apply ≡ rebuild
      Oracle(
        """WITH ch AS (
        |  SELECT user_id, event_type AS state, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |v AS (
        |  SELECT user_id, state, ts AS valid_from, event_id
        |  FROM ch WHERE prev IS NULL OR prev <> state),
        |v2 AS (
        |  SELECT user_id, state, valid_from,
        |         lead(valid_from) OVER (PARTITION BY user_id
        |                                ORDER BY valid_from, event_id)
        |           AS valid_to,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY valid_from, event_id)
        |           AS version
        |  FROM v)
        |SELECT user_id, state,
        |       CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_s,
        |       CAST(floor(epoch(valid_to)) AS BIGINT) AS valid_to_s,
        |       valid_to IS NULL AS is_current,
        |       version::BIGINT AS version
        |FROM v2""".stripMargin)),

    // as-of value lookup on the event log: each purchase picks the
    // user's latest prior non-purchase value — latestPerKeyTs pins
    // equal-ts winners by event_id, then the EXISTING union-window
    // asofJoin (one shuffle, no range join) serves the lookup;
    // DuckDB replays with its native ASOF JOIN (first such oracle)
    Query("q231_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val quotes = graft.ops.Scd.latestPerKeyTs(
        ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts").as("qts"), col("event_id"),
            coalesce(col("value"), lit(-1.0)).as("value")),
        "user_id", "qts", "event_id", "value")
      StreamMatch.asofJoin(facts, quotes, "user_id", "ts", "qts",
          Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"),
          unix_timestamp(col("asof_qts")).as("q_ts_s"),
          col("value").as("q_value"))
    },
      // native ASOF JOIN on tie-deduped quotes
      Oracle(
        """WITH q0 AS (
        |  SELECT user_id, ts, arg_max(coalesce(value, -1), event_id) AS v
        |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2),
        |f AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id,
        |       CAST(floor(epoch(f.ts)) AS BIGINT) AS ts_s,
        |       CAST(floor(epoch(q.ts)) AS BIGINT) AS q_ts_s,
        |       q.v AS q_value
        |FROM f ASOF LEFT JOIN q0 q
        |  ON f.user_id = q.user_id AND q.ts <= f.ts""".stripMargin)),
  )
}
