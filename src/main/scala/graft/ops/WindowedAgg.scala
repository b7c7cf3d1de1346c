package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation family.
  *
  * Re-expresses the reference's windowed counters — sliding hot-item
  * counts (reference hot-item-analysis/.../HotItems.scala:79-82), hourly
  * PV (network-flow-analysis/.../PageView.scala:59-60), marketing channel
  * stats (market-analysis/.../AppMarketing.scala:38-40,
  * AppMarketingByChannel.scala:37-39) and per-province ad counts
  * (market-analysis/.../AdStatisticsByGeo.scala:57-60) — as declarative
  * `groupBy(window(...), keys).count()` plans.
  *
  * Scale notes:
  *  - Spark splits these into partial (map-side) + final HashAggregate
  *    automatically, so the per-key incremental `AggregateFunction`
  *    pre-aggregation the reference hand-writes (HotItems.scala:97-105)
  *    is free, and the whole plan stays inside WholeStageCodegen.
  *  - One shuffle on (window, keys); sized by spark.sql.shuffle.partitions
  *    and re-coalesced by AQE at scale.
  *  - Window bounds are emitted as epoch-second longs so results are
  *    timezone-independent and cheap to compare/join downstream.
  *
  * The same functions work on streaming DataFrames (add `withWatermark`
  * upstream; see graft.streaming).
  */
object WindowedAgg {

  /** Epoch-second bounds projected out of Spark's `window` struct column. */
  private def bounds: Seq[Column] = Seq(
    unix_timestamp(col("window.start")).as("window_start"),
    unix_timestamp(col("window.end")).as("window_end"))

  /** Tumbling-window row count per key (A3: PageView.scala:59-60). */
  def tumblingCount(df: DataFrame, tsCol: String, duration: String,
                    keys: Seq[String] = Nil, cntName: String = "cnt"): DataFrame =
    df.groupBy(window(col(tsCol), duration) +: keys.map(col): _*)
      .agg(count(lit(1)).as(cntName))
      .select(bounds ++ keys.map(col) :+ col(cntName): _*)

  /** Sliding-window row count per key (A1/A6/A7/A8: HotItems.scala:79-82,
    * AppMarketing.scala:38-40, AppMarketingByChannel.scala:37-39,
    * AdStatisticsByGeo.scala:57-60). Each row lands in duration/slide
    * windows; Spark's `window()` expands them inside codegen, no explode
    * materialization.
    */
  def slidingCount(df: DataFrame, tsCol: String, duration: String, slide: String,
                   keys: Seq[String] = Nil, cntName: String = "cnt"): DataFrame =
    df.groupBy(window(col(tsCol), duration, slide) +: keys.map(col): _*)
      .agg(count(lit(1)).as(cntName))
      .select(bounds ++ keys.map(col) :+ col(cntName): _*)

  /** Tumbling-window exact distinct count (A4: UniqueVisitor.scala:62-83).
    * The reference buffers the whole window into an in-heap Set on one
    * thread; here `countDistinct` is a two-phase shuffle-based exact
    * distinct that scales out with partitions.
    */
  def tumblingDistinct(df: DataFrame, tsCol: String, duration: String,
                       distinctCol: String, keys: Seq[String] = Nil,
                       cntName: String = "uv"): DataFrame =
    df.groupBy(window(col(tsCol), duration) +: keys.map(col): _*)
      .agg(countDistinct(col(distinctCol)).as(cntName))
      .select(bounds ++ keys.map(col) :+ col(cntName): _*)

  /** Tumbling-window approximate distinct via HLL++ (A5: the fixed-memory
    * replacement for UvWithBloomFilter.scala:103-165's 2^23-bit Redis
    * Bloom bitmap). rsd 0.01 ≈ the reference's sizing-for-1e8-keys intent
    * with ~constant memory per window.
    */
  def tumblingApproxDistinct(df: DataFrame, tsCol: String, duration: String,
                             distinctCol: String, keys: Seq[String] = Nil,
                             cntName: String = "uv_approx", rsd: Double = 0.01): DataFrame =
    df.groupBy(window(col(tsCol), duration) +: keys.map(col): _*)
      .agg(approx_count_distinct(col(distinctCol), rsd).as(cntName))
      .select(bounds ++ keys.map(col) :+ col(cntName): _*)

  /** Mergeable distinct-count ROLLUP via DataSketches HLL: fine windows
    * aggregate each to ONE sketch (`hll_sketch_agg`), coarse windows
    * UNION the fine sketches (`hll_union_agg`) — the raw events are
    * scanned exactly once, and any coarser rollup (day → week → month,
    * or a different grouping entirely) derives from the stored fine
    * sketches alone. This is the pattern sketches exist for at 100 TB:
    * distinct counts don't add, so exact rollups re-scan the events
    * per granularity, while the sketch store is fine-windows × ~lgK KiB
    * and re-aggregates in milliseconds. [[tumblingApproxDistinct]]'s
    * HLL++ column is estimate-only — Spark exposes no union over it;
    * the DataSketches binary IS the mergeable state (store it next to
    * the window bounds and the rollup is a query, not a job).
    *
    * HLL register maxima are commutative/idempotent, so estimates are
    * deterministic under any partitioning and merge order — but not
    * reproducible in DuckDB (different sketch impl) ⇒ rows-only in the
    * oracle gate, error-band-proven in ApproxErrorSpec (the q03/q32
    * convention). Output: (window_start, window_end, uv_approx).
    */
  def sketchRollupDistinct(df: DataFrame, tsCol: String, fine: String,
                           coarse: String, distinctCol: String,
                           lgK: Int = 12): DataFrame = {
    // each fine sketch lands in the coarse window containing its START
    // — a fine window STRADDLING a coarse boundary would dump all its
    // users into the earlier coarse window, so the coarse duration
    // must be a whole multiple of the fine one
    def micros(s: String): Long = {
      val i = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      require(i.months == 0,
        s"sketchRollupDistinct: month-based duration '$s' cannot be alignment-checked")
      i.days * 86400000000L + i.microseconds
    }
    require(micros(coarse) % micros(fine) == 0,
      s"coarse '$coarse' must be a whole multiple of fine '$fine' — " +
        "a straddling fine window would misattribute its users")
    val fineSketches = df
      .groupBy(window(col(tsCol), fine))
      .agg(hll_sketch_agg(col(distinctCol), lgK).as("sk"))
      .select(col("window.start").as("fine_start"), col("sk"))
    fineSketches
      .groupBy(window(col("fine_start"), coarse))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), false))
        .as("uv_approx"))
      .select(bounds :+ col("uv_approx"): _*)
  }
}
