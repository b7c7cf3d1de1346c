package graft.jobs

import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{KeyedEvent, StatefulOps}

/** Streaming throughput bench against BASELINE.md's anchor: the
  * reference's data feeder paces 1,000 events/s into Kafka
  * (KafkaSenderFromLog.java:28) at parallelism 1 — i.e. ~1k events/s
  * per core is the bar. [[measure]] streams the events table through
  * the heaviest keyed-stateful operator (consecutiveFails: per-key
  * flatMapGroupsWithState with event-time expiry) under BOTH state
  * store backends (default in-memory and RocksDB — what a real cluster
  * runs when state exceeds executor heap) and through a windowed
  * aggregation, and reports sustained events/s. It is called by this
  * main AND by [[graft.Bench]], so the per-round bench line always
  * carries streaming numbers.
  *
  * File-source micro-batches: each replica chunk is written as exactly
  * one file (coalesce(1)) and maxFilesPerTrigger=2, so batches arrive
  * in chunk order and rows never trail the watermark — wall time covers
  * source -> parse -> shuffle -> state store -> sink. The reported rate
  * divides PROCESSED rows (input minus watermark-dropped, which the
  * JSON also reports and which must be 0) by wall time, so silently
  * dropped rows can never inflate it.
  */
object StreamBench {
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** One full streaming measurement. Every per-run dropped count MUST
    * be 0 for the rates to be honest — callers decide how loudly to
    * fail. Each rate subtracts ITS OWN run's drops (one run's
    * watermark accident must not corrupt the other two reported
    * rates).
    */
  case class Result(events: Long, statefulSec: Double, rocksSec: Double,
                    windowSec: Double, droppedStateful: Long,
                    droppedRocks: Long, droppedWindow: Long) {
    def dropped: Long = droppedStateful + droppedRocks + droppedWindow
    def statefulRate: Long = ((events - droppedStateful) / statefulSec).toLong
    def rocksRate: Long = ((events - droppedRocks) / rocksSec).toLong
    def windowRate: Long = ((events - droppedWindow) / windowSec).toLong
  }

  /** Session confs [[measure]] mutates; saved and restored around the
    * run so a caller's configured state-store provider (or nanos
    * setting) survives the measurement — measure() is library API on a
    * shared session, not the owner of it.
    */
  private val MutatedConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.streaming.numRecentProgressUpdates",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.shuffle.partitions")

  def measure(spark: SparkSession, dir: String, replicas: Int): Result = {
    val saved = MutatedConfs.map(k => k -> spark.conf.getOption(k))
    try measureInner(spark, dir, replicas)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def measureInner(spark: SparkSession, dir: String,
                           replicas: Int): Result = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // droppedByWatermark sums over recentProgress, which retains only
    // this many batches — keep it above any replica count so early
    // drops can never age out of the audit
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    // state partition sizing: a streaming query's state shuffle count
    // is fixed at its first micro-batch, and every micro-batch pays a
    // per-partition commit (store snapshot + progress) regardless of
    // rows — at local[32] with a 1M-event run, 32 partitions spend
    // more wall on store commits than on rows (measured 10.5 s vs
    // 5 s). Size state partitions to the STATE, not the core count
    // (the real-deployment rule: enough partitions that one fits an
    // executor's memory at target state size); override with
    // SPARK_GRAFT_STREAM_STATE_PARTITIONS for a cluster-sized run.
    spark.conf.set("spark.sql.shuffle.partitions",
      graft.Mains.envInt("SPARK_GRAFT_STREAM_STATE_PARTITIONS", 8).toLong)

    // replicate the file REPLICAS times with each copy's timestamps
    // shifted past the previous copy's end, so per-query startup
    // amortizes while every row stays AHEAD of the watermark — naive
    // same-timestamp replicas would be dropped as late before reaching
    // the stateful operator and inflate the rate with unprocessed rows
    val raw = spark.read.schema(eventsSchema).parquet(s"$dir/events.parquet")
    val Array(minTs, maxTs) = raw.selectExpr("min(ts)", "max(ts)").head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val spanNanos = maxTs - minTs + 3600L * 1000 * 1000 * 1000
    val n = raw.count() * replicas

    val streamDir = java.nio.file.Files.createTempDirectory("graft-sbench-")
    (0 until replicas).foreach { i =>
      // one file per chunk: multi-file chunks could split across
      // triggers, letting an earlier file advance the watermark past a
      // later file's rows — dropped-but-counted rows would inflate the
      // rate (ADVICE r2)
      raw.withColumn("ts", col("ts") + lit(i * spanNanos))
        .coalesce(1)
        .write.parquet(streamDir.resolve(s"chunk-$i").toString)
    }
    val src = spark.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")        // several ordered micro-batches
      .parquet(streamDir.toString + "/chunk-*")
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))

    def failsOver(in: org.apache.spark.sql.DataFrame) =
      StatefulOps.consecutiveFails(
        in.select($"user_id".as("key"), $"ts", $"event_type".as("eventType"),
            $"event_id".as("id"))
          .withWatermark("ts", "0 seconds").as[KeyedEvent],
        "error", 2 * 3600 * 1000L)
    val fails = failsOver(src)

    // warmup (the graft.Bench rule applied to streaming): one untimed
    // pass over the first chunk PER PROVIDER exercises codegen
    // compilation, state-store classloading (incl. RocksDB's native
    // library), and parquet footer reading, so every TIMED run
    // measures the engine — without it the first attempt of each
    // provider pays JVM warmup the other doesn't, skewing the
    // default-vs-RocksDB comparison (visible at STREAM_REPS=1, where
    // no best-of minimum hides it)
    val warmConf = "spark.sql.streaming.stateStore.providerClass"
    for (provider <- Seq(None, Some("org.apache.spark.sql.execution."
        + "streaming.state.RocksDBStateStoreProvider"))) {
      provider match {
        case Some(p) => spark.conf.set(warmConf, p)
        case None    => spark.conf.unset(warmConf)
      }
      val warmQ = failsOver(
          spark.readStream.schema(eventsSchema)
            .option("maxFilesPerTrigger", "2")
            .parquet(streamDir.resolve("chunk-0").toString)
            .withColumn("ts", expr("timestamp_micros(ts div 1000)")))
        .writeStream.outputMode("append").format("noop").start()
      warmQ.processAllAvailable()
      warmQ.stop()
    }
    spark.conf.unset(warmConf)

    def droppedByWatermark(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

    // best-of-N (the graft.Bench batch rule): single-shot streaming
    // walls on a shared box see multi-second GC/scheduler spikes; the
    // minimum is the steady-state rate the baseline comparison wants.
    // Each attempt's own watermark-drop count rides with its wall so
    // the chosen attempt's rate subtracts its own drops.
    val streamReps = math.max(1, graft.Mains.envInt("SPARK_GRAFT_STREAM_REPS", 2))
    def bestOf(run: () => (Double, Long)): (Double, Long) =
      (1 to streamReps).map(_ => run()).minBy(_._1)

    // run the keyed-stateful pipeline under both state-store backends
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    def runStateful(provider: Option[String]): (Double, Long) = {
      provider match {
        case Some(p) => spark.conf.set(providerConf, p)
        case None    => spark.conf.unset(providerConf)
      }
      val t = System.nanoTime()
      val q = fails.writeStream.outputMode("append").format("noop").start()
      q.processAllAvailable()
      val d = droppedByWatermark(q)
      q.stop()
      ((System.nanoTime() - t) / 1e9, d)
    }
    val (statefulSec, dropped1) = bestOf(() => runStateful(None))
    val (rocksSec, droppedR) = bestOf(() => runStateful(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")))
    spark.conf.unset(providerConf)

    // same warmup discipline for the windowed operator (its codegen
    // and state format differ from the keyed-stateful pipeline's)
    val warmW = graft.ops.WindowedAgg.slidingCount(
        spark.readStream.schema(eventsSchema)
          .option("maxFilesPerTrigger", "2")
          .parquet(streamDir.resolve("chunk-0").toString)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          .withWatermark("ts", "5 seconds"),
        "ts", "1 hour", "5 minutes", Seq("event_type"))
      .writeStream.outputMode("append").format("noop").start()
    warmW.processAllAvailable()
    warmW.stop()

    def runWindowed(): (Double, Long) = {
      val t1 = System.nanoTime()
      val q2 = graft.ops.WindowedAgg.slidingCount(
          src.withWatermark("ts", "5 seconds"), "ts", "1 hour", "5 minutes",
          Seq("event_type"))
        .writeStream.outputMode("append").format("noop").start()
      q2.processAllAvailable()
      val d = droppedByWatermark(q2)
      q2.stop()
      ((System.nanoTime() - t1) / 1e9, d)
    }
    val (windowSec, dropped2) = bestOf(() => runWindowed())

    org.apache.commons.io.FileUtils.deleteQuietly(streamDir.toFile)
    Result(n, statefulSec, rocksSec, windowSec, dropped1, droppedR, dropped2)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = graft.Mains.envInt("SPARK_GRAFT_CPUS", 8)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val replicas = graft.Mains.envInt("SPARK_GRAFT_STREAM_REPLICAS", 10)
    val r = measure(spark, dir, replicas)
    val perCore = r.statefulRate / cpus
    println(s"""{"metric":"stream_events_per_sec","value":${r.statefulRate},""" +
      s""""per_core":$perCore,"rocksdb_events_per_sec":${r.rocksRate},""" +
      s""""per_core_rocksdb":${r.rocksRate / cpus},""" +
      s""""windowed_events_per_sec":${r.windowRate},""" +
      s""""events":${r.events},"dropped_late":${r.dropped},""" +
      s""""stateful_sec":${r.statefulSec},"stateful_rocksdb_sec":${r.rocksSec},""" +
      s""""window_sec":${r.windowSec},"cores":$cpus}""")
    spark.stop()
    // the reported rate divides PROCESSED rows by wall time; any
    // watermark-dropped row means the chunk-ordering invariant broke
    // and the denominator is dishonest — fail loudly, don't just report
    if (r.dropped > 0) {
      System.err.println(s"FATAL: ${r.dropped} rows dropped by watermark — " +
        "rate invalid (chunk files split across triggers?)")
      sys.exit(1)
    }
  }
}
