package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.cep.{CEP, CepEvent, CepListProcessor, CepProcessor, Pattern}
import graft.ops.WindowedAgg
import graft.streaming._

/** The streaming workload: an ordered log of one-file chunks drained
  * one micro-batch per chunk through the paper's stateful pipelines,
  * in every form the library ships. One op is one drain: the form
  * started on a fresh checkpoint over the whole log, until every chunk
  * is processed.
  */
object StreamWorkload {
  val Delay = "10 minutes"
  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** A pipeline in one form. `input` is the filter in front of the
    * stateful operator (the rows whose late copies it must drop).
    * `batch` is the library's batch operator for the pipeline, with the
    * stream's output columns; None means the reference is the stream
    * form itself fed every on-time event in one micro-batch.
    */
  final case class Form(pipeline: String, form: String, rocksDb: Boolean,
                        measured: Boolean, input: DataFrame => DataFrame,
                        stream: DataFrame => DataFrame,
                        batch: Option[DataFrame => DataFrame]) {
    def name: String = s"$pipeline.$form"
  }

  def forms(spark: SparkSession): Seq[Form] = {
    import spark.implicits._
    val twoHours = 2 * 3600 * 1000L
    def keyed(df: DataFrame) = df.select($"user_id".as("key"), $"ts",
      $"event_type".as("eventType"), $"event_id".as("id")).as[KeyedEvent]
    val orderEvents = (df: DataFrame) => df.filter($"event_type".isin("signup", "purchase"))
    def orders(df: DataFrame) = orderEvents(df).select($"user_id".as("key"), $"ts",
      when($"event_type" === "signup", "create").otherwise("pay").as("eventType"),
      $"event_id".as("id")).as[KeyedEvent]
    def cep(df: DataFrame) = df.select($"user_id".cast("string").as("key"), $"ts",
      $"event_type".as("eventType"), $"event_id".as("id")).as[CepEvent]
    val clickEvents = (df: DataFrame) => df.filter($"event_type" === "click")
      .withColumn("ad_id", get_json_object($"props", "$.k").cast("long"))
    def clicks(df: DataFrame) = clickEvents(df)
      .select($"user_id".as("userId"), $"ad_id".as("adId"), $"ts").as[KeyedClick]
    val viewEvents = (df: DataFrame) => df.filter($"event_type" === "view")
      .withColumn("item_id", get_json_object($"props", "$.k").cast("long"))
    val pattern = Pattern.begin("first", _.eventType == "error")
      .next("second", _.eventType == "error").within("2 hours")
    def matches(ds: org.apache.spark.sql.Dataset[graft.cep.PatternMatch]) =
      ds.map(m => (m.key, m.events.map(_.id).mkString(","), m.timedOut)).toDF()
    def warnings(ds: org.apache.spark.sql.Dataset[FailWarning]) =
      ds.select($"key", $"warnId", $"firstFail", $"lastFail")
    def blacklisted(ds: org.apache.spark.sql.Dataset[BlacklistWarning]) =
      ds.select($"userId", $"adId", $"dayStart")
    val paid = (ds: org.apache.spark.sql.Dataset[OrderResult]) =>
      ds.toDF().filter($"status" === "payed successfully")

    val loginFail = (df: DataFrame) =>
      warnings(StatefulOps.consecutiveFails(keyed(df), "error", twoHours))
    val loginFailBatch = (df: DataFrame) => graft.ops.SequenceDetect.consecutiveFails(
      df, "user_id", "ts", "event_type", "event_id", "error", "2 HOURS")
    val orderTimeout = (df: DataFrame) =>
      paid(StatefulOps.orderTimeout(orders(df), 24 * 3600 * 1000L))
    val cepStream = (df: DataFrame) => matches(CEP.detectStream(cep(df), pattern))
    val cepBatch = (df: DataFrame) => matches(CEP.detectBatch(cep(df), pattern))
    val blacklist = (df: DataFrame) => blacklisted(StatefulOps.clickBlacklist(clicks(df), 2))
    val blacklistBatch = (df: DataFrame) => graft.ops.FraudBlacklist
      .flagDaily(clickEvents(df), "ts", 2, Seq("user_id", "ad_id")).drop("cnt")
    val hotItems = (df: DataFrame) =>
      WindowedAgg.slidingCount(viewEvents(df), "ts", "1 hour", "5 minutes", Seq("item_id"))
    val all = (df: DataFrame) => df

    // `measured` forms run in every run: each pipeline on both state
    // stores; a traced run also drains the transformWithState forms.
    Seq(
      Form("login_fail", "fmgws_hdfs", false, true, all, loginFail, Some(loginFailBatch)),
      Form("login_fail", "fmgws_rocksdb", true, true, all, loginFail, Some(loginFailBatch)),
      Form("login_fail", "tws_rocksdb", true, false, all, df =>
        warnings(ConsecutiveFailsProcessor(keyed(df), "error", twoHours)), Some(loginFailBatch)),
      Form("order_timeout", "fmgws_hdfs", false, true, orderEvents, orderTimeout, None),
      Form("order_timeout", "fmgws_rocksdb", true, true, orderEvents, orderTimeout, None),
      Form("order_timeout", "tws_rocksdb", true, false, orderEvents, df =>
        paid(OrderTimeoutProcessor(orders(df), 24 * 3600 * 1000L)), None),
      Form("cep_login_fail", "fmgws_hdfs", false, true, all, cepStream, Some(cepBatch)),
      Form("cep_login_fail", "fmgws_rocksdb", true, true, all, cepStream, Some(cepBatch)),
      Form("cep_login_fail", "tws_rocksdb", true, false, all,
        df => matches(CepProcessor(cep(df), pattern)), Some(cepBatch)),
      Form("cep_login_fail", "tws_list_rocksdb", true, false, all,
        df => matches(CepListProcessor(cep(df), pattern)), Some(cepBatch)),
      Form("click_blacklist", "fmgws_hdfs", false, true, clickEvents, blacklist, Some(blacklistBatch)),
      Form("click_blacklist", "fmgws_rocksdb", true, true, clickEvents, blacklist, Some(blacklistBatch)),
      Form("click_blacklist", "tws_rocksdb", true, false, clickEvents,
        df => blacklisted(BlacklistProcessor(clicks(df), 2)), Some(blacklistBatch)),
      Form("hot_items", "window_hdfs", false, true, viewEvents, hotItems, Some(hotItems)),
      Form("hot_items", "window_rocksdb", true, true, viewEvents, hotItems, Some(hotItems)))
  }

  /** What one drain of the log through one form produced. */
  final case class Drained(ms: Double, rows: Seq[Row], dropped: Long,
                           watermarkSec: Long, events: Long)

  final class Log(o: Opts, spark: SparkSession) {
    val chunks: Seq[Path] = {
      val s = Files.list(o.input.resolve("chunks"))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
    private val manifest = Files.readString(o.input.resolve("stream.json"))
    /** Ids at or above this value are the planted late events. */
    val firstLateId: Long =
      """"first_late_id":\s*(\d+)""".r.findFirstMatchIn(manifest).get.group(1).toLong
    val all: DataFrame = spark.read.schema(Schema).parquet(chunks.map(_.toString): _*)
    val onTime: DataFrame = all.filter(col("event_id") < firstLateId)
    val late: DataFrame = all.filter(col("event_id") >= firstLateId)
    def lateIn(chunk: Path): DataFrame =
      spark.read.schema(Schema).parquet(chunk.toString).filter(col("event_id") >= firstLateId)
    def rows(chunks: Seq[Path]): Long =
      spark.read.schema(Schema).parquet(chunks.map(_.toString): _*).count()
  }

  def rowKey(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  /** Starts `f` on a fresh checkpoint over a source directory holding
    * `chunks`, read one file per micro-batch.
    */
  private def start(spark: SparkSession, o: Opts, f: Form, qname: String,
                    chunks: Seq[Path]): StreamingQuery = {
    if (f.rocksDb) spark.conf.set(ProviderConf, RocksDb) else spark.conf.unset(ProviderConf)
    try {
      val base = o.work.resolve("stream").resolve(qname)
      val src = Files.createDirectories(base.resolve("src"))
      chunks.foreach(c => Files.createLink(src.resolve(c.getFileName), c))
      val in = spark.readStream.schema(Schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString).withWatermark("ts", Delay)
      f.stream(in).writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
    } finally spark.conf.unset(ProviderConf)
  }

  private def processed(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Blocks until `q` has read `expected` rows, at most 60 s. */
  private def await(q: StreamingQuery, expected: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    q.processAllAvailable()
    while (processed(q) < expected) {
      require(System.nanoTime() < deadline, s"${q.name}: $expected rows not processed in 60 s")
      q.processAllAvailable()
    }
  }

  /** One op: drains the whole log through `f`, from query start until
    * every chunk is processed.
    */
  def drain(spark: SparkSession, o: Opts, log: Log, f: Form, qname: String,
            expected: Long): Drained = {
    val t0 = System.nanoTime()
    val q = start(spark, o, f, qname, log.chunks)
    try {
      await(q, expected)
      val ms = (System.nanoTime() - t0) / 1e6
      val dropped = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      val wm = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
        .map(java.time.Instant.parse(_).getEpochSecond).getOrElse(Long.MinValue)
      Drained(ms, spark.table(qname).collect().toSeq, dropped, wm, processed(q))
    } finally {
      q.stop()
      spark.catalog.dropTempView(qname)
    }
  }

  /** Streaming output against the batch operator over the on-time
    * events, and watermark drops against the planted late events.
    */
  final class Checker(spark: SparkSession, o: Opts, log: Log, forms: Seq[Form]) {
    // computed in parallel: a cold pass is mostly class loading and JIT
    private val refs: Map[String, Seq[Row]] =
      forms.groupBy(_.pipeline).toSeq.par.map { case (p, fs) =>
        p -> (fs.head.batch match {
          case Some(b) => b(log.onTime).collect().toSeq
          case None =>
            val one = o.work.resolve("stream").resolve("on-time")
            log.onTime.coalesce(1).write.parquet(one.toString)
            val file = Files.list(one).iterator().asScala
              .filter(_.toString.endsWith(".parquet")).toSeq
            val ref = s"ref_$p"
            val q = start(spark, o, fs.head, ref, file)
            try { await(q, log.onTime.count()); spark.table(ref).collect().toSeq }
            finally { q.stop(); spark.catalog.dropTempView(ref) }
        })
      }.seq.toMap
    // The window aggregate drops late rows after its partial aggregation
    // has merged them, once per micro-batch and (window, item): as many as
    // the batch operator makes of each chunk's late rows. A keyed operator
    // drops each row.
    val expectedDrops: Map[String, Long] =
      forms.groupBy(_.pipeline).map { case (p, fs) =>
        p -> (if (p == "hot_items") log.chunks.map(c => fs.head.batch.get(log.lateIn(c)).count()).sum
              else fs.head.input(log.late).count())
      }

    def check(f: Form, d: Drained): Option[String] = {
      val ref = refs(f.pipeline)
      val want = ref.map(rowKey)
      val got = d.rows.map(rowKey)
      if (ref.isEmpty) Some("the batch operator gives no rows, so the compare shows nothing")
      else if (d.dropped != expectedDrops(f.pipeline))
        Some(s"dropped ${d.dropped} rows, planted ${expectedDrops(f.pipeline)} late")
      else if (f.pipeline == "hot_items") {
        // Append mode emits a window once the watermark passes its end.
        // The last progress may trail the last batch that evicted, so
        // every window its watermark closed must be out, and every window
        // out must equal the batch count.
        val closed = ref.filter(_.getAs[Long]("window_end") <= d.watermarkSec).map(rowKey)
        if (got.distinct.size == got.size && got.toSet.subsetOf(want.toSet) &&
            closed.toSet.subsetOf(got.toSet)) None
        else Some(s"${got.size} windows out, ${closed.size} closed by the watermark; " +
          s"stream-only ${got.diff(want).take(2)}, missing ${closed.diff(got).take(2)}")
      } else if (got.sorted != want.sorted)
        Some(s"${got.size} rows vs ${want.size} from the batch operator; " +
          s"stream-only ${got.diff(want).take(2)}, batch-only ${want.diff(got).take(2)}")
      else None
    }
  }

  /** One measured form per pipeline, the stores taking turns between
    * pipelines.
    */
  private def primed(all: Seq[Form]): Seq[Form] = {
    val measured = all.filter(_.measured)
    measured.map(_.pipeline).distinct.zipWithIndex.map { case (p, k) =>
      val fs = measured.filter(_.pipeline == p)
      fs(k % fs.size)
    }
  }

  def run(o: Opts, r: Report): Unit = {
    // A set-up is a fresh session plus the first chunk through every
    // pipeline at once, the two stores taking turns between pipelines:
    // the state in which the workload serves.
    var spark: SparkSession = null
    (0 until o.setups).foreach { i =>
      if (spark != null) spark.stop()
      val c0 = Clocks.now()
      spark = Driver.session(o, o.cores)
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
      val first = Seq(new Log(o, spark).chunks.head)
      val qs = primed(forms(spark))
        .map(f => start(spark, o, f, s"s${i}_${f.pipeline}_${f.form}", first))
      try qs.foreach(_.processAllAvailable())
      finally qs.foreach { q => q.stop(); spark.catalog.dropTempView(q.name) }
      r.setups += c0.op(s"set-up $i", traced = false)
      Driver.log(s"set-up $i")
    }
    val log = new Log(o, spark)
    val expected = log.rows(log.chunks)
    // the traced run adds every other form
    val fs = forms(spark).filter(f => o.trace || f.measured)
    val checker = new Checker(spark, o, log, fs)
    val failures = mutable.LinkedHashMap[String, String]()
    Driver.log("batch references")

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val rate = mutable.Map[String, (Long, Double)]().withDefaultValue((0L, 0.0))
    val tracedNames = mutable.Set[String]()
    val t0 = System.nanoTime()
    var round = 0
    // Whole rounds only. An untraced round drains the primed forms, one
    // per pipeline, the stores taking turns between pipelines, so every
    // round weighs the same mix and a run stays short enough to repeat;
    // every round drains in the same order, so each form runs as warm in
    // every run. A traced run drains every form once with the tracer
    // attached; each primed form it drains four times in a row, detached,
    // attached, attached, detached, so that a later, warmer drain favours
    // neither side of the tracing overhead.
    val paired = primed(fs).toSet
    val drained = mutable.LinkedHashSet[String]()
    while (round == 0 || Driver.sec(t0) < o.seconds) {
      (if (o.trace) fs else primed(fs)).foreach { f =>
        drained += f.name
        val modes =
          if (tracer.isEmpty) Seq(false)
          else if (paired(f)) Seq(false, true, true, false)
          else Seq(true)
        modes.zipWithIndex.foreach { case (traced, k) =>
          val qname = s"${if (traced) "t" else "u"}${round}_${k}_${f.pipeline}_${f.form}"
          if (traced) tracer.get.attach()
          val c0 = Clocks.now()
          val d = drain(spark, o, log, f, qname, expected)
          if (traced) tracer.get.detach()
          // the drain's own wall time, which leaves out collecting the rows
          r.ops += c0.op(f.name, traced).copy(ms = d.ms)
          checker.check(f, d).foreach(msg => failures.getOrElseUpdate(f.name, msg))
          if (traced) tracedNames += qname
          if (traced == tracer.isDefined) {
            val (n, ms) = rate(f.name)
            rate(f.name) = (n + d.events - d.dropped, ms + d.ms)
          }
        }
      }
      round += 1
    }
    r.timedS = Driver.sec(t0)
    Driver.log(s"timed loop, $round rounds")
    drained.foreach(n => r.checks(s"stream.$n") = failures.getOrElse(n, ""))

    tracer.foreach { t =>
      val progress = t.progress.asScala.map(_.progress)
        .filter(p => tracedNames.contains(p.name)).toSeq
      layers(progress, r)
      fs.foreach { f =>
        val (n, ms) = rate(f.name)
        r.layer(s"stream.${f.pipeline}.${f.form}.events_per_s") = if (ms == 0) 0.0 else n / (ms / 1e3)
      }
      BatchWorkload.overhead(r)
      spark.stop()
      // single-thread baseline: login-fail on the default store at local[1]
      val one = Driver.session(o, 1)
      val f = forms(one).head
      val d = drain(one, o, new Log(o, one), f, s"b_${f.pipeline}_${f.form}", expected)
      r.layer("stream.events_per_s_1core") = (d.events - d.dropped) / (d.ms / 1e3)
      one.stop()
      Driver.log("single-thread baseline")
    }
  }

  private def layers(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                     r: Report): Unit = {
    val data = progress.filter(_.numInputRows > 0)
    def d(k: String) = (p: org.apache.spark.sql.streaming.StreamingQueryProgress) =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    r.layer("stream.trigger_ms") = Tracer.mean(data)(d("triggerExecution"))
    r.layer("stream.add_batch_ms") = Tracer.mean(data)(d("addBatch"))
    r.layer("stream.query_planning_ms") = Tracer.mean(data)(d("queryPlanning"))
    r.layer("stream.wal_commit_ms") = Tracer.mean(data)(d("walCommit"))
    r.layer("state.commit_ms") = Tracer.mean(data)(_.stateOperators.map(_.commitTimeMs).sum.toDouble)
    val lastPerQuery = progress.groupBy(_.name).values.map(_.maxBy(_.batchId)).toSeq
    r.layer("state.rows") = Tracer.mean(lastPerQuery)(_.stateOperators.map(_.numRowsTotal).sum.toDouble)
    r.layer("state.memory_bytes") =
      Tracer.mean(lastPerQuery)(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    r.layer("state.dropped_late") = Tracer.mean(progress.groupBy(_.name).values.toSeq)(
      _.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble)
  }
}
