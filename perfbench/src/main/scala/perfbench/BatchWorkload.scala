package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Stores}

/** The batch workload: rounds of reference queries, each query called
  * through `SparkEntry.queries` and evaluated in full to the noop sink.
  */
object BatchWorkload {
  /** One reference query per capability of the paper (PV, UV, windowed
    * top-N, click blacklist, login-fail, order-timeout, two-stream
    * reconciliation, login-fail through CEP), then store-first reads
    * of three store families: inverted index and norms (q206), term
    * dictionary (q264), facets (q269).
    */
  val Queries: Seq[String] = Seq(
    "q01", "q02", "q04", "q08", "q09", "q10", "q11", "q16",
    "q206", "q264", "q269")

  def fullName(short: String): String = {
    val hits = SparkEntry.queries.keys.filter(_.takeWhile(_ != '_') == short)
    require(hits.size == 1, s"query $short: ${hits.size} entries in SparkEntry.queries")
    hits.head
  }

  /** Drops what a query left cached, as graft.Bench does between queries. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def tables(spark: SparkSession): Set[String] =
    spark.catalog.listTables().collect().map(_.name).toSet

  /** One pass over `names` on one thread per core, each evaluated in
    * full to the noop sink. A cold pass is mostly class loading and JIT
    * compilation, which proceed in parallel; a store-first read builds
    * the stores it needs on first touch.
    */
  private def firstPass(spark: SparkSession, names: Seq[String], dir: String,
                        cores: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val pending = names.map { n =>
        n -> pool.submit(new Runnable {
          def run(): Unit = SparkEntry.queries(n)(spark, dir).write
            .format("noop").mode("overwrite").save()
        })
      }
      pending.foreach { case (n, f) =>
        try f.get(150, java.util.concurrent.TimeUnit.SECONDS)
        catch { case NonFatal(e) => throw new RuntimeException(s"query $n failed", e) }
      }
    } finally pool.shutdownNow()
    clean(spark)
  }

  def run(o: Opts, r: Report): Unit = {
    val names = Queries.map(fullName)
    val twins = names.flatMap(SparkEntry.coveredBy.get)
    // A set-up is a fresh session plus one first pass, which builds the
    // stores the reads need: the state in which the workload serves.
    // Stores are memoized per source directory, so each set-up reads
    // its own copy of the input.
    var spark: SparkSession = null
    var dir = ""
    (0 until o.setups).foreach { i =>
      if (spark != null) spark.stop()
      dir = o.input.resolve(s"copy$i").toString
      val c0 = Clocks.now()
      spark = Driver.session(o, o.cores)
      firstPass(spark, names ++ twins, dir, o.cores)
      r.setups += c0.op(s"set-up $i", traced = false)
      Driver.log(s"set-up $i")
    }
    (names ++ twins).foreach(n => r.outputs(n) = SparkEntry.oracleSql.getOrElse(n, ""))
    names.foreach(n => SparkEntry.coveredBy.get(n).foreach(r.coveredBy(n) = _))

    // Warm-up, untimed: one pass on the session and input the timed loop
    // uses, which writes each query's output for the oracle check, so the
    // outputs checked come from the timed path and the timed queries run
    // on compiled code, as a long-lived service's would.
    (names ++ twins).foreach { n =>
      try SparkEntry.queries(n)(spark, dir).write.mode("overwrite")
        .parquet(o.work.resolve("out").resolve(n).toString)
      catch { case NonFatal(e) => throw new RuntimeException(s"query $n failed", e) }
      clean(spark)
    }
    Driver.log("checked pass")

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val opSpans = mutable.Buffer[Span]()
    val t0 = System.nanoTime()
    var round = 0
    // Whole rounds only, so every run weighs the queries alike, each round
    // in the same order, so each query runs as warm in every run. A traced
    // run attaches the tracer to every other query, alternating from round
    // to round, for at least two rounds: each query then runs traced and
    // untraced, each time right after another query as in an untraced run
    // (a query run twice in a row is 30-50 % faster the second time), and
    // the two give the tracing overhead.
    val rounds = if (tracer.isDefined) 2 else 1
    while (round < rounds || Driver.sec(t0) < o.seconds) {
      names.zipWithIndex.foreach { case (n, i) =>
        val traced = tracer.isDefined && (round + i) % 2 == 0
        val id = s"${if (traced) "t" else "u"}:$round:$n"
        if (traced) tracer.get.attach()
        spark.sparkContext.setJobGroup(id, n, interruptOnCancel = false)
        val w0 = System.currentTimeMillis()
        val c0 = Clocks.now()
        var wb = 0L
        try {
          val df = SparkEntry.queries(n)(spark, dir)
          wb = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
        } catch { case NonFatal(e) => throw new RuntimeException(s"query $n failed", e) }
        val op = c0.op(n, traced)
        val w1 = System.currentTimeMillis()
        spark.sparkContext.clearJobGroup()
        r.ops += op
        if (traced) {
          tracer.get.detach()
          opSpans += Span(id, "op", n, w0, w1)
          tracer.get.spans.add(Span(id, "entry", "build", w0, wb))
        }
        clean(spark)
      }
      round += 1
    }
    r.timedS = Driver.sec(t0)
    Driver.log(s"timed loop, $round rounds")

    tracer.foreach { t =>
      t.finish(opSpans.toSeq)
      t.write(o.work.resolve("trace.json"))
      val rows = names.map(n =>
        n -> spark.read.parquet(o.work.resolve("out").resolve(n).toString).count()).toMap
      layers(t, opSpans.toSeq, rows, r)
      val storeDir = o.input.resolve(s"copy${o.setups}").toString
      storeAttribution(spark, storeDir, storesPrewarm(o, spark, storeDir, names, r), r)
    }
  }

  /** Per-layer numbers from the traced ops, as means per op. Wall time
    * splits three ways: the build call (`entry.build_ms`, including any
    * job it runs eagerly), job time outside it (`sched.job_ms`), and
    * time no job covers (`driver.gap_ms`).
    */
  private def layers(t: Tracer, ops: Seq[Span], rows: Map[String, Long],
                     r: Report): Unit = {
    val bySpan = t.spans.toArray(Array.empty[Span]).toSeq.groupBy(_.op)
    final case class Split(build: Long, jobs: Long, gap: Long, buildJobs: Int)
    val splits = ops.map { op =>
      val own = bySpan.getOrElse(op.op, Nil)
      val build = own.find(_.layer == "entry").map(s => (s.startMs, s.endMs))
        .getOrElse((op.startMs, op.startMs))
      val jobs = own.filter(_.layer == "scheduler")
        .map(s => (math.max(s.startMs, op.startMs), math.min(s.endMs, op.endMs)))
      val cov = Tracer.covered(jobs :+ build)
      val b = build._2 - build._1
      op.op -> Split(b, cov - b, op.ms - cov,
        jobs.count(j => j._1 <= build._2))
    }.toMap
    def m(name: String)(f: String => Double): Unit =
      r.layer(name) = Tracer.mean(ops)(s => f(s.op))
    def a(id: String) = t.acc(id)
    m("entry.build_ms")(id => splits(id).build)
    m("entry.build_jobs")(id => splits(id).buildJobs)
    m("plan.analysis_ms")(id => a(id).analysisMs)
    m("plan.optimization_ms")(id => a(id).optimizationMs)
    m("plan.planning_ms")(id => a(id).planningMs)
    m("sched.jobs")(id => a(id).jobs)
    m("sched.stages")(id => a(id).stages)
    m("sched.tasks")(id => a(id).tasks)
    m("sched.delay_ms")(id => a(id).delayMs)
    m("sched.job_ms")(id => splits(id).jobs)
    m("driver.gap_ms")(id => splits(id).gap)
    m("exec.run_ms")(id => a(id).runMs)
    m("exec.cpu_ms")(id => a(id).cpuNs / 1e6)
    m("exec.gc_ms")(id => a(id).gcMs)
    m("exec.task_skew")(id => widestSkew(a(id)))
    m("scan.bytes")(id => a(id).inBytes)
    m("scan.rows")(id => a(id).inRows)
    m("shuffle.write_bytes")(id => a(id).shuffleW)
    m("shuffle.read_bytes")(id => a(id).shuffleR)
    m("spill.bytes")(id => a(id).spill)
    val resultRows = ops.map(s => rows.getOrElse(s.name, 0L)).sum
    r.layer("scan.rows_per_result_row") =
      if (resultRows == 0) 0.0 else ops.map(s => a(s.op).inRows).sum.toDouble / resultRows
    overhead(r)
  }

  /** Max over median task run time in the stage with the most tasks. */
  private def widestSkew(a: Acc): Double =
    a.taskMs.values.maxByOption(_.size).map { ts =>
      val med = Tracer.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.max / med
    }.getOrElse(0.0)

  /** Traced against untraced op time, per name, over the same run. */
  def overhead(r: Report): Unit = {
    val (tr, un) = r.ops.toSeq.partition(_.traced)
    val names = tr.map(_.name).distinct.filter(n => un.exists(_.name == n))
    def total(xs: Seq[Op]) = names.map(n => Tracer.median(
      xs.filter(_.name == n).map(_.ms))).sum
    r.layer("trace.overhead_pct") =
      if (names.isEmpty) 0.0 else (total(tr) / total(un) - 1) * 100
  }

  /** `Stores.prewarm` with one thread on a fresh copy of the input, then
    * the reads: store tables the reads create after prewarm returned are
    * ones its list misses. Prewarm labels each builder's jobs "prewarm:
    * <name> @ <dir>", so with one thread a builder's serial build time
    * runs from its first job to the next builder's first job; returns
    * those times by builder name.
    */
  private def storesPrewarm(o: Opts, spark: SparkSession, dir: String,
                            names: Seq[String], r: Report): Map[String, Double] = {
    val existing = tables(spark)
    val firstJob = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("prewarm: "))
          .foreach(d => firstJob.putIfAbsent(d.stripPrefix("prewarm: ").takeWhile(_ != ' '), e.time))
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    Stores.prewarm(spark, dir, 1)
    val end = System.currentTimeMillis()
    r.layer("stores.prewarm_s") = Driver.sec(t0)
    Thread.sleep(500) // job events reach listeners asynchronously
    spark.sparkContext.removeSparkListener(listener)
    Driver.log("prewarm")
    val before = tables(spark)
    names.foreach { n =>
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
      clean(spark)
    }
    r.layer("stores.unprewarmed") = (tables(spark) -- before).size
    r.layer("stores.mb") = (before -- existing).toSeq.map(t =>
      Driver.du(o.work.resolve("warehouse").resolve(t))).sum / 1e6
    val starts = firstJob.asScala.toSeq.sortBy(_._2)
    starts.zip(starts.drop(1).map(_._2) :+ end).map { case ((n, a), b) => n -> (b - a) / 1e3 }.toMap
  }

  /** Each public (s: SparkSession, dir: String) accessor of `Stores`,
    * found by reflection, with its serial build time: prewarm's, or the
    * accessor's own first call when prewarm's list does not build it
    * (a store built as another's dependency reads about 0). Also times
    * a warm call.
    */
  private def storeAttribution(spark: SparkSession, dir: String,
                               prewarmed: Map[String, Double], r: Report): Unit = {
    import scala.reflect.runtime.{universe => ru}
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    val module = mirror.reflect(mirror.reflectModule(
      ru.typeOf[Stores.type].termSymbol.asModule).instance)
    val accessors = ru.typeOf[Stores.type].decls.collect {
      case m: ru.MethodSymbol if m.isPublic && !m.isConstructor &&
        m.paramLists.map(_.map(p => (p.name.toString, p.typeSignature.typeSymbol.fullName))) ==
          List(List("s" -> "org.apache.spark.sql.SparkSession", "dir" -> "java.lang.String")) => m
    }.toSeq.sortBy(_.name.toString)
    val warmUs = mutable.Buffer[Double]()
    accessors.foreach { m =>
      val name = m.name.toString
      val t0 = System.nanoTime()
      module.reflectMethod(m)(spark, dir)
      r.layer(s"stores.build_s.$name") = prewarmed.getOrElse(name, Driver.sec(t0))
      val reps = 20
      val w0 = System.nanoTime()
      (1 to reps).foreach(_ => module.reflectMethod(m)(spark, dir))
      warmUs += (System.nanoTime() - w0) / 1e3 / reps
    }
    Driver.log("store attribution")
    r.layer("stores.accessors") = accessors.size
    r.layer("stores.accessor_us") = Tracer.median(warmUs.toSeq)
  }
}
