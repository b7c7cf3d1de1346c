package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span at a layer boundary. Spans of one operation share `op`, the
  * job group the driver sets around the call: "t" (traced) or "u", the
  * round, and the query or form.
  */
final case class Span(op: String, layer: String, name: String,
                      startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** Per-operation counters, summed at the boundary where the work runs. */
final class Acc {
  var jobs, stages, tasks = 0
  var runMs, cpuNs, gcMs, delayMs, inBytes, inRows = 0L
  var shuffleW, shuffleR, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val taskMs = mutable.Map[Int, mutable.Buffer[Long]]()
}

/** Listeners attached only around the traced ops of a traced run, so an
  * untraced op runs with none of them. Everything is kept in memory;
  * [[write]] dumps the spans once at the end. Job, stage and task events
  * are attributed to an operation through the job group; planner phases
  * through the op's wall-clock interval.
  */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val accs = mutable.Map[String, Acc]()
  private val jobOp = mutable.Map[Int, (String, Long)]()
  private val stageOp = mutable.Map[Int, String]()
  private val phaseRecs = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val running = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val markers = new java.util.concurrent.atomic.AtomicInteger()

  def acc(op: String): Acc = synchronized(accs.getOrElseUpdate(op, new Acc))

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      Tracer.this.synchronized {
        jobOp(e.jobId) = (g, e.time)
        if (g != Tracer.Marker) e.stageIds.foreach(stageOp(_) = g)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOp.remove(e.jobId).foreach {
        case (Tracer.Marker, _) => markers.incrementAndGet()
        case (g, t0) =>
          acc(g).jobs += 1
          spans.add(Span(g, "scheduler", s"job ${e.jobId}", t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageOp.remove(e.stageInfo.stageId).foreach { g =>
          acc(g).stages += 1
          for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
            spans.add(Span(g, "executor", s"stage ${e.stageInfo.stageId}", a, b))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val g = stageOp.getOrElse(e.stageId, null)
      if (g != null && e.taskMetrics != null) {
        val a = acc(g)
        val m = e.taskMetrics
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs.getOrElseUpdate(e.stageId, mutable.Buffer()) += m.executorRunTime
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val p = qe.tracker.phases
      def d(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
      phaseRecs.add((start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      running.add(e.runId)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      running.remove(e.runId)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Removes the listeners once they have seen every event of the ops
    * run while attached. Job and SQL events share one listener queue, so
    * a marker job run now is seen after them; streaming events have
    * their own queue, and a stopped query's last one is its termination.
    * Waits at most 10 s.
    */
  def detach(): Unit = {
    val sc = spark.sparkContext
    val want = markers.get() + 1
    sc.setJobGroup(Tracer.Marker, "tracer marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((markers.get() < want || !running.isEmpty) && System.nanoTime() < deadline)
      Thread.sleep(5)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }

  /** Attributes planner phases to the ops whose interval holds them. */
  def finish(opSpans: Seq[Span]): Unit = {
    val sorted = opSpans.sortBy(_.startMs).toIndexedSeq
    phaseRecs.asScala.foreach { case (start, an, opt, pl) =>
      sorted.find(s => s.startMs <= start && start <= s.endMs).foreach { s =>
        val a = acc(s.op)
        a.analysisMs += an; a.optimizationMs += opt; a.planningMs += pl
        spans.add(Span(s.op, "planner", "phases", start, start + an + opt + pl))
      }
    }
  }

  def write(path: Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      s"""{"op":"${s.op}","layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Tracer {
  /** The job group of [[detach]]'s marker job. */
  val Marker = "tracer-marker"

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map(c => c._2 - c._1).getOrElse(0L)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Mean of `f` over the ops, 0 when there are none. */
  def mean[A](xs: Seq[A])(f: A => Double): Double =
    if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
}
