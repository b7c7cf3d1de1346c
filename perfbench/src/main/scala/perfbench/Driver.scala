package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Options the Python runner passes as key=value arguments. */
final case class Opts(workload: String, input: Path, work: Path,
                      seconds: Double, trace: Boolean, cores: Int,
                      seed: Long, setups: Int)

/** One timed operation: a query call plus full evaluation, or one drain
  * of the log, or one set-up. `traced` marks ops run while the tracer
  * recorded. `cpuMs` is the CPU time this JVM used meanwhile and
  * `stealMs` the CPU time the host took from the machine's CPUs.
  */
final case class Op(name: String, ms: Double, traced: Boolean,
                    cpuMs: Double, stealMs: Double)

/** The clocks an op is measured with, read at one instant: wall time,
  * this JVM's CPU time (all threads), and the machine's steal time, the
  * time its virtual CPUs were ready to run but the host ran something
  * else ("steal" in /proc/stat, in ticks of 10 ms; 0 where the kernel
  * does not report it).
  */
final case class Clocks(wallNs: Long, cpuMs: Double, stealMs: Double) {
  /** The op from this instant until now. */
  def op(name: String, traced: Boolean): Op = {
    val now = Clocks.now()
    Op(name, (now.wallNs - wallNs) / 1e6, traced, now.cpuMs - cpuMs,
      now.stealMs - stealMs)
  }
}

object Clocks {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val stat = Paths.get("/proc/stat")

  private def stealMs(): Double =
    try Files.readAllLines(stat).get(0).trim.split("\\s+")(8).toDouble * 10
    catch { case NonFatal(_) => 0.0 }

  def now(): Clocks = Clocks(System.nanoTime(), os.getProcessCpuTime / 1e6, stealMs())
}

/** What a run hands back to the runner, written once as result.json. */
final class Report {
  val setups = mutable.Buffer[Op]()
  val ops = mutable.Buffer[Op]()
  var timedS = 0.0
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Checks done inside the JVM (streaming vs the batch operator,
    * planted late events vs watermark drops): name -> failure or "".
    */
  val checks = mutable.LinkedHashMap[String, String]()
  /** Batch outputs the runner compares with DuckDB: query -> its
    * oracle SQL ("" when the query is covered by its error-band twin).
    */
  val outputs = mutable.LinkedHashMap[String, String]()
  val coveredBy = mutable.LinkedHashMap[String, String]()

  def json: String = {
    def s(v: String) = "\"" + v.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def n(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s(k) + ":" + v }.mkString("{", ",", "}")
    def op(o: Op) = s"[${s(o.name)},${n(o.ms)},${o.traced},${n(o.cpuMs)},${n(o.stealMs)}]"
    obj(Seq(
      "setups" -> setups.map(op).mkString("[", ",", "]"),
      "ops" -> ops.map(op).mkString("[", ",", "]"),
      "timed_s" -> n(timedS),
      "layer" -> obj(layer.map { case (k, v) => k -> n(v) }),
      "checks" -> obj(checks.map { case (k, v) => k -> s(v) }),
      "outputs" -> obj(outputs.map { case (k, v) => k -> s(v) }),
      "covered_by" -> obj(coveredBy.map { case (k, v) => k -> s(v) })))
  }
}

/** Benchmark driver: one workload per JVM, one closed-loop client. It
  * reaches the engine only through public entry points (SparkEntry,
  * Stores, StatefulOps, CEP, WindowedAgg, the transformWithState
  * processors) and Spark's public listener APIs.
  */
object Driver {
  def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  /** A progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(f"perfbench: ${sec(born)}%7.1f s $msg")

  def session(o: Opts, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the AQE posture graft.Bench runs the queries with
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes of regular files under `p`. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally w.close()
    }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val o = Opts(kv("workload"), Paths.get(kv("input")), Paths.get(kv("work")),
      kv("seconds").toDouble, kv("trace") == "1", kv("cores").toInt,
      kv("seed").toLong, kv("setups").toInt)
    val report = new Report
    val code =
      try {
        o.workload match {
          case "batch-serving" => BatchWorkload.run(o, report)
          case "stream-stateful" => StreamWorkload.run(o, report)
          case w => throw new IllegalArgumentException(s"unknown workload '$w'")
        }
        Files.writeString(o.work.resolve("result.json"), report.json)
        0
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: workload ${o.workload} failed: $e")
          e.printStackTrace()
          1
      } finally {
        // Closes the state stores (RocksDB instances among them) and their
        // maintenance thread before the session and the JVM go down, so no
        // native store is still open while the process exits.
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        SparkSession.getActiveSession.foreach(_.stop())
      }
    sys.exit(code)
  }
}
