package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    // a typo'd name would otherwise produce an empty-but-exit-0 run
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val spark = Mains.session(Mains.envInt("SPARK_GRAFT_CPUS", 4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query cache hygiene (the Bench rule): pipeline entries leave
      // survivor frames cached; don't let them accumulate across 150 dumps
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // estimate→band-twin pairing: a `no_oracle` row whose name is a
    // key here is verified THROUGH its oracled twin (the twin checks
    // the estimate against the exact answer's error band in both
    // engines) — dumped so the correctness report is self-explaining
    val covered = SparkEntry.coveredBy
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/covered_by.json"), covered)
    SparkEntry.coveredBy.toSeq.sorted.foreach { case (est, twin) =>
      println(s"[verify] no_oracle $est is covered by oracled twin $twin")
    }
    spark.stop()
  }
}
