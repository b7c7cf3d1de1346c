package graft

import org.apache.spark.sql.SparkSession

/** What the mains share: integer env options parsed with the option's
  * name in every error, and the local session the queries run on.
  */
private[graft] object Mains {

  /** `raw` parsed as an integer, `default` when absent; anything else
    * fails naming the option, not with a bare NumberFormatException.
    */
  def parseInt(name: String, raw: Option[String], default: Int): Int =
    raw.fold(default) { v =>
      v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer, got '$v'"))
    }

  def envInt(name: String, default: Int): Int =
    parseInt(name, sys.env.get(name), default)

  /** The session Bench, Verify and Explain run the queries on, so the
    * oracle gate and the plan dumps see the plans the bench times:
    * `local[cpus]` with one shuffle partition per core, UTC, and AQE
    * coalescing shuffle partitions to an 8 MB advisory size rather
    * than keeping one partition per core. With sub-MB stage outputs,
    * one partition per core leaves the multi-stage pipelines
    * (q117/q120/q121, ~40 jobs each) scheduling thousands of <10 ms
    * tasks; under CPU contention that overhead grows superlinearly
    * (q121 16.6 s -> 8.8 s against a 32-thread hog). Spark's 64 MB
    * default in turn collapses CPU-dense stages with small bytes to
    * one or two tasks (q250 1.38 s -> 2.15 s); 8 MB measured best or
    * near best in both regimes.
    */
  def session(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
