package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Profiling harness (test scope, never shipped): runs named queries
  * once warm + once measured and prints every Spark job's wall time
  * with its callsite, so a multi-job composite query (the pipeline
  * family) can be attributed job by job. Usage:
  *   Test/runMain graft.JobProfile <sfDir> <query> [query ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "name at least one query")
    val spark = Mains.session(Mains.envInt("SPARK_GRAFT_CPUS", 32))
    spark.sparkContext.setLogLevel("WARN")

    case class J(id: Int, t0: Long, name: String)
    val open = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String)]())
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) {
          val si0 = js.stageInfos.sortBy(_.stageId).lastOption
          val graftFrame = si0.flatMap(_.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("JobProfile")))
            .map(_.trim).getOrElse("")
          val label = si0.map(si => si.name.takeWhile(_ != '\n'))
            .getOrElse("?") + "  " + graftFrame
          open.put(js.jobId, J(js.jobId, System.nanoTime(), label))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = open.remove(je.jobId)
        if (j != null)
          done.add((j.id, (System.nanoTime() - j.t0) / 1e9, j.name))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def run(name: String): Unit = {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    def clean(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    names.foreach { n =>
      run(n); clean() // warm (stores, codegen, footers)
      run(n); clean() // second warm rep — match bench steady state
      done.clear()
      record = true
      val t0 = System.nanoTime()
      run(n)
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(500)
      println(f"===== $n total=$wall%.3f s, ${done.size()} jobs =====")
      val snap = new java.util.ArrayList(done)
      snap.forEach { case (id, sec, label) =>
        println(f"  job $id%4d  $sec%7.3f s  $label")
      }
      val sum = snap.toArray.map(_.asInstanceOf[(Int, Double, String)]._2).sum
      println(f"  (sum of job walls: $sum%.3f s; gaps = driver/planning time)")
      clean()
    }
    spark.stop()
  }
}
