package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{BandTwin, Oracle, Query}

/** Smoke: every declared query runs end-to-end on sf0.001 and the
  * entry() flagship returns rows (mirrors the driver's t1 gate).
  * Cross-checks a few closed-form invariants of the test data.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("query names are unique and number 300") {
    val names = SparkEntry.all.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"declared more than once: $dups")
    assert(names.size === 300)
  }

  test("coveredBy is total over the no-oracle queries and every twin is oracled") {
    val oracles = SparkEntry.all.collect { case Query(n, _, Oracle(sql)) => n -> sql }
    // a family val that reads a SQL fragment declared after it sees null
    val empty = oracles.collect { case (n, sql) if sql == null || sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracle SQL: $empty")
    val badTwin = SparkEntry.all.collect {
      case Query(n, _, BandTwin(twin)) if !oracles.exists(_._1 == twin) => s"$n -> $twin"
    }
    assert(badTwin.isEmpty, s"twin without an oracle: $badTwin")
  }

  test("prewarm builds every declared store: reading them afterwards adds no table") {
    // a fresh copy of the fixture, so prewarm is the only builder of its
    // stores (prewarm logs and swallows a store's non-fatal build error)
    val copy = java.nio.file.Files.createTempDirectory("graft-prewarm-")
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), copy.toFile)
      val d = copy.toString
      Stores.prewarm(spark, d, 2)
      def tables = spark.catalog.listTables().collect().map(_.name).toSet
      val built = tables
      Stores.declared.foreach(_.invoke(Stores, spark, d))
      assert(tables -- built === Set.empty[String])
      val k = Stores.key(d)
      val forgetAndQ298 = Seq("fidxm", "fcidx1000", "fchm", "fpidxm")
        .map(f => s"graft_${f}_$k") :+ s"graft_q298_${k}_pq"
      assert(forgetAndQ298.filterNot(built) === Nil)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(copy.toFile)
  }

  test("pv windows sum to total view count") {
    import org.apache.spark.sql.functions._
    val views = Tables.events(spark, dir)
      .filter(col("event_type") === "view").count()
    val summed = SparkEntry.queries("q01_pv_hourly")(spark, dir)
      .agg(sum("cnt")).head().getLong(0)
    assert(summed === views)
  }

  test("sliding windows multiply rows by duration/slide") {
    import org.apache.spark.sql.functions._
    val base = Tables.events(spark, dir)
      .filter(col("event_type") =!= "error").count()
    val summed = SparkEntry.queries("q05_marketing_total")(spark, dir)
      .agg(sum("cnt")).head().getLong(0)
    assert(summed === base * 6)  // 1h/10m ⇒ 6 windows per event
  }
}
