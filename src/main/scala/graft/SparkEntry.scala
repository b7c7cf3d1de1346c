package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query surface: every query the engine answers, each declared
  * once as a [[Query]] (name, build, check) in its family object under
  * `graft.queries`. The three name-keyed maps below are views of that
  * one list, read by the Bench, Verify and Explain mains, the tests and
  * `perfbench`.
  */
object SparkEntry {

  /** Every query, family by family. */
  val all: Seq[Query] =
    CapabilityQueries.all ++ TpchQueries.all ++ ScdQueries.all ++
      BehaviorQueries.all ++ ProfileQueries.all ++ SketchQueries.all ++
      DedupQueries.all ++ GraphQueries.all ++ SimilarityQueries.all ++
      PqQueries.all ++ TextQueries.all ++ SamplingQueries.all ++
      PipelineQueries.all ++ MultimodalQueries.all ++ SearchQueries.all ++
      ForgetQueries.all

  /** Each query's build, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** The DuckDB oracle SQL of each query that has one, by name; the
    * Verify main dumps it as `oracle_sql.json`.
    */
  val oracleSql: Map[String, String] =
    all.collect { case Query(name, _, Oracle(sql)) => name -> sql }.toMap

  /** Each estimate's oracled error-band twin, by name; the Verify main
    * dumps it as `covered_by.json` next to `oracle_sql.json`, so a
    * query without an oracle of its own reads as covered, not
    * unverified.
    */
  val coveredBy: Map[String, String] =
    all.collect { case Query(name, _, BandTwin(twin)) => name -> twin }.toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_hot_items_top5")(spark, "/root/testdata/sf0.001")
}
