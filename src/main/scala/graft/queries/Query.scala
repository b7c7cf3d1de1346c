package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query: its name, its build over a scale-factor directory, and
  * how its output is verified. Every query is declared once, as one of
  * these, in the family object named after the module or store family
  * it exercises.
  */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       check: Check)

/** How a query's output is verified: by its own oracle, or through an
  * oracled error-band twin. Each query has exactly one.
  */
sealed trait Check

/** ANSI SQL that DuckDB runs over the same parquet tables. Columns are
  * aligned by name and type on both sides, and the compare is an exact
  * multiset of rows, so doubles come from exact decimal aggregation
  * plus round(2) and do not depend on partitioning or summation order.
  */
final case class Oracle(sql: String) extends Check

/** An estimate with no direct oracle: a DuckDB rebuild cannot reproduce
  * a sketch's internal state. `twin` names the oracled query that
  * recomputes the same estimate AND the exact answer, and checks in
  * both engines that the estimate lands inside the sketch's published
  * error band.
  */
final case class BandTwin(twin: String) extends Check
