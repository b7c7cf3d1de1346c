package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Similarity

/** Staleness audit for the incremental ANN store
  * ([[graft.ops.Similarity.ivfIngest]]): how much recall does serving
  * lose by assigning NEW vectors at the store's ORIGINAL centroids
  * instead of re-centroiding on the grown corpus — the measurement
  * that tells the operator when the q167 append path has drifted far
  * enough to warrant a [[graft.ops.Similarity.writeIvfBucketed]]
  * rewrite (centroids are the store's physical layout, so retraining
  * IS a rewrite — the IVF trade).
  *
  * Shape: history = 80% of the corpus,
  * centroids k-means-trained on history only; the corpus then grows by
  * the held-out 20%; recall@5 vs the exact cosine top-5 on the GROWN
  * corpus is measured per nprobe for (a) the stale history-trained
  * centroids — what the ingested store serves — and (b) centroids
  * retrained on the grown corpus — what a rewrite would serve. Both
  * sides share every other parameter, so the gap is the centroids'
  * alone.
  *
  * Usage: runMain graft.jobs.IngestStaleness [sfDir] [nprobe*...]
  * Prints one JSON line per nprobe. Diagnostic main (StreamBench's
  * class): no oracle — the oracled identity is q167 (ingest ≡ rebuild
  * at FIXED centroids); this job measures the fixed-centroid trade
  * itself. Results land in PLANS.md.
  */
object IngestStaleness {

  /** Mean recall@5 of `approx` vs `exact` (both (query_id,
    * neighbor_id) frames, exact having 5 rows per query). A query
    * whose approximate result is empty counts as recall 0, not as a
    * dropped term: averaging only covered queries would flatter the
    * configurations with the worst coverage.
    */
  private def recallAt5(approx: DataFrame, exact: DataFrame): Double =
    exact.groupBy(col("query_id"))
      .agg(collect_set(col("neighbor_id")).as("want"))
      .join(approx.groupBy(col("query_id"))
        .agg(collect_set(col("neighbor_id")).as("got")),
        Seq("query_id"), "left")
      .select((coalesce(size(array_intersect(col("got"), col("want"))),
        lit(0)).cast("double") / 5).as("recall"))
      .agg(avg(col("recall"))).head().getDouble(0)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nprobes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                  else Seq(1, 2, 4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val grown = Tables.embeddings(spark, dir).cache()
    val history = grown.filter(col("vec_id") % 5 =!= 0)
    val queryIds = (0L until 20L).toSeq
    val initIds = (0L until 16L).filter(_ % 5 != 0).take(8).toSeq
    // stale: trained on history only (what the ingested store serves);
    // retrained: same seeds/rounds on the grown corpus (what a rewrite
    // would serve) — identical except the training corpus
    val stale = Similarity.kmeansCentroids(history, "vec_id", "embedding",
      initIds, iters = 2, orderedMeans = true)
    val retrained = Similarity.kmeansCentroids(grown, "vec_id", "embedding",
      initIds, iters = 2, orderedMeans = true)
    val exact = Similarity.cosineKnn(grown, "vec_id", "embedding",
      queryIds, k = 5).select(col("query_id"), col("neighbor_id")).cache()
    exact.count()
    for (nprobe <- nprobes) {
      def r(cents: DataFrame): Double = recallAt5(
        Similarity.ivfSearchWith(grown, "vec_id", "embedding", cents,
          queryIds, k = 5, nprobe = nprobe)
          .select(col("query_id"), col("neighbor_id")),
        exact)
      println(s"""{"metric":"ingest_staleness_recall_at_5","nprobe":$nprobe,""" +
        s""""stale":${"%.3f".format(r(stale))},""" +
        s""""retrained":${"%.3f".format(r(retrained))},"sf":"$dir"}""")
    }
    spark.stop()
  }
}
