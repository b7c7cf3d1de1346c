package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Stores
import graft.ops._
import CapabilityQueries.eventsWithItem
import DedupQueries.{duckBandsCte, duckEdgesBody}

/** Graph analytics ([[Graph]]) over the LSH candidate graph and the
  * item-transition edge store ([[Stores.edges]]): PageRank, label
  * propagation, triangles, k-core, k-hop and next-item serving.
  */
object GraphQueries {
  /** Per-user consecutive distinct item transitions — the shared edge
    * source of the graph family (q208/q225/q226/q227): one
    * user-partitioned Window, then everything downstream is
    * edge-scale.
    */
  private[graft] def transitionPairs(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    eventsWithItem(s, dir)
      .filter(col("item_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("item_id"))
      .withColumn("nxt", lead(col("item_id"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("item_id"))
  }

  /** The merged (src, dst, w) edge view over the WRITTEN edge store
    * ([[Stores.edges]]) — the graph family's one edge source
    * (q208/q225/q226/q227/q236/q246/q251): the per-user transition
    * Window ran once at store build; reads fold src-bucketed count
    * slices with a zero-Exchange sum.
    */
  private def storedEdges(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.edgeMerge(Stores.edges(s, dir))

  /** Shared DuckDB PageRank oracle — q208 (store-served),
    * q251 (slice-merge lifecycle) and q255 (retraction: the walk over
    * the log minus the retracted users' events, via `evAnd`) replay
    * the same unrolled 3-iteration integer walk.
    */
  private def pageRankOracle(evAnd: String): String =
    s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$$.k') IS NOT NULL$evAnd),
        |nx AS (
        |  SELECT item AS src,
        |         lead(item) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS dst
        |  FROM ev),
        |e AS (
        |  SELECT src, dst, count(*)::BIGINT AS w FROM nx
        |  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2),
        |ow AS (SELECT src, sum(w)::BIGINT AS w_out FROM e GROUP BY 1),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes),
        |i1 AS (
        |  SELECT e.dst AS node, sum((r.r * e.w) // ow.w_out)::BIGINT AS s
        |  FROM e JOIN ow USING (src) JOIN r0 r ON r.node = e.src
        |  GROUP BY 1),
        |r1 AS (
        |  SELECT n.node,
        |         (150000 + (850000 * coalesce(i.s, 0)) // 1000000)::BIGINT AS r
        |  FROM nodes n LEFT JOIN i1 i USING (node)),
        |i2 AS (
        |  SELECT e.dst AS node, sum((r.r * e.w) // ow.w_out)::BIGINT AS s
        |  FROM e JOIN ow USING (src) JOIN r1 r ON r.node = e.src
        |  GROUP BY 1),
        |r2 AS (
        |  SELECT n.node,
        |         (150000 + (850000 * coalesce(i.s, 0)) // 1000000)::BIGINT AS r
        |  FROM nodes n LEFT JOIN i2 i USING (node)),
        |i3 AS (
        |  SELECT e.dst AS node, sum((r.r * e.w) // ow.w_out)::BIGINT AS s
        |  FROM e JOIN ow USING (src) JOIN r2 r ON r.node = e.src
        |  GROUP BY 1),
        |r3 AS (
        |  SELECT n.node,
        |         (150000 + (850000 * coalesce(i.s, 0)) // 1000000)::BIGINT AS r
        |  FROM nodes n LEFT JOIN i3 i USING (node))
        |SELECT node, r AS rank_micro FROM r3""".stripMargin

  private val q208PageRankSql: String = pageRankOracle("")

  /** Shared DuckDB next-item oracle — q246 (store-served read) and
    * q256 (edge-store compaction) must both land on the full-log
    * serving table.
    */
  private val q246NextItemSql: String =
    """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nx AS (
        |  SELECT item AS from_item,
        |         lead(item) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS to_item
        |  FROM ev),
        |tr AS (
        |  SELECT from_item, to_item, count(*)::BIGINT AS cnt
        |  FROM nx WHERE to_item IS NOT NULL AND to_item <> from_item
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT from_item, CAST(sum(cnt) AS BIGINT) AS row_total
        |  FROM tr GROUP BY 1)
        |SELECT tr.from_item,
        |       CAST(row_number() OVER (PARTITION BY tr.from_item
        |              ORDER BY tr.cnt DESC, tr.to_item ASC) AS BIGINT)
        |         AS rk,
        |       tr.to_item, tr.cnt,
        |       CAST(tr.cnt * 1000000 // tot.row_total AS BIGINT) AS p_ppm
        |FROM tr JOIN tot USING (from_item)
        |QUALIFY rk <= 3""".stripMargin

  val all: Seq[Query] = Seq(
    // PageRank centrality over the SAME LSH candidate graph as
    // q65/q132 — the third graph member: CC answers "which group", LPA
    // "which community", PageRank "which member is most linked" (the
    // canonical-document pick inside a dup cluster). Fixed-point
    // INTEGER power iteration (rank units of 1e-9, damping as
    // 85·Σ div 100): every intermediate is a positive BIGINT, so the
    // ranks are partition- and summation-order-independent and the
    // oracle unrolls the identical integer rounds as CTEs
    Query("q133_pagerank", (s, dir) =>
      Graph.pageRank(
        Stores.lshPairs(s, dir),
        "doc_a", "doc_b", iters = 3),
      // q65's edge derivation + three unrolled INTEGER PageRank rounds
      // (Graph.pageRank): contributions r//d summed per destination,
      // damped as 150000000 + (85·m)//100 — rank units of 1e-9, every
      // intermediate a positive BIGINT (// is floor division; Spark's
      // div truncates — identical on these all-positive values)
      Oracle {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.t AS id, sum(r.r // d.d)::BIGINT AS m
             |        FROM edges e JOIN deg d ON d.s = e.s
             |        JOIN r${i - 1} r ON r.id = e.s GROUP BY 1),
             |r$i AS (SELECT n.id,
             |               (150000000 + (85 * coalesce(c.m, 0)) // 100)::BIGINT AS r
             |        FROM n0 n LEFT JOIN c$i c USING (id))""".stripMargin
        }.mkString(",\n")
        s"""$duckBandsCte,
           |$duckEdgesBody,
           |deg AS (SELECT s, count(*)::BIGINT AS d FROM edges GROUP BY 1),
           |n0 AS (SELECT DISTINCT s AS id FROM edges),
           |r0 AS (SELECT id, 1000000000::BIGINT AS r FROM n0),
           |$rounds
           |SELECT id, r AS rank_units FROM r3""".stripMargin
      }),

    // personalized PageRank: teleport + initial mass only on the seed
    // set — rank_units measures proximity to the seeds ("documents
    // related to THESE"), where q133 measures global centrality. The
    // seed set is a declarative PREDICATE over the node id (here: every
    // 10th doc), not a literal list — no collected lookup, and the
    // oracle replays the rule verbatim; same all-BIGINT rounds as q133
    Query("q137_personalized_pagerank", (s, dir) =>
      Graph.personalizedPageRank(
        Stores.lshPairs(s, dir),
        "doc_a", "doc_b", seedPred = col("id") % 10 === 0, iters = 3),
      // q133's integer rounds with the teleport restricted to the seed
      // predicate (id % 10 = 0): r0 and the base term are CASE on the
      // same rule the Spark side declares
      Oracle {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.t AS id, sum(r.r // d.d)::BIGINT AS m
             |        FROM edges e JOIN deg d ON d.s = e.s
             |        JOIN r${i - 1} r ON r.id = e.s GROUP BY 1),
             |r$i AS (SELECT n.id,
             |               (CASE WHEN n.id % 10 = 0 THEN 150000000 ELSE 0 END
             |                + (85 * coalesce(c.m, 0)) // 100)::BIGINT AS r
             |        FROM n0 n LEFT JOIN c$i c USING (id))""".stripMargin
        }.mkString(",\n")
        s"""$duckBandsCte,
           |$duckEdgesBody,
           |deg AS (SELECT s, count(*)::BIGINT AS d FROM edges GROUP BY 1),
           |n0 AS (SELECT DISTINCT s AS id FROM edges),
           |r0 AS (SELECT id,
           |              (CASE WHEN id % 10 = 0 THEN 1000000000 ELSE 0 END)::BIGINT AS r
           |       FROM n0),
           |$rounds
           |SELECT id, r AS rank_units FROM r3""".stripMargin
      }),

    // weighted PageRank over the SAME candidate graph, edge weight =
    // n_bands (collision strength q133 throws away): a node's rank
    // splits across neighbors ∝ weight — strong dup links pull more
    // rank than a single-band brush. Same all-BIGINT rounds
    Query("q149_pagerank_weighted", (s, dir) =>
      Graph.pageRankWeighted(
        Stores.lshPairs(s, dir),
        "doc_a", "doc_b", weightCol = "n_bands", iters = 3),
      // q133's rounds with band-count edge weights: contribution
      // (r·w) // Σw_src; the cand GROUP BY's count(*) IS q22's n_bands
      Oracle {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.t AS id, sum((r.r * e.w) // d.sw)::BIGINT AS m
             |        FROM edges e JOIN deg d ON d.s = e.s
             |        JOIN r${i - 1} r ON r.id = e.s GROUP BY 1),
             |r$i AS (SELECT n.id,
             |               (150000000 + (85 * coalesce(c.m, 0)) // 100)::BIGINT AS r
             |        FROM n0 n LEFT JOIN c$i c USING (id))""".stripMargin
        }.mkString(",\n")
        s"""$duckBandsCte,
           |cand AS (
           |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*)::BIGINT AS w
           |  FROM b a JOIN b b2
           |    ON a.band_id = b2.band_id AND a.band_hash = b2.band_hash
           |   AND a.doc_id < b2.doc_id
           |  GROUP BY 1, 2),
           |edges AS (
           |  SELECT doc_a AS s, doc_b AS t, w FROM cand
           |  UNION ALL SELECT doc_b, doc_a, w FROM cand),
           |deg AS (SELECT s, sum(w)::BIGINT AS sw FROM edges GROUP BY 1),
           |n0 AS (SELECT DISTINCT s AS id FROM edges),
           |r0 AS (SELECT id, 1000000000::BIGINT AS r FROM n0),
           |$rounds
           |SELECT id, r AS rank_units FROM r3""".stripMargin
      }),

    // PageRank over the item-transition graph (integer micro-ranks,
    // 3 power iterations, d = 0.85 exact): which items anchor the
    // browsing graph — edges are per-user consecutive item pairs
    // (ts, event_id ordered; self-transitions dropped), weights are
    // transition counts; every round is an equi-join + hash aggregate
    Query("q208_pagerank", (s, dir) =>
      // SERVED FROM the written edge store (the graph family's one
      // edge source — q225/q226/q227/q236/q246 read the same store);
      // the oracle re-derives edges from the raw log, so green =
      // store read ≡ log read
      graft.ops.Graph.pageRankDirected(storedEdges(s, dir), "src",
          "dst", "w", iters = 3, scale = 1000000L)
        .select(col("id").as("node"), col("rank_units").as("rank_micro")),
      // the 3 power iterations unrolled as CTEs (the MMR unrolled-oracle
      // precedent); `//` floors like Spark's div on the all-positive ranks
      Oracle(q208PageRankSql)),

    // per-item triangle counts over the transition graph (the q208
    // edge set, undirected): degree-oriented wedge closing — the
    // clustering read; wedge count bounded by sum outdeg^2
    Query("q225_triangles", (s, dir) =>
      graft.ops.Graph.triangles(storedEdges(s, dir), "src", "dst"),
      // degree-oriented wedge closing replayed relationally: orient by
      // (degree, id) tuple order, wedge self-join, close, fan to corners
      Oracle(
        """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nx AS (
        |  SELECT item AS src,
        |         lead(item) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS dst
        |  FROM ev),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM nx WHERE dst IS NOT NULL AND dst <> src),
        |deg AS (
        |  SELECT id, count(*)::BIGINT AS deg FROM (
        |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |ori AS (
        |  SELECT CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
        |              THEN und.u ELSE und.v END AS s,
        |         CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
        |              THEN und.v ELSE und.u END AS t,
        |         CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
        |              THEN dv.deg ELSE du.deg END AS td
        |  FROM und JOIN deg du ON du.id = und.u
        |           JOIN deg dv ON dv.id = und.v),
        |tri AS (
        |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM ori e1 JOIN ori e2
        |    ON e1.s = e2.s AND (e1.td, e1.t) < (e2.td, e2.t)
        |  JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t)
        |SELECT node, count(*)::BIGINT AS triangles FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY 1""".stripMargin)),

    // local clustering coefficient: triangles normalized by wedge
    // capacity 2T/(d(d-1)) — exact integer counts, ONE
    // correctly-rounded division; every deg>=2 node emits
    Query("q226_clustering_coeff", (s, dir) =>
      graft.ops.Graph.clusteringCoefficient(storedEdges(s, dir),
        "src", "dst"),
      // triangles normalized by wedge capacity; deg >= 2 nodes emit
      Oracle(
        """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nx AS (
        |  SELECT item AS src,
        |         lead(item) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS dst
        |  FROM ev),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM nx WHERE dst IS NOT NULL AND dst <> src),
        |deg AS (
        |  SELECT id, count(*)::BIGINT AS deg FROM (
        |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |ori AS (
        |  SELECT CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
        |              THEN und.u ELSE und.v END AS s,
        |         CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
        |              THEN und.v ELSE und.u END AS t,
        |         CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
        |              THEN dv.deg ELSE du.deg END AS td
        |  FROM und JOIN deg du ON du.id = und.u
        |           JOIN deg dv ON dv.id = und.v),
        |tri AS (
        |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM ori e1 JOIN ori e2
        |    ON e1.s = e2.s AND (e1.td, e1.t) < (e2.td, e2.t)
        |  JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t),
        |tc AS (
        |  SELECT node, count(*)::BIGINT AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT d.id AS node, d.deg,
        |       coalesce(tc.triangles, 0)::BIGINT AS triangles,
        |       round((2 * coalesce(tc.triangles, 0))::DOUBLE
        |             / (d.deg * (d.deg - 1))::DOUBLE, 6) AS coefficient
        |FROM deg d LEFT JOIN tc ON tc.node = d.id
        |WHERE d.deg >= 2""".stripMargin)),

    // 3 synchronized k-core peel rounds (k=10) with the converged
    // witness — true at every SF here (measured), with real peeling
    // at sf0.001; the oracle unrolls the same rounds as CTEs
    Query("q227_kcore", (s, dir) =>
      graft.ops.Graph.kCorePeel(storedEdges(s, dir), "src",
        "dst", k = 10, rounds = 3),
      // the same three peel rounds unrolled; converged = round 3's
      // start graph had nobody below k
      Oracle(
        """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nx AS (
        |  SELECT item AS src,
        |         lead(item) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS dst
        |  FROM ev),
        |e0 AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM nx WHERE dst IS NOT NULL AND dst <> src),
        |d0 AS (SELECT id, count(*) AS deg FROM (
        |         SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
        |       GROUP BY 1),
        |s0 AS (SELECT id FROM d0 WHERE deg >= 10),
        |e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT id FROM s0)
        |                             AND v IN (SELECT id FROM s0)),
        |d1 AS (SELECT id, count(*) AS deg FROM (
        |         SELECT u AS id FROM e1 UNION ALL SELECT v FROM e1)
        |       GROUP BY 1),
        |s1 AS (SELECT id FROM d1 WHERE deg >= 10),
        |e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT id FROM s1)
        |                             AND v IN (SELECT id FROM s1)),
        |d2 AS (SELECT id, count(*) AS deg FROM (
        |         SELECT u AS id FROM e2 UNION ALL SELECT v FROM e2)
        |       GROUP BY 1),
        |s2 AS (SELECT id FROM d2 WHERE deg >= 10),
        |e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT id FROM s2)
        |                             AND v IN (SELECT id FROM s2)),
        |d3 AS (SELECT id, count(*) AS deg FROM (
        |         SELECT u AS id FROM e3 UNION ALL SELECT v FROM e3)
        |       GROUP BY 1)
        |SELECT d3.id AS node, d3.deg,
        |       (SELECT count(*) FROM d2 WHERE deg < 10) = 0 AS converged
        |FROM d3""".stripMargin)),

    // 3-hop BFS blast radius from the flagged items (item_id % 10 = 0)
    // over the q225 transition graph — synchronous frontier expansion,
    // min-dist fold per round; the oracle unrolls the rounds as CTEs
    Query("q236_khop", (s, dir) =>
      graft.ops.Graph.kHopDistances(storedEdges(s, dir), "src",
        "dst",
        eventsWithItem(s, dir)
          .filter(col("item_id").isNotNull && col("item_id") % 10 === 0),
        "item_id", rounds = 3),
      Oracle(
        """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         json_extract_string(props, '$.k')::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nx AS (
        |  SELECT item AS src,
        |         lead(item) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS dst
        |  FROM ev),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM nx WHERE dst IS NOT NULL AND dst <> src),
        |adj AS (
        |  SELECT u AS src, v AS dst FROM und
        |  UNION ALL SELECT v, u FROM und),
        |d0 AS (
        |  SELECT DISTINCT item AS node, 0::BIGINT AS dist
        |  FROM ev WHERE item % 10 = 0),
        |f1 AS (SELECT a.dst AS node, 1::BIGINT AS dist
        |       FROM d0 JOIN adj a ON d0.node = a.src WHERE d0.dist = 0),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT * FROM d0 UNION ALL SELECT * FROM f1) GROUP BY 1),
        |f2 AS (SELECT a.dst AS node, 2::BIGINT AS dist
        |       FROM d1 JOIN adj a ON d1.node = a.src WHERE d1.dist = 1),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT * FROM d1 UNION ALL SELECT * FROM f2) GROUP BY 1),
        |f3 AS (SELECT a.dst AS node, 3::BIGINT AS dist
        |       FROM d2 JOIN adj a ON d2.node = a.src WHERE d2.dist = 2),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT * FROM d2 UNION ALL SELECT * FROM f3) GROUP BY 1)
        |SELECT node, dist FROM d3""".stripMargin)),

    // next-item serving table: top-3 successors per item SERVED FROM
    // the written edge store (the counts ARE the store rows),
    // probability as exact ppm
    Query("q246_next_item", (s, dir) =>
      Behavior.nextItemFromCounts(storedEdges(s, dir), "src", "dst",
        "w", k = 3),
      Oracle(q246NextItemSql)),

    // edge-WAREHOUSE lifecycle: the transition-pair log arrives split
    // across three slices (event_id % 3 — an arbitrary interleave, so
    // most (src, dst) pairs span slices), per-slice edge counts
    // sum-merge, and the PageRank read must land on the full-log q208
    // ranks — the oracle recomputes from the raw log, proving
    // slice-merge ≡ one-pass edge derivation relationally
    Query("q251_edge_slices", (s, dir) => {
      // raw pairs off the WRITTEN transitions store (the per-user
      // Window ran once at store build) — the slice tagging and the
      // whole lifecycle proof are unchanged, only the pair source is
      val sliced = Stores.transitions(s, dir)
        .withColumn("slice", col("event_id") % 3)
      graft.ops.Graph.pageRankDirected(
          graft.ops.Graph.edgeMerge(graft.ops.Graph.edgeSlices(
            sliced, "item_id", "nxt", "slice")),
          "src", "dst", "w", iters = 3, scale = 1000000L)
        .select(col("id").as("node"), col("rank_units").as("rank_micro"))
    },
      Oracle(q208PageRankSql)),

    // edge-store RETRACTIONS (the LSM cancel-to-zero posture applied
    // to edge counts): every user_id % 7 = 0 user's transition pairs
    // are retracted by appending their NEGATED per-slice counts; the
    // merged PageRank must equal the walk over the remaining users'
    // log — per-user pairs are independent, so the oracle just
    // filters the ev CTE
    Query("q255_edge_retraction", (s, dir) => {
      // raw pairs off the WRITTEN transitions store (q251's reasoning;
      // this entry reads `pairs` twice — ingest + retraction — so the
      // store also replaces two Window runs, not one)
      val pairs = Stores.transitions(s, dir)
      val ingest = graft.ops.Graph.edgeSlices(
        pairs.withColumn("slice", lit(0L)), "item_id", "nxt", "slice")
      val retract = graft.ops.Graph.edgeTombstones(
        pairs.filter(col("user_id") % 7 === 0).withColumn("slice", lit(1L)),
        "item_id", "nxt", "slice")
      graft.ops.Graph.pageRankDirected(
          graft.ops.Graph.edgeMerge(ingest.unionByName(retract)),
          "src", "dst", "w", iters = 3, scale = 1000000L)
        .select(col("id").as("node"), col("rank_units").as("rank_micro"))
    },
      // retraction: the walk over the log minus the retracted users
      Oracle(pageRankOracle(" AND user_id % 7 <> 0"))),

    // edge-store COMPACTION: generations 0+1 (of the q251 three-way
    // interleave) fold into one replacement slice, generation 2
    // stays; the next-item read over the re-merge must land on the
    // full-log q246 table — sum-merge associativity is the proof
    // obligation, the shared oracle the proof
    Query("q256_edge_compaction", (s, dir) => {
      // raw pairs off the WRITTEN transitions store (q251's reasoning)
      val sliced = Stores.transitions(s, dir)
        .withColumn("slice", col("event_id") % 3)
      val slices = graft.ops.Graph.edgeSlices(sliced, "item_id", "nxt",
        "slice")
      val gen0 = graft.ops.Graph.edgeCompact(
        slices.filter(col("slice") < 2), newSlice = 100L)
      val gen1 = slices.filter(col("slice") === 2)
      Behavior.nextItemFromCounts(
        graft.ops.Graph.edgeMerge(gen0.unionByName(gen1)),
        "src", "dst", "w", k = 3)
    },
      // the compaction entry re-merges a compacted generation and must
      // land on the same full-log table
      Oracle(q246NextItemSql)),
  )
}
