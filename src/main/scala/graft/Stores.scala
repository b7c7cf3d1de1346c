package graft

import java.lang.reflect.InvocationTargetException
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Bucketing, Dedup, Forget, Graph, Pq, TextAnalysis}

/** Materialized serving stores over the driver's tables — the "index
  * built at ingest, queries read the store" posture every real engine
  * has (a search engine never rebuilds postings at query time; a graph
  * store never re-derives its edge list per query).
  *
  * Each store is a token/key-bucketed parquet table in the session
  * warehouse, built ONCE per JVM per source directory (memoized below)
  * through the SAME slice code path the incremental ingest uses
  * ([[TextAnalysis.indexSlices]] etc. — one code path, so a
  * store-backed read cannot drift from a corpus rescan; the q204
  * identity), then served to every query that needs the artifact. At
  * 100 TB the build is the ingest pipeline's job and runs once per
  * slice ever; here it runs once per process — the first query of a
  * family pays it, the rest read bucket files with pushed filters and
  * zero-Exchange merges.
  *
  * The memo key includes the source directory (so sf0.001 test runs
  * and sf0.1 bench runs in one JVM keep separate tables), a cheap
  * corpus fingerprint (so a long-lived session that regenerates data
  * into the same directory rebuilds instead of silently serving stale
  * artifacts), and a per-process nonce (so two JVMs sharing one
  * warehouse can never resolve to the same managed location — the
  * stale-location cleanup in serve() then only ever touches paths
  * THIS process wrote and lost track of, never a concurrent process's
  * live store files). Accepted trade-off: orphan directories from
  * dead processes and superseded fingerprints stay on disk — sweeping
  * every unregistered `graft_*` dir would reintroduce the
  * delete-a-live-store race that the nonce exists to close.
  *
  * A store is one declaration: a public member of this object whose
  * only parameter list is `(s: SparkSession, dir: String)`, declared
  * below every store it reads. [[prewarm]] builds exactly those
  * members in declaration order, so declaring a store is what
  * registers it, and a one-thread prewarm builds every store after
  * its dependencies.
  */
object Stores {

  /** table-name → built flag, guarded by a per-table lock. The build
    * runs under `synchronized`, NOT inside a ConcurrentHashMap mapping
    * function: store builds may depend on OTHER stores (cappedIndex →
    * index), and a nested computeIfAbsent on the same map is a
    * documented-illegal recursive update that throws when the two
    * table names land in one hash bin (they do, at bench scale —
    * the r17 second-review finding).
    */
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-process table-name suffix: two JVMs sharing one warehouse
    * (the default spark-warehouse under a common CWD) and one source
    * dir previously resolved to the SAME managed location, and the
    * second process's stale-location cleanup would recursively delete
    * the first's live, currently-served store files (ADVICE r17).
    * With the pid in every table name the cleanup can only ever hit
    * locations this process itself wrote and lost track of (a
    * restarted SparkContext inside one JVM — the self-heal case).
    */
  private val processNonce: String = s"p${ProcessHandle.current().pid()}"

  /** The walk result is memoized per dir with a short TTL: key() sits
    * on EVERY store accessor call (several per serving read), and an
    * unmemoized walk would put per-read filesystem stats on the hot
    * path the stores exist to keep off it. The TTL keeps the
    * staleness contract: a regenerated dir is picked up within
    * `FingerprintTtlMs`, not never.
    */
  private val FingerprintTtlMs = 5000L
  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** Cheap corpus fingerprint: file count + total bytes + max mtime
    * under `dir`. Folded into [[key]] so a session that regenerates
    * data into the same directory mid-JVM gets NEW table names and
    * rebuilds, instead of the memo silently serving stale indexes
    * (ADVICE r17). At 100 TB the ingest manifest's version stamp
    * plays this role; a directory walk stands in for it here (the
    * test corpora are a handful of parquet files).
    */
  private def fingerprint(dir: String): String = {
    val now = System.currentTimeMillis()
    val cached = fpMemo.get(dir)
    if (cached != null && now - cached._1 < FingerprintTtlMs)
      return cached._2
    val p = java.nio.file.Paths.get(dir)
    val fp =
      if (!java.nio.file.Files.isDirectory(p)) "absent"
      else {
        val walk = java.nio.file.Files.walk(p)
        try {
          var n = 0L; var bytes = 0L; var maxM = 0L
          walk.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
            n += 1
            bytes += java.nio.file.Files.size(f)
            maxM = math.max(maxM,
              java.nio.file.Files.getLastModifiedTime(f).toMillis)
          }
          s"$n:$bytes:$maxM"
        } finally walk.close() // Files.walk holds directory handles open
      }
    fpMemo.put(dir, (now, fp))
    fp
  }

  /** Collision-proof table key for a source directory: the readable
    * sanitized form PLUS an md5 suffix of the NORMALIZED path —
    * sanitizing alone maps distinct dirs to one key (`/data/sf0.1`
    * and `/data/sf0_1` both squash to `data_sf0_1`), which would
    * silently serve one corpus's artifacts to the other's queries;
    * hashing the raw string would do the opposite (a trailing slash
    * or `//` would rebuild a duplicate store set for one directory),
    * so the path is normalized first.
    */
  private[graft] def key(dir: String): String = {
    // resolve through the FILESYSTEM when the dir exists (a syntactic
    // normalize() would merge "link/../corpus" with "corpus" even
    // when `link` is a symlink pointing elsewhere — two different
    // corpora, one key); fall back to the syntactic form only for
    // paths that don't resolve (non-local URIs, not-yet-created dirs)
    val p = java.nio.file.Paths.get(dir)
    val canon =
      try p.toRealPath().toString
      catch { case _: Exception => p.normalize().toString }
    val readable = canon.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$canon\n${fingerprint(dir)}".getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"${readable}_${digest}_$processNonce"
  }

  private def serve(s: SparkSession, table: String)
                   (build: => Unit): DataFrame = {
    // lock-free fast path for the memoized hot read — the lock exists
    // for builds and the post-DROP self-heal, not to serialize every
    // concurrent reader of an already-built store
    if (built.containsKey(table) && s.catalog.tableExists(table))
      return s.table(table)
    val lock = locks.computeIfAbsent(table, _ => new Object)
    lock.synchronized {
      // the memo is JVM-global but the catalog entry is
      // session-scoped: a dropped table or a restarted SparkContext
      // in the same JVM must rebuild, not fail the read. Checked and
      // rebuilt under ONE lock so concurrent readers after a drop
      // build once, never twice (the second waiter re-checks and
      // sees the fresh table).
      if (!built.containsKey(table) || !s.catalog.tableExists(table)) {
        // the default catalog is in-memory and dies with the
        // SparkContext, but managed-table FILES survive in the
        // warehouse dir — a restarted context would hit
        // LOCATION_ALREADY_EXISTS on its first write. Because every
        // table name carries THIS process's nonce, an unregistered
        // location here can only be one this process itself wrote
        // and lost (never a concurrent JVM's live store — ADVICE
        // r17): remove it, never trust it.
        // The managed location is resolved through the CURRENT
        // database (a non-default database stores under <db>.db/),
        // not assumed to be <warehouse>/<table>.
        if (!s.catalog.tableExists(table)) {
          val dbLoc = s.catalog.getDatabase(s.catalog.currentDatabase)
            .locationUri
          val loc = new org.apache.hadoop.fs.Path(dbLoc, table)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) fs.delete(loc, true)
        }
        build
        built.put(table, java.lang.Boolean.TRUE)
      }
    }
    s.table(table)
  }

  /** The `graft_<family>_<key>` table of a store over `dir`. */
  private def tableName(family: String, dir: String): String =
    s"graft_${family}_${key(dir)}"

  /** A store's table, written by `write(table)` once per process and
    * served through [[serve]]'s memo from then on.
    */
  private def stored(s: SparkSession, dir: String, family: String)
                    (write: String => Unit): DataFrame = {
    val t = tableName(family, dir)
    serve(s, t)(write(t))
  }

  /** Generic per-process materialization of a derived serving frame:
    * `build`'s rows written once as an unbucketed parquet table named
    * `graft_<family>_<key>` and read by every consumer in the process.
    * Same memo/nonce/fingerprint contract as every named store — the
    * frame rebuilds from the parquet inputs in every JVM, nothing
    * survives a process exit.
    */
  private def materialized(s: SparkSession, dir: String, family: String)
                          (build: => DataFrame): DataFrame =
    stored(s, dir, family) { t =>
      build.write.mode("overwrite").format("parquet").saveAsTable(t)
    }

  /** Generation tag for the store builds: 4 ingest slices keyed by
    * the row's id (modeling four nightly generations of a real
    * warehouse — every store merge is slice-agnostic, so reads are
    * identical to a single-slice build, but the maintenance reads
    * (q261's datasheet + compaction decision) now audit REAL
    * generations of the actual written tables, not an inline stand-in
    * frame).
    */
  private[graft] val Generations = 4

  /** The exact inverted-index store over `documents`: token-bucketed
    * (slice, token, doc_id, tf) posting slices written by
    * [[TextAnalysis.writeIndexStore]]; read by
    * [[TextAnalysis.indexMergeSlices]] → [[TextAnalysis.cappedIndex]]
    * with a zero-Exchange tf-sum merge (HashPartitioning(token)
    * satisfies the (token, doc_id) clustering).
    */
  def index(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "idx") { t =>
      TextAnalysis.writeIndexStore(
        TextAnalysis.indexSlices(
          Tables.documents(s, dir)
            .withColumn("slice", pmod(col("doc_id"), lit(Generations))),
          "doc_id", "text", "slice"),
        table = t, buckets = 16)
    }

  /** The POSITIONAL index store — the phrase/proximity serving
    * artifact: token-bucketed (slice, token, doc_id, tf, positions)
    * rows from [[TextAnalysis.positionalSlices]]; read through
    * [[TextAnalysis.positionalMergeSlices]] (zero-Exchange — the
    * bucket layout satisfies the (token, doc_id) clustering). Real
    * engines never rebuild postings at query time; before this store
    * the phrase/proximity reads posexploded the whole corpus per
    * query.
    */
  def positional(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "pidx") { t =>
      TextAnalysis.writeIndexStore(
        TextAnalysis.positionalSlices(
          Tables.documents(s, dir)
            .withColumn("slice", pmod(col("doc_id"), lit(Generations))),
          "doc_id", "text", "slice"),
        table = t, buckets = 16)
    }

  /** Posting cap of the capped serving indexes ([[cappedIndex]],
    * [[chunkIndex]], [[erasedIndexCapped]]), part of their table names.
    */
  private val MaxPostings = 1000

  /** The capped impact-ordered SERVING index — the artifact real
    * engines actually answer from (postings pre-ranked by impact,
    * truncated at the cap, df/cf riding in the dictionary): the
    * [[TextAnalysis.cappedIndex]] view over [[index]] materialized as
    * its own token-bucketed table. The per-token rank Window and the
    * df/cf stats run ONCE here at build; the retrieval reads
    * (q203/q206/q207/q223) probe bucket files with pushed token
    * work — no per-query window, no per-query stats pass. Rebuilt
    * per generation the way compaction rewrites are (the store
    * slices stay the source of truth).
    */
  def cappedIndex(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, s"cidx$MaxPostings") { t =>
      TextAnalysis.cappedIndex(
          TextAnalysis.indexMergeSlices(index(s, dir)), MaxPostings)
        .write.mode("overwrite").format("parquet")
        .bucketBy(16, "token").sortBy("token").saveAsTable(t)
    }

  /** The corpus's most frequent word n-gram — ONE derivation for the
    * deterministic query-term statistics (the bigram pair q209/q238
    * share, the trigram q257 serves): count-desc with full (w1..wn)
    * lexicographic tie-break so every SF picks the same phrase.
    */
  private def topCorpusNgram(d: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "an n-gram statistic needs n >= 2")
    val fields = (1 to n).map(i =>
      s"element_at(split(text, ' '), i + $i) AS w$i").mkString(", ")
    d.filter(size(split(col("text"), " ")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(split(text, ' ')) - $n), " +
          s"i -> struct($fields))")).as("g"))
      .groupBy((1 to n).map(i => col(s"g.w$i").as(s"w$i")): _*)
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc +: (1 to n).map(i => col(s"w$i").asc): _*)
      .limit(1)
      .select((1 to n).map(i => col(s"w$i")): _*)
  }

  /** The corpus's most frequent word bigram persisted as a 1-row
    * statistics table — the deterministic query-term derivation the
    * whole phrase/proximity family shares (q209/q238/q249/q250/q254).
    * Derived once at ingest like [[norms]]; before this store every
    * one of those queries re-aggregated corpus bigrams just to pick
    * its terms.
    */
  def topBigram(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "bigram") {
      topCorpusNgram(Tables.documents(s, dir), 2)
    }

  /** [[topBigram]]'s trigram sibling — the deterministic three-term
    * phrase the k-term phrase read serves.
    */
  def topTrigram(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "trigram") {
      topCorpusNgram(Tables.documents(s, dir), 3)
    }

  /** The BM25 "norms file" beside the index: (doc_id, dl) — one narrow
    * projection of the corpus, persisted because the capped index
    * cannot recover document length (exactly why real engines store
    * norms separately).
    */
  def norms(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "norms") {
      TextAnalysis.docNorms(Tables.documents(s, dir), "doc_id", "text")
    }

  /** The term DICTIONARY store — (token, df, cf), the vocabulary-scale
    * artifact beside the index (Lucene's term dictionary): built once
    * from the same posting slices the index serves (so df/cf cannot
    * drift from the retrieval reads) and written SORTED by token, so
    * prefix reads prune parquet row groups by min/max token stats.
    * Dictionary reads (q264's autocomplete) never touch postings.
    */
  def vocab(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "vocab") {
      // built through the dictionary's SLICE derivation (df/cf deltas
      // folded — the same one code path the incremental warehouse
      // ingest appends through; ForgetSpec pins it ≡ termDictionary
      // over the merged postings), so batch store and streamed store
      // cannot drift
      TextAnalysis.dictMergeSlices(
          TextAnalysis.dictSlices(index(s, dir)))
        .sort("token")
    }

  /** The deletion-neighborhood store over [[vocab]] — the SymSpell
    * serving artifact: (variant, token, df) bucketed by variant, so a
    * fuzzy lookup (q265) probes |query|+1 variant keys with a pushed
    * In filter instead of running levenshtein against the whole
    * vocabulary. Built once at ingest, work ∝ vocabulary × term
    * length — the classic "spend ingest space to keep an O(V)
    * function scan off the query path" trade.
    */
  def deletions(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "delneigh") { t =>
      Bucketing.writeBucketed(
        TextAnalysis.deletionNeighborhood(vocab(s, dir)),
        t, Seq("variant"), buckets = 16, sortCols = Seq("variant"))
    }

  /** The document METADATA store — (doc_id, lang, source), the narrow
    * projection beside the index that serves facets, filters, and
    * result decoration without touching text (the norms posture for
    * metadata): real engines keep doc values/fields columnar beside
    * the postings for exactly these reads.
    */
  def docMeta(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "docmeta") {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"))
    }

  /** The FACET index over [[docMeta]] — (facet, value, doc_id) laid
    * out PARTITIONED by (facet, value), so a facet-value restriction
    * (q270's filtered search) is directory pruning: the scan lists
    * only the one facet-value's files, exactly the per-value doc-list
    * posting a real engine keeps for filters. Value cardinality here
    * is facet-dimension scale (languages, sources), not doc scale —
    * the layout a 100 TB corpus actually partitions by.
    */
  def facetIndex(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "facets") { t =>
      docMeta(s, dir)
        .select(col("doc_id"), explode(map(
          lit("lang"), col("lang").cast("string"),
          lit("source"), col("source").cast("string")))
          .as(Seq("facet", "value")))
        .write.mode("overwrite").format("parquet")
        .partitionBy("facet", "value").saveAsTable(t)
    }

  /** The NB classifier families' 80/20 training-split predicate — the
    * q84 hash-split convention under the family's salt (q125/q126:
    * "nb:", q131: "nbg:"), shared by the count-store builds and the
    * store-first serving reads so the split cannot drift.
    */
  private[graft] def nbTrainSplit(salt: String): org.apache.spark.sql.Column =
    graft.functions.Hashing.md5Long(concat(lit(salt),
      col("doc_id").cast("string"))) % 10000 < 8000

  /** The language-ID NB model's TRAINING-COUNT store — (label, term,
    * cnt) over the "nb:" 80% split with label = lang, built through
    * [[TextAnalysis.nbCounts]] (the one sufficient-statistic
    * derivation): training a one-pass NB classifier IS this aggregate,
    * so the store-first read replaces the per-query corpus explode the
    * way the PQ codebook store replaced per-query Lloyd passes.
    */
  def nbLangCounts(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "nblang") {
      TextAnalysis.nbCounts(
        Tables.documents(s, dir).filter(nbTrainSplit("nb:")),
        "lang", "text")
    }

  /** The quality-gate NB model's TRAINING-COUNT store — the q131
    * regimen: label = pos (source src0) / neg (rest) over the "nbg:"
    * 80% split.
    */
  def nbGateCounts(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "nbgate") {
      TextAnalysis.nbCounts(
        Tables.documents(s, dir).filter(nbTrainSplit("nbg:"))
          .withColumn("cls",
            when(col("source") === "src0", "pos").otherwise("neg")),
        "cls", "text")
    }

  /** The language-ID regimen's SERVING MODEL — (label, term, cnt,
    * logp) through [[TextAnalysis.nbModel]] over the counts store
    * (unrounded doubles; parquet round-trips them bit-exactly, so a
    * stored logp IS the inline logp). What a deployed classifier
    * actually loads — the fastText-model-file posture.
    */
  def nbLangModel(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "nblangm") {
      TextAnalysis.nbModel(nbLangCounts(s, dir))
    }

  /** The language-ID regimen's class DIMENSION beside the model —
    * (label, prior_logp, dflt) through [[TextAnalysis.nbLabels]]; the
    * per-label training doc counts come from the metadata store under
    * the same split predicate.
    */
  def nbLangLabels(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "nblangl") {
      TextAnalysis.nbLabels(nbLangCounts(s, dir),
        docMeta(s, dir).filter(nbTrainSplit("nb:"))
          .groupBy(col("lang").as("label"))
          .agg(count(lit(1)).as("nd")))
    }

  /** [[nbLangModel]] / [[nbLangLabels]] for the q131 gate regimen. */
  def nbGateModel(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "nbgatem") {
      TextAnalysis.nbModel(nbGateCounts(s, dir))
    }

  def nbGateLabels(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "nbgatel") {
      TextAnalysis.nbLabels(nbGateCounts(s, dir),
        docMeta(s, dir).filter(nbTrainSplit("nbg:"))
          .groupBy(when(col("source") === "src0", "pos").otherwise("neg")
            .as("label"))
          .agg(count(lit(1)).as("nd")))
    }

  /** Chunk width / overlap / composite-key base for the passage
    * (chunk-level) retrieval store — constants so the store layout
    * and every serving read agree (the PqM posture).
    */
  private[graft] val ChunkWidth = 32
  private[graft] val ChunkOverlap = 8
  private[graft] val ChunkKeyBase = 100000L

  /** The guarded (cid, chunk) projection every chunk-store consumer
    * shares — batch build ([[chunkIndex]]) and the streaming ingest
    * ([[graft.jobs.ServingWarehouse.ingestDocsBatch]]) go through ONE
    * derivation, so the chunk width/overlap/key-base constants can
    * never silently desync the two code paths (ADVICE r18). A
    * chunk_id past the key base would silently collide composite keys
    * across documents — ENFORCED per row (the observable-cap rule),
    * not assumed.
    */
  private[graft] def chunkCids(docs: DataFrame): DataFrame =
    TextAnalysis.chunkWords(docs, "doc_id", "text",
        chunkWords = ChunkWidth, overlapWords = ChunkOverlap)
      .select((col("doc_id") * lit(ChunkKeyBase)
        + when(col("chunk_id") < ChunkKeyBase, col("chunk_id"))
          .otherwise(raise_error(concat(
            lit("chunkCids: chunk_id "),
            col("chunk_id").cast("string"),
            lit(s" >= key base $ChunkKeyBase for doc "),
            col("doc_id").cast("string"),
            lit(" — raise ChunkKeyBase"))))).as("cid"),
        col("chunk"))

  /** The UNCAPPED chunk-level posting SLICE store — the chunk
    * family's source-of-truth table, exactly what [[index]] is to
    * [[cappedIndex]]: (slice, token, cid-as-doc_id, tf) rows through
    * the one [[TextAnalysis.indexSlices]] code path (a chunk frame
    * with composite cids IS a document frame to the index machinery),
    * slice-tagged by the owning document's generation. [[chunkIndex]]
    * derives its capped view from here, and the erasure/as-of reads
    * ([[graft.ops.Forget.erase]]) union tombstone slices against it —
    * a capped store cannot take a delete (removing a doc must
    * backfill postings the cap dropped).
    */
  def chunkSlices(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "chsl") { t =>
      TextAnalysis.writeIndexStore(
        TextAnalysis.indexSlices(
          chunkCids(Tables.documents(s, dir))
            .withColumn("slice",
              pmod(expr(s"cid div ${ChunkKeyBase}L"), lit(Generations))),
          "cid", "chunk", "slice"),
        table = t, buckets = 16)
    }

  /** The CHUNK-level capped inverted index — the passage-retrieval
    * serving artifact (q282): documents split into overlapping
    * fixed-width word chunks ([[TextAnalysis.chunkWords]], the q83
    * transform), postings keyed by the composite chunk id
    * (doc · base + chunk), capped and impact-ordered like
    * [[cappedIndex]]. Chunking ran once at the [[chunkSlices]] build;
    * the per-token rank runs ONCE here; reads probe token buckets.
    */
  def chunkIndex(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, s"chidx$MaxPostings") { t =>
      TextAnalysis.cappedIndex(
          TextAnalysis.indexMergeSlices(chunkSlices(s, dir)), MaxPostings)
        .write.mode("overwrite").format("parquet")
        .bucketBy(16, "token").sortBy("token").saveAsTable(t)
    }

  /** The chunk-domain corpus statistic beside [[chunkIndex]] — ONE
    * row (n_chunks), persisted because the capped index cannot
    * recover the chunk count (the norms-file posture): a chunk whose
    * every token's posting list was capped out would vanish from a
    * distinct-count over the capped rows.
    */
  def chunkStats(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "chstats") {
      // derived from the UNCAPPED slice store (every chunk holds >= 1
      // token, so the distinct-cid count IS the chunk count) — the
      // corpus is not re-chunked, and the statistic cannot drift from
      // the postings it normalizes
      TextAnalysis.indexMergeSlices(chunkSlices(s, dir))
        .agg(countDistinct(col("doc_id")).as("n_chunks"))
    }

  /** The chunk TEXT table beside [[chunkIndex]] — (doc_id, chunk_id,
    * chunk): the context-fetch artifact a RAG pipeline reads after
    * retrieval (the index stores tokens, not the passage text; real
    * engines keep stored fields beside postings for exactly this).
    * Sorted by doc_id so the broadcast hit join prunes row groups.
    */
  def chunkTable(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "chunks") {
      TextAnalysis.chunkWords(Tables.documents(s, dir), "doc_id",
          "text", chunkWords = ChunkWidth, overlapWords = ChunkOverlap)
        .select(col("doc_id"), col("chunk_id"), col("chunk"))
        .sort("doc_id", "chunk_id")
    }

  /** The COLLOCATION dictionary — the full minCount-filtered bigram
    * lift table ([[TextAnalysis.collocationTable]], the q237
    * statistic without its top-k cut), written SORTED by w1 so a
    * seed-term probe ((w1 = seed OR w2 = seed) — [[TextAnalysis
    * .expandTerms]]) prunes row groups on the leading column. The
    * related-terms artifact query expansion serves from; derived once
    * at ingest, vocabulary-pair-scale under the minCount gate.
    */
  def collocations(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "colloc") {
      // built through the SAME slice→merge path the incremental
      // lifecycle uses (q280) — one code path, so a store read cannot
      // drift from a corpus rescan (the q204 identity, this family)
      TextAnalysis.collocationTableFrom(
          TextAnalysis.collocMergeSlices(
            TextAnalysis.collocSlices(
              Tables.documents(s, dir)
                .withColumn("slice", pmod(col("doc_id"), lit(Generations))),
              "text", "slice")),
          minCount = 5L)
        .sort("w1", "w2")
    }

  /** The MinHash BAND store — (slice, doc_id, band_id, band_hash)
    * rows of the whole corpus, band_hash-bucketed and
    * generation-tagged: the near-dup family's ingest-time artifact.
    * The shingle→minhash pipeline runs ONCE here; [[dupMap]] builds
    * its components from these rows, and the incremental new-slice
    * read ([[Dedup.nearDupAgainstStore]], q296) probes the buckets
    * with only the slice's own bands — the corpus text is never
    * re-shingled per query. Deletes are id-addressed row erasure
    * (band rows carry no cross-doc aggregation).
    */
  def bands(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "bands") { t =>
      Bucketing.writeBucketed(
        Dedup.minhashBands(Tables.documents(s, dir), "doc_id", "text")
          .withColumn("slice", pmod(col("doc_id"), lit(Generations))),
        t, Seq("band_hash"), buckets = 16, sortCols = Seq("band_hash"))
    }

  /** The LSH candidate-pair EDGE LIST (doc_a, doc_b, n_bands) over the
    * full band store as a written table — the dup-graph family's one
    * shared edge source (q65/q132/q133/q137/q149 and the [[dupMap]]
    * build): the band-bucket self-join runs ONCE at store build;
    * every graph read starts from these membership-scale edges
    * instead of re-pairing the buckets per query.
    */
  def lshPairs(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "lshpairs") {
      Dedup.lshCandidates(
          bands(s, dir)
            .select(col("doc_id"), col("band_id"), col("band_hash")),
          maxBucketSize = Int.MaxValue)
    }

  /** The PREVIOUS-generation dup map (components over band slices
    * ≤ 2) as a written table — q297's "standing map" artifact made
    * real: a deployment persists each generation's map; before this
    * store the incremental-ingest read re-walked the whole component
    * derivation per query.
    */
  def dupMapAsOf(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "dupmap2") {
      Dedup.connectedComponents(
          Dedup.lshCandidates(
            bands(s, dir).filter(col("slice") <= 2L)
              .select(col("doc_id"), col("band_id"), col("band_hash")),
            maxBucketSize = Int.MaxValue),
          "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component").as("rep"))
    }

  /** The near-dup CLUSTER map — (doc_id, rep) for every document that
    * participates in any MinHash/LSH near-dup component (rep = the
    * component's minimum doc_id, [[Dedup.connectedComponents]] over
    * the q65 candidate derivation); singleton docs are ABSENT (the
    * collapse read coalesces them to themselves), so the table is
    * membership-scale, not corpus-scale. This is the artifact a
    * result-page "group similar results" feature serves from — the
    * component walk runs once at ingest, never per query.
    */
  def dupMap(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "dupmap") {
      // components fold the WRITTEN pair edges ([[lshPairs]]) — the
      // minhash pipeline ran once at the band store's build, the
      // bucket pairing once at the edge store's; this build only
      // walks edges
      Dedup.connectedComponents(lshPairs(s, dir), "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component").as("rep"))
    }

  /** The char-trigram index store over [[vocab]] — the wildcard/infix
    * serving artifact (q266): (gram, token, df) bucketed by gram, so
    * an infix query is an AND over its grams' posting rows (pushed In
    * probes) plus a contains-verify on the candidates — never a
    * `contains` scan of the vocabulary.
    */
  def trigrams(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "tgram") { t =>
      Bucketing.writeBucketed(
        TextAnalysis.trigramNeighborhood(vocab(s, dir)),
        t, Seq("gram"), buckets = 16, sortCols = Seq("gram"))
    }

  /** The PQ family's fixed training regimen — m subspaces × subDim
    * dims, Lloyd-1 with ordered means (the q88/q89/q92 oracle
    * contract), coarse lists seeded from the first 8 vectors. At
    * 100 TB these are the offline-training hyperparameters; here they
    * are constants so every store table and every serving read agree
    * on the layout they were written under.
    */
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8

  /** The coarse IVF centroids as a written 8-row table — so the
    * IVF-PQ serving reads touch the embedding table ONLY for their
    * query vectors (q92/q98's previous coarse derivation was a
    * pushed-filter embeddings scan per query).
    */
  def pqCoarse(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "pqcoarse") {
      Tables.embeddings(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("c_vec"))
    }

  /** The LEARNED coarse IVF centroids (k-means seeds 0–7, two Lloyd
    * rounds, ordered means — the q78 regimen) as a written 8-row
    * table: training runs once at store build, so the learned-IVF
    * serving read (q78) and its recall audit (q87) load centroids
    * instead of re-running Lloyd over the corpus per query — the
    * [[pqCodebooks]] posture applied to the coarse quantizer.
    */
  def learnedCentroids(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "kmc") {
      graft.ops.Similarity.kmeansCentroids(Tables.embeddings(s, dir),
          "vec_id", "embedding", initIds = (0L until 8L).toSeq,
          iters = 2, orderedMeans = true)
    }

  /** The trained raw-vector PQ codebooks (sub, code, c_vec) — m×k*
    * rows. Training (a Lloyd pass over the corpus) runs ONCE at store
    * build; before this store q88/q89/q92 and the recall audits each
    * re-ran k-means per query — the r17 verdict's slowest
    * non-composition block.
    */
  def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "pqcb") {
      Pq.codebooks(Tables.embeddings(s, dir), "vec_id", "embedding",
          m = PqM, subDim = PqSubDim, initIds = Seq(0L, 1L, 2L, 3L),
          iters = 1, orderedMeans = true)
    }

  /** The encoded raw-vector code table (vec_id, centroid_id, sub,
    * code), centroid-bucketed like the IVF vector store — probed
    * reads (q92) reach only their lists' buckets; the full-scan ADC
    * read (q89) scans m narrow longs per vector instead of the
    * vectors. Encoding runs ONCE here; [[Pq.pqIngest]] appends new
    * slices at these fixed codebooks.
    */
  def pqCodes(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "pqcodes") { t =>
      Bucketing.writeBucketed(
        Pq.codeRows(Tables.embeddings(s, dir), "vec_id", "embedding",
          pqCodebooks(s, dir), pqCoarse(s, dir), m = PqM, subDim = PqSubDim),
        t, Seq("centroid_id"), buckets = 8, sortCols = Seq("centroid_id"))
    }

  /** [[pqCodebooks]]'s RESIDUAL sibling: codebooks trained on
    * (vec − assigned coarse centroid) — the Jégou-canonical IVF-PQ
    * regimen q98/q109 use (initIds 8–11: non-centroids, so the seed
    * residuals are nonzero; same Lloyd-1 ordered-means regimen as the
    * raw family for the equal-footing q108-vs-q109 recall comparison).
    */
  def pqResidualCodebooks(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "pqrcb") {
      Pq.codebooks(
          Pq.residuals(Tables.embeddings(s, dir), "vec_id", "embedding",
            pqCoarse(s, dir)),
          "vec_id", "rvec", m = PqM, subDim = PqSubDim,
          initIds = Seq(8L, 9L, 10L, 11L), iters = 1, orderedMeans = true)
    }

  /** The RESIDUAL code table for IVF-PQ serving (q98/q109) —
    * centroid-bucketed (vec_id, centroid_id, sub, code) where code
    * quantizes the vector's residual to its coarse centroid.
    */
  def pqResidualCodes(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "pqrcodes") { t =>
      Bucketing.writeBucketed(
        Pq.residualCodeRows(Tables.embeddings(s, dir), "vec_id",
          "embedding", pqResidualCodebooks(s, dir), pqCoarse(s, dir),
          m = PqM, subDim = PqSubDim),
        t, Seq("centroid_id"), buckets = 8, sortCols = Seq("centroid_id"))
    }

  /** The RETRAINED vector warehouse (q298) — the fixed-model
    * LIFECYCLE executed once per JVM, ending in the state the query
    * reads: model A (seeds 0–3) trains and the corpus's vectors
    * ingest as one generation at it; vec_ids 11 and 13 erase through
    * the delete log; then [[graft.jobs.ServingWarehouse.retrain]]
    * bumps the store to model B (seeds 4–7) — new codebooks trained
    * on the SURVIVORS, the code table re-encoded from them as a fresh
    * generation, the superseded generation watermarked. The q298
    * oracle recomputes a ONE-SHOT encode at model B over the
    * surviving vectors — the retrain-≡-rebuild identity.
    */
  def retrainedVectorWarehouse(s: SparkSession,
      dir: String): graft.jobs.ServingWarehouse.Tables = {
    import graft.jobs.ServingWarehouse
    val p = tableName("q298", dir)
    val t = ServingWarehouse.Tables(s"${p}_idx", s"${p}_pidx",
      s"${p}_edges", s"${p}_colloc", s"${p}_chunks", s"${p}_dict",
      s"${p}_delneigh", s"${p}_tgram", s"${p}_del", s"${p}_pq",
      s"${p}_pqcb", s"${p}_pqcoarse", s"${p}_bands")
    serve(s, t.pq) {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val model = ServingWarehouse.VectorModel(m = PqM, subDim = PqSubDim)
      ServingWarehouse.trainVectorModel(s, t, emb,
        coarseIds = Seq(0L, 1L), initIds = Seq(0L, 1L, 2L, 3L),
        model = model, buckets = 8)
      s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(0L, -1L)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("slice",
              org.apache.spark.sql.types.LongType, nullable = false))))
        .limit(0)
        .write.mode("overwrite").format("parquet").saveAsTable(t.deletes)
      ServingWarehouse.ingestVecsBatch(emb, id = 1L, t, buckets = 8)
      // the erasure request: two ids into the shared delete log
      s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(11L, -1L),
            org.apache.spark.sql.Row(13L, -1L)),
          s.table(t.deletes).schema)
        .write.mode("append").format("parquet").saveAsTable(t.deletes)
      ServingWarehouse.retrain(s, t, emb, emb,
        coarseIds = Seq(0L, 1L), initIds = Seq(4L, 5L, 6L, 7L),
        model = model, buckets = 8)
    }
    t
  }

  /** EXECUTE a compaction plan against a WRITTEN slice table — the
    * action half of the q261 read ([[graft.ops.Profile
    * .compactionPlan]] plans; this rewrites): each planned bin's
    * slices fold through the family's compact function
    * ([[TextAnalysis.indexCompact]] / positionalCompact /
    * [[graft.ops.Graph.edgeCompact]] — one shared slice-merge path
    * re-tagged with the bin's low generation id) into ONE replacement
    * slice; slices outside every bin (a partial plan) ride along
    * unchanged. Because every family's merge is associative,
    * compaction commutes with reads — the spec pins read-identity
    * before/after, the slice count dropping to the bin count, and a
    * follow-up plan finding no multi-slice bin left.
    *
    * Mechanics, in recovery-ordered steps:
    *   1. the replacement rows are materialized into a sibling
    *      `_compacting` table (source and target are the same table —
    *      a one-pass overwrite would read what it is deleting). A
    *      failure here drops the sibling; the target is untouched.
    *   2. the folded slice ids are appended to the `_wm` watermark
    *      sidecar ([[foldedSlices]]) BEFORE the swap: those ids' data
    *      now exists in folded form whichever way the swap goes, so
    *      an ingest replay guard reading the sidecar can never skip a
    *      batch that did not land.
    *   3. the target's generations are RE-LISTED: a writer may have
    *      appended a new slice since the write-aside scan, and the
    *      overwrite would silently discard it with nothing ever
    *      replaying it — new ids abort the swap loudly (target
    *      untouched, sibling dropped, a re-run re-plans and
    *      converges).
    *   4. the sibling is written back over the original. `saveAsTable`
    *      overwrite drops the target before writing, so a failure HERE
    *      leaves the sibling as the only surviving copy — it is kept,
    *      and the raise names it; [[recoverCompacting]] (or a re-run
    *      once the target is restored) completes the swap.
    *   5. on success only, the sibling is dropped.
    *
    * At 100 TB the second write is a metastore swap of the rewritten
    * files; the in-memory catalog here has no transactional rename,
    * so the write-twice stands in — the data passes through the
    * cluster once either way, and the plan is manifest-scale
    * (collected: one row per generation, never data-scale).
    */
  def compact(s: SparkSession, table: String, plan: DataFrame,
              compactFn: (DataFrame, Long) => DataFrame,
              bucketCols: Seq[String], buckets: Int,
              path: Option[String] = None): Unit = {
    val bins = plan
      .select(col("gen_lo").cast("long"), col("gen_hi").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (bins.isEmpty) return
    // an EXTERNAL table must be rewritten AT ITS OWN location — a bare
    // overwrite would silently recreate it MANAGED under the warehouse
    // dir, stranding the external files and migrating the store
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val keepPath =
      if (meta.tableType ==
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
        path.orElse(Some(meta.location.toString))
      else path
    val src = s.table(table)
    val inBin = bins.map { case (lo, hi) =>
      col("slice") >= lo && col("slice") <= hi }.reduce(_ || _)
    // ONE narrow-column listing of the generations at SNAPSHOT time:
    // the in-bin subset feeds the watermark sidecar (the ingest
    // replay guard must still recognize folded ids after the rewrite
    // re-tags them), and the full set is the baseline the pre-swap
    // concurrent-append check compares against
    val snapshotIds = src.select(col("slice").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    val folded = snapshotIds.toSeq.filter(id =>
      bins.exists { case (lo, hi) => id >= lo && id <= hi })
    // re-tag each bin with its low generation id CLAMPED to >= 0: a
    // negative id is a forget-request tag (ServingWarehouse contract),
    // and letting one survive as a LIVE slice tag would make a future
    // erasure that picks the same id silently skip at the ingest
    // guard. Non-negative tags can never be re-presented as new
    // requests (batch ids are monotone; replays are `_wm`-guarded),
    // and two bins sharing a clamped tag is harmless — every family
    // merge is an id-agnostic sum
    val compacted = bins.map { case (lo, hi) =>
      compactFn(src.filter(col("slice") >= lo && col("slice") <= hi),
        math.max(lo, 0L))
    }.reduce(_.unionByName(_))
    val out = compacted.unionByName(src.filter(!inBin))
    val tmp = table + "_compacting"
    try Bucketing.writeBucketed(out, tmp, bucketCols, buckets,
      sortCols = bucketCols)
    catch { case e: Throwable =>
      s.sql(s"DROP TABLE IF EXISTS $tmp"); throw e
    }
    compactPostAsideHook(s)
    // a writer may have appended a NEW generation between the
    // write-aside scan and this swap — the overwrite would silently
    // discard it, and the writer's checkpoint has already committed
    // its offset, so nothing would ever replay it (permanent loss).
    // Abort LOUDLY instead: the target is untouched, the sibling
    // stays, and a re-run re-plans over the grown table and
    // converges. The residual window between this re-list and the
    // overwrite is what a metastore's transactional swap closes at a
    // real deployment; here it shrinks to milliseconds.
    s.catalog.refreshTable(table)
    val newIds = s.table(table).select(col("slice").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet -- snapshotIds
    if (newIds.nonEmpty) {
      // the target is fully intact, so the stale sibling is redundant
      s.sql(s"DROP TABLE IF EXISTS $tmp")
      throw new IllegalStateException(
        s"Stores.compact: generation(s) ${newIds.toSeq.sorted.mkString(", ")} "
          + s"landed in $table after the write-aside scan — swapping "
          + "would silently discard them. Target untouched; re-run "
          + "compact (it re-plans over the grown table and converges)")
    }
    recordFolded(s, table, folded)
    try {
      compactSwapHook(s)
      Bucketing.writeBucketed(s.table(tmp), table, bucketCols, buckets,
        sortCols = bucketCols, path = keepPath)
    } catch { case e: Throwable =>
      // the overwrite may already have dropped the target — the
      // sibling is then the ONLY surviving copy. Leave it in place
      // and point at it; never make a failed maintenance job
      // unrecoverable.
      // the raise carries the original location: a failed overwrite
      // may have dropped the target's catalog entry, and recovery
      // could no longer learn where an EXTERNAL store lived
      throw new IllegalStateException(
        s"Stores.compact: write-back over $table failed; the compacted "
          + s"data SURVIVES in $tmp — restore with "
          + s"Stores.recoverCompacting(spark, \"$table\", "
          + s"Seq(${bucketCols.map("\"" + _ + "\"").mkString(", ")}), "
          + s"$buckets, path = ${keepPath.map("Some(\"" + _ + "\")")
            .getOrElse("None")})", e)
    }
    s.sql(s"DROP TABLE IF EXISTS $tmp")
  }

  /** Test seam for the compaction crash-safety pins: runs between the
    * write-aside and the write-back (CompactionSpec injects a failure
    * — optionally dropping the target first to simulate the overwrite
    * dying after its drop step). Production value is a no-op.
    */
  private[graft] var compactSwapHook: SparkSession => Unit = _ => ()

  /** Test seam for the concurrent-append abort pin: runs right after
    * the write-aside, BEFORE the generation re-list (CompactionSpec
    * appends a new slice here to stand in for a live writer racing
    * the swap). Production value is a no-op.
    */
  private[graft] var compactPostAsideHook: SparkSession => Unit = _ => ()

  /** Complete an interrupted write-aside + swap from the surviving
    * sibling table: re-run the write-back and drop the sibling. Call
    * when a maintenance rewrite failed AFTER its write-aside (the
    * raise names this function); the sibling holds the full
    * post-rewrite row set, so recovery is one bucketed write —
    * idempotent, converging, no re-merge. `from` overrides the
    * sibling name for rewrites that use a different suffix
    * ([[graft.jobs.ServingWarehouse.retrain]]'s `_retraining`);
    * default is [[compact]]'s `_compacting`. Run it BEFORE resuming
    * any ingest: the write-back is the sibling's snapshot, so a slice
    * appended to the target after the original write-aside is not in
    * it (recovery cannot re-check what a half-dropped target held).
    */
  def recoverCompacting(s: SparkSession, table: String,
                        bucketCols: Seq[String], buckets: Int,
                        path: Option[String] = None,
                        from: Option[String] = None): Unit = {
    val tmp = from.getOrElse(table + "_compacting")
    require(s.catalog.tableExists(tmp),
      s"recoverCompacting: no surviving $tmp — nothing to restore")
    Bucketing.writeBucketed(s.table(tmp), table, bucketCols, buckets,
      sortCols = bucketCols, path = path)
    s.sql(s"DROP TABLE IF EXISTS $tmp")
  }

  /** The compaction WATERMARK sidecar for a slice table: `table_wm`
    * holds one `slice` id per generation any past compaction folded
    * away. Compaction re-tags a bin's rows to its low generation id,
    * so the folded ids vanish from the table itself — without this
    * record, an at-least-once ingest replay of an old batch would
    * pass the live-slice existence probe and double-apply
    * (VERDICT r19 item 1). Exact ids (never a high-watermark range):
    * forget-request slice ids are caller-chosen negatives with no
    * ordering, and a range would silently swallow a NEW id that
    * happened to fall inside it. Manifest-scale: total generations
    * ever landed, one long each.
    */
  def foldedSlices(s: SparkSession, table: String): Set[Long] = {
    val wm = table + "_wm"
    if (!s.catalog.tableExists(wm)) return Set.empty
    // Memoized per process (r20 verdict item 4): ingestOnce consults
    // this on EVERY family of EVERY micro-batch, and the unmemoized
    // read was a refreshTable + parquet scan + collect — ~10 extra
    // Spark jobs per micro-batch at 10 families. The memo is keyed by
    // the sidecar table name and validated against a filesystem
    // fingerprint of the sidecar's files (count:bytes:maxMtime — one
    // local stat walk, no Spark job), so an append from ANY path —
    // this process's recordFolded (which also invalidates directly),
    // another session sharing the warehouse dir, or an out-of-band
    // restore — is picked up on the next call. Manifest-scale data
    // (one long per generation ever folded), so holding the set on
    // the heap is free.
    val fp = sidecarFingerprint(s, wm)
    val cached = foldedMemo.get(wm)
    if (cached != null && cached._1 == fp) return cached._2
    s.catalog.refreshTable(wm)
    val ids = s.table(wm).select(col("slice").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    // stamp with the fingerprint taken BEFORE the read (ADVICE r21): a
    // writer appending between the scan's file listing and a post-read
    // stamp would otherwise be captured by the stamp while the id set
    // predates it — masking the append until the NEXT sidecar change.
    // With the pre-read stamp that race merely mismatches on the next
    // call and forces one redundant re-read.
    foldedMemo.put(wm, (fp, ids))
    ids
  }

  /** Memo for [[foldedSlices]]: sidecar table → (file fingerprint at
    * read time, folded-id set). Invalidated by [[recordFolded]] and by
    * any fingerprint mismatch.
    */
  private val foldedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Set[Long])]()

  /** Cheap file-level fingerprint of a sidecar table's location —
    * count:bytes:maxMtime over its files, "absent" when the location
    * does not exist. One local filesystem walk, never a Spark job.
    */
  private def sidecarFingerprint(s: SparkSession, wm: String): String = {
    try {
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(wm)).location)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(loc)) "absent"
      else {
        val it = fs.listFiles(loc, true)
        var n = 0L; var bytes = 0L; var maxM = 0L
        while (it.hasNext) {
          val f = it.next()
          n += 1; bytes += f.getLen
          maxM = math.max(maxM, f.getModificationTime)
        }
        s"$n:$bytes:$maxM"
      }
    } catch { case _: Exception => "unknown:" + System.nanoTime() }
  }

  /** Append folded generation ids to a table's watermark sidecar —
    * called by [[compact]] before its swap (see the step ordering
    * there) and by a store rewrite that resets slice tags (e.g. the
    * vector-family retrain). Duplicate appends are harmless:
    * [[foldedSlices]] reads distinct.
    */
  private[graft] def recordFolded(s: SparkSession, table: String,
                                  ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    val wm = table + "_wm"
    val df = s.createDataFrame(
      java.util.Arrays.asList(ids.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("slice",
          org.apache.spark.sql.types.LongType, nullable = false))))
    df.write.mode("append").format("parquet").saveAsTable(wm)
    // direct invalidation besides the fingerprint check: the append
    // above may land within the fingerprint's mtime granularity
    foldedMemo.remove(wm)
  }

  /** The RAW transition-pair log as a written table — (user_id, ts,
    * event_id, item_id, nxt): the per-user ordering Window that
    * derives consecutive distinct item transitions runs ONCE here at
    * store build. [[edges]] and the slice-lifecycle reads
    * (q251/q255/q256, which need the raw pairs under their own slice
    * tagging, not the aggregated edge store) re-tag or fold THESE
    * rows instead of re-running the event-log Window per query — the
    * same ingest-time posture as every other store, applied to the
    * graph family's one expensive derivation.
    */
  def transitions(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "trans") {
      queries.GraphQueries.transitionPairs(s, dir)
    }

  /** Per-modality DECODE stores — the q150/q165/q186 outputs
    * materialized once per process (doc-count-scale narrow rows: ids,
    * flags, exact integer statistics). Decoding every image/audio/video
    * payload is an ingest-time job at a real deployment (a warehouse
    * never re-decodes binaries per analytical read); the completeness
    * scorecard (q189) joins these tables instead of re-running three
    * full decode passes. Built by invoking the DECLARED QUERIES
    * themselves — one code path, so the stored rows are the query
    * outputs by construction.
    */
  def imageDecode(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "imgdec") {
      SparkEntry.queries("q150_image_decode")(s, dir)
    }

  def audioDecode(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "auddec") {
      SparkEntry.queries("q165_audio_decode")(s, dir)
    }

  def videoFp(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "vidfp") {
      SparkEntry.queries("q186_video_fp")(s, dir)
    }

  /** The FROZEN per-domain quality cut points (domain, q_cut) — q118's
    * calibration artifact made real: "frozen" means computed once on
    * the calibration corpus and applied to every subsequent gate, so a
    * per-query re-derivation of the cuts (quality scoring + grouped
    * exact ntile over the whole corpus) was exactly the re-computation
    * the gate's own semantics say never happens. Built through the one
    * [[graft.streaming.StreamingGate.freezeCutPoints]] code path.
    */
  def frozenCuts(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "fcuts") {
      graft.streaming.StreamingGate.freezeCutPoints(
        Tables.documents(s, dir), "doc_id", "text", "source")
    }

  /** The decoded-image pHash table (q155's rows) — the image near-dup
    * family's serving artifact: a real pipeline fingerprints images at
    * ingest and answers neighbor queries from the hash table; before
    * this store q156 re-ran the decode+DCT pass per query (twice —
    * once for the corpus side, once for the probe side of its join).
    * Built by invoking the DECLARED q155 (the [[imageDecode]] rule:
    * one code path, stored rows = query output by construction).
    */
  def imagePhash(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "imgph") {
      SparkEntry.queries("q155_image_phash")(s, dir)
    }

  /** The corpus's tag vocabulary probe (≤ 64 distinct words → the
    * bitmask fast path applies), memoized per process per source — the
    * exact [[graft.ops.Dedup.jaccardPairs]] probe (distinct over the
    * per-doc deduped word sets, limit 65), hoisted so the q24/q160
    * family pays the probe's shuffle + collect once instead of per
    * query. Keyed by [[key]] (fingerprint + nonce) like every store.
    */
  private val tagVocabMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  def tagVocab(s: SparkSession, dir: String): Array[String] =
    tagVocabMemo.computeIfAbsent(key(dir), _ =>
      Tables.documents(s, dir)
        .select(explode(array_distinct(split(col("text"), " "))).as("w"))
        .distinct().limit(65).collect().map(_.getString(0)))

  /** The per-document word-set BITMASK table (doc_id, grp, n, mask)
    * over the ≤64-word tag vocabulary — the exact-similarity family's
    * serving artifact (q24 Jaccard, q160 containment): the tokenize +
    * dictionary-join + bit_or aggregation runs once per process at the
    * build; the pair joins score store rows O(1) per pair. None when
    * [[tagVocab]] probed more than 64 words: masks would silently drop
    * words, so the declared queries take the inverted-index path.
    */
  def wordMasks(s: SparkSession, dir: String): Option[DataFrame] = {
    val vocab = tagVocab(s, dir)
    if (vocab.length > 64) None
    else Some(materialized(s, dir, "wmask") {
      Dedup.wordMasks(Tables.documents(s, dir)
        .select(col("doc_id"), col("source").as("grp"),
          array_distinct(split(col("text"), " ")).as("ws")), vocab)
    })
  }

  /** The SPLIT positional-slice store — the q249/q250 lifecycle
    * warehouse: each long doc's text split in half (part B carrying
    * its start offset), whole short docs their own slice, aggregated
    * through the one [[TextAnalysis.positionalSlices]] code path and
    * written token-bucketed. Layout: partA→slice 0, partB→slice 1,
    * whole→slice 2 (q250's generations; q249's merge groups by
    * (token, doc_id) and never reads the slice tag, and whole/split
    * docs are disjoint id sets, so the same rows serve both reads
    * exactly). Before this store BOTH queries re-split and
    * re-posexploded the corpus per query; the offset-merge ≡ rescan
    * proof is unchanged — it runs at the store build, through the
    * identical derivation, and the oracles still recompute from the
    * raw corpus.
    */
  def splitPositional(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "spidx") { t =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val words = split(col("text"), " ")
      val n = size(words)
      val whole = d.filter(size(split(col("text"), " ")) < 4)
        .select(col("doc_id"), lit(2).as("slice"), col("text"),
          lit(0).as("off"))
      val big = d.filter(size(split(col("text"), " ")) >= 4)
      val half = floor(n / 2).cast("int")
      val partA = big.select(col("doc_id"), lit(0).as("slice"),
        array_join(slice(words, lit(1), half), " ").as("text"),
        lit(0).as("off"))
      val partB = big.select(col("doc_id"), lit(1).as("slice"),
        array_join(slice(words, half + 1, n - half), " ").as("text"),
        half.as("off"))
      TextAnalysis.writeIndexStore(
        TextAnalysis.positionalSlices(
          whole.unionByName(partA).unionByName(partB),
          "doc_id", "text", "slice", offsetCol = Some("off")),
        table = t, buckets = 16)
    }

  /** The transition-EDGE warehouse over `events`: src-bucketed
    * (slice, src, dst, w) slices from [[Graph.edgeSlices]] over the
    * shared [[queries.GraphQueries.transitionPairs]] pair log. The per-user
    * ordering Window that derives transitions runs ONCE here (the
    * ingest-time transform); every graph read — PageRank, cohesion,
    * k-hop, next-item — folds the store through [[Graph.edgeMerge]]
    * (zero-Exchange on the src buckets) instead of re-scanning the
    * event log.
    */
  def edges(s: SparkSession, dir: String): DataFrame =
    stored(s, dir, "edges") { t =>
      Graph.edgeSlices(
          transitions(s, dir)
            .withColumn("slice", pmod(col("user_id"), lit(Generations))),
          "item_id", "nxt", "slice")
        .write.mode("overwrite").format("parquet")
        .bucketBy(16, "src").sortBy("src").saveAsTable(t)
    }

  /** The standing erasure request (doc_id % 97 = 0 — the q276/q279
    * contract) applied through the single-call [[Forget.erase]]
    * cascade over the WRITTEN stores: every post-forget read
    * (q286–q291) picks its family's frame off this one derivation, so
    * the per-family erasure mechanics cannot drift between reads.
    * Laziness means a read executes only its own family's erasure;
    * the forgotten texts are ONE request-bounded broadcast semi-join
    * of the corpus (the q279 content-tombstone derivation).
    */
  private[graft] def erasedWarehouse(s: SparkSession,
                                     dir: String): Forget.Erased = {
    val ids = norms(s, dir).filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"))
    val forgotten = Tables.documents(s, dir)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    Forget.erase(index(s, dir), positional(s, dir),
      chunkSlices(s, dir), norms(s, dir),
      docMeta(s, dir), facetIndex(s, dir),
      pqCodes(s, dir), dupMap(s, dir),
      forgotten, tombSlice = 99L, forgetIds = Some(ids))
  }

  /** The standing erasure request's POST-FORGET index merges,
    * materialized once per process: before these,
    * every forget-family read (q286–q291) re-folded its family's
    * tombstone merge — the same slice-agnostic tf sum / position union
    * — per query. The merges derive from [[erasedWarehouse]] (one
    * erasure code path), so the stored rows are exactly what each
    * query's inline fold produced; only the request-scale row-erased
    * families (norms, metadata, facets, codes, dup map — broadcast
    * anti-joins) still derive inline.
    */
  def erasedIndexMerged(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "fidxm") {
      TextAnalysis.indexMergeSlices(erasedWarehouse(s, dir).index)
    }

  /** The post-forget CAPPED serving index (maxPostings = 1000) — the
    * shared artifact of the q288/q289 reads: the per-token rank Window
    * runs once at build, exactly the [[cappedIndex]] posture
    * applied to the erased warehouse.
    */
  def erasedIndexCapped(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, s"fcidx$MaxPostings") {
      TextAnalysis.cappedIndex(erasedIndexMerged(s, dir), MaxPostings)
    }

  def erasedChunksMerged(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "fchm") {
      TextAnalysis.indexMergeSlices(erasedWarehouse(s, dir).chunks)
    }

  def erasedPositionalMerged(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "fpidxm") {
      TextAnalysis.positionalMergeSlices(erasedWarehouse(s, dir).positional)
    }

  /** The declared stores (see the object doc), in declaration order:
    * the public members whose only parameter list is
    * `(s: SparkSession, dir: String)`.
    */
  private[graft] lazy val declared: Seq[java.lang.reflect.Method] = {
    import scala.reflect.runtime.{universe => ru}
    val storeParams = List(List(
      "s" -> "org.apache.spark.sql.SparkSession", "dir" -> "java.lang.String"))
    ru.typeOf[Stores.type].decls.sorted
      .filter(m => m.isMethod && m.isPublic && m.asMethod.paramLists.map(_.map(p =>
        (p.name.toString, p.typeSignature.typeSymbol.fullName))) == storeParams)
      .map(m => getClass.getMethod(m.name.toString, classOf[SparkSession],
        classOf[String]))
  }

  /** Build every declared store for `dir`, the independent builds
    * submitted from a bounded thread pool (guide §2.6: actions are
    * only sequential because the driver calls them sequentially — a
    * store build's tail leaves most cores idle, and the next build's
    * tasks back-fill them). Used by the bench's untimed warm pass:
    * first-touch builds otherwise run one at a time, each through its
    * own stragglers. Safe by the [[serve]] contract — per-table locks,
    * double-checked build, and an ACYCLIC store dependency graph
    * (cappedIndex → index, dupMap → lshPairs → bands), so two threads
    * wanting the same table build it once and nested builds always
    * acquire locks in dependency order (no cycles, no deadlock). Job
    * descriptions are thread-local, so each build labels its own jobs.
    * A build that throws a non-fatal error is logged by name and left
    * to the first query that needs the table, which retries the build
    * and surfaces the real error in its own timed/verified context
    * instead of aborting the whole bench. Fatal errors and interrupts
    * are not caught, and each wait is bounded by
    * [[PrewarmWaitMinutes]]: either one fails the prewarm, naming the
    * store.
    */
  def prewarm(s: SparkSession, dir: String, parallelism: Int): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, parallelism))
    try {
      val fs = declared.map { m =>
        val name = m.getName
        name -> pool.submit(new Runnable {
          def run(): Unit = {
            try {
              s.sparkContext.setJobDescription(s"prewarm: $name @ $dir")
              try m.invoke(Stores, s, dir)
              catch { case e: InvocationTargetException => throw e.getCause }
            } catch { case NonFatal(e) =>
              System.err.println(s"[prewarm] $name @ $dir failed: $e")
            } finally s.sparkContext.setJobDescription(null)
          }
        })
      }
      fs.foreach { case (name, f) =>
        try f.get(PrewarmWaitMinutes, TimeUnit.MINUTES)
        catch {
          case e: InterruptedException =>
            Thread.currentThread().interrupt()
            throw e
          case _: TimeoutException =>
            throw new TimeoutException(s"Stores.prewarm: $name @ $dir " +
              s"still building after $PrewarmWaitMinutes min")
          case e: ExecutionException =>
            throw new IllegalStateException(
              s"Stores.prewarm: $name @ $dir died", e.getCause)
        }
      }
    } finally pool.shutdownNow()
  }

  /** Bound on the wait for any one store's prewarm build. */
  private val PrewarmWaitMinutes = 30L
}
