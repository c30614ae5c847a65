package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** STORED inverted text index: ranked retrieval as tables, not a session
  * object — the text twin of [[AnnIndex]].
  *
  * [[graft.functions.TextStats.tfidfCosinePairs]] rebuilds term
  * statistics per call; right for one-shot analytics, wrong for a
  * serving corpus where the expensive part (tokenize + posting-list
  * aggregation over 10^9+ docs) should run ONCE and every query after
  * that should touch only the shards its terms live in. The index is
  * one versioned bundle ([[graft.sources.Catalog.commitBundle]] — every
  * version's `_manifest` lists the file sets of each member) with two
  * members:
  *
  *   postings — (term, doc_id, tf, dl, positions) PARTITIONED BY shard
  *     (declared in the manifest), where shard = md5-prefix(term) % 16:
  *     a term's whole posting list lives in one shard directory of each
  *     file set, and dl (doc token length) rides denormalized on every
  *     posting the way Lucene stores norms — scoring never joins a
  *     corpus-sized side table;
  *   meta     — one (n_docs, sum_dl) delta row per committed batch (a
  *     takedown adds a negative one), the corpus stats BM25 needs,
  *     derived from that batch's postings so build and serve can never
  *     disagree about the corpus.
  *
  * Serving plans shards on the DRIVER (md5 of the query's own terms —
  * bounded by |terms|) and scans ONLY those shard directories: the
  * `shard IN (...)` predicate is a static partition filter
  * (TextIndexSpec-pinned, same mechanism as AnnIndex's probed cells), so
  * a 3-term query against a 16-shard index reads at most 3/16 of the
  * postings on disk regardless of corpus size. Because shard is a
  * function of the term alone, a term's pruned document frequency IS its
  * global document frequency — no unpruned pass needed for idf.
  *
  * The md5-prefix shard hash is engine-portable arithmetic (the same
  * `conv(substring(md5(..)))` family as `Dedup.sampledDupRate`), computed
  * identically by the Spark build (`shardCol`) and the driver-side query
  * planner (`shardOf`) — one definition each side of the same bytes.
  */
object TextIndex {

  val nShards = 16

  /** Shard of a term, build side: first 4 md5 hex chars as int % 16. */
  def shardCol(term: Column): Column =
    conv(substring(md5(term), 1, 4), 16, 10).cast("int") % nShards

  /** Shard of a term, driver/query side — same arithmetic on the same
    * UTF-8 bytes as [[shardCol]].
    */
  def shardOf(term: String): Int = {
    val d = MessageDigest.getInstance("MD5").digest(term.getBytes("UTF-8"))
    val hex = f"${d(0) & 0xff}%02x${d(1) & 0xff}%02x"
    Integer.parseInt(hex, 16) % nShards
  }

  /** Lowercased whitespace terms of a doc — the one tokenizer both the
    * build and every query-side df/tf computation share.
    */
  def terms(text: Column): Column =
    graft.functions.TextStats.tokens(lower(text))

  /** The posting rows of a document batch: one tokenize pass aggregates
    * (term, doc) term frequency + the term's sorted token positions
    * (Lucene-style positional postings — what phrase queries replay),
    * denormalizes the doc length onto each posting, and stamps the term
    * shard. Shared verbatim by [[writeBundle]], [[reindexBundle]] and
    * the incremental [[appendBundle]], so a delta batch is indexed by
    * EXACTLY the build's arithmetic.
    */
  private def postings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), terms(col(textCol)).as("__t"))
    toks.select(col("doc_id"), size(col("__t")).as("dl"),
        posexplode(col("__t")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("shard", shardCol(col("term")))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), col("shard"))
  }

  /** The probe-shard postings scan every serve starts from: shards
    * planned on the driver from the query's own terms, bound as a static
    * partition filter (it prunes every committed file set's directory
    * listing); the term predicate then narrows within the shard.
    */
  private def prunedFrom(postingsAll: DataFrame,
      ts: Seq[String]): DataFrame = {
    val shards = ts.map(shardOf).distinct.sorted
    postingsAll
      .where(col("shard").isin(shards.map(Integer.valueOf): _*)
        && col("term").isin(ts: _*))
  }

  /** Per-(term, doc) BM25 term scores of the pruned postings of `ts`,
    * each rounded and scaled to an exact integer `__sx` — the arithmetic
    * the single and the batched serve share ([[bm25SearchBundle]] gives
    * the formula).
    */
  private def termScores(postingsAll: DataFrame, nDocs: Long, sumDl: Long,
      ts: Seq[String]): DataFrame = {
    val avgdl = sumDl.toDouble / nDocs
    val dfW = Window.partitionBy(col("term"))
    prunedFrom(postingsAll, ts)
      .withColumn("__df", count(lit(1)).over(dfW))
      .withColumn("__idf", round(
        log((lit(nDocs.toDouble) - col("__df") + lit(0.5))
          / (col("__df") + lit(0.5)) + lit(1.0)), 8))
      .withColumn("__tfn", (col("tf") * lit(2.2))
        / (col("tf") + lit(1.2) * (lit(0.25)
          + lit(0.75) * (col("dl") / lit(avgdl)))))
      .withColumn("__sx",
        round(col("__idf") * col("__tfn") * lit(10000.0), 0).cast("long"))
  }

  // ------------- the manifest IS the ledger -------------

  /** One (n_docs, sum_dl) row describing a batch's postings — the
    * meta member is LSM-style: every commit/append lands one delta row,
    * and [[bundleStats]] sums them at serve. Correct because a doc
    * arrives in exactly one batch (the caller's contract for every
    * ingest), so per-batch distinct doc counts add up to the corpus's.
    * Derived from the batch's own postings frame, so the stored stats
    * always describe exactly the postings that landed beside them.
    */
  private def batchMeta(batchPostings: DataFrame): DataFrame =
    batchPostings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("sum_dl"))
      .repartition(1)

  /** Build + commit the index ([[graft.sources.Catalog.commitBundle]]),
    * the text twin of [[AnnIndex.writeBundle]]: postings
    * (shard-partitioned, declared in the manifest so appends and
    * compaction preserve the pruning layout) and the batch's meta delta
    * publish in ONE staged-directory rename — a crash mid-rebuild can
    * never leave postings beside stats describing a different corpus.
    * Zero-token docs hold no postings and can never match a term — they
    * are absent from the index and its stats by construction.
    * `seedBatchIds` records the creating batch(es) in the manifest's
    * ledger, closing the create-replay window. The postings frame is
    * persisted across the two member writes so the corpus is tokenized
    * once.
    */
  def writeBundle(docs: DataFrame, root: String, name: String,
      idCol: String = "doc_id", textCol: String = "text",
      seedBatchIds: Seq[String] = Nil): Long = {
    val p = postings(docs, idCol, textCol).persist()
    // materialize BEFORE the commit: the two member writes (postings,
    // the meta delta derived from them) run as overlapped jobs inside
    // commitBundle, and racing on a lazily-persisted frame serializes
    // both on the block locks (graft.Lifecycle's parallel-consumers
    // rule) — one count() runs the tokenize pipeline exactly once
    p.count()
    try Catalog.commitBundle(
      Seq("postings" -> p, "meta" -> batchMeta(p)),
      root, name, seedBatchIds, partitionBy = Map("postings" -> Seq("shard")))
    finally { p.unpersist(); () }
  }

  /** Blue/green REINDEX — the text twin of
    * [[AnnIndex.reindexBundle]]: re-tokenize the current corpus and
    * republish postings + a fresh one-row meta snapshot as ONE
    * superseding version with the batch LEDGER carried over (a plain
    * [[writeBundle]] would reset it — replayed historic batches would
    * re-ingest after the rebuild) and `supersedes` protection (a batch
    * landing between this rebuild's read and its commit fails the
    * reindex loudly instead of silently vanishing). The periodic
    * maintenance for tokenizer changes or accumulated takedown debt;
    * serves pinned at the old version keep answering it until
    * retention.
    */
  def reindexBundle(spark: SparkSession, root: String, name: String,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Long = {
    val pv = Catalog.resolveVersion(spark, root, name, None,
      "TextIndex.reindexBundle")
    val prior = Catalog.bundleManifest(spark, root, name, Some(pv))
    val p = postings(docs, idCol, textCol).persist()
    p.count() // one tokenize pass before the overlapped member writes
    try Catalog.commitBundle(
      Seq("postings" -> p, "meta" -> batchMeta(p)),
      root, name, prior.batches,
      partitionBy = Map("postings" -> Seq("shard")),
      supersedes = Some(pv))
    finally { p.unpersist(); () }
  }

  /** LEDGERED incremental append — the text twin of the ANN index's
    * frozen-quantizer append: tokenize ONLY the new batch and land its
    * posting rows as a new file set via
    * [[graft.sources.Catalog.appendBundle]] (resident file sets are never
    * rewritten), with the batch id IN the manifest, so a replayed append
    * returns false with the index untouched — duplicate posting rows
    * would double a term's tf AND df, silently inflating every BM25
    * score the doc appears in. The batch's meta delta rides in the same
    * atomic version, so corpus stats and postings can never disagree.
    * Correct because posting rows are keyed by (term, doc): as long as a
    * doc arrives in exactly one batch (the caller's contract), the union
    * of the file sets is the row set a one-shot build produces, and every
    * serve (boolean / phrase / BM25, whose df counts posting rows per
    * term) is oblivious to which batch a row came from.
    * [[graft.sources.Catalog.compactBundle]] collapses the file sets many
    * appends leave, with the ledger preserved.
    */
  def appendBundle(spark: SparkSession, root: String, name: String,
      docs: DataFrame, batchId: String, idCol: String = "doc_id",
      textCol: String = "text"): Boolean = {
    val p = postings(docs, idCol, textCol).persist()
    p.count() // one tokenize pass before the overlapped member writes
    try Catalog.appendBundle(
      Seq("postings" -> p, "meta" -> batchMeta(p)),
      root, name, batchId)
    finally { p.unpersist(); () }
  }

  /** Corpus stats off the bundle AT a resolved version: the meta
    * member's delta rows summed — bounded at one row per ingested batch
    * (compaction collapses the file sets; the rows still sum
    * identically). Memoized under the version
    * ([[graft.sources.Catalog.memoAtBundle]]): one collect per version.
    */
  private def bundleStats(spark: SparkSession, root: String,
      name: String, version: Long): (Long, Long) =
    Catalog.memoAtBundle(spark, root, name, version, "textindex.stats") {
      val r = Catalog.readBundleTable(spark, root, name, "meta", Some(version))
        .agg(coalesce(sum(col("n_docs")), lit(0L)),
          coalesce(sum(col("sum_dl")), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }

  /** Conjunctive (every-term) match: the pruned postings of the query
    * terms, grouped by doc, kept when the doc holds ALL of them. Postings
    * are resolved through one committed manifest version
    * ([[graft.sources.Catalog.resolveVersion]]), so a serve can never see
    * a half-rebuilt index. Returns (doc_id); ordering is the caller's.
    */
  def booleanSearchBundle(spark: SparkSession, root: String, name: String,
      queryTerms: Seq[String], version: Option[Long] = None): DataFrame = {
    val postingsAll = Catalog.readBundleTable(spark, root, name, "postings",
      Some(Catalog.resolveVersion(spark, root, name, version,
        "TextIndex.booleanSearchBundle")))
    require(queryTerms.nonEmpty, "booleanSearchBundle: no terms")
    val ts = queryTerms.distinct
    prunedFrom(postingsAll, ts)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("__nt"))
      .where(col("__nt") === ts.size)
      .select(col("doc_id"))
  }

  /** BM25 top-k over the stored index (disjunctive, the classic ranked
    * retrieval): per-(term, doc) score
    *
    *   idf(t) * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    *   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * with Lucene's defaults k1=1.2, b=0.75. df comes from a window over
    * the term's own shard-resident postings (= global df, see the object
    * doc); N/avgdl from the summed meta delta rows ([[bundleStats]]).
    * Each term score is rounded and scaled to an exact integer (×10⁴)
    * BEFORE the per-doc sum, so the doc score is an order-free long sum —
    * no float-summation-order flake between engines — and the top-k is a
    * distributed TakeOrdered on (score desc, doc_id), never a global
    * window over the candidates. Returns (doc_id, score_x10k, rank).
    *
    * `within` (one id column, any name) restricts the CANDIDATE set —
    * the production filtered-search shape (a metadata predicate
    * resolved to allowed ids). Lucene semantics: the corpus statistics
    * (N, avgdl, df) stay GLOBAL — a filter narrows who may be returned,
    * not what words mean — so the semi-join applies after per-posting
    * scoring, before the top-k; per-doc scores are identical filtered
    * or not, ranks renumber within the filtered set.
    *
    * Postings AND the meta stats resolve at ONE version
    * ([[graft.sources.Catalog.resolveVersion]]), so the idf / avgdl
    * arithmetic always describes exactly the postings it scores. Pass
    * `Some(v)` for explicit time-travel serving.
    */
  def bm25SearchBundle(spark: SparkSession, root: String, name: String,
      queryTerms: Seq[String], k: Int,
      within: Option[DataFrame] = None,
      version: Option[Long] = None): DataFrame = {
    val v = Catalog.resolveVersion(spark, root, name, version,
      "TextIndex.bm25SearchBundle")
    val (nDocs, sumDl) = bundleStats(spark, root, name, v)
    require(queryTerms.nonEmpty, "bm25SearchBundle: no terms")
    require(nDocs > 0, "bm25SearchBundle: empty index (no documents)")
    val scored = termScores(
      Catalog.readBundleTable(spark, root, name, "postings", Some(v)),
      nDocs, sumDl, queryTerms.distinct)
    val eligible = within.fold(scored) { w =>
      val ids = w.select(col(w.columns.head).as("__within_id"))
      scored.join(ids, scored("doc_id") === ids("__within_id"), "left_semi")
    }
    val top = eligible.groupBy(col("doc_id"))
      .agg(sum(col("__sx")).as("score_x10k"))
      .orderBy(col("score_x10k").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rank", row_number().over(
      Window.orderBy(col("score_x10k").desc, col("doc_id"))))
  }

  /** BATCHED BM25 — N queries' top-k in ONE plan, the shape an offline
    * eval or bulk re-embedding pipeline runs: `queryTerms` is (qid,
    * terms) pairs; the postings scan is pruned ONCE to the union of all
    * queries' term shards, a broadcast (qid, term) table fans each
    * posting row out to exactly the queries that asked for its term,
    * and per-(qid, doc) scores sum only that query's terms. Per-term
    * arithmetic is [[bm25SearchBundle]]'s exactly (df is the term's
    * global posting count — independent of which queries mention it), so
    * a one-query batch replays the single serve verbatim. The top-k is a
    * qid-partitioned window: per-partition rows are one query's
    * candidates (bounded by its terms' document frequencies), and
    * queries rank in parallel — never the single-partition global
    * window the one-query path avoids with TakeOrdered. Returns
    * (qid, doc_id, score_x10k, rank).
    *
    * `within` is ONE allowed-id set shared by every query;
    * `withinPairs` is PER-QUERY eligibility as (qid, id) rows — the
    * per-request ACL shape of a bulk serving tier. Both may be set;
    * a doc must pass both. Either filter lands AFTER the broadcast qid
    * fan-out and BEFORE the per-(qid, doc) score sum and top-k window,
    * so global BM25 statistics are untouched (a filter narrows who may
    * return, never what words mean) and the per-qid semantics equal
    * the single serve with that query's own allowed set.
    *
    * Postings and corpus stats resolve at ONE version
    * ([[graft.sources.Catalog.resolveVersion]]).
    */
  def bm25SearchBatchBundle(spark: SparkSession, root: String, name: String,
      queryTerms: Seq[(Long, Seq[String])], k: Int,
      within: Option[DataFrame] = None,
      version: Option[Long] = None,
      withinPairs: Option[DataFrame] = None): DataFrame = {
    val v = Catalog.resolveVersion(spark, root, name, version,
      "TextIndex.bm25SearchBatchBundle")
    val (nDocs, sumDl) = bundleStats(spark, root, name, v)
    require(queryTerms.nonEmpty && queryTerms.forall(_._2.nonEmpty),
      "bm25SearchBatchBundle: every query needs terms")
    require(queryTerms.map(_._1).distinct.size == queryTerms.size,
      "bm25SearchBatchBundle: duplicate qid")
    require(nDocs > 0, "bm25SearchBatchBundle: empty index (no documents)")
    val scored = termScores(
      Catalog.readBundleTable(spark, root, name, "postings", Some(v)),
      nDocs, sumDl, queryTerms.flatMap(_._2).distinct)
    val qt = spark.createDataFrame(
        queryTerms.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    val perQ = scored.join(broadcast(qt), Seq("term"))
    val shared = within.fold(perQ) { w =>
      val ids = w.select(col(w.columns.head).as("__within_id"))
      perQ.join(ids, perQ("doc_id") === ids("__within_id"), "left_semi")
    }
    val eligible = withinPairs.fold(shared) { wp =>
      val cs = wp.columns
      val pairs = wp.select(col(cs(0)).as("qid"), col(cs(1)).as("doc_id"))
      shared.join(pairs, Seq("qid", "doc_id"), "left_semi")
    }
    val rw = Window.partitionBy(col("qid"))
      .orderBy(col("score_x10k").desc, col("doc_id"))
    eligible.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("__sx")).as("score_x10k"))
      .withColumn("rank", row_number().over(rw))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("score_x10k"), col("rank"))
  }

  /** Exact phrase match from the positional postings — the query shape
    * boolean AND cannot express ("table hash" as adjacent tokens, not
    * co-occurrence). Classic positional-intersection: slot i of the
    * phrase contributes its postings' positions shifted by −i, and a doc
    * matches once per position common to ALL slots (a common shifted
    * position p means tokens p..p+n−1 spell the phrase). The scan is the
    * same driver-planned shard prune as every other serve, over the
    * postings at one resolved version; the slot table is |phrase| rows,
    * broadcast. Repeated words in the phrase just bind the same posting
    * row to two slots. Returns (doc_id, n_occ ≥ 1); ordering is the
    * caller's.
    */
  def phraseSearchBundle(spark: SparkSession, root: String, name: String,
      phrase: Seq[String], version: Option[Long] = None): DataFrame = {
    val postingsAll = Catalog.readBundleTable(spark, root, name, "postings",
      Some(Catalog.resolveVersion(spark, root, name, version,
        "TextIndex.phraseSearchBundle")))
    require(phrase.nonEmpty, "phraseSearchBundle: empty phrase")
    val slots = spark.createDataFrame(phrase.zipWithIndex)
      .toDF("term", "idx")
    val bound = prunedFrom(postingsAll, phrase.distinct)
      .join(broadcast(slots), Seq("term"))
      .select(col("doc_id"),
        transform(col("positions"), p => p - col("idx")).as("__adj"))
    bound.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__nslots"), collect_list(col("__adj")).as("__as"))
      .where(col("__nslots") === phrase.size)
      .withColumn("n_occ", size(aggregate(
        slice(col("__as"), 2, phrase.size - 1),
        element_at(col("__as"), 1),
        (acc, a) => array_intersect(acc, a))).cast("long"))
      .where(col("n_occ") > 0)
      .select(col("doc_id"), col("n_occ"))
  }

  /** TAKEDOWN: remove a document id set from the bundle-backed index in
    * ONE atomic version (contamination removal, copyright /
    * right-to-be-forgotten deletes — the operation a production corpus
    * store fields routinely at 100 TB): postings lose the removed
    * docs' rows by a broadcast anti-join (takedown lists are small;
    * the postings scan is one pass, shard layout preserved by the
    * manifest), and the corpus stats are COMPENSATED with one negative
    * (−n_docs, −sum_dl) delta row computed from the removed docs' own
    * current postings — the same LSM shape the ingest deltas use, so
    * [[bundleStats]]' sum is exact after any interleaving of ingests
    * and takedowns. The batch ledger carries over (a takedown must not
    * reopen replayed batches), every serve after the flip is
    * bit-equivalent to an index rebuilt without the docs
    * (TextIndexSpec pins BM25/boolean/phrase), and the removed rows
    * physically leave disk at [[graft.sources.Catalog.pruneBundleVersions]]
    * retention — run it after a takedown that must be durable.
    * `ids`: one id column, any name.
    */
  def retractBundle(spark: SparkSession, root: String, name: String,
      ids: DataFrame): Long = {
    val rm = broadcast(ids.select(col(ids.columns.head).as("__rm_id")))
    // the compensation row reads the postings member too — resolve the
    // version HERE and pin both the rewrite baseline and this read to
    // it, so the negative delta always describes exactly the postings
    // being rewritten
    val v = Catalog.resolveVersion(spark, root, name, None,
      "TextIndex.retractBundle")
    Catalog.rewriteBundleMembers(spark, root, name, Map(
      "postings" -> ((p: DataFrame) =>
        p.join(rm, p("doc_id") === rm("__rm_id"), "left_anti")),
      "meta" -> ((m: DataFrame) => {
        val comp = Catalog.readBundleTable(spark, root, name, "postings",
            Some(v))
          .join(rm, col("doc_id") === rm("__rm_id"), "left_semi")
          .select(col("doc_id"), col("dl")).distinct()
          .agg((-count(lit(1))).as("n_docs"),
            (-coalesce(sum(col("dl").cast("long")), lit(0L))).as("sum_dl"))
          .repartition(1)
        m.unionByName(comp)
      })), version = Some(v))
  }
}
