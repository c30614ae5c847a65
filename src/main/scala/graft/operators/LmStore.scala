package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextStats
import graft.sources.Catalog

/** Mergeable unigram-LM count store — the model store whose sufficient
  * statistic MERGES: unlike the frozen DSIR LM pair
  * ([[graft.streaming.DsirStream.freezeLms]] — fit once, serve forever)
  * or the frozen BPE merges, a unigram LM is fully determined by its
  * word-count table, and counts merge by ADDITION. So the store holds
  * the FULL count table (Heaps-bounded — a vanishing fraction of the
  * corpus) and absorbs a document batch as one vocab-sized count delta,
  * never a corpus rescan; the top-K vocabulary and the add-one
  * denominator derive from the stored counts at load time under exactly
  * `unigramLm`'s convention, so a model loaded after N batch ingests is
  * bit-identical to one fitted on the concatenated corpus (spec-pinned
  * ingest ≡ refit).
  *
  * The store is a versioned bundle
  * ([[writeBundle]]/[[ingestBundle]]/[[loadBundle]]) and ingest is
  * LEDGERED like the pair store
  * ([[graft.operators.Dedup.ingestPairBundle]]): counts double on
  * replay, so a batch id already in the manifest is rejected — data and
  * replay ledger publish in one rename, no window at all. Each ingest
  * APPENDS the batch's own count delta as a new file set (LSM-style;
  * resident counts never rewritten), the load group-sums across file
  * sets, and [[graft.sources.Catalog.compactBundle]] collapses the
  * deltas with the ledger preserved.
  */
object LmStore {

  /** Word-count table of a corpus slice: (tok, c) — the LM's sufficient
    * statistic, one hash shuffle with map-side partials.
    */
  def counts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextStats.tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))

  /** `unigramLm`'s load convention off a merged count frame: top-K
    * vocab `(tok, c)` (count-desc/token-asc), add-one denominator
    * `n + v + 1` over the TOTAL token count. Driver traffic: one K-row
    * collect + one 1-row sum — same as in-query fitting.
    */
  private def lmFromCounts(spark: SparkSession, cnt: DataFrame,
      vocabSize: Int): (DataFrame, Double) = {
    require(vocabSize > 0, s"vocabSize=$vocabSize must be positive")
    val top = cnt.orderBy(col("c").desc, col("tok")).limit(vocabSize).collect()
    val nRow = cnt.agg(sum(col("c"))).collect()(0)
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val vocabDf = spark.createDataFrame(
      spark.sparkContext.parallelize(top.toIndexedSeq, 1),
      new org.apache.spark.sql.types.StructType()
        .add("tok", "string").add("c", "long"))
    (vocabDf, (n + top.length + 1).toDouble)
  }

  /** Build the count store ON the atomic bundle store
    * ([[graft.sources.Catalog.commitBundle]]). `seedBatchIds` records
    * the creating batch(es) in the manifest itself: there is no moment
    * where the counts are committed but the creating batch's ledger
    * entry is not — they are the same rename. Replaying the CREATE is
    * also safe: a second snapshot commit with identical content
    * supersedes the first (readers resolve the latest committed version
    * only).
    */
  def writeBundle(docs: DataFrame, textCol: String, root: String,
      name: String, seedBatchIds: Seq[String] = Nil): Long =
    Catalog.commitBundle(Seq("counts" -> counts(docs, textCol)), root,
      name, seedBatchIds)

  /** Ledgered ingest as an LSM-style DELTA append: the batch's own count
    * table lands as a NEW file set via
    * [[graft.sources.Catalog.appendBundle]] — resident counts are never
    * rewritten, and the batch id rides in the manifest, so data and
    * replay guard publish atomically. Returns true iff ingested (false =
    * replay, store untouched). Counts merge by addition, so deferring the merge to
    * [[loadBundle]]'s group-sum is exact; after many batches,
    * [[graft.sources.Catalog.compactBundle]] collapses the deltas into
    * one file set with the ledger preserved.
    */
  def ingestBundle(batch: DataFrame, textCol: String, root: String,
      name: String, batchId: String): Boolean =
    Catalog.appendBundle(Seq("counts" -> counts(batch, textCol)), root,
      name, batchId)

  /** TAKEDOWN: subtract a removed document batch's counts from the
    * bundle store — counts are an additive monoid, so retraction is
    * just a NEGATIVE delta appended through the same ledgered path
    * ([[graft.sources.Catalog.appendBundle]], batch id in the
    * manifest): O(removed batch), never a store rewrite, replayed
    * takedowns rejected like any batch, [[loadBundle]]'s group-sum
    * exact after any interleaving. Caller contract (same as every
    * ingest path): `removed` is exactly the docs previously ingested —
    * retracting text that never entered the store drives counts
    * negative.
    */
  def retractBundle(removed: DataFrame, textCol: String, root: String,
      name: String, batchId: String): Boolean =
    Catalog.appendBundle(Seq("counts" ->
        counts(removed, textCol).select(col("tok"), (-col("c")).as("c"))),
      root, name, batchId)

  /** Load the LM off the bundle store: group-sum the delta file sets
    * (exact — counts are an additive monoid), then `unigramLm`'s top-K
    * convention ([[lmFromCounts]]), so bundle-served ≡ refit.
    * Fully-retracted tokens group-sum to c = 0 ([[retractBundle]]'s
    * negative deltas) — filtered out BEFORE the top-K, else a corpus
    * left with fewer than vocabSize live tokens would admit ghost
    * tokens into the vocab and shift the smoothing denominator,
    * breaking bundle-served ≡ refit. `version` pins the read for
    * time-travel serving (None = latest; counts are one member, so a
    * single read is already torn-proof).
    */
  def loadBundle(spark: SparkSession, root: String, name: String,
      vocabSize: Int, version: Option[Long] = None): (DataFrame, Double) =
    lmFromCounts(spark,
      Catalog.readBundleTable(spark, root, name, "counts", version)
        .groupBy(col("tok")).agg(sum(col("c")).as("c"))
        .where(col("c") > 0),
      vocabSize)
}
