package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Num.roundz

import graft.functions.{Staging, TextStats}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the point of every choice here):
  *   - No O(n²): near-dup candidate generation is LSH banding — explode to
  *     (band, bucket) keys, shuffle groups documents only with their bucket
  *     peers. 100 TB of documents shuffles ~bands×n small rows, not n².
  *   - Signatures are pure higher-order-function expressions over the token
  *     array (xxhash64 + transform/aggregate) — codegen-eligible, no UDF.
  *   - Skew guard: a degenerate bucket (e.g. the empty document) would
  *     quadratically blow up one task; buckets above `maxBucketSize` are
  *     dropped and the drop is observable via `droppedBuckets`.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup summary: one row per distinct content hash with the
    * canonical (minimum) id and the duplicate count. `sha2(text, 256)` so
    * collisions are out of the picture at any corpus size.
    */
  def exactSummary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Keep exactly one row (minimum id) per distinct text. One shuffle on
    * the content hash; survivors join back by id (broadcast-able if the
    * summary is small, semi-join otherwise — Catalyst/AQE decides).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactSummary(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact-dup RATE estimated from a hash-bucket sample — corpus
    * observability at a fraction of the full-group cost. The content space
    * is split into `buckets` md5 buckets and only buckets `< sampled` are
    * grouped; because EVERY copy of a text lands in the same bucket, a
    * sampled bucket contains its duplicate groups WHOLE, so
    * Σ(count−1)/Σcount over the sample estimates the corpus dup rate
    * without the usual row-sampling bias (row-sampling a pair keeps both
    * copies with probability p², collapsing the observed rate; bucket
    * sampling keeps groups intact with probability p).
    *
    * Scale shape: the bucket predicate filters map-side BEFORE the
    * group-by, so the shuffle carries ~sampled/buckets of the corpus; the
    * output is one bounded row. `sampled = buckets` degenerates to the
    * exact full-corpus rate. md5 (not xxhash64) keeps the bucketing
    * engine-portable, so an external system replays the exact sample.
    */
  def sampledDupRate(df: DataFrame, textCol: String,
      buckets: Int = 64, sampled: Int = 8): DataFrame = {
    require(buckets >= 1 && sampled >= 1 && sampled <= buckets,
      s"sampledDupRate: need 1 <= sampled <= buckets, got $sampled/$buckets")
    val bucket = conv(substring(md5(col(textCol)), 1, 8), 16, 10)
      .cast("long") % buckets
    df.where(bucket < sampled)
      .groupBy(col(textCol)).agg(count(lit(1)).as("__c"))
      .agg(
        coalesce(sum(col("__c")), lit(0L)).as("n_sampled"),
        coalesce(sum(col("__c") - 1), lit(0L)).as("n_dup_sampled"),
        roundz(sum(col("__c") - 1).cast("double") / sum(col("__c")), 6)
          .as("dup_rate_est"))
  }

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles as a distinct array (set semantics for Jaccard).
    * Inlines the tokenizer ~6× into the CASE tree — fine for one-off use,
    * but DataFrame pipelines should stage the token array and call
    * `wordShinglesFromTokens` (see `shingled`).
    */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesFromTokens(TextStats.tokens(TextStats.normalize(text)), n)

  /** Shingles from a pre-tokenized array. Pass a materialized column:
    * the token expression is referenced 6 times below, and interpreted
    * higher-order functions re-evaluate a non-attribute input per
    * reference (and the inlined tree also bloats codegen setup).
    *
    * Per-position reads are `element_at` (O(1) on ArrayData, no
    * allocation) rather than `slice`, which copies an n-element array for
    * every position — a measurable cost in the interpreted HOF loop.
    */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, when(size(toks) > 0, array(concat_ws(" ", toks))).otherwise(array()))
      .otherwise(array_distinct(
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*))))

  /** `(idCol, <as>)` with the shingle set computed via a staged token
    * column — tokenizer runs once per row, shingling reads the attribute.
    */
  def shingled(df: DataFrame, idCol: String, textCol: String, n: Int,
      as: String = "sh"): DataFrame =
    df.select(col(idCol), TextStats.tokens(TextStats.normalize(col(textCol))).as("__toks"))
      .select(col(idCol), wordShinglesFromTokens(col("__toks"), n).as(as))

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(1.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  // -------------------------------------------------------- MinHash + LSH

  /** MinHash signature via standard double hashing: each shingle is hashed
    * twice (xxhash64 with seeds 42/1) and the k component hashes are
    * `h1 + i*h2` — one aggregate pass, 2 string hashes per shingle instead
    * of k, with the per-slot work pure arithmetic.
    *
    * Higher-order functions are interpreted (no codegen/CSE), so the shape
    * matters: hash-per-shingle happens in a `transform` whose lambda
    * variable then feeds the k min-slots — nothing string-sized is
    * re-evaluated per slot.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    aggregate(
      // mask to 32 bits so `h1 + i*h2` can't overflow (ANSI mode errors on
      // long overflow); 32-bit minhash components are plenty for Jaccard
      transform(shingles, s => struct(
        xxhash64(s).bitwiseAND(lit(0xFFFFFFFFL)).as("h1"),
        xxhash64(s, lit(1)).bitwiseAND(lit(0xFFFFFFFFL)).bitwiseOR(lit(1L)).as("h2"))),
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, sequence(lit(0L), lit(k - 1L)),
        (m, i) => least(m, h.getField("h1") + i * h.getField("h2"))))

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * positions.
    */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** MinHash slot columns `(id, __m0..__m{k-1})` via explode + grouped min
    * aggregates — the whole-stage-codegen shape of `minhashSignature`
    * (which stays as the interpreted semantics oracle; DedupSpec asserts
    * they agree). Each shingle is hashed twice in a narrow codegen'd
    * projection; the k `min(h1 + i*h2)` aggregates get map-side partial
    * aggregation, so the shuffle carries ~one row per document per
    * partition — the shape that holds at 100 TB. `explode_outer` +
    * null-guarded hashes keep shingle-less documents (their slots coalesce
    * to the Long.MaxValue init, exactly like the HOF fold).
    */
  private def minhashSlots(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, k: Int): DataFrame =
    minhashSlotsFrom(
      shingled(ensureParallelism(df), idCol, textCol, shingleSize, "__sh"),
      idCol, k, "__sh")

  /** `minhashSlots` over an ALREADY-SHINGLED `(idCol, shCol)` frame — lets
    * a caller that also needs the shingles for something else (the recall
    * estimator's exact truth side) pay the tokenizer once.
    */
  private def minhashSlotsFrom(sh: DataFrame, idCol: String, k: Int,
      shCol: String): DataFrame = {
    val hashed = sh
      .select(col(idCol), explode_outer(Staging.pin(col(shCol))).as("__s"))
      .select(col(idCol),
        when(col("__s").isNotNull,
          xxhash64(col("__s")).bitwiseAND(lit(0xFFFFFFFFL))).as("__h1"),
        when(col("__s").isNotNull,
          xxhash64(col("__s"), lit(1)).bitwiseAND(lit(0xFFFFFFFFL)).bitwiseOR(lit(1L))).as("__h2"))
    val slots = (0 until k).map(i =>
      coalesce(min(col("__h1") + lit(i.toLong) * col("__h2")), lit(Long.MaxValue)).as(s"__m$i"))
    hashed.groupBy(col(idCol)).agg(slots.head, slots.tail: _*)
  }

  /** (id, band, bucket) rows: the signature split into `bands` bands of
    * k/bands slots each, each band hashed to a bucket id. Bucket values are
    * identical to hashing the corresponding slice of `minhashSignature`
    * (same comma-joined decimal string under xxhash64).
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    bucketsFromSlots(minhashSlots(df, idCol, textCol, shingleSize, numHashes),
      idCol, numHashes, bands)

  private def bucketsFromSlots(slots: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes must be divisible by bands=$bands")
    val r = numHashes / bands
    val bandStructs = array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64(concat_ws(",", (j * r until (j + 1) * r).map(i => col(s"__m$i").cast("string")): _*))
          .as("bucket"))
    }: _*)
    slots.select(col(idCol), bandStructs.as("__bb"))
      .select(col(idCol), explode(Staging.pin(col("__bb"))).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  private def ensureParallelism(df: DataFrame): DataFrame =
    RelOps.ensureParallelism(df)

  /** Candidate near-dup pairs (a < b on id) from MinHash-LSH banding.
    * Distinct across bands. Buckets larger than `maxBucketSize` are dropped
    * (skew guard — see `droppedBuckets` to observe what was skipped).
    *
    * Default 48 hashes × 12 bands of 4: candidate probability
    * `1-(1-j⁴)¹²` puts the S-curve threshold at (1/12)^(1/4) ≈ 0.54 and
    * per-pair recall at j=0.9 at 1 − 2.7e-6 — wide signatures only buy
    * estimate precision we don't use (candidates are verified exactly),
    * while hashing and aggregate width scale linearly with k.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 48, bands: Int = 12,
      maxBucketSize: Int = 1000): DataFrame =
    candidatesFromBuckets(
      lshBuckets(df, idCol, textCol, shingleSize, numHashes, bands),
      idCol, maxBucketSize)

  /** `minhashCandidates` over an already-shingled `(idCol, shCol)` frame
    * (same banding, same skew guard) — shares the tokenizer pass with
    * other consumers of the shingles.
    */
  private def minhashCandidatesFrom(sh: DataFrame, idCol: String,
      numHashes: Int, bands: Int, maxBucketSize: Int,
      shCol: String): DataFrame =
    candidatesFromBuckets(
      bucketsFromSlots(minhashSlotsFrom(sh, idCol, numHashes, shCol),
        idCol, numHashes, bands),
      idCol, maxBucketSize)

  private def candidatesFromBuckets(buckets: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame = {
    val grouped = buckets.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)
    grouped
      .select(pairsOf(col("ids")).as("__ps"))
      .select(explode(Staging.pin(col("__ps"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Buckets skipped by the skew guard — surfaced, never silent. */
  def droppedBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 48, bands: Int = 12,
      maxBucketSize: Int = 1000): DataFrame =
    lshBuckets(df, idCol, textCol, shingleSize, numHashes, bands)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)

  /** All ordered pairs (a<b) from a sorted id array, as structs. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(sequence(lit(0), size(ids) - 2), i =>
      transform(slice(ids, i + 2, size(ids)), b =>
        struct(element_at(ids, i + 1).as("a"), b.as("b")))))

  /** Full MinHash near-dup pipeline: LSH candidates verified with exact
    * n-gram Jaccard ≥ threshold.
    *
    * The verify stage tokenizes/shingles ONLY the candidate documents
    * (a semi-join prunes the corpus first): candidates are a vanishing
    * fraction of any real corpus, so the expensive shingling never runs a
    * second time over all of it — and the verify-join sides stay small
    * enough that AQE can never pick a multi-GB broadcast build here. The
    * candidate pairs (tiny: ids only) are persisted so the LSH pipeline
    * executes once, not once per downstream reference.
    */
  /** The returned pairs frame is persisted and already materialized (ids +
    * score only — tiny at any corpus size); the candidate intermediates are
    * freed before returning. Callers that are done with it should
    * `unpersist()` (clusters does; one-shot query use frees it with the
    * session cache).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 48,
      bands: Int = 12): DataFrame =
    minhashPairsVerify(df, idCol, textCol, threshold, shingleSize,
      minhashCandidates(df, idCol, textCol, shingleSize, numHashes, bands))

  /** [[minhashPairs]] with the banding replaced by a PRECOMPUTED bucket
    * frame — the shape [[writePairBundle]] needs: it must both STORE the
    * buckets and derive the pair table, and running
    * `lshBuckets` twice signatured the whole corpus twice. Same
    * candidates (shared [[candidatesFromBuckets]], same skew guard), same
    * exact verify, same persisted-result contract.
    */
  private def minhashPairsFromBuckets(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int,
      buckets: DataFrame, maxBucketSize: Int = 1000): DataFrame =
    minhashPairsVerify(df, idCol, textCol, threshold, shingleSize,
      candidatesFromBuckets(buckets, idCol, maxBucketSize))

  /** The exact-verify half of [[minhashPairs]]: prune the corpus to the
    * candidate docs, shingle once, verify each candidate pair, persist +
    * materialize the (tiny) result. One implementation for the banded and
    * the precomputed-buckets entry points, so they cannot drift.
    */
  private def minhashPairsVerify(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int,
      cands0: DataFrame): DataFrame = {
    val cands = cands0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val candIds = cands.select(col("a").as(idCol))
        .unionByName(cands.select(col("b").as(idCol)))
        .distinct()
      val candDocs = df.join(candIds, Seq(idCol), "left_semi")
      val sh = shingled(candDocs, idCol, textCol, shingleSize)
      val pairs = cands
        .join(sh.select(col(idCol).as("a"), col("sh").as("sh_a")), Seq("a"))
        .join(sh.select(col(idCol).as("b"), col("sh").as("sh_b")), Seq("b"))
        .select(col("a"), col("b"), roundz(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .where(col("jaccard") >= threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count() // materialize: the LSH+verify pipeline runs exactly once,
      pairs         // and the candidate cache can be dropped right now
    } finally cands.unpersist()
  }

  /** All pairs with exact n-gram Jaccard ≥ threshold, via a posting-list
    * self-join (inverted index): explode shingles, join documents that share
    * a shingle, count shared shingles per pair, then
    * `jaccard = common / (|A| + |B| - common)`.
    *
    * This is the 100 TB shape for exact Jaccard: two hash-partitioned
    * shuffles (postings by shingle, pair counts by (a,b)) and codegen'd
    * joins/aggregates — versus the all-pairs cross join whose interpreted
    * per-pair `array_intersect` is quadratic in documents. Pairs sharing no
    * shingle never materialize (their Jaccard is 0). Shingles occurring in
    * more than `maxDocFreq` documents are dropped from the index (their
    * posting lists explode quadratically); with the default cap this only
    * affects boilerplate n-grams, and the drop mirrors the LSH skew guard.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, maxDocFreq: Int = 1000): DataFrame =
    jaccardPairsFrom(
      shingled(ensureParallelism(df), idCol, textCol, shingleSize),
      idCol, threshold, maxDocFreq)

  /** `jaccardPairs` over an already-shingled `(idCol, sh)` frame. */
  private def jaccardPairsFrom(shFrame: DataFrame, idCol: String,
      threshold: Double, maxDocFreq: Int): DataFrame = {
    val base = shFrame.withColumnRenamed(idCol, "id")
    val sizes = base.select(col("id"), size(col("sh")).as("sz"))
    val postings = base.select(col("id"), explode(Staging.pin(col("sh"))).as("s"))
    val rare = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq)
      .select(col("s"))
    val indexed = postings.join(rare, Seq("s"), "left_semi")
    val common = indexed.select(col("s"), col("id").as("a"))
      .join(indexed.select(col("s"), col("id").as("b")), Seq("s"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"),
        roundz(col("common").cast("double") /
          (col("sza") + col("szb") - col("common")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** EXACT τ-Jaccard similarity join via prefix filtering (the All-Pairs /
    * PPJoin candidate scheme — Bayardo et al. WWW'07, Xiao et al. WWW'08,
    * both public): every pair with Jaccard ≥ `threshold` is returned, with
    * NO lossy prune — the lossless scale path where `jaccardPairs`'
    * `maxDocFreq` cut silently drops boilerplate-heavy true pairs.
    *
    * Why it prunes: under a global canonical token order (ascending
    * document frequency, rarest first), J(A,B) ≥ τ implies
    * |A∩B| ≥ ⌈τ·|A|⌉, so the smallest shared token cannot sit among the
    * last ⌈τ|A|⌉−1 tokens of A — it lands inside A's first
    * |A|−⌈τ|A|⌉+1 tokens, and symmetrically inside B's prefix. Joining
    * ONLY the exploded prefixes is therefore complete, while the frequent
    * (boilerplate) tokens — exactly the ones whose posting lists explode a
    * naive index join — sort to the suffix and never generate candidates.
    *
    * Plan shape (all key-partitioned shuffles, no cross join):
    *   postings → global df agg → per-doc canonical sort (array sort after
    *   a collect_list per doc — no per-doc window) → prefix slice →
    *   prefix self-join (+ size-ratio prune τ|B| ≤ |A| ≤ |B|/τ, valid
    *   since J ≥ τ bounds the size ratio) → distinct pairs → exact-Jaccard
    *   verify on the full shingle sets. Verification is per-candidate, so
    *   total cost is postings + candidates — at 100 TB the candidate count
    *   is the knob, and the prefix filter keeps it near the true-pair
    *   count instead of the posting-list quadratic.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefixJaccardPairs: threshold in (0,1], got $threshold")
    // both the shingle frame (verify side a + side b) and the prefix
    // postings (self-join side a + side b) are referenced twice below;
    // cached under the audited lifecycle, the shingle/df/sort pipeline
    // runs ONCE instead of once per reference (the uncached plan scans
    // and re-aggregates the corpus four times)
    val sh = shingled(ensureParallelism(df), idCol, textCol, shingleSize)
      .withColumnRenamed(idCol, "id")
    val postings = sh.select(col("id"), explode(Staging.pin(col("sh"))).as("s"))
    val pref = prefixExplode(canonicalOrdered(postings), threshold)
    graft.Lifecycle.withCachedInputs(sh, pref) {
      val cand = pref.select(col("s"), col("id").as("a"), col("sz").as("sza"))
        .join(pref.select(col("s"), col("id").as("b"), col("sz").as("szb")), Seq("s"))
        .where(col("a") < col("b") &&
          col("sza") >= lit(threshold) * col("szb") &&
          col("szb") >= lit(threshold) * col("sza"))
        .select(col("a"), col("b")).distinct()
      cand
        .join(sh.select(col("id").as("a"), col("sh").as("__sha")), Seq("a"))
        .join(sh.select(col("id").as("b"), col("sh").as("__shb")), Seq("b"))
        .select(col("a"), col("b"), jaccard(col("__sha"), col("__shb")).as("__j"))
        // threshold on the RAW similarity, round only for presentation — a
        // rounded-then-filtered pair at the boundary would disagree with any
        // exact recomputation (oracle or otherwise)
        .where(col("__j") >= threshold)
        .select(col("a"), col("b"), roundz(col("__j"), 4).as("jaccard"))
    }
  }

  /** Per-doc shingles in CANONICAL order (global document frequency
    * ascending, token ascending as tie-break — rarest first), computed
    * without a per-doc window: each posting joins its global df, folds
    * back per doc, and the (df, token) structs sort locally inside the
    * row. Returns (id, toks, sz).
    */
  private def canonicalOrdered(postings: DataFrame): DataFrame = {
    val freq = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
    postings.join(freq, Seq("s"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("__os"))
      .select(col("id"),
        transform(col("__os"), x => x.getField("s")).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("sz"))
  }

  /** Exploded prefix postings (id, sz, s): the first
    * sz − ⌈threshold·sz⌉ + 1 canonical tokens of each doc — the prefix
    * the filter theorems quantify over.
    */
  private def prefixExplode(ordered: DataFrame, threshold: Double): DataFrame =
    ordered.select(col("id"), col("sz"),
      explode(slice(col("toks"), lit(1),
        greatest(col("sz") - ceil(lit(threshold) * col("sz")).cast("int")
          + lit(1), lit(0)))).as("s"))

  /** EXACT directional containment join: pairs (a, b) with
    * |A∩B| / |A| ≥ `threshold` — "document a is (nearly) a subset of
    * document b". The asymmetric sibling of [[prefixJaccardPairs]] for the
    * dominant web-corpus shape Jaccard misses: a short article wrapped in
    * a long boilerplate page has low Jaccard against the boilerplate
    * template but containment ≈ 1, and a quote-heavy doc is a near-subset
    * of its source regardless of the source's length.
    *
    * Candidate scheme (lossless): containment ≥ τ means |A∩B| ≥ ⌈τ|A|⌉,
    * so — same suffix-counting argument as the symmetric join — at least
    * one shared token sits in A's canonical prefix of length
    * |A|−⌈τ|A|⌉+1. The CONTAINED side therefore probes with its prefix
    * only, while the container side is indexed in FULL (no prefix bound
    * exists for B: a huge doc can contain a tiny one). Boilerplate tokens
    * still can't explode the join: they sort to the END of the canonical
    * order, so they appear in a probe prefix only for docs that are
    * almost entirely boilerplate — exactly the contained candidates the
    * operator exists to find. Size prune: |B| ≥ τ·|A| (the intersection
    * can't exceed |B|). Exact verify on the full sets completes it.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentPairs: threshold in (0,1], got $threshold")
    val sh = shingled(ensureParallelism(df), idCol, textCol, shingleSize)
      .withColumnRenamed(idCol, "id")
    val postings = sh.select(col("id"), explode(Staging.pin(col("sh"))).as("s"))
    val probe = prefixExplode(canonicalOrdered(postings), threshold)
    // sh feeds both verify sides, postings feeds the df agg + the index
    // side — cache each once under the audited lifecycle
    graft.Lifecycle.withCachedInputs(sh, postings) {
      val index = sh.select(col("id").as("b"), size(col("sh")).as("szb"),
        explode(Staging.pin(col("sh"))).as("s"))
      val cand = probe.select(col("s"), col("id").as("a"), col("sz").as("sza"))
        .join(index, Seq("s"))
        .where(col("a") =!= col("b") && col("szb") >= lit(threshold) * col("sza"))
        .select(col("a"), col("b")).distinct()
      cand
        .join(sh.select(col("id").as("a"), col("sh").as("__sha")), Seq("a"))
        .join(sh.select(col("id").as("b"), col("sh").as("__shb")), Seq("b"))
        .select(col("a"), col("b"),
          (size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
            size(col("__sha"))).as("__c"))
        .where(col("__c") >= threshold)
        .select(col("a"), col("b"), roundz(col("__c"), 4).as("containment"))
    }
  }

  /** Estimated recall of the MinHash-LSH banding parameters on THIS corpus,
    * from a deterministic hash-sample: ground truth is exact posting-list
    * Jaccard within the sample (quadratic cost confined to the sample),
    * measured is the production banding + exact verify (`minhashPairs`
    * semantics) over the same sample with the same parameters — computed
    * off one shared shingle pass. The observability check to run before
    * trusting
    * (numHashes, bands) on the full corpus — a 1% sample prices recall at
    * ~0.01% of the brute-force cost.
    *
    * Output (1 row): n_docs, n_true_pairs, n_lsh_pairs, n_hit_pairs,
    * recall (null when the sample holds no true pairs — sample more).
    *
    * The ground truth runs `jaccardPairs` WITHOUT its posting-frequency
    * prune (`truthMaxDocFreq` defaults to unlimited — the sample already
    * bounds the quadratic cost): with the prune, true pairs whose shared
    * shingles are all boilerplate-frequent would vanish from the
    * denominator and the estimator would overstate recall on
    * boilerplate-heavy corpora.
    */
  def lshRecallEstimate(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, sampleFraction: Double = 0.01, shingleSize: Int = 3,
      numHashes: Int = 48, bands: Int = 12,
      truthMaxDocFreq: Int = Int.MaxValue): DataFrame = {
    // ONE shingling pass feeds everything: the exact truth (posting-list
    // join), the LSH banding (minhash over the same shingle sets — which
    // is also what makes the comparison apples-to-apples), the candidate
    // verify, and n_docs. The persisted frame is sample-sized by
    // construction. The old shape shingled the sample three times and
    // drove 5 driver actions; this one drives 2.
    val sample = RelOps.hashSample(df, idCol, sampleFraction)
    val sh = shingled(ensureParallelism(sample), idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = sh.count()
      val truth = jaccardPairsFrom(sh, idCol, threshold, truthMaxDocFreq)
        .select(col("a"), col("b"))
      // candidates verified against the SAME persisted shingles — the
      // production banding + verify semantics of `minhashPairs`, minus its
      // corpus-scale candidate-pruning machinery (pointless on a sample
      // whose shingles are already cached)
      // verify on the ROUNDED jaccard, exactly like minhashPairs and the
      // posting-list truth side: a borderline pair (e.g. exact 0.89995 at
      // threshold 0.9) must land on the same side of the threshold in both
      // sets or it would register as a phantom LSH miss
      val verified = minhashCandidatesFrom(sh, idCol, numHashes, bands,
          maxBucketSize = 1000, shCol = "sh")
        .join(sh.select(col(idCol).as("a"), col("sh").as("__sha")), Seq("a"))
        .join(sh.select(col(idCol).as("b"), col("sh").as("__shb")), Seq("b"))
        .where(roundz(jaccard(col("__sha"), col("__shb")), 4) >= threshold)
        .select(col("a"), col("b"))
      // |truth|, |verified|, and |truth ∩ verified| in ONE full-outer
      // flag-join aggregate — one driver action instead of three counts
      val row = truth.withColumn("__t", lit(1))
        .join(verified.withColumn("__v", lit(1)), Seq("a", "b"), "full_outer")
        .agg(count(col("__t")).as("t"), count(col("__v")).as("v"),
          count(when(col("__t").isNotNull && col("__v").isNotNull, 1)).as("h"))
        .head()
      val (nTrue, nLsh, hits) = (row.getLong(0), row.getLong(1), row.getLong(2))
      val spark = df.sparkSession
      import spark.implicits._
      Seq((nDocs, nTrue, nLsh, hits,
        if (nTrue == 0) Option.empty[Double] else Some(hits.toDouble / nTrue)))
        .toDF("n_docs", "n_true_pairs", "n_lsh_pairs", "n_hit_pairs", "recall")
    } finally { sh.unpersist(); () }
  }

  // ------------------------------------------ train/test contamination scan

  /** Benchmark-contamination scan: for every corpus document, how many of
    * its word n-gram shingles appear anywhere in the benchmark set, and the
    * contaminated fraction — the n-gram-overlap decontamination check run
    * before training on scraped data.
    *
    * Shape: inverted-index semi-join, not a cross join. The benchmark's
    * distinct shingles are a small relation (benchmarks are tiny next to a
    * 100 TB corpus), so the shingle⋈shingle equi-join broadcasts; the corpus
    * is exploded once and aggregated back by document with map-side partial
    * counts. Corpus docs sharing nothing with the benchmark get hits=0 via
    * the left join against the corpus spine.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 8): DataFrame = {
    // pin both explodes: an un-staged Generate over the HOF-built shingle
    // array re-evaluates the whole tokenize→shingle chain per OUTPUT element
    // (measured 25× on this exact operator — see Staging)
    val benchShingles = shingled(benchmark, idCol, textCol, shingleSize)
      .select(explode(Staging.pin(col("sh"))).as("__s")).distinct()
      .withColumn("__hit", lit(1))
    // ONE pass over the corpus: explode_outer keeps shingle-less docs
    // (count(__s)=0), the broadcast left join marks benchmark hits, and one
    // map-side-partial groupBy rebuilds per-doc counts — the corpus is
    // never shingled twice or shuffled beyond the final id aggregation.
    shingled(ensureParallelism(corpus), idCol, textCol, shingleSize, "__sh")
      .select(col(idCol), explode_outer(Staging.pin(col("__sh"))).as("__s"))
      .join(broadcast(benchShingles), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__s")).cast("int").as("n_shingles"),
        count(col("__hit")).as("contaminated"))
      .select(col(idCol), col("n_shingles"), col("contaminated"),
        roundz(when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("contaminated").cast("double") / col("n_shingles")), 4)
          .as("contaminated_frac"))
  }

  /** Persist a benchmark's distinct shingle set — [[contamination]]'s
    * build/serve split: the benchmark side (tokenize → shingle →
    * global distinct) runs ONCE and lands as shingle STRINGS (membership
    * stays collision-free and oracle-replayable, unlike stored hashes)
    * partitioned by the same portable md5 shard as the text index. Every
    * serve after that reads the stored set instead of re-shingling the
    * benchmark — the steady-state decontamination shape for a growing
    * corpus screened against a fixed eval suite.
    */
  def writeShingleIndex(benchmark: DataFrame, dir: String, idCol: String,
      textCol: String, shingleSize: Int = 8): Unit = {
    shingled(benchmark, idCol, textCol, shingleSize)
      .select(explode(Staging.pin(col("sh"))).as("sg")).distinct()
      .withColumn("shard", TextIndex.shardCol(col("sg")))
      // rebalance on the partition column before the write (guide §6):
      // one size-bounded file set per directory — see Catalog.writeMember
      .hint("rebalance", col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$dir/shingles.parquet")
  }

  /** Grow the stored benchmark — a new eval-suite version appends WITHOUT
    * rebuilding: the batch's distinct shingles anti-join the stored set
    * first, because the store's distinctness is load-bearing — the serve
    * counts hits through a join, and a shingle stored twice would double
    * every document's contamination count. (The text index never faced
    * this: its posting rows are keyed by (term, doc) and disjoint doc
    * batches can't collide; a shared shingle set CAN.) Only genuinely-new
    * shingles land, as new files in existing shard directories.
    */
  def appendShingleIndex(newBench: DataFrame, dir: String, idCol: String,
      textCol: String, shingleSize: Int = 8): Unit = {
    val existing = newBench.sparkSession.read
      .parquet(s"$dir/shingles.parquet").select(col("sg"))
    shingled(newBench, idCol, textCol, shingleSize)
      .select(explode(Staging.pin(col("sh"))).as("sg")).distinct()
      .join(existing, Seq("sg"), "left_anti")
      .withColumn("shard", TextIndex.shardCol(col("sg")))
      .hint("rebalance", col("shard"))
      .write.mode("append").partitionBy("shard")
      .parquet(s"$dir/shingles.parquet")
  }

  /** [[contamination]] served from a [[writeShingleIndex]] store: same
    * one-pass corpus shape (explode_outer keeps shingle-less docs, the
    * broadcast left join marks hits, one map-side-partial groupBy
    * rebuilds per-doc counts), with the benchmark side a bounded read of
    * the stored distinct-shingle table — provably the same result as
    * the direct operator, because the store IS the benchmark side's
    * intermediate. The serve plan scans the corpus and the store; the
    * benchmark documents are never touched (DedupSpec pins it).
    */
  def contaminationAgainstIndex(corpus: DataFrame, dir: String,
      idCol: String, textCol: String, shingleSize: Int = 8): DataFrame =
    contaminationServeCore(corpus,
      corpus.sparkSession.read.parquet(s"$dir/shingles.parquet")
        .select(col("sg")),
      idCol, textCol, shingleSize)

  /** The one contamination serve both stores run (flat distinct-shingle
    * table and provenance-carrying bundle): `benchShingles` is one `sg`
    * column, distinct'd HERE — so a store holding (sg, benchmark) rows
    * with a shingle shared by two benchmarks still counts it once per
    * doc occurrence, identical to the direct [[contamination]] screen.
    */
  private def contaminationServeCore(corpus: DataFrame,
      benchShingles: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    val bs = benchShingles.select(col(benchShingles.columns.head).as("__s"))
      .distinct().withColumn("__hit", lit(1))
    shingled(ensureParallelism(corpus), idCol, textCol, shingleSize, "__sh")
      .select(col(idCol), explode_outer(Staging.pin(col("__sh"))).as("__s"))
      .join(broadcast(bs), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__s")).cast("int").as("n_shingles"),
        count(col("__hit")).as("contaminated"))
      .select(col(idCol), col("n_shingles"), col("contaminated"),
        roundz(when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("contaminated").cast("double") / col("n_shingles")), 4)
          .as("contaminated_frac"))
  }

  // -------------- decontamination store on the atomic bundle (provenance)

  /** One benchmark's provenance-carrying shingle rows: (sg,
    * benchmark_id), distinct per benchmark, shard column for the
    * manifest's partition layout.
    */
  private def benchShingleRows(bench: DataFrame, benchmarkId: String,
      idCol: String, textCol: String, shingleSize: Int): DataFrame =
    shingled(bench, idCol, textCol, shingleSize)
      .select(explode(Staging.pin(col("sh"))).as("sg")).distinct()
      .withColumn("benchmark_id", lit(benchmarkId))
      .withColumn("shard", TextIndex.shardCol(col("sg")))

  /** Decontamination store ON the atomic bundle, with PER-BENCHMARK
    * provenance — the flat [[writeShingleIndex]] stores bare distinct
    * shingles, which makes benchmark RETIREMENT impossible: dropping a
    * retired suite's shingles would also drop every shingle it shares
    * with a kept suite. Here the member holds (sg, benchmark_id) rows
    * (distinct per benchmark, shard-partitioned like the flat layout),
    * the serve distincts `sg` (shared shingles count once —
    * [[contaminationServeCore]]), and [[retractShingleBundle]] removes
    * exactly one benchmark's rows: a shingle any KEPT benchmark
    * contributes survives by construction — set semantics, the reverse
    * of x148's anti-join guard. Ledgered like every bundle store.
    */
  def writeShingleBundle(benchmark: DataFrame, benchmarkId: String,
      root: String, bundle: String, idCol: String, textCol: String,
      shingleSize: Int = 8, seedBatchIds: Seq[String] = Nil): Long =
    graft.sources.Catalog.commitBundle(Seq(
      "shingles" -> benchShingleRows(benchmark, benchmarkId, idCol,
        textCol, shingleSize)),
      root, bundle, seedBatchIds,
      partitionBy = Map("shingles" -> Seq("shard")))

  /** Grow the store by one benchmark, LEDGERED: the suite's provenance
    * rows land as a new file set with the batch id in the manifest
    * (replay → false, store untouched). Unlike the flat
    * [[appendShingleIndex]], no cross-benchmark anti-join is needed —
    * rows are keyed (sg, benchmark_id), so a shingle shared with a
    * resident benchmark lands as its own provenance row and the serve's
    * distinct collapses it.
    */
  def ingestShingleBundle(newBench: DataFrame, benchmarkId: String,
      root: String, bundle: String, batchId: String, idCol: String,
      textCol: String, shingleSize: Int = 8): Boolean =
    graft.sources.Catalog.appendBundle(Seq(
      "shingles" -> benchShingleRows(newBench, benchmarkId, idCol,
        textCol, shingleSize)),
      root, bundle, batchId)

  /** BENCHMARK RETIREMENT: drop one benchmark's provenance rows in one
    * atomic version ([[graft.sources.Catalog.rewriteBundleMembers]] —
    * ledger preserved, shard layout preserved, O(store member) one-pass
    * rewrite). Because the serve distincts over the REMAINING rows, a
    * shingle the retired suite shared with any kept suite keeps
    * screening — post-retract serve ≡ direct screen against the kept
    * benchmarks (DedupSpec + x192 pin it, hash-compared).
    */
  def retractShingleBundle(spark: org.apache.spark.sql.SparkSession,
      root: String, bundle: String, benchmarkId: String): Long =
    graft.sources.Catalog.rewriteBundleMembers(spark, root, bundle, Map(
      "shingles" -> ((s: DataFrame) =>
        s.where(col("benchmark_id") =!= lit(benchmarkId)))))

  /** [[contaminationAgainstIndex]] off the bundle store — shared serve
    * core; the member resolves through one committed manifest version.
    */
  def contaminationAgainstBundle(corpus: DataFrame, root: String,
      bundle: String, idCol: String, textCol: String,
      shingleSize: Int = 8): DataFrame =
    contaminationServeCore(corpus,
      graft.sources.Catalog.readBundleTable(corpus.sparkSession, root,
        bundle, "shingles").select(col("sg")),
      idCol, textCol, shingleSize)

  // --------------------------------------------- duplicate-cluster assembly

  /** Connected components over an undirected edge list, by min-label
    * propagation: every node starts labelled with its own id; each round a
    * node takes the minimum label among itself and its neighbours, until a
    * fixpoint (or `maxIter`). Returns `(id, label)` — label is the
    * component's minimum node id — for nodes that appear in an edge.
    *
    * Scale shape: each round is two hash-partitioned shuffles (edges⋈labels
    * on src, min-agg on dst) of codegen'd operators, and the frontier is
    * `localCheckpoint`ed so lineage doesn't grow with iterations. Rounds
    * needed = graph diameter, and near-dup graphs are unions of small
    * tight clusters (diameter a few hops), not long chains — the pair
    * threshold breaks chains of slow drift. `maxIter` caps the adversarial
    * case; raise it (or pre-contract with exact dedup) for pathological
    * graphs.
    */
  def connectedComponents(edges: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIter: Int = 25,
      localThreshold: Long = 1L << 20): DataFrame = {
    // symmetrize via ONE explode, not a self-union: edges often come from an
    // expensive pipeline (LSH verify), and union's two branches would each
    // evaluate it in full
    val sym = edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // adaptive plan: a graph under `localThreshold` edges is driver-sized
      // (near-dup graphs usually are — edges are verified duplicate PAIRS,
      // a vanishing fraction of the corpus), and a union-find beats paying
      // per-round Spark job latency. Above it, distributed propagation.
      if (sym.count() <= localThreshold) return localUnionFind(sym)
      var labels = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
        .localCheckpoint(true)
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIter) {
        val nbrMin = sym
          .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("label")).as("__nl"))
        val next = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("__nl"), col("label"))).as("label"),
            coalesce(col("__nl") < col("label"), lit(false)).as("__ch"))
          .localCheckpoint(true)
        changed = next.where(col("__ch")).count()
        labels = next.select(col("id"), col("label"))
        i += 1
      }
      labels
    } finally sym.unpersist()
  }

  /** Driver union-find over a small symmetric edge list, labelling each
    * node with its component's minimum id. Ids keep their original type
    * (the output schema mirrors the edge column type).
    */
  private def localUnionFind(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    val idType = sym.schema.head.dataType
    val rows = sym.collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    // iterative two-pass find (walk to root, then compress): a chain-shaped
    // component near the localThreshold edge count must not blow the stack
    def find(x: Any): Any = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    val ord: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
      case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
      case (x: Int, y: Int)       => Integer.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case (x, y)                 => x.toString.compareTo(y.toString)
    }
    rows.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) {
        val (lo, hi) = if (ord.lt(ra, rb)) (ra, rb) else (rb, ra)
        parent(hi) = lo
      }
    }
    val nodes = rows.iterator.map(_.get(0)).toSet
    val out = nodes.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("label", idType))))
  }

  /** Full dedup clustering: MinHash-LSH candidates → exact-Jaccard verify →
    * connected components. Every document gets a `cluster_id` (the minimum
    * doc id of its duplicate cluster; singletons map to themselves) — the
    * keep/drop decision a training-data pipeline makes is then
    * `doc_id = cluster_id`.
    */
  def clusters(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 48,
      bands: Int = 12): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, threshold, shingleSize,
      numHashes, bands) // persisted + materialized by minhashPairs
    // connectedComponents (inside clustersFromPairs) returns materialized
    // labels (localCheckpoint on the distributed path, a collected
    // union-find on the local one), so the pairs cache is releasable as
    // soon as it returns
    try clustersFromPairs(df, pairs, idCol) finally pairs.unpersist()
  }

  /** [[clusters]] over an ALREADY-COMPUTED pair frame (`(a, b, …)` —
    * e.g. a [[pairTable]] store): the whole cluster family (assembly,
    * keep-best, canonicalization, multimodal union-CC) can run off the
    * stored pair truth, so the LSH+verify pipeline prices in once at
    * ingest and clustering is a pairs-sized CC plus one id join.
    */
  def clustersFromPairs(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val cc = connectedComponents(pairs, "a", "b")
      .select(col("id").as(idCol), col("label"))
    df.select(col(idCol)).join(cc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /** Near-dup dedup keeping the BEST member of each duplicate cluster —
    * highest `scoreCol`, ties broken by smallest id — instead of the
    * arbitrary minimum-id member the `doc_id = cluster_id` convention
    * keeps. The usual policy when duplicates differ in quality: among a
    * page's syndicated copies, keep the longest / highest-quality one.
    *
    * Output: the surviving rows of `df`, original schema.
    *
    * Scale: clustering is the `clusters` pipeline (LSH, never O(n²));
    * the keep decision is a window partitioned by the cluster id, whose
    * cardinality is ~|docs| (singletons included) — parallelism scales
    * with the corpus, unlike a low-cardinality group rank.
    *
    * `precomputedClusters` (schema: idCol, cluster_id) lets a composed
    * caller that already ran `clusters` — the common case when both the
    * cluster report and the deduped corpus are wanted — pay LSH+CC once
    * instead of twice. Working columns are `__kb_`-prefixed so a `df` that
    * already carries a `cluster_id` (e.g. the output of `clusters` itself)
    * joins without an AnalysisException. The cluster frame is LEFT-joined:
    * a doc absent from it (a stale or subset cluster snapshot) falls back
    * to its own singleton cluster — it survives rather than silently
    * vanishing from the corpus, mirroring the self-contained path where
    * `clusters` covers every doc.
    */
  def dedupKeepBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, threshold: Double, shingleSize: Int = 3,
      numHashes: Int = 48, bands: Int = 12,
      precomputedClusters: Option[DataFrame] = None): DataFrame = {
    val cl = precomputedClusters
      .getOrElse(clusters(df, idCol, textCol, threshold, shingleSize, numHashes, bands))
      .select(col(idCol), col("cluster_id").as("__kb_cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__kb_cluster")).orderBy(col(scoreCol).desc, col(idCol))
    df.join(cl, Seq(idCol), "left")
      .withColumn("__kb_cluster", coalesce(col("__kb_cluster"), col(idCol)))
      .withColumn("__kb_rn", row_number().over(w))
      .where(col("__kb_rn") === 1)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  // --------------------------------------- incremental (batch vs corpus)

  /** Ids in `newDf` whose text already exists verbatim in `corpus`. Both
    * sides reduce to content hashes before the join — one shuffle of
    * (hash, id), never text — and the corpus side is left-semi probed, so
    * nothing corpus-sized ever materializes on the batch's side.
    */
  def incrementalExactDupIds(newDf: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame =
    newDf.select(col(idCol), sha2(col(textCol), 256).as("__h"))
      .join(corpus.select(sha2(col(textCol), 256).as("__h")), Seq("__h"), "left_semi")
      .select(col(idCol))

  /** `incrementalExactDupIds` with a Bloom prefilter on the batch side —
    * the 100 TB shape of "check a new batch against a resident corpus":
    * the corpus folds to ONE bounded binary sketch (a partition-local
    * bloom per task, OR-merged at the final aggregate —
    * `optimalNumOfBits(expectedItems, fpp)` bits regardless of corpus
    * row count), and the batch is probed map-side against that sketch
    * BEFORE anything shuffles. Only the pass-through rows — true dups
    * plus an `fpp` sliver of false positives — reach the exact semi-join,
    * so the verify shuffle carries ~`|dups| + fpp·|batch|` rows instead
    * of the whole batch. Result is EXACTLY `incrementalExactDupIds`
    * (bloom has no false negatives; the semi-join kills the false
    * positives), which is what the oracle checks.
    *
    * Sizing: the sketch is ~0.9 GB per 10⁹ corpus docs at fpp 1% — at
    * larger corpora, shard the corpus by hash range and run one
    * prefilter per shard (composition, not a new operator).
    * Reference behavior: batch-vs-corpus duplicate check, re-expressed
    * as sketch + semi-join instead of a full join.
    */
  def bloomPrefilterDupIds(newDf: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val h = xxhash64(col(textCol))
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bf = corpus
      .agg(call_function("bloom_agg", h, lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bf == null) {
      // empty corpus → the aggregate yields NULL, and nothing can be a dup
      newDf.select(col(idCol)).limit(0)
    } else {
      val pass = newDf.where(call_function("bloom_contains", lit(bf), h))
      pass.select(col(idCol), sha2(col(textCol), 256).as("__h"))
        .join(corpus.select(sha2(col(textCol), 256).as("__h")), Seq("__h"), "left_semi")
        .select(col(idCol))
    }
  }

  /** Near-duplicate matches of a new batch against an existing corpus:
    * (new_id, corpus_id, jaccard ≥ threshold) via shared MinHash-LSH
    * buckets, exact-verified. The batch-over-batch shape of `minhashPairs`:
    *   - both sides signature once; the join keys on (band, bucket), so a
    *     new doc only ever meets its bucket-mates — never corpus×batch;
    *   - the corpus side is the 100 TB one, so the skew guard drops its
    *     oversized buckets (same `maxBucketSize` policy as
    *     `minhashCandidates`; observable via `droppedBuckets` on the
    *     corpus);
    *   - only docs that actually appear in a candidate pair are
    *     re-shingled for verification (semi-join pruning on both sides).
    * At steady state the corpus signatures would be precomputed and stored
    * (they are pure functions of the text); recomputing here keeps the
    * operator self-contained.
    */
  def incrementalMinhashMatches(newDf: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleSize: Int = 3, numHashes: Int = 48, bands: Int = 12,
      maxBucketSize: Int = 1000): DataFrame =
    incrementalMinhashMatchesWithIndex(newDf, corpus,
      lshBuckets(corpus, idCol, textCol, shingleSize, numHashes, bands),
      idCol, textCol, threshold, shingleSize, numHashes, bands, maxBucketSize)

  /** `incrementalMinhashMatches` against a PRECOMPUTED corpus bucket index
    * (the `lshBuckets` output persisted as a table) — the steady-state
    * 100 TB path: signatures are pure functions of the text, so the corpus
    * is signatured once at ingest, and each batch's matching work is
    * batch-sized + an index join instead of a corpus re-signature. The
    * corpus table itself is touched only to re-shingle the candidate docs
    * (semi-join pruned).
    */
  def incrementalMinhashMatchesWithIndex(newDf: DataFrame, corpus: DataFrame,
      corpusBuckets: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 48,
      bands: Int = 12, maxBucketSize: Int = 1000): DataFrame = {
    val nb = lshBuckets(newDf, idCol, textCol, shingleSize, numHashes, bands)
      .select(col(idCol).as("new_id"), col("band"), col("bucket"))
    val cb = corpusBuckets
      .select(col(idCol).as("corpus_id"), col("band"), col("bucket"))
    val safeCb = cb.withColumn("__n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .where(col("__n") <= maxBucketSize).drop("__n")
    val cands = nb.join(safeCb, Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val shNew = shingled(
        newDf.join(cands.select(col("new_id").as(idCol)).distinct(), Seq(idCol), "left_semi"),
        idCol, textCol, shingleSize)
      val shCorp = shingled(
        corpus.join(cands.select(col("corpus_id").as(idCol)).distinct(), Seq(idCol), "left_semi"),
        idCol, textCol, shingleSize)
      val pairs = cands
        .join(shNew.select(col(idCol).as("new_id"), col("sh").as("sh_n")), Seq("new_id"))
        .join(shCorp.select(col(idCol).as("corpus_id"), col("sh").as("sh_c")), Seq("corpus_id"))
        .select(col("new_id"), col("corpus_id"),
          roundz(jaccard(col("sh_n"), col("sh_c")), 4).as("jaccard"))
        .where(col("jaccard") >= threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count()
      pairs
    } finally cands.unpersist()
  }

  // ------------------------------------------- stored near-dup LSH index

  /** Persist a corpus's MinHash-LSH bucket index — the near-dup family's
    * STORED form, completing the stored-index matrix next to the ANN
    * cells ([[graft.operators.AnnIndex.writeBundle]]), the text postings
    * ([[graft.operators.TextIndex.writeBundle]]) and the decontamination
    * shingle set ([[writeShingleIndex]]): [[lshBuckets]]' (id, band,
    * bucket) rows land partitioned by `band`, so the store grows by
    * whole files inside a fixed set of band directories and a serve
    * join on (band, bucket) reads index rows, never corpus text.
    *
    * Signatures are pure per-document functions of the text, so the
    * bucket rows of id-disjoint document batches are disjoint — append
    * equals rebuild row-for-row (DedupSpec pins it), with no anti-join
    * needed (unlike the shared shingle set, whose global distinctness
    * is load-bearing).
    */
  def writeLshIndex(corpus: DataFrame, dir: String, idCol: String,
      textCol: String, shingleSize: Int = 3, numHashes: Int = 48,
      bands: Int = 12): Unit =
    lshBuckets(corpus, idCol, textCol, shingleSize, numHashes, bands)
      // rebalance on band before the write (guide §6) — see writeMember
      .hint("rebalance", col("band"))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$dir/buckets.parquet")

  /** Grow the stored bucket index with a new document batch: one narrow
    * signature pass over the BATCH, landing as new files in the existing
    * band directories — the corpus is never re-signatured. Caller
    * contract: batch ids are new (id-disjoint from what is stored);
    * parameters must match the build (they define the signature space).
    * File-count maintenance after many appends:
    * `Catalog.compactPartition(spark, dir, "buckets", Seq(("band", b)))`
    * rewrites one band directory in place (atomic swap); serve results
    * are identical pre/post (CatalogSpec pins it).
    */
  def appendLshIndex(batch: DataFrame, dir: String, idCol: String,
      textCol: String, shingleSize: Int = 3, numHashes: Int = 48,
      bands: Int = 12): Unit =
    lshBuckets(batch, idCol, textCol, shingleSize, numHashes, bands)
      .hint("rebalance", col("band"))
      .write.mode("append").partitionBy("band")
      .parquet(s"$dir/buckets.parquet")

  /** [[incrementalMinhashMatches]] served from a [[writeLshIndex]] store
    * — the steady-state 100 TB ingest shape: the corpus was signatured
    * once at ingest (and each accepted batch [[appendLshIndex]]ed), so
    * matching a new batch costs one batch-sized signature pass plus an
    * index join. The corpus TABLE is touched only to re-shingle the
    * candidate documents for exact verification (semi-join pruned to a
    * vanishing fraction); its signatures come from the store.
    */
  def matchesAgainstLshIndex(newDf: DataFrame, corpus: DataFrame,
      dir: String, idCol: String, textCol: String, threshold: Double,
      shingleSize: Int = 3, numHashes: Int = 48, bands: Int = 12,
      maxBucketSize: Int = 1000): DataFrame = {
    val stored = newDf.sparkSession.read.parquet(s"$dir/buckets.parquet")
      .select(col(idCol), col("band").cast("int").as("band"), col("bucket"))
    incrementalMinhashMatchesWithIndex(newDf, corpus, stored, idCol, textCol,
      threshold, shingleSize, numHashes, bands, maxBucketSize)
  }

  /** Persist the exact-verified near-dup PAIR TRUTH — [[minhashPairs]]'
    * output (a < b, jaccard) as a stored table. The pair set is the
    * single most re-consumed dedup artifact: duplicate clustering,
    * keep-best selection, cross-source duplication matrices, contagion
    * propagation and triangle censuses all start from the same pairs,
    * and at 100 TB the LSH+verify pipeline should price in ONCE at
    * ingest, with every analysis reading the table. Tiny at any corpus
    * size (ids + score only — verified duplicate pairs are a vanishing
    * fraction of corpus²).
    */
  def writePairTable(df: DataFrame, dir: String, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int = 3,
      numHashes: Int = 48, bands: Int = 12): Unit = {
    val pairs = minhashPairs(df, idCol, textCol, threshold, shingleSize,
      numHashes, bands)
    try pairs.hint("rebalance")
      .write.mode("overwrite").parquet(s"$dir/pairs.parquet")
    finally pairs.unpersist()
  }

  /** Read back a [[writePairTable]] store: (a, b, jaccard). */
  def pairTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(s"$dir/pairs.parquet")

  // ----------------------------- pair bundle on the atomic bundle store

  /** The complete near-dup ingest store, built once: the LSH bucket
    * index (the [[writeLshIndex]] rows) AND the exact-verified pair table
    * (the [[writePairTable]] rows) as the two members of one atomic
    * versioned bundle, so [[ingestPairBundle]] can keep BOTH current
    * with one batch-sized pass per ingest. Pairs and buckets commit
    * TOGETHER as one bundle version
    * ([[graft.sources.Catalog.commitBundle]]), so no
    * reader can observe the pair table at ingest n with the bucket
    * index at n−1, and the batch LEDGER lives inside the manifest —
    * data and replay guard publish in the same rename, with no
    * append→marker crash window at all. Buckets live as plain file sets
    * (the band column stays a data column; the serve join on
    * (band, bucket) never partition-pruned — band directories only ever
    * granulated maintenance, which versioned file sets subsume).
    */
  def writePairBundle(df: DataFrame, root: String, bundle: String,
      idCol: String, textCol: String, threshold: Double,
      shingleSize: Int = 3, numHashes: Int = 48, bands: Int = 12,
      extraMembers: Seq[(String, DataFrame)] = Nil,
      batchIds: Seq[String] = Nil): Long = {
    // ONE signature/bucket pass feeds both members: the buckets member
    // and the pair table's LSH candidates are the same bucket rows, and
    // building them independently (writeLshIndex + writePairTable) would
    // signature the whole corpus twice. Materialize once, commit both
    // (commitBundle overlaps the member writes off this cache); bucket
    // values, candidates and verify arithmetic are the standalone
    // builders' (shared cores)
    val buckets = lshBuckets(df, idCol, textCol, shingleSize, numHashes,
        bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    buckets.count()
    val pairs = minhashPairsFromBuckets(df, idCol, textCol, threshold,
      shingleSize, buckets)
    try graft.sources.Catalog.commitBundle(Seq(
      "pairs" -> pairs,
      "buckets" -> buckets) ++ extraMembers, root, bundle, batchIds)
    finally { pairs.unpersist(); buckets.unpersist(); () }
  }

  /** One batch ingest into a [[writePairBundle]] store — the production
    * 100 TB growth path for the single most re-consumed dedup artifact:
    * the batch is signatured ONCE; its cross-corpus matches come from
    * the stored bucket index (the corpus is never re-signatured), its
    * within-batch pairs from the ordinary batch-sized [[minhashPairs]],
    * both join the pair table (canonicalized a < b), and the batch's
    * own buckets join the index so the NEXT batch sees it as corpus.
    * Published ATOMICALLY: one [[graft.sources.Catalog.appendBundle]]
    * carries both members' new file sets AND the batch id. Returns false
    * (store untouched) on a replayed batch id — checked before any work,
    * and again atomically at publish.
    *
    * Incremental ≡ one-shot row-for-row (DedupSpec pins it): signatures
    * are pure functions of the text, so "same bucket" is decided
    * identically whether two docs arrived together or apart — exact as
    * long as no bucket crosses `maxBucketSize` (the lossless regime; the
    * guard populations differ between the incremental and one-shot
    * shapes, so cap-crossing buckets are where the two could
    * legitimately diverge). Caller contract: `corpus` is exactly the
    * already-ingested document set (needed only to re-shingle
    * semi-join-pruned verify candidates); batch ids are new.
    */
  def ingestPairBundle(batch: DataFrame, corpus: DataFrame, root: String,
      bundle: String, batchId: String, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 48,
      bands: Int = 12, maxBucketSize: Int = 1000,
      extraMembers: Seq[(String, DataFrame)] = Nil): Boolean = {
    val spark = batch.sparkSession
    // resolve ONE version: the manifest consulted for the replay
    // pre-check and the bucket index the batch matches against must be
    // the same committed state, and the append claim re-verifies (via
    // `pinned`) that no other ingest advanced the buckets in between —
    // a batch matched against superseded buckets would silently miss
    // its pairs against the racing batch's documents
    val pv = graft.sources.Catalog.resolveVersion(spark, root, bundle, None,
      "ingestPairBundle")
    if (graft.sources.Catalog.bundleManifest(spark, root, bundle, Some(pv))
        .batches.contains(batchId)) false
    else {
      val stored = graft.sources.Catalog
        .readBundleTable(spark, root, bundle, "buckets", Some(pv))
        .select(col(idCol), col("band").cast("int").as("band"), col("bucket"))
      // cross-index match and within-batch pairs are independent and each
      // materializes internally — overlapped (guide §2.6), values unchanged
      val (cross, within) = graft.tools.Par.together(
        () => incrementalMinhashMatchesWithIndex(batch, corpus, stored,
          idCol, textCol, threshold, shingleSize, numHashes, bands,
          maxBucketSize),
        () => minhashPairs(batch, idCol, textCol, threshold,
          shingleSize, numHashes, bands))
      try {
        val newPairs = cross
          .select(least(col("new_id"), col("corpus_id")).as("a"),
            greatest(col("new_id"), col("corpus_id")).as("b"), col("jaccard"))
          .unionByName(within.select(col("a"), col("b"), col("jaccard")))
        graft.sources.Catalog.appendBundle(Seq(
          "pairs" -> newPairs,
          "buckets" -> lshBuckets(batch, idCol, textCol, shingleSize,
            numHashes, bands)) ++ extraMembers, root, bundle, batchId,
          pinned = Some((pv, Seq("buckets"))))
      } finally { cross.unpersist(); within.unpersist(); () }
    }
  }

  /** TAKEDOWN for the pair bundle — the dedup twin of
    * [[graft.operators.TextIndex.retractBundle]]: every pair touching a
    * removed id goes (its duplicate relation is void once the doc is
    * gone), the removed ids' LSH buckets go (the next ingest batch can
    * no longer match against them), and the corpus member — present in
    * the streaming bundle — loses the docs, all in ONE atomic version
    * via [[graft.sources.Catalog.rewriteBundleMembers]] with the batch
    * ledger preserved. Broadcast anti-joins (takedown lists are small),
    * untouched members carried by reference.
    */
  def retractPairBundle(spark: org.apache.spark.sql.SparkSession,
      root: String, bundle: String, ids: DataFrame,
      idCol: String = "doc_id"): Long = {
    val rmA = broadcast(ids.select(col(ids.columns.head).as("__rm_a")))
    val rmB = broadcast(ids.select(col(ids.columns.head).as("__rm_b")))
    // pin the member-set probe and the rewrite to one resolved version
    val pv = graft.sources.Catalog.resolveVersion(spark, root, bundle, None,
      "retractPairBundle")
    val m = graft.sources.Catalog.bundleManifest(spark, root, bundle, Some(pv))
    val base: Map[String, DataFrame => DataFrame] = Map(
      "pairs" -> ((p: DataFrame) =>
        p.join(rmA, p("a") === rmA("__rm_a"), "left_anti")
          .join(rmB, col("b") === rmB("__rm_b"), "left_anti")),
      "buckets" -> ((b: DataFrame) =>
        b.join(rmA, b(idCol) === rmA("__rm_a"), "left_anti")))
    val all = if (m.dirs.contains("corpus"))
      base + ("corpus" -> ((c: DataFrame) =>
        c.join(rmA, c(idCol) === rmA("__rm_a"), "left_anti")))
    else base
    graft.sources.Catalog.rewriteBundleMembers(spark, root, bundle, all,
      version = Some(pv))
  }

  /** The new batch with exact and near duplicates of the corpus removed —
    * the per-ingest decontamination step of a continuously growing corpus.
    * Within-batch duplicates are a separate, composable concern
    * (`exactDedup` / `clusters` on the batch itself).
    */
  def incrementalDedup(newDf: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleSize: Int = 3, numHashes: Int = 48, bands: Int = 12): DataFrame = {
    val exactIds = incrementalExactDupIds(newDf, corpus, idCol, textCol)
    // matches are persisted+materialized (same contract as minhashPairs);
    // one-shot callers free them with the session cache
    val nearIds = incrementalMinhashMatches(newDf, corpus, idCol, textCol,
      threshold, shingleSize, numHashes, bands).select(col("new_id").as(idCol))
    newDf
      .join(exactIds, Seq(idCol), "left_anti")
      .join(nearIds, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------- SimHash

  /** Per-bit +1/-1 vote accumulator for SimHash: one aggregate over the
    * token array with a 64-slot accumulator (bit shifts are compile-time
    * literals, so the bit array is built Scala-side).
    */
  def simhashVotes(text: Column): Column = {
    val toks = TextStats.tokens(TextStats.normalize(text))
    // hash once per token in the transform; the vote lambda only does bit
    // arithmetic on its (cheap) lambda variable — referencing xxhash64(t)
    // from all 64 slots would re-hash the token 64× (interpreted HOFs, no CSE)
    aggregate(
      transform(toks, t => xxhash64(t)),
      array(Seq.fill(64)(lit(0)): _*),
      (acc, h) => {
        val bits = array((0 until 64).map(i =>
          when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1)): _*)
        zip_with(acc, bits, (a, b) => a + b)
      })
  }

  /** Pack a 64-slot vote array column into the 64-bit SimHash. Callers
    * materialize the votes as their own column first (`withSimHash`) so the
    * 64 `element_at` reads hit one local array, not 64 re-evaluations.
    */
  def packVotes(votes: Column): Column =
    (0 until 64).map(i =>
      when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))

  /** 64-bit SimHash over whitespace tokens: bit i set iff the sum of
    * +1/-1 votes (from each token's xxhash64 bit i) is positive. Two
    * chained projections in the same codegen stage.
    */
  def withSimHash(df: DataFrame, textCol: String, as: String = "simhash"): DataFrame =
    df.withColumn("__votes", simhashVotes(col(textCol)))
      .withColumn(as, packVotes(col("__votes")))
      .drop("__votes")

  /** Hamming distance between two 64-bit hashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** `(id, <as>)` SimHash frame via explode + 64 grouped ±1-vote sums —
    * the whole-stage-codegen shape of `withSimHash` (kept as the
    * interpreted semantics oracle; DedupSpec asserts they agree). Token
    * hashing is one codegen'd projection; the vote sums partial-aggregate
    * map-side. Token-less documents survive `explode_outer` with null
    * hashes → all-null vote sums → coalesce to 0 → hash 0, matching the
    * HOF fold's zero-vote pack.
    */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String,
      as: String = "simhash"): DataFrame = {
    val hashed = ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        TextStats.tokens(TextStats.normalize(col(textCol))).as("__toks"))
      .select(col(idCol), explode_outer(Staging.pin(col("__toks"))).as("__t"))
      .select(col(idCol), when(col("__t").isNotNull, xxhash64(col("__t"))).as("__h"))
    val votes = (0 until 64).map(i =>
      coalesce(sum(
        when(shiftright(col("__h"), i).bitwiseAND(1) === 1, 1)
          .when(col("__h").isNotNull, -1)), lit(0L)).as(s"__v$i"))
    val agg = hashed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val h = (0 until 64).map(i =>
      when(col(s"__v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col(idCol), h.as(as))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, found by
    * banding the 64-bit hash into `bands` chunks (pigeonhole: distance ≤ d
    * guarantees an identical chunk when bands > d) and verifying exactly.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, bands: Int = 4, maxBucketSize: Int = 1000): DataFrame =
    hammingPairs(simhashFrame(df, idCol, textCol, "h"), idCol, "h",
      maxDist, bands, maxBucketSize)

  /** Banded near-dup pairs over ANY precomputed 64-bit hash column — the
    * banding + bucket-join + exact-hamming-verify stage of `simhashPairs`,
    * factored out so other fingerprint families (image dHash in
    * `Multimodal.imageHashes`) feed the same machinery. Pigeonhole recall
    * guarantee: with `bands > maxDist`, any pair within `maxDist` shares at
    * least one untouched band, so recall over the verified distance is 1
    * (modulo the `maxBucketSize` skew guard).
    */
  def hammingPairs(withH0: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3, bands: Int = 4, maxBucketSize: Int = 1000): DataFrame = {
    require(bands > maxDist, "need bands > maxDist for the pigeonhole guarantee")
    val width = 64 / bands
    val withH = withH0.select(col(idCol), col(hashCol).as("h"))
    val chunks = array((0 until bands).map(j =>
      struct(lit(j).as("band"),
        shiftright(col("h"), j * width)
          .bitwiseAND(lit((1L << width) - 1)).as("chunk"))): _*)
    val banded = withH.select(col(idCol), col("h"), chunks.as("__bb"))
      .select(col(idCol), col("h"), explode(Staging.pin(col("__bb"))).as("bb"))
      .select(col(idCol), col("h"), col("bb.band"), col("bb.chunk"))
    val grouped = banded.groupBy(col("band"), col("chunk"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("h").as("h")))).as("xs"))
      .where(size(col("xs")) > 1 && size(col("xs")) <= maxBucketSize)
    grouped
      .select(pairStructs(col("xs")).as("__ps"))
      .select(explode(Staging.pin(col("__ps"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        hamming(col("p.ha"), col("p.hb")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** Sequence-level (substring) exact dedup — the within-doc complement of
    * the doc-level passes: find every maximal run of word `n`-grams that
    * occurs at least `minCount` times ANYWHERE in the corpus (across docs
    * or repeated inside one), the standard "repeated boilerplate spans"
    * training-corpus pass (headers, licence blocks, templated chrome).
    *
    * Suffix-array-free, expression-only plan:
    *   1. positional shingles: `split` → `transform(sequence)` per-position
    *      `element_at` reads → `posexplode` (pos, n-gram) — no slice copies;
    *   2. duplicate marking via groupBy(shingle).count + semi-join back.
    *      Deliberately NOT a `count over (partition by shingle)` window: the
    *      groupBy count is map-side partial-agged (a billion-copy boilerplate
    *      shingle arrives at its reducer as per-partition counts), and the
    *      join back is AQE-skew-splittable, while a window pins every copy of
    *      a hot shingle into one unsplittable task;
    *   3. run-length merge per doc: gaps-and-islands (pos − row_number) —
    *      windows partition by doc, so no global sort.
    *
    * Output: (idCol, run_start, run_end, n_shingles) — token positions,
    * 0-based inclusive; a run spans run_end − run_start + n tokens.
    * Downstream: join spans back to strip/mask, or filter docs by
    * repeated-span fraction.
    */
  def repeatedRuns(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__t"))
      .where(size(col("__t")) >= n)
    val sh = toks.select(col(idCol),
        posexplode(transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("__t"), i + lit(j))): _*))))
      .toDF(idCol, "p", "s")
    val dupShingles = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount)
      .select(col("s"))
    val marked = sh.join(dupShingles, Seq("s"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol).orderBy("p")
    marked
      .withColumn("__g", col("p") - row_number().over(w))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("p")).cast("long").as("run_start"),
        (max(col("p")) + (n - 1)).cast("long").as("run_end"),
        count(lit(1)).as("n_shingles"))
      .drop("__g")
  }

  /** Per-doc duplicate n-gram OCCUPANCY — the corpus-quality METRIC the
    * dedup/strip family acts on: for each doc, how many of its n-gram
    * occurrences appear elsewhere too (corpus-wide count ≥ `minCount`,
    * occurrences, not distinct docs), as a fraction of its n-grams. The
    * standard web-corpus boilerplate/duplication signal — a gate keeps or
    * drops docs on the score where `stripRepeatedRuns` rewrites them.
    * Same one-shuffle shingle pipeline as `repeatedRuns`: grams, global
    * counts, semi-aggregate back per doc; docs shorter than n tokens have
    * zero grams and score 0 by definition.
    *
    * Output: (idCol, n_grams, n_dup, dup_frac) — dup_frac rounded to 4.
    */
  def duplicateGramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minCount: Long = 2): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__t"))
      .where(size(col("__t")) >= n)
    val sh = toks.select(col(idCol),
        explode(transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("__t"), i + lit(j))): _*)))
          .as("s"))
    val counts = sh.groupBy(col("s")).agg(count(lit(1)).as("__c"))
    val perDoc = sh.join(counts, Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__c") >= minCount, 1)).as("n_dup"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac", when(col("n_grams") > 0,
          round(col("n_dup").cast("double") / col("n_grams"), 4))
        .otherwise(lit(0.0)))
  }

  /** Which sources duplicate WHICH OTHER sources — the curation view over
    * the near-dup pair set: every exact-verified pair (same machinery as
    * [[minhashPairs]]) maps to its unordered (source, source) cell, and
    * each cell reports its pair count and share of all near-dup pairs.
    * A heavy off-diagonal cell means two feeds mirror each other (one
    * should be dropped or down-weighted before training); a heavy
    * diagonal means a feed re-crawls itself. The source join is pair-
    * keyed (hash join on doc id — scales with the pair set, not the
    * corpus²); the share normalization windows over the ≤|sources|² cell
    * rows, bounded by the source vocabulary.
    *
    * Output: (source_a ≤ source_b, n_pairs, share round-6, cross_source).
    */
  def crossSourceDupShare(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, threshold: Double = 0.9): DataFrame =
    crossSourceDupShareFromPairs(minhashPairs(df, idCol, textCol, threshold),
      df, idCol, srcCol)

  /** Shingle-level content overlap between FEEDS — [[crossSourceDupShare]]
    * catches whole near-duplicate documents; this catches partial
    * mirroring BELOW the document threshold (a feed that quotes, wraps,
    * or templates another shares shingles without any doc pair clearing
    * 0.9): per source the distinct shingle set, then exact pairwise
    * Jaccard and containment from integer set arithmetic — no sampling,
    * no hashing, no floats until the final rounded ratios.
    *
    * Scale: distinct (source, shingle) is one map-side-combined shuffle
    * of the corpus's token stream; the intersection join keys on the
    * SHINGLE, where each key carries at most |sources| rows per side —
    * a boilerplate shingle shared by every feed yields |sources|² pair
    * rows, not a quadratic blowup, because feeds (not documents) are
    * the join's value space. Output is ≤ |sources|² rows, materialized
    * eagerly so the corpus-sized intermediate releases deterministically.
    */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val ss = shingled(df.select(col(srcCol), col(textCol)), srcCol, textCol,
        shingleSize)
      .select(col(srcCol).as("__s"), explode(Staging.pin(col("sh"))).as("sg"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = ss.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
      val out = ss.select(col("__s").as("source_a"), col("sg"))
        .join(ss.select(col("__s").as("source_b"), col("sg")), Seq("sg"))
        .where(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.select(col("__s").as("source_a"), col("__n").as("__na")),
          Seq("source_a"))
        .join(sizes.select(col("__s").as("source_b"), col("__n").as("__nb")),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_inter"),
          graft.functions.Num.roundz(col("n_inter").cast("double") /
            (col("__na") + col("__nb") - col("n_inter")), 6).as("jaccard"),
          graft.functions.Num.roundz(col("n_inter").cast("double") /
            least(col("__na"), col("__nb")), 6).as("containment"))
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.collect().toIndexedSeq, 1),
        out.schema) // bounded: ≤ |sources|² rows
    } finally { ss.unpersist(); () }
  }

  /** [[crossSourceDupShare]] over an ALREADY-COMPUTED pair frame
    * (`(a, b, …)` — e.g. a [[pairTable]] store), so the analysis prices
    * in only the pair-keyed source join, not a fresh LSH+verify run.
    */
  def crossSourceDupShareFromPairs(pairs: DataFrame, df: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    val src = df.select(col(idCol), col(srcCol))
    val cells = pairs
      .join(src.select(col(idCol).as("a"), col(srcCol).as("__sa")), Seq("a"))
      .join(src.select(col(idCol).as("b"), col(srcCol).as("__sb")), Seq("b"))
      .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    cells
      .withColumn("share", graft.functions.Num.roundz(
        col("n_pairs").cast("double") / sum(col("n_pairs")).over(all), 6))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
  }

  /** The ACTION side of `repeatedRuns`: rebuild each document with every
    * repeated-span token REMOVED (headers, licence blocks, templated
    * chrome stripped corpus-wide). Spans come from one `repeatedRuns`
    * pass, collected per doc (bounded: runs per doc ≤ tokens/1, in
    * practice a handful) and applied as an expression — keep token `i`
    * iff no span covers it, then re-join. Docs with no repeated spans
    * (left join miss) pass through byte-identical.
    *
    * Output: `df` plus `n_tokens` (pre-strip), `n_kept`, and `as` = the
    * stripped text. One shingle pass + one narrow map; nothing collects.
    */
  def stripRepeatedRuns(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2, as: String = "text_clean"): DataFrame =
    stripSpans(df, idCol, textCol,
      repeatedRuns(df, idCol, textCol, n, minCount), as)

  /** Rebuild each document with the tokens of `runs` spans removed —
    * the shared ACTION tail of `stripRepeatedRuns` (strip ALL repeated
    * occurrences) and `stripCrossdocDuplicates` (strip all but the
    * first). `runs` columns: (idCol, run_start, run_end); spans are
    * collected per doc (bounded: a handful in practice) and applied as
    * an expression. Docs with no spans pass through byte-identical.
    */
  private def stripSpans(df: DataFrame, idCol: String, textCol: String,
      runs: DataFrame, as: String): DataFrame = {
    val spans = runs
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("run_start").as("s"), col("run_end").as("e")))
        .as("__spans"))
    val covered: Column => Column = i =>
      exists(col("__spans"), sp => i >= sp.getField("s") && i <= sp.getField("e"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("__t", split(col(textCol), " "))
      .withColumn("__keep",
        filter(sequence(lit(0L), size(col("__t")).cast("long") - 1),
          i => !covered(i)))
      .withColumn("n_tokens", size(col("__t")).cast("long"))
      .withColumn("n_kept", size(col("__keep")).cast("long"))
      .withColumn(as,
        concat_ws(" ", transform(col("__keep"),
          i => element_at(col("__t"), (i + 1).cast("int")))))
      .drop("__spans", "__t", "__keep")
  }

  /** `repeatedRuns` with KEEP-FIRST semantics: only the occurrences of a
    * duplicated n-gram that are NOT its corpus-first occurrence (ordered
    * by (idCol, position)) mark dup runs — the sequence-level dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better"): shared content survives EXACTLY ONCE, at its first site,
    * where `repeatedRuns`/`stripRepeatedRuns` treat every occurrence as
    * boilerplate and remove them all.
    *
    * First-occurrence detection is an AGGREGATION, not a window:
    * `min(struct(id, pos))` per shingle is map-side partial-agged, so a
    * billion-copy shingle reaches its reducer as per-partition minima —
    * the same hot-shingle discipline as step 2 of `repeatedRuns` (a
    * `row_number over (partition by shingle)` would pin every copy into
    * one task). The join back is AQE-skew-splittable.
    *
    * Output: dup runs (idCol, run_start, run_end, n_shingles) covering
    * only non-first occurrences.
    */
  def repeatedRunsKeepFirst(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__t"))
      .where(size(col("__t")) >= n)
    val sh = toks.select(col(idCol),
        posexplode(transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("__t"), i + lit(j))): _*))))
      .toDF(idCol, "p", "s")
    val firstOcc = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("i"), col("p").as("q"))).as("__f"))
      .where(col("__c") >= minCount)
      .select(col("s"), col("__f"))
    val marked = sh.join(firstOcc, Seq("s"))
      .where(!(col(idCol) === col("__f").getField("i") &&
        col("p") === col("__f").getField("q")))
      .select(col(idCol), col("p"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol).orderBy("p")
    marked
      .withColumn("__g", col("p") - row_number().over(w))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("p")).cast("long").as("run_start"),
        (max(col("p")) + (n - 1)).cast("long").as("run_end"),
        count(lit(1)).as("n_shingles"))
      .drop("__g")
  }

  /** Cross-document sequence-level dedup, keep-first: rebuild every
    * document with duplicated n-gram runs removed EXCEPT at their
    * corpus-first occurrence. The one-pass approximation standard for
    * this method: stripping can expose new adjacencies whose shingles
    * were never counted — a second pass would catch them; in practice
    * one pass removes the mass. Output columns as `stripRepeatedRuns`.
    */
  def stripCrossdocDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2, as: String = "text_clean"): DataFrame =
    stripSpans(df, idCol, textCol,
      repeatedRunsKeepFirst(df, idCol, textCol, n, minCount), as)

  private def pairStructs(xs: Column): Column =
    flatten(transform(sequence(lit(0), size(xs) - 2), i =>
      transform(slice(xs, i + 2, size(xs)), y =>
        struct(
          element_at(xs, i + 1).getField("id").as("a"),
          y.getField("id").as("b"),
          element_at(xs, i + 1).getField("h").as("ha"),
          y.getField("h").as("hb")))))
}
