package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Num.roundz

/** Embedding-column transforms for vector corpora: unit normalization and
  * symmetric int8 quantization (4× smaller than float32 at ~0.4% max
  * error) — at 100 TB the storage/shuffle saving IS the feature.
  *
  * All pure Column expressions over the array (no UDFs). Multi-referenced
  * derived values (norm, scale) are materialized with `withColumn` first:
  * higher-order functions are interpreted with no CSE, so an HOF lambda
  * must only reference cheap attributes (see SCALE.md).
  */
object Embeddings {

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Unit-normalize `vecCol` in place; all-zero vectors stay all-zero.
    * The norm is staged as its own attribute so the per-element divide
    * reads it instead of re-summing the array per element.
    */
  def unitNormalize(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__n", Similarity.norm(col(vecCol)))
      .withColumn(vecCol,
        when(col("__n") === 0, asDouble(col(vecCol)))
          .otherwise(transform(col(vecCol), x => x.cast("double") / col("__n"))))
      .drop("__n")

  /** Symmetric per-vector int8 quantization: `scale = max|v| / 127`,
    * `q_i = round(v_i / scale)` ∈ [-127, 127] as tinyint. Adds `qCol`
    * (array<tinyint>) and `scaleCol` (double); zero vectors get scale 1.
    * Reconstruction error is bounded by scale/2 per element.
    */
  def quantizeInt8(df: DataFrame, vecCol: String, qCol: String = "qvec",
      scaleCol: String = "scale"): DataFrame =
    df.withColumn("__mx", array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .withColumn(scaleCol,
        when(col("__mx") === 0, lit(1.0d)).otherwise(col("__mx") / 127.0d))
      .withColumn(qCol,
        transform(col(vecCol),
          x => roundz(x.cast("double") / col(scaleCol)).cast("tinyint")))
      .drop("__mx")

  /** Reconstruct doubles from an int8-quantized vector and its scale. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  // ------------------------------------------------ product quantization

  /** Product-quantization codebooks (Jégou et al. 2011): the vector space
    * splits into `m` contiguous subspaces; each subspace trains its own
    * `k`-codeword codebook with plain Lloyd L2 k-means. A vector then
    * stores m small codes instead of `dims` floats — with m=8, k=16 a
    * 64-dim float32 vector compresses 64× (8 nibbles), the standard
    * billion-vector ANN memory layout.
    *
    * Distributed shape per iteration: ONE narrow assignment map over the
    * corpus (all m subspace argmins in a single projection) and ONE
    * (subspace, cell, position) partial aggregation whose result —
    * exactly dims × k doubles — comes back to the driver. Nothing
    * data-sized leaves the executors; init is the deterministic
    * hash-order sample, so training is reproducible run-to-run.
    */
  def pqTrain(df: DataFrame, m: Int, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    require(m > 0 && k > 0 && iters >= 0, s"pqTrain: bad m=$m k=$k iters=$iters")
    // the training set is the LOOP INVARIANT: the dims probe, the seed
    // sample and every iteration's stats pass re-read it — uncached that
    // is 2 + iters full scans of the source (plus the cast transform each
    // time); cached (guide §5: reused AND recompute > memory) the pipeline
    // below the projection runs once. Unpersisted before returning.
    val base = df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .where(size(col("__v")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // ONE action probes dims AND draws the seed (guide §1.2 — fewer
    // sequential driver actions): the former separate limit(1) dims probe
    // read an arbitrary row, the seed's hash-min row is just as arbitrary
    // — identical on the uniform-width corpora PQ trains on, and the
    // divisibility require still guards mixed-width input
    val seed = base.orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
      .select(col("__v")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    require(seed.nonEmpty, s"pqTrain: no non-empty '$vecCol' vectors")
    val dims = seed.head.length
    require(dims % m == 0, s"pqTrain: dims=$dims not divisible by m=$m")
    val subDim = dims / m
    var books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until m).map(j => seed.map(v => v.slice(j * subDim, (j + 1) * subDim)))
    for (_ <- 1 to iters) {
      // assignment: ONE native vec_pq_encode node per iteration (the plan
      // stays literal-table-sized; the m×k dot loop runs codegen'd).
      // Per-subspace codeword count from the BOOKS, not the declared k:
      // a seed sample smaller than k yields fewer codewords per subspace
      val staged = base.withColumn("__cells", call_function("vec_pq_encode",
        col("__v"), booksLit(books), lit(books.head.size)))
      val stats = staged
        .select(col("__cells"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .withColumn("__sub", (col("__pos") / subDim).cast("int"))
        .withColumn("__cell", element_at(col("__cells"), col("__sub") + 1))
        .groupBy(col("__sub"), col("__cell"), (col("__pos") % subDim).as("__p"))
        .agg(sum(col("__x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCell = stats.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (old, c) =>
          byCell.get((j, c)) match {
            case Some(rows) =>
              val mean = new Array[Double](subDim)
              rows.foreach(r => mean(r.getInt(2)) = r.getDouble(3) / r.getLong(4))
              mean.toIndexedSeq
            case None => old // empty cell keeps its codeword
          }
        }
      }
    }
    books
    } finally { base.unpersist(false); () }
  }

  /** Codebooks flattened for the table expressions: row j·k + c = codeword
    * c of subspace j.
    */
  private def booksLit(books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column =
    typedLit(books.flatten.map(_.toSeq).toSeq)

  /** Encode vectors against trained codebooks: adds `as` = array<int> of m
    * codes, per subspace argmin_c ‖sub − c‖² with ties to the lowest code
    * and -1 for a null vector. A narrow map through the native
    * `vec_pq_encode` (graft.GraftExtensions; the session must register
    * it): one codegen'd node holding the codebook as a table reference.
    * The staged-slice HOF construction it replaces is the test-scope
    * oracle (`KernelOracles.pqEncodeHof`).
    */
  def pqEncode(df: DataFrame, books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      vecCol: String = "embedding", as: String = "pq_codes"): DataFrame = {
    require(books.nonEmpty && books.head.nonEmpty, "pqEncode: empty codebooks")
    df.withColumn(as, call_function("vec_pq_encode",
      asDouble(col(vecCol)), booksLit(books), lit(books.head.size)))
  }

  /** Reconstruct the quantized approximation from PQ codes (codeword
    * concatenation) — the decode side of `pqEncode`, for asymmetric
    * distance computation or error audits. Native `vec_pq_decode`; null
    * codes give a null vector. Test-scope oracle:
    * `KernelOracles.pqDecodeHof`.
    */
  def pqDecode(codes: Column,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column =
    call_function("vec_pq_decode", codes, booksLit(books), lit(books.head.size))

  /** Asymmetric-distance kNN over PQ codes: queries keep their EXACT
    * vectors, candidates are scored through their compressed
    * reconstructions — the ADC scheme every IVF-PQ index uses (half the
    * quantization error of symmetric code-vs-code scoring). The scan
    * streams m-byte codes instead of dims floats, which is the point at
    * billion-vector scale: the candidate side's I/O shrinks by the PQ
    * ratio while the plan stays `bruteForceKnn`'s broadcast-NL shape.
    *
    * `rerank > k` adds the production second stage: the ADC pass only
    * SHORTLISTS `rerank` candidates per query, and the final top-k comes
    * from an exact re-rank of that shortlist against the raw vectors
    * (`Similarity.rerankExact`) — quantization noise then only has to
    * keep true neighbors inside the shortlist, not rank them perfectly,
    * and the exact math touches |queries| × rerank rows instead of the
    * corpus.
    */
  def pqAdcKnn(candidates: DataFrame, queries: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], k: Int,
      rerank: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val compressed = pqEncode(candidates, books, vecCol, as = "__pq")
      .withColumn(vecCol, pqDecode(col("__pq"), books))
      .drop("__pq")
    if (rerank <= k)
      Similarity.bruteForceKnn(compressed, queries, k, idCol, vecCol)
    else {
      val shortlist = Similarity.bruteForceKnn(compressed, queries, rerank, idCol, vecCol)
      Similarity.rerankExact(shortlist, candidates, queries, k, idCol, vecCol)
    }
  }

  /** IVF-PQ kNN — the composed billion-vector serving shape: an IVF
    * coarse quantizer prunes the corpus to the query's nProbe cells, PQ
    * codes stand in for the raw vectors inside those cells (ADC
    * scoring), and the exact re-rank recovers the final top-k from raw
    * vectors fetched for the shortlist only. Next to `pqAdcKnn` the scan
    * also drops from the whole corpus to nProbe/nCentroids of it; next
    * to plain `ivfKnn` the probed cells stream m-byte codes, not
    * dims-float vectors.
    *
    * Returns a persisted, eagerly-materialized frame (k rows per query);
    * the caller owns its one unpersist — see [[graft.Lifecycle]].
    */
  def ivfPqKnn(candidates: DataFrame, queries: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], k: Int,
      rerank: Int = 50, nCentroids: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank > k, s"ivfPqKnn: rerank=$rerank must exceed k=$k")
    // The reconstruction is MATERIALIZED (persist = InMemoryRelation
    // barrier), not left as an expression: IVF's centroid scoring
    // references the candidate vector 16+ times, and inlining the
    // decode expression into every reference blows the plan up
    // combinatorially (observed as a driver OOM). This mirrors the real
    // system too — an IVF-PQ index IS the stored materialization of
    // (cell, codes); at cluster scale this frame would be the persisted
    // index table, written once and scanned per query batch. Lifecycle:
    // the index frame is unpersisted once the (k×|queries|-row) result is
    // materialized; the returned frame is the call's only cached artifact
    // (see graft.Lifecycle).
    val compressed = pqEncode(candidates, books, vecCol, as = "__pq")
      .withColumn(vecCol, pqDecode(col("__pq"), books))
      .drop("__pq")
    graft.Lifecycle.withMaterialized(compressed) {
      val shortlist = Similarity.ivfKnn(compressed, queries, rerank,
        nCentroids, nProbe, idCol, vecCol)
      Similarity.rerankExact(shortlist, candidates, queries, k, idCol, vecCol)
    }
  }

  /** FILTERED IVF-PQ kNN — top-k among candidates satisfying a metadata
    * `predicate`, the query shape every retrieval corpus needs (language =
    * en, date > cutoff, label ∈ allowed). Two properties matter:
    *
    *   - the INDEX is shared: quantizer and codes are built over the FULL
    *     corpus exactly as `ivfPqKnn` builds them (the persisted frame IS
    *     the index table), so differently-filtered searches reuse one
    *     index instead of re-training per filter — and the centroid set is
    *     pinned via `precomputedCentroids` so the filter cannot move it.
    *     The quantizer is TRAINED (spherical k-means over the decoded
    *     index frame, `trainIters` rounds) rather than hash-sampled:
    *     trained cells follow the corpus's direction clusters, so the
    *     same nProbe recovers measurably more true neighbors — the
    *     training cost is per-index, amortized across every filtered
    *     search that reuses it;
    *   - the predicate prunes the INVERTED LISTS (a filter on the index
    *     frame UNDER the cell-probe join — plan-pinned), not the top-k
    *     output. Post-filtering an unfiltered top-k under-returns exactly
    *     when the filter is selective: k survivors of the filter may rank
    *     below k unfiltered neighbors. Here every shortlisted candidate
    *     already satisfies the predicate, so the k results are the best
    *     MATCHING neighbors the probes saw.
    *
    * The exact re-rank joins raw vectors by shortlist id (all matching by
    * construction); the predicate re-applies there only as a pushed-down
    * scan guard.
    *
    * Returns a persisted, eagerly-materialized frame (k rows per query);
    * the caller owns its one unpersist — see [[graft.Lifecycle]].
    */
  def filteredIvfPqKnn(candidates: DataFrame, predicate: Column,
      queries: DataFrame, books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      k: Int, rerank: Int = 50, nCentroids: Int = 16, nProbe: Int = 4,
      trainIters: Int = 4, spill: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank > k, s"filteredIvfPqKnn: rerank=$rerank must exceed k=$k")
    // Same index-frame materialization (and lifecycle) as `ivfPqKnn`: the
    // PQ-decoded frame is cached for the centroid sample + probe join, then
    // unpersisted once the small result frame is materialized — the
    // returned frame is the call's only cached artifact (graft.Lifecycle).
    val compressed = pqEncode(candidates, books, vecCol, as = "__pq")
      .withColumn(vecCol, pqDecode(col("__pq"), books))
      .drop("__pq")
    graft.Lifecycle.withMaterialized(compressed) {
      val centroids =
        if (trainIters > 0)
          Similarity.kmeansCentroids(compressed, nCentroids, trainIters, idCol, vecCol)
            .toIndexedSeq.zipWithIndex.map { case (cv, i) => (i, cv) }
        else Similarity.sampleCentroids(compressed, nCentroids, idCol, vecCol)
      val shortlist = Similarity.ivfKnn(compressed.where(predicate), queries, rerank,
        nCentroids, nProbe, idCol, vecCol,
        precomputedCentroids = Some(centroids), spill = spill)
      Similarity.rerankExact(shortlist, candidates.where(predicate), queries, k,
        idCol, vecCol)
    }
  }

  /** Per-dimension standardization model of a vector column: one
    * posexplode aggregation (map-side partials; the exchange carries ≤
    * partitions×d rows) to (pos, mu, sd). The distribution-shape
    * normalizer embedding pipelines run before distance math when
    * dimensions carry wildly different scales — `standardizeDims`
    * applies it. `sd` is the sample stddev; constant dimensions get
    * sd = 0 (the applier maps those to 0, not NaN).
    */
  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(asDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(avg(col("x")).as("mu"), stddev_samp(col("x")).as("sd"))

  /** Standardize every vector with a precomputed `dimStats` model
    * (collected: 2·d doubles — bounded driver traffic, broadcast back as
    * literals; no join). `z_i = (v_i − μ_i) / σ_i`, constant dimensions
    * (σ = 0) map to 0.
    */
  def standardizeDims(df: DataFrame, vecCol: String, stats: DataFrame,
      as: String = "zvec"): DataFrame = {
    val rows = stats.select(col("pos"), col("mu"), col("sd")).collect()
    require(rows.nonEmpty, "standardizeDims: empty stats")
    val d = rows.map(_.getInt(0)).max + 1
    val mu = new Array[Double](d)
    val sd = new Array[Double](d)
    rows.foreach { r => mu(r.getInt(0)) = r.getDouble(1); sd(r.getInt(0)) = r.getDouble(2) }
    df.withColumn(as,
      zip_with(asDouble(col(vecCol)),
        sequence(lit(0), lit(d - 1)),
        (x, i) => {
          val m = element_at(typedLit(mu.toIndexedSeq), i + 1)
          val s = element_at(typedLit(sd.toIndexedSeq), i + 1)
          when(s === 0, lit(0.0d)).otherwise((x - m) / s)
        }))
  }

  // ------------------------------------------------ PCA (power iteration)

  /** Per-dimension mean of a vector column, as a driver-held Seq (d
    * doubles — bounded by the embedding width, the same driver-traffic
    * class as a centroid). One posexplode aggregation with map-side
    * partials; rows whose vector is empty are ignored.
    */
  def dimensionMeans(df: DataFrame, vecCol: String): Seq[Double] = {
    val rows = df.select(posexplode(asDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(avg(col("x")).as("mu"))
      .collect()
    if (rows.isEmpty) Seq.empty
    else {
      val mu = new Array[Double](rows.map(_.getInt(0)).max + 1)
      rows.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
      mu.toIndexedSeq
    }
  }

  /** Top principal component of a vector column via MATRIX-FREE
    * distributed power iteration — the data-dependent projection next to
    * x65's data-oblivious JL: one direction that captures the corpus's
    * largest variance, for dim-reduction before ANN or as a drift axis.
    *
    * Never materializes the d×d covariance: each iteration computes
    * `s = Σ_rows (v−μ)·⟨v−μ, w⟩` as (a) a codegen'd `vec_dot` per row
    * against the broadcast `w` (the μ correction is the scalar
    * `⟨v,w⟩ − ⟨μ,w⟩`), then (b) one posexplode aggregation for the
    * d-vector sum — so per iteration the cluster does one scan + one
    * d-row shuffle, and the driver holds only (μ, w, s): 3·d doubles.
    * Start vector is a fixed hash ramp (seeded, reproducible); `iters`
    * rounds of normalize-and-repeat converge geometrically in
    * λ₂/λ₁.
    *
    * Returns (mean, unit PC1, λ̂) where λ̂ = ‖s‖/n is the Rayleigh
    * estimate of the top covariance eigenvalue (= variance along PC1).
    */
  def topPrincipalComponent(df: DataFrame, vecCol: String, iters: Int = 8,
      seed: Long = 42L): (Seq[Double], Seq[Double], Double) = {
    val (mu, comps) = principalComponents(df, vecCol, 1, iters, seed)
    (mu, comps.head._1, comps.head._2)
  }

  /** Top-`k` principal components by sequential power iteration with
    * PROJECTION DEFLATION — still matrix-free: component j's iterations
    * run the same one-scan-plus-d-row-shuffle pass as the top component,
    * then orthogonalize the d-vector against the already-found
    * components ON THE DRIVER (k·d doubles of arithmetic — the covariance
    * never exists anywhere). The standard one-vector-at-a-time orthogonal
    * iteration: deflating the iterate against prior eigvecs converges to
    * the next eigenvector in order.
    *
    * Returns (mean, components) with components ordered by decreasing
    * Rayleigh λ̂; directions are mutually orthogonal unit vectors. Use
    * `pcProject` for the k-dim reduction (the data-dependent alternative
    * to x65's JL when the corpus's variance is concentrated).
    */
  def principalComponents(df: DataFrame, vecCol: String, k: Int,
      iters: Int = 8, seed: Long = 42L): (Seq[Double], Seq[(Seq[Double], Double)]) = {
    require(iters > 0, s"principalComponents: iters=$iters must be > 0")
    val mu = dimensionMeans(df, vecCol)
    require(mu.nonEmpty, "principalComponents: no vectors")
    val d = mu.length
    require(k >= 1 && k <= d, s"principalComponents: k=$k outside [1, $d]")
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    def deflate(v: Seq[Double], basis: Seq[Seq[Double]]): Seq[Double] =
      basis.foldLeft(v) { (acc, b) =>
        val proj = acc.zip(b).map { case (a, x) => a * x }.sum
        acc.zip(b).map { case (a, x) => a - proj * x }
      }
    val vDf = df.select(asDouble(col(vecCol)).as("__v"))
      .where(size(col("__v")) === d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = vDf.count().toDouble // also materializes the cache for the loop
      val comps = scala.collection.mutable.ArrayBuffer.empty[(Seq[Double], Double)]
      for (j <- 0 until k) {
        var w: Seq[Double] = unit(deflate((0 until d).map(i =>
          (((i * 2654435761L + seed + j) % 1000L) / 1000.0) - 0.5),
          comps.map(_._1).toSeq))
        var lambda = 0.0
        for (_ <- 1 to iters) {
          val muW = mu.zip(w).map { case (m, x) => m * x }.sum
          val rows = vDf
            .withColumn("__dw", Similarity.dot(col("__v"), typedLit(w)) - lit(muW))
            .select(col("__dw"), posexplode(col("__v")).as(Seq("pos", "x")))
            .groupBy(col("pos"))
            .agg(sum((col("x") - element_at(typedLit(mu), col("pos") + 1)) * col("__dw"))
              .as("s"))
            .collect()
          val s0 = new Array[Double](d)
          rows.foreach(r => s0(r.getInt(0)) = r.getDouble(1))
          val s = deflate(s0.toIndexedSeq, comps.map(_._1).toSeq)
          lambda = math.sqrt(s.map(x => x * x).sum) / n
          w = unit(s)
        }
        comps += ((w, lambda))
      }
      (mu, comps.toSeq)
    } finally { vDf.unpersist(); () }
  }

  /** Project every vector onto `comps` (per `principalComponents`): adds
    * `as` = array of ⟨v−μ, w_j⟩ — k codegen'd dots per row against
    * broadcast literals, no join. The k-dim reduced representation for
    * downstream ANN/clustering when corpus variance is concentrated.
    */
  def pcProject(df: DataFrame, vecCol: String, mean: Seq[Double],
      comps: Seq[Seq[Double]], as: String = "pc"): DataFrame = {
    require(comps.nonEmpty, "pcProject: no components")
    val cols = comps.map { w =>
      val muW = mean.zip(w).map { case (m, x) => m * x }.sum
      Similarity.dot(asDouble(col(vecCol)), typedLit(w)) - lit(muW)
    }
    df.withColumn(as, array(cols: _*))
  }

  /** Project every vector onto the top principal component: adds
    * `as` = ⟨v−μ, w⟩ (a single codegen'd dot per row — the broadcast
    * (μ, w) are literals, no join). Compose with a filter or histogram
    * for PC1-axis drift monitoring, or iterate (deflate and re-run) for
    * more components.
    */
  def pc1Project(df: DataFrame, vecCol: String, mean: Seq[Double],
      pc1: Seq[Double], as: String = "pc1"): DataFrame = {
    val muW = mean.zip(pc1).map { case (m, x) => m * x }.sum
    df.withColumn(as,
      Similarity.dot(asDouble(col(vecCol)), typedLit(pc1)) - lit(muW))
  }
}
