package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.sources.Catalog

/** STORED IVF-PQ index: the index as tables, not a session object.
  *
  * `ivfPqKnn` rebuilds its quantizer and codes per call — right for a
  * one-shot query, wrong for a serving corpus where the expensive part
  * (training + encoding 10^9+ vectors) should run ONCE and every query
  * batch after that should be training-free. This module makes the index
  * durable in the engine's native currency, parquet tables, as the
  * members of one versioned bundle ([[graft.sources.Catalog.commitBundle]]
  * — every version's `_manifest` lists the file sets of each member):
  *
  *   centroids — (cell int, centroid array<double>), the coarse
  *     quantizer; nCentroids rows, collected/broadcast at serve;
  *   books     — (sub int, code int, centroid array<double>), the PQ
  *     codebooks relationalized; m×k rows;
  *   params    — one row (spill int), the build's own setting, so an
  *     append assigns cells exactly as the build did;
  *   codes     — (id, pq array<int>) PARTITIONED BY cell (declared in
  *     the manifest): the inverted lists ARE the directory layout of
  *     every file set.
  *
  * Serving reads centroids+books (bounded: nCentroids + m×k rows), reads
  * the query rows ONCE (one collect of qid, vector, norm and probe cells:
  * the driver holds |queries| × dims doubles, serve-sized), plans the
  * probe cells on the driver, and scans ONLY those cell directories —
  * the `cell IN (probes)` predicate is a static partition filter, so a
  * 16-cell index probed at nProbe=6 reads 6/16 of the codes on disk
  * (PlanSpec-pinned, same mechanism as the s9 date-pruned scan). At
  * cluster scale that is the difference between touching the whole index
  * and touching the shortlist's shard. ADC scoring + exact re-rank then
  * proceed exactly as `ivfPqKnn`'s in-session path: codes decode through
  * the broadcast codebooks, the rerank fetches raw vectors by id from the
  * corpus table.
  *
  * The same stored index serves differently-filtered queries (the
  * quantizer cannot move — it's on disk), completing the steady-state ANN
  * story the way `cosineLshIndex` does for the semantic-dedup family.
  */
object AnnIndex {

  private def asDouble(c: org.apache.spark.sql.Column) =
    transform(c, x => x.cast("double"))

  /** The quantizer, trained (spherical k-means) or hash-order sampled —
    * the one step of every index build that decides the cells.
    */
  private def trainCentroids(candidates: DataFrame, nCentroids: Int,
      trainIters: Int, idCol: String, vecCol: String): Seq[(Int, Seq[Double])] =
    if (trainIters > 0)
      Similarity.kmeansCentroids(candidates, nCentroids, trainIters, idCol, vecCol)
        .toIndexedSeq.zipWithIndex.map { case (cv, i) => (i, cv) }
    else Similarity.sampleCentroids(candidates, nCentroids, idCol, vecCol)

  private def centroidsDf(spark: SparkSession,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    centroids.map { case (i, v) => (i, v) }.toDF("cell", "centroid")
      .repartition(1)
  }

  private def booksDf(spark: SparkSession,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame = {
    import spark.implicits._
    books.indices.flatMap { j =>
      books(j).indices.map(c => (j, c, books(j)(c)))
    }.toDF("sub", "code", "centroid")
      .repartition(1)
  }

  /** (id, pq, cell) rows for a vector frame against a FROZEN quantizer +
    * codebooks — the one shared encode step of `write` and `append`, so
    * build-time and append-time assignment can never drift.
    */
  private def encodeAssign(vectors: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      centroids: Seq[(Int, Seq[Double])], spill: Int,
      idCol: String, vecCol: String): DataFrame = {
    val encoded = Embeddings.pqEncode(vectors, books, vecCol, as = "pq")
    val withCell =
      if (spill == 1) encoded.withColumn("cell",
        Similarity.nearestCentroidIn(asDouble(col(vecCol)), centroids))
      else encoded.withColumn("cell",
        explode(slice(graft.functions.Staging.pin(
          Similarity.centroidRanksIn(asDouble(col(vecCol)), centroids)), 1, spill)))
    withCell.select(col(idCol), col("pq"), col("cell"))
  }

  /** A stored index's frozen quantizer: the coarse centroids (cell order),
    * the PQ codebooks (sub, then code order) and the build's `spill`.
    */
  private final case class Quantizer(centroids: Seq[(Int, Seq[Double])],
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], spill: Int)

  /** The one quantizer reader: centroids, codebooks and params ride ONE
    * tagged-union collect — all three are bounded (nCentroids + m×k + 1
    * rows), so one action replaces three, each of which is fixed planning
    * and job overhead.
    */
  private def readQuantizer(centroids: DataFrame, books: DataFrame,
      params: DataFrame): Quantizer = {
    val tagged = centroids
      .select(lit(0).as("t"), col("cell").as("a"), lit(0).as("b"), col("centroid").as("v"))
      .unionByName(books
        .select(lit(1).as("t"), col("sub").as("a"), col("code").as("b"), col("centroid").as("v")))
    val rows = tagged.unionByName(params.select(lit(2).as("t"),
        col("spill").as("a"), lit(0).as("b"), lit(null).cast("array<double>").as("v")))
      .collect()
    def tag(t: Int) = rows.filter(_.getInt(0) == t)
    Quantizer(
      tag(0).sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getSeq[Double](3))).toIndexedSeq,
      tag(1).groupBy(_.getInt(1)).toIndexedSeq.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(2)).map(_.getSeq[Double](3).toIndexedSeq).toIndexedSeq
      },
      tag(2).head.getInt(1))
  }

  /** The bundle index's quantizer at a committed version, memoized under
    * the file sets its three members list there
    * ([[graft.sources.Catalog.memoAtBundle]] `members`), not under the
    * version: an append, a codes-only takedown and a restore carry
    * `centroids`/`books`/`params` forward by reference, so the serve of
    * the version they publish reuses the quantizer the append (or an
    * earlier serve) collected. A reindex writes new file sets and misses.
    * The serve and the append both read it here.
    */
  private def bundleQuantizer(spark: SparkSession, root: String, name: String,
      version: Long): Quantizer =
    Catalog.memoAtBundle(spark, root, name, version, "annindex.quantizer",
        members = Seq("centroids", "books", "params")) {
      def member(ref: String) = Catalog.readBundleTable(spark, root, name, ref, Some(version))
      readQuantizer(member("centroids"), member("books"), member("params"))
    }

  /** The serve plan of [[knnBundle]], given the version's quantizer and
    * codes member. Its probe action collects the query rows (qid,
    * vector as doubles, norm, the nProbe nearest cells; |queries| × dims
    * doubles on the driver, serve-sized); the distinct probe list is
    * planned on the driver and prunes `codesAll`
    * (a partition filter — only the probed cell directories are listed).
    * The ADC join's probe side and the exact re-rank's query side are
    * driver-local relations over those rows, so the caller's query frame
    * is read once per serve. The ADC shortlist ranks and dedupes on one
    * qid shuffle, then the exact re-rank. A qid on two query rows, or a
    * null query vector, fails the serve with the qid named.
    */
  private def serveCore(spark: SparkSession, qz: Quantizer,
      codesAll: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, rerank: Int, nProbe: Int,
      idCol: String, vecCol: String,
      within: Option[DataFrame],
      withinPairs: Option[DataFrame] = None,
      materialize: Boolean = true): DataFrame = {
    require(rerank > k, s"AnnIndex.knnBundle: rerank=$rerank must exceed k=$k")
    // the ONE read of the query rows. The plan below reads them from
    // driver-local relations: no per-request literal reaches its generated
    // code, and their exact size makes them the broadcast side
    val read = queries
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("qn", sqrt(Similarity.dot(col("qvec"), col("qvec"))))
      .withColumn("cells", slice(
        Similarity.centroidRanksIn(col("qvec"), qz.centroids), 1, nProbe))
    val rows = read.collect().toSeq
    // loud on inputs the plan below would serve wrongly: a qid on two rows
    // is scored twice (each neighbour fills two ranks), a null vector
    // serves neighbours in id order with null sims
    val dup = rows.groupBy(_.get(0)).collect { case (q, rs) if rs.size > 1 => q }
    require(dup.isEmpty,
      s"AnnIndex.knnBundle: qids ${dup.mkString(", ")} have more than one query row")
    val nul = rows.filter(_.isNullAt(1)).map(_.get(0))
    require(nul.isEmpty, s"AnnIndex.knnBundle: qids ${nul.mkString(", ")} have a null query vector")
    val qSchema = StructType(read.schema.fields.take(3))
    def local(rs: Seq[Row], schema: StructType) = spark.createDataFrame(rs.asJava, schema)
    val probed = local(
      rows.flatMap(r => r.getSeq[Int](3).map(c => Row(r(0), r(1), r(2), c))),
      qSchema.add("cell", IntegerType, nullable = false))
    // the probe list is driver-planned (bounded by nCentroids): an IN on
    // the partition column makes the codes scan read ONLY those cells
    val probeCells = rows.flatMap(_.getSeq[Int](3)).distinct.sorted
    val pruned = codesAll
      .where(col("cell").isin(probeCells.map(Integer.valueOf): _*))
    val kept = within.fold(pruned) { w =>
      val ids = w.select(col(w.columns.head).as("__within_id"))
      pruned.join(ids, pruned(idCol) === ids("__within_id"), "left_semi")
    }
    val decoded = kept
      .withColumn("cvec", asDouble(Embeddings.pqDecode(col("pq"), qz.books)))
      .select(col(idCol).as("nid"), col("cell"), col("cvec"),
        sqrt(Similarity.dot(col("cvec"), col("cvec"))).as("cn"))
    val scoredAll = decoded.join(probed, Seq("cell"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        when(col("cn") * col("qn") === 0, lit(0.0d))
          .otherwise(Similarity.dot(col("qvec"), col("cvec"))
            / (col("cn") * col("qn"))).as("sim"))
    // per-QUERY eligibility ((qid, id) rows — a bulk serve's per-request
    // ACL): unlike the shared `within`, this cannot prune the codes scan
    // (a code allowed for one query and not another), so it semi-joins
    // the (qid, nid) scores before the rank window — semantics per qid
    // equal the single serve with that query's own allowed set
    val scored = withinPairs.fold(scoredAll) { wp =>
      val cs = wp.columns
      val pairs = wp.select(col(cs(0)).as("qid"), col(cs(1)).as("nid"))
      scoredAll.join(pairs, Seq("qid", "nid"), "left_semi")
    }
    // a spill-built index holds a vector in several cells: overlapping
    // probes then surface the same (qid, nid) more than once, with the
    // same codes and so the same sim. dense_rank gives the copies one
    // rank, so ranks <= rerank are the top `rerank` distinct candidates,
    // and the dedupe after it reuses the window's qid partitioning: one
    // shuffle ranks and dedupes
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val shortlist = scored.withColumn("rank", dense_rank().over(w))
      .where(col("rank") <= rerank)
      .select(col("qid"), col("nid")).distinct()
    val exact = Similarity.rerankExact(shortlist, corpus,
      local(rows.map(r => Row(r(0), r(1), r(2))), qSchema)
        .select(col("qid").as(idCol), col("qvec").as(vecCol)), k, idCol, vecCol)
    // `materialize = false` is the COMPOSED-serve shape (threeStage*):
    // the caller's own MMR stage collects the fused pool within the same
    // call — before anything can mutate the store — so the eager
    // persist+count here would be one extra action per serve for a frame
    // consumed exactly once. Direct/public serves keep the materialized
    // contract (answers reflect call-time store state under later
    // maintenance; caller owns the one unpersist — graft.Lifecycle).
    if (materialize) graft.Lifecycle.withMaterialized()(exact) else exact
  }

  // ------------- the manifest IS the ledger -------------

  /** Build + commit the index. One pass over `candidates` computes each
    * vector's cell (nearest centroid) and PQ codes; centroids, codebooks,
    * params and codes publish in ONE staged-directory rename
    * ([[graft.sources.Catalog.commitBundle]]), so a crash mid-rebuild can
    * never leave new centroids beside old codes (codes encoded against
    * one codebook, decoded with another — wrong distances, no error).
    * The codes member keeps its cell partitioning (declared in the
    * manifest, so appends and compaction preserve the pruning layout),
    * and `spill` rides in a one-row `params` member so the append path
    * reads the build's own setting instead of trusting a caller to
    * repeat it. `seedBatchIds` records the creating batch(es) in the
    * manifest's ledger, closing the create-replay window.
    *
    * `trainIters > 0` trains the quantizer with that many spherical
    * k-means rounds instead of the hash-order sample — trained cells
    * follow the corpus's direction clusters, a per-index cost amortized
    * over every serve. `spill > 1` writes each vector into its `spill`
    * nearest cells (index grows spill×): boundary vectors stay reachable
    * from their second-closest cell, which is where a single-assignment
    * IVF loses recall at low nProbe. The serve side collapses the
    * resulting duplicate (qid, nid) pairs.
    */
  def writeBundle(candidates: DataFrame,
      books: => IndexedSeq[IndexedSeq[IndexedSeq[Double]]], root: String,
      name: String, nCentroids: Int = 16, trainIters: Int = 0,
      spill: Int = 1, idCol: String = "vec_id", vecCol: String = "embedding",
      seedBatchIds: Seq[String] = Nil): Long = {
    require(spill >= 1, s"AnnIndex.writeBundle: spill=$spill must be >= 1")
    val spark = candidates.sparkSession
    import spark.implicits._
    // `books` is BY-NAME so a caller writing `writeBundle(c, pqTrain(...))`
    // gets the two independent trainings (PQ codebooks vs the coarse
    // quantizer's k-means) overlapped (guide §2.6): both are bounded
    // driver-loop trainings over the same corpus whose per-iteration
    // actions leave most cores idle, they share no state, and both are
    // deterministic — overlap changes wall clock, never a value. A caller
    // passing an already-computed value just evaluates a val reference.
    val (bks, centroids) = graft.tools.Par.together(
      () => books,
      () => trainCentroids(candidates, nCentroids, trainIters, idCol, vecCol))
    Catalog.commitBundle(Seq(
        "centroids" -> centroidsDf(spark, centroids),
        "books" -> booksDf(spark, bks),
        "params" -> Seq(spill).toDF("spill").repartition(1),
        "codes" -> encodeAssign(candidates, bks, centroids, spill, idCol, vecCol)),
      root, name, seedBatchIds, partitionBy = Map("codes" -> Seq("cell")))
  }

  /** Blue/green REINDEX: retrain the quantizer on the current corpus
    * and republish centroids, codebooks, params and freshly-encoded
    * codes as ONE superseding version — the periodic maintenance a
    * drifting corpus needs (the frozen quantizer [[appendBundle]]
    * rightly never moves loses recall as the corpus's direction
    * clusters drift from the training sample). Three properties make
    * it safe under live traffic: (a) the batch LEDGER carries over
    * verbatim ([[writeBundle]] would reset it — a replayed historic
    * batch would re-ingest after the rebuild), (b) `supersedes` makes
    * a batch appended between this rebuild's corpus read and its
    * commit fail the reindex LOUDLY instead of silently vanishing from
    * the new snapshot ([[graft.sources.Catalog.commitBundle]]), and
    * (c) in-flight serves pinned at the old version keep answering it
    * until retention ([[knnBundle]] `version`). `corpus` must be the
    * store's current logical content — the caller's contract.
    */
  def reindexBundle(spark: SparkSession, root: String, name: String,
      corpus: DataFrame,
      books: => IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      nCentroids: Int = 16, trainIters: Int = 0, spill: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    import spark.implicits._
    val pv = Catalog.resolveVersion(spark, root, name, None,
      "AnnIndex.reindexBundle")
    val prior = Catalog.bundleManifest(spark, root, name, Some(pv))
    // by-name `books` + overlapped quantizer training — see writeBundle
    val (bks, centroids) = graft.tools.Par.together(
      () => books,
      () => trainCentroids(corpus, nCentroids, trainIters, idCol, vecCol))
    Catalog.commitBundle(Seq(
        "centroids" -> centroidsDf(spark, centroids),
        "books" -> booksDf(spark, bks),
        "params" -> Seq(spill).toDF("spill").repartition(1),
        "codes" -> encodeAssign(corpus, bks, centroids, spill, idCol, vecCol)),
      root, name, prior.batches, partitionBy = Map("codes" -> Seq("cell")),
      supersedes = Some(pv))
  }

  /** LEDGERED incremental append WITHOUT retraining — the steady-state
    * ingest path of a serving corpus. The quantizer, codebooks AND the
    * build's `spill` are read back frozen from the bundle itself (so
    * every existing code stays valid and serve-side cell planning is
    * unchanged); the batch is PQ-encoded and cell-assigned through the
    * exact build expressions (shared `encodeAssign`). Its code rows land
    * as a new file set via [[graft.sources.Catalog.appendBundle]] with
    * the batch id IN the manifest, so a replayed append returns false
    * with the index untouched — a double-append would let duplicate nid
    * candidates occupy multiple top-k slots in the exact re-rank,
    * silently displacing real neighbors. Cost is one narrow map over the
    * BATCH: nothing rescans or rewrites the existing corpus;
    * [[graft.sources.Catalog.compactBundle]] collapses the file sets
    * many appends leave, with the ledger preserved.
    */
  def appendBundle(spark: SparkSession, root: String, name: String,
      batch: DataFrame, batchId: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      version: Option[Long] = None): Boolean = {
    // ONE resolved version for all three encode inputs — resolving
    // latest per member would let a racing retrain pair one version's
    // centroids with another's codebooks, assigning the batch with
    // arithmetic no committed index ever had. The claim then re-checks
    // (atomically, via `pinned`) that those members are STILL the
    // pinned version's at publish: codes encoded against a quantizer a
    // racing rebuild superseded must fail loudly, never commit.
    val v = Catalog.resolveVersion(spark, root, name, version,
      "AnnIndex.appendBundle")
    val qz = bundleQuantizer(spark, root, name, v)
    Catalog.appendBundle(
      Seq("codes" -> encodeAssign(batch, qz.books, qz.centroids, qz.spill,
        idCol, vecCol)),
      root, name, batchId,
      pinned = Some((v, Seq("centroids", "books", "params"))))
  }

  /** Training-free serve from the stored index: probe cells planned on
    * the driver, codes read partition-pruned, ADC shortlist, exact
    * re-rank against the corpus's raw vectors ([[serveCore]]). Returns
    * (qid, nid, sim, rank) like every kNN in the family — with
    * `materialize` (the default) a persisted, materialized frame whose
    * one unpersist the caller owns (see [[graft.Lifecycle]]).
    *
    * `within` (one id column, any name) restricts the CANDIDATE set —
    * filtered vector search over the same stored index. The semi-join
    * lands on the cell-pruned decoded codes BEFORE ADC scoring, so a
    * selective filter shrinks the shortlist work too; the exact re-rank
    * only ever sees filtered candidates through the shortlist.
    * `withinPairs` ((qid, id) rows) is per-query eligibility, applied to
    * the scored (qid, nid) pairs before the rank window.
    *
    * Centroids/books/codes are ALL resolved through ONE committed
    * manifest version: `version` is
    * resolved (to latest when `None`) exactly once at entry and
    * threaded through every member read, so a commit landing between
    * the reads can never pair one version's centroids with another's
    * codes (wrong distances, no error) — the serve answers entirely
    * from the pinned version, which stays readable until
    * [[graft.sources.Catalog.pruneBundleVersions]] retention. Pass
    * `Some(v)` for explicit time-travel serving.
    */
  def knnBundle(spark: SparkSession, root: String, name: String,
      corpus: DataFrame, queries: DataFrame, k: Int, rerank: Int = 50,
      nProbe: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding",
      within: Option[DataFrame] = None,
      version: Option[Long] = None,
      withinPairs: Option[DataFrame] = None,
      materialize: Boolean = true): DataFrame = {
    val v = Catalog.resolveVersion(spark, root, name, version,
      "AnnIndex.knnBundle")
    serveCore(spark, bundleQuantizer(spark, root, name, v),
      Catalog.readBundleTable(spark, root, name, "codes", Some(v)),
      corpus, queries, k, rerank, nProbe, idCol, vecCol, within,
      withinPairs, materialize)
  }

  /** TAKEDOWN: remove a vector id set from the bundle-backed index in
    * ONE atomic version — the ANN twin of
    * [[TextIndex.retractBundle]]: the codes member loses the removed
    * ids by a broadcast anti-join (one pass, cell layout preserved by
    * the manifest), while the quantizer, codebooks and params carry
    * forward BY REFERENCE (never read or rewritten — removing vectors
    * cannot move a frozen quantizer, and every surviving code stays
    * valid). Ledger preserved; serves after the flip return exactly
    * what an index rebuilt without the ids returns (AnnIndexSpec pins
    * the exhaustive serve against brute force over the remaining
    * corpus); rows leave disk at retention. `ids`: one id column.
    */
  def retractBundle(spark: SparkSession, root: String, name: String,
      ids: DataFrame, idCol: String = "vec_id"): Long = {
    val rm = broadcast(ids.select(col(ids.columns.head).as("__rm_id")))
    Catalog.rewriteBundleMembers(spark, root, name, Map(
      "codes" -> ((c: DataFrame) =>
        c.join(rm, c(idCol) === rm("__rm_id"), "left_anti"))))
  }
}
