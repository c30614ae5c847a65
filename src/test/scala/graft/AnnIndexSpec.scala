package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Embeddings, RelOps, Similarity}
import graft.sources.Catalog

class AnnIndexSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def trainedBooks = Embeddings.pqTrain(
    RelOps.hashSample(embeddings, "vec_id", 0.5), m = 8, k = 16, iters = 2)

  private def newRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The stored coarse quantizer of the latest version: (cell, centroid)
    * in cell order.
    */
  private def centroids(root: String): Seq[(Int, Seq[Double])] =
    Catalog.readBundleTable(spark, root, "ann", "centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  /** The stored PQ codebooks of the latest version, sub then code order. */
  private def books(root: String): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    Catalog.readBundleTable(spark, root, "ann", "books")
      .select(col("sub"), col("code"), col("centroid")).collect()
      .groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toIndexedSeq).toIndexedSeq
      }

  test("index tables round-trip: books and centroids read back exactly") {
    val root = newRoot("graft-ann-rt")
    val bks = trainedBooks
    AnnIndex.writeBundle(embeddings, bks, root, "ann", nCentroids = 8)
    assert(books(root) == bks)
    val cents = centroids(root)
    assert(cents.map(_._1) == (0 until 8))
    assert(cents == Similarity.sampleCentroids(embeddings, 8))
  }

  test("exhaustive serve (all cells probed, full rerank) equals brute force") {
    // with every cell probed and the rerank wider than the corpus, the
    // stored-index path degenerates to exact search — any deviation from
    // bruteForceKnn means codes/cells/decode corrupted something
    val root = newRoot("graft-ann-exact")
    val corpus = embeddings.where(col("vec_id") < 200)
    AnnIndex.writeBundle(corpus, trainedBooks, root, "ann", nCentroids = 4)
    val q = corpus.where(col("vec_id") < 3)
    val got = AnnIndex.knnBundle(spark, root, "ann", corpus, q, k = 5,
        rerank = 300, nProbe = 4)
      .orderBy(col("qid"), col("rank")).collect()
    val want = Similarity.bruteForceKnn(corpus, q, k = 5)
      .orderBy(col("qid"), col("rank")).collect()
    assert(got.length == want.length && got.length == 15)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1),
        s"got $g want $w")
    }
    spark.catalog.clearCache()
  }

  test("append without retraining: frozen quantizer, merged index = brute force") {
    // build on 90% of a small corpus with spill 2, append the held-out 10%:
    // the quantizer/books must not move (frozen on disk), the id set must
    // cover the whole corpus, and an exhaustive serve (all cells, corpus-
    // wide rerank) must equal brute force over the FULL corpus — i.e. the
    // appended vectors are first-class index residents, and the spill
    // duplicates collapse instead of double-counting a neighbor
    val root = newRoot("graft-ann-append")
    val corpus = embeddings.where(col("vec_id") < 200)
    val base = corpus.where(col("vec_id") % 10 =!= 0)
    val batch = corpus.where(col("vec_id") % 10 === 0)
    val bks = trainedBooks
    AnnIndex.writeBundle(base, bks, root, "ann", nCentroids = 4,
      trainIters = 2, spill = 2)
    val centsBefore = centroids(root)
    assert(AnnIndex.appendBundle(spark, root, "ann", batch, "b1"))
    assert(centroids(root) == centsBefore,
      "append must not move the stored quantizer")
    assert(books(root) == bks,
      "append must not move the stored codebooks")
    val indexed = Catalog.readBundleTable(spark, root, "ann", "codes")
      .select(col("vec_id")).distinct().count()
    assert(indexed == corpus.count(), "index id set must cover the corpus")
    val q = corpus.where(col("vec_id") < 3)
    val got = AnnIndex.knnBundle(spark, root, "ann", corpus, q, k = 5,
        rerank = 500, nProbe = 4)
      .orderBy(col("qid"), col("rank")).collect()
    val want = Similarity.bruteForceKnn(corpus, q, k = 5)
      .orderBy(col("qid"), col("rank")).collect()
    assert(got.length == want.length && got.length == 15)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1),
        s"got $g want $w")
    }
    spark.catalog.clearCache()
  }

  test("serve scans only the probed cell partitions") {
    val root = newRoot("graft-ann-prune")
    AnnIndex.writeBundle(embeddings, trainedBooks, root, "ann", nCentroids = 16)
    val q = embeddings.where(col("vec_id") < 2)
    val ann = AnnIndex.knnBundle(spark, root, "ann", embeddings, q, k = 3,
      rerank = 20, nProbe = 3)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec    => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec       => scans(qs.plan)
      // the serve result comes back persisted (Lifecycle) — the real plan
      // lives behind the cache substitution
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other                    => other.children.flatMap(scans)
    }
    // match on the relation's root paths, not toString — the bundle's
    // temp-dir path pushes the member name past simpleString truncation
    val codesScan = scans(ann.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths
        .exists(_.toString.contains("codes.parquet")))
      .getOrElse(fail("no codes.parquet scan in the serve plan"))
    assert(codesScan.toString.contains("PartitionFilters"),
      "probe list must bind as a partition filter")
    val read = codesScan.metrics("numPartitions").value
    // 2 queries × nProbe 3 probe at most 6 of the 16 cells — the scan must
    // touch only those directories, never the whole index
    assert(read > 0 && read <= 6,
      s"expected <= 6 of 16 cell partitions read, got $read")
    spark.catalog.clearCache()
  }

  test("bundle index: atomic build, ledgered append, serve stable across compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft-annb").toString
    val corpus = embeddings.where(col("vec_id") < 200)
    val base = corpus.where(col("vec_id") % 10 =!= 0)
    val batch = corpus.where(col("vec_id") % 10 === 0)
    val books = trainedBooks
    AnnIndex.writeBundle(base, books, root, "ann", nCentroids = 4,
      trainIters = 2, spill = 2, seedBatchIds = Seq("b0"))
    // append is ledgered: first lands, replay rejected with index untouched
    assert(AnnIndex.appendBundle(spark, root, "ann", batch, "b1"))
    val nCodes = graft.sources.Catalog
      .readBundleTable(spark, root, "ann", "codes").count()
    assert(!AnnIndex.appendBundle(spark, root, "ann", batch, "b1"),
      "replayed append must be rejected")
    assert(graft.sources.Catalog
      .readBundleTable(spark, root, "ann", "codes").count() == nCodes,
      "replay mutated the index")
    // exhaustive serve equals brute force over the merged corpus — the
    // appended vectors are first-class residents, assigned by the build's
    // own spill read back from the params member
    val q = corpus.where(col("vec_id") < 3)
    def serve() = AnnIndex.knnBundle(spark, root, "ann", corpus, q, k = 5,
      rerank = 500, nProbe = 4).orderBy(col("qid"), col("rank")).collect()
    val got = serve()
    val want = Similarity.bruteForceKnn(corpus, q, k = 5)
      .orderBy(col("qid"), col("rank")).collect()
    assert(got.length == want.length && got.length == 15)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1),
        s"got $g want $w")
    }
    spark.catalog.clearCache()
    // compaction rewrites the delta file sets; serve is bit-identical and
    // the ledger survives (a replay after compaction is still rejected)
    graft.sources.Catalog.compactBundle(spark, root, "ann")
    val post = serve()
    assert(post.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq,
      "serve changed across compaction")
    assert(!AnnIndex.appendBundle(spark, root, "ann", batch, "b1"),
      "compaction must not reopen the ledger")
    spark.catalog.clearCache()
  }

  test("bundle takedown: codes rewritten, quantizer carried by reference, serve equals brute force on the remainder") {
    val root = java.nio.file.Files.createTempDirectory("graft-annrm").toString
    val corpus = embeddings.where(col("vec_id") < 200)
    AnnIndex.writeBundle(corpus, trainedBooks, root, "ann", nCentroids = 4,
      trainIters = 2, spill = 2, seedBatchIds = Seq("b0"))
    val m1 = graft.sources.Catalog.bundleManifest(spark, root, "ann")
    val rm = corpus.where(col("vec_id") % 10 === 3).select(col("vec_id"))
    AnnIndex.retractBundle(spark, root, "ann", rm)
    val m2 = graft.sources.Catalog.bundleManifest(spark, root, "ann")
    // only codes moved: quantizer/books/params file sets are the SAME
    // manifest references — the takedown never read or rewrote them
    assert(m2.dirs("centroids") == m1.dirs("centroids"))
    assert(m2.dirs("books") == m1.dirs("books"))
    assert(m2.dirs("params") == m1.dirs("params"))
    assert(m2.dirs("codes") != m1.dirs("codes"))
    assert(m2.batches == m1.batches, "takedown must preserve the ledger")
    // exhaustive serve over the post-takedown index = brute force over
    // the REMAINING corpus: a leftover code would surface a removed id,
    // a lost one would drop a survivor
    val q = corpus.where(col("vec_id") < 3)
    val got = AnnIndex.knnBundle(spark, root, "ann", corpus, q, k = 5,
      rerank = 500, nProbe = 4).orderBy(col("qid"), col("rank")).collect()
    val want = Similarity.bruteForceKnn(
        corpus.join(rm, Seq("vec_id"), "left_anti"), q, k = 5)
      .orderBy(col("qid"), col("rank")).collect()
    assert(got.length == want.length && got.length == 15)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1),
        s"got $g want $w")
    }
    spark.catalog.clearCache()
  }

  test("quantizer memo: keyed by the file sets it reads, so a takedown's version reuses it and a reindex misses") {
    val root = java.nio.file.Files.createTempDirectory("graft-annqz").toString
    val corpus = embeddings.where(col("vec_id") < 200)
    val books = trainedBooks
    AnnIndex.writeBundle(corpus, books, root, "ann", nCentroids = 4,
      trainIters = 2, spill = 2, seedBatchIds = Seq("b0"))
    val q = corpus.where(col("vec_id") < 3)
    def serve(r: String): Seq[(Long, Long)] = {
      val df = AnnIndex.knnBundle(spark, r, "ann", corpus, q, k = 5,
        rerank = 60, nProbe = 2)
      try df.orderBy(col("qid"), col("rank")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq
      finally df.unpersist()
    }
    val cold = SparkCounts.of(spark)(serve(root))
    // codes rewritten; centroids, books and params carried by reference
    val rm = corpus.where(col("vec_id") % 10 === 3).select(col("vec_id"))
    AnnIndex.retractBundle(spark, root, "ann", rm)
    val taken = SparkCounts.of(spark)(serve(root))
    assert(taken.executions == cold.executions - 1,
      s"the takedown's serve collected the quantizer again: cold $cold, after $taken")
    // a reindex writes new quantizer file sets: the memo misses and the
    // serve answers what a store built from the same inputs answers
    val remaining = corpus.join(rm, Seq("vec_id"), "left_anti")
    AnnIndex.reindexBundle(spark, root, "ann", remaining, books, nCentroids = 8,
      trainIters = 2, spill = 2)
    var got = Seq.empty[(Long, Long)]
    val reindexed = SparkCounts.of(spark) { got = serve(root) }
    assert(reindexed.executions == cold.executions, s"cold $cold, reindexed $reindexed")
    val other = java.nio.file.Files.createTempDirectory("graft-annqz-ref").toString
    AnnIndex.writeBundle(remaining, books, other, "ann", nCentroids = 8,
      trainIters = 2, spill = 2)
    assert(got == serve(other) && got.size == 15)
    spark.catalog.clearCache()
  }

  test("version pinning: serve answers ONE committed version; append encoded against a superseded quantizer fails loudly") {
    import graft.sources.Catalog
    val root = java.nio.file.Files.createTempDirectory("graft-annpin").toString
    val corpus = embeddings.where(col("vec_id") < 200)
    val half = corpus.where(col("vec_id") < 100)
    val books = trainedBooks
    AnnIndex.writeBundle(half, books, root, "ann", nCentroids = 4,
      trainIters = 2, spill = 2, seedBatchIds = Seq("b0"))
    val v1 = Catalog.latestBundleVersion(spark, root, "ann").get
    def exhaustive(c: org.apache.spark.sql.DataFrame,
        version: Option[Long]) =
      AnnIndex.knnBundle(spark, root, "ann", c,
          corpus.where(col("vec_id") < 3), k = 5, rerank = 500, nProbe = 4,
          version = version)
        .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val servedV1 = exhaustive(half, None)
    spark.catalog.clearCache()
    // a superseding REBUILD over the full corpus with a retrained
    // quantizer (different codebooks, different centroids)
    val books2 = Embeddings.pqTrain(
      RelOps.hashSample(corpus, "vec_id", 0.4), m = 8, k = 16, iters = 3)
    AnnIndex.writeBundle(corpus, books2, root, "ann", nCentroids = 8,
      trainIters = 3, spill = 1, seedBatchIds = Seq("b0v2"))
    val v2 = Catalog.latestBundleVersion(spark, root, "ann").get
    assert(v2 == v1 + 1)
    // a serve that resolved its version BEFORE the rebuild committed
    // (every member read threads that one version) answers entirely
    // from v1 — never v2 centroids beside v1 codes
    assert(exhaustive(half, Some(v1)) == servedV1,
      "pinned serve mixed versions")
    spark.catalog.clearCache()
    // and the default serve answers entirely from the new latest:
    // exhaustive over v2 (all 8 cells probed) = brute force over the
    // FULL corpus
    val wantV2 = Similarity.bruteForceKnn(corpus,
        corpus.where(col("vec_id") < 3), k = 5)
      .orderBy(col("qid"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gotV2 = AnnIndex.knnBundle(spark, root, "ann", corpus,
        corpus.where(col("vec_id") < 3), k = 5, rerank = 500, nProbe = 8)
      .orderBy(col("qid"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotV2 == wantV2, s"got $gotV2 want $wantV2")
    spark.catalog.clearCache()
    // an append whose encode inputs were read at v1 (the superseded
    // quantizer) must FAIL LOUDLY at claim: committing those codes
    // would poison the v2 index with rows no committed quantizer wrote
    val batch = embeddings
      .where(col("vec_id") >= 200 && col("vec_id") < 210)
    val ex = intercept[RuntimeException] {
      AnnIndex.appendBundle(spark, root, "ann", batch, "b1",
        version = Some(v1))
    }
    assert(ex.getMessage.contains("advanced since pinned"),
      s"wrong failure: ${ex.getMessage}")
    assert(!Catalog.bundleManifest(spark, root, "ann").batches.contains("b1"),
      "failed append must not touch the ledger")
    // control: pinning the CURRENT version appends fine, and a later
    // codes-only append does not invalidate a pin on v2's quantizer
    // (only the encode-input members are pinned, not the codes)
    assert(AnnIndex.appendBundle(spark, root, "ann", batch, "b1",
      version = Some(v2)))
    assert(AnnIndex.appendBundle(spark, root, "ann",
      embeddings.where(col("vec_id") >= 210 && col("vec_id") < 220), "b2",
      version = Some(v2)),
      "codes-only appends must still interleave under a quantizer pin")
    spark.catalog.clearCache()
  }

  test("bundle index crash states: half-rebuilt version invisible, old index serves") {
    val root = java.nio.file.Files.createTempDirectory("graft-anncrash").toString
    val corpus = embeddings.where(col("vec_id") < 100)
    AnnIndex.writeBundle(corpus, trainedBooks, root, "ann", nCentroids = 4)
    val q = corpus.where(col("vec_id") < 2)
    val before = AnnIndex.knnBundle(spark, root, "ann", corpus, q, k = 3,
      rerank = 200, nProbe = 4).orderBy(col("qid"), col("rank")).collect()
    spark.catalog.clearCache()
    // a rebuild that crashed AFTER writing new centroids/codes but BEFORE
    // the manifest: the version directory exists with member data, yet
    // stays invisible — the serve still resolves the committed v1, so new
    // centroids can never pair with old codes
    val base = new java.io.File(graft.sources.Catalog.bundleDir(root, "ann"))
    val half = new java.io.File(base, "2")
    corpus.limit(3).select(col("vec_id")).write
      .parquet(s"$half/centroids.parquet")
    val after = AnnIndex.knnBundle(spark, root, "ann", corpus, q, k = 3,
      rerank = 200, nProbe = 4).orderBy(col("qid"), col("rank")).collect()
    assert(after.map(_.toSeq).toSeq == before.map(_.toSeq).toSeq,
      "half-committed rebuild leaked into the serve")
    // the crashed rebuild's slot is reclaimed by the next committer
    AnnIndex.writeBundle(corpus, trainedBooks, root, "ann", nCentroids = 4)
    assert(graft.sources.Catalog.latestBundleVersion(spark, root, "ann")
      .contains(2L), "crashed slot not reclaimed")
    spark.catalog.clearCache()
  }

  /** A spill-2 bundle index over the first 200 vectors, 4 trained cells:
    * most vectors sit in two cells, so a serve probing 2 cells meets
    * each of them twice.
    */
  private lazy val spillRoot = {
    val root = java.nio.file.Files.createTempDirectory("graft-annspill").toString
    AnnIndex.writeBundle(embeddings.where(col("vec_id") < 200), trainedBooks, root,
      "ann", nCentroids = 4, trainIters = 2, spill = 2, seedBatchIds = Seq("b0"))
    root
  }

  /** (qid, nid, sim, rank) rows, qid then rank order; a null sim is None. */
  private def served(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Option[Double], Int)] =
    try df.orderBy(col("qid"), col("rank")).collect().map(r => (r.getLong(0), r.getLong(1),
      Option.when(!r.isNullAt(2))(r.getDouble(2)), r.getInt(3))).toSeq
    finally spark.catalog.clearCache()

  test("serve guard: the shortlist execution reads no query-frame scan and ranks on one qid shuffle") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val corpus = embeddings.where(col("vec_id") < 200)
    val qid = 7L
    val ann = AnnIndex.knnBundle(spark, spillRoot, "ann", corpus,
      embeddings.where(col("vec_id") === qid), k = 5, rerank = 20, nProbe = 2,
      materialize = false)
    assert(served(ann).size == 5)
    // every node of the executed plan, parents before children
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec        => nodes(s.plan)
      case r: ReusedExchangeExec    => nodes(r.child)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val plan = nodes(ann.queryExecution.executedPlan)
    // the query rows were read once, before this execution: no scan here
    // filters on the query frame's `vec_id = 7`
    val queryScans = plan.collect { case s: FileSourceScanExec => s }
      .filter(_.dataFilters.exists(_.find {
        case Literal(v, _) => v == qid
        case _             => false
      }.isDefined))
    assert(queryScans.isEmpty, s"the shortlist execution re-reads the query frame:\n" +
      queryScans.mkString("\n"))
    def keys(x: ShuffleExchangeExec): Seq[String] = x.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: AttributeReference => a.name }
      case _                   => Nil
    }
    val keyed = plan.collect { case x: ShuffleExchangeExec => keys(x) }
    // the shortlist ranks and dedupes on ONE qid shuffle; the exact
    // re-rank above it broadcasts the corpus and the query rows, so its
    // window reuses that partitioning
    assert(keyed.count(_ == Seq("qid")) == 1, s"shuffle keys: $keyed")
    assert(!keyed.exists(_.sorted == Seq("nid", "qid")),
      s"the shortlist shuffles on (qid, nid): $keyed")
  }

  test("spill-2 serve with duplicates at the rerank cut equals the dedupe-then-row_number reference shortlist") {
    import graft.sources.Catalog
    import org.apache.spark.sql.expressions.Window
    val corpus = embeddings.where(col("vec_id") < 200)
    val q = corpus.where(col("vec_id") < 12)
    val (k, rerank, nProbe) = (5, 6, 2)
    // the reference: the index's own members, scored through the same
    // expressions, deduped and THEN ranked
    def member(m: String) = Catalog.readBundleTable(spark, spillRoot, "ann", m)
    val cents = member("centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val books = member("books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toIndexedSeq)
    def asDouble(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val probed = q.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qvec"))
      .withColumn("qn", sqrt(Similarity.dot(col("qvec"), col("qvec"))))
      .withColumn("cell", explode(slice(
        Similarity.centroidRanksIn(col("qvec"), cents), 1, nProbe)))
    val scored = member("codes")
      .select(col("vec_id").as("nid"), col("cell"),
        asDouble(Embeddings.pqDecode(col("pq"), books)).as("cvec"))
      .withColumn("cn", sqrt(Similarity.dot(col("cvec"), col("cvec"))))
      .join(probed, Seq("cell"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        when(col("cn") * col("qn") === 0, lit(0.0d))
          .otherwise(Similarity.dot(col("qvec"), col("cvec"))
            / (col("cn") * col("qn"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    def top(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rank", row_number().over(w)).where(col("rank") <= rerank)
        .select(col("qid"), col("nid"))
    val shortlist = top(scored.dropDuplicates("qid", "nid"))
    // the fixture matters: ranking BEFORE the dedupe would let a spill
    // copy take a slot at the cut and change the shortlist
    val naive = top(scored).distinct()
    assert(shortlist.exceptAll(naive).count() > 0,
      "no spill duplicate reaches the rerank cut")
    val want = served(Similarity.rerankExact(shortlist, corpus, q, k))
    val got = served(AnnIndex.knnBundle(spark, spillRoot, "ann", corpus, q, k = k,
      rerank = rerank, nProbe = nProbe))
    assert(want.size == 12 * k)
    assert(got == want)
  }

  test("serve edge cases: a null query vector, a query row given twice, an empty query frame") {
    val corpus = embeddings.where(col("vec_id") < 200)
    def serve(q: org.apache.spark.sql.DataFrame) = AnnIndex.knnBundle(spark,
      spillRoot, "ann", corpus, q, k = 3, rerank = 10, nProbe = 2)
    val one = corpus.where(col("vec_id") === 3)
    val single = served(serve(one))
    assert(single.map(_._2) == Seq(84L, 156L, 53L))
    // a null query vector and a qid on two rows fail loudly, naming the qid
    val nul = corpus.where(col("vec_id") === 4)
      .withColumn("embedding", lit(null).cast(corpus.schema("embedding").dataType))
    val nulErr = intercept[IllegalArgumentException](served(serve(one.unionByName(nul))))
    assert(nulErr.getMessage.contains("qids 4 have a null query vector"), nulErr.getMessage)
    val dupErr = intercept[IllegalArgumentException](served(serve(one.unionByName(one))))
    assert(dupErr.getMessage.contains("qids 3 have more than one query row"),
      dupErr.getMessage)
    val none = serve(corpus.where(col("vec_id") < 0))
    assert(none.schema == serve(one).schema && served(none).isEmpty)
  }
}
