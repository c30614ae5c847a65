package graft

import org.apache.spark.sql.functions._
import graft.operators.{Embeddings, RelOps, Similarity}
import graft.sources.Catalog

/** Dev probe: measured x87 filtered-ANN recall at each SF, to set the
  * oracle floor just under the observed margin. Not part of the driver
  * contract; lives in test scope. Usage:
  * `sbt "Test/runMain graft.RecallProbe [section,...]"`.
  */
object RecallProbe {
  private def deleteRec(f: java.io.File): Unit =
    graft.tools.LocalFs.deleteRecursively(f)

  def main(args: Array[String]): Unit = {
    // optional arg: comma-separated section filter — re-measuring one
    // floor shouldn't pay for every probe. Tokens are validated against
    // the known section ids: a typo'd filter silently running NOTHING
    // would print an empty probe that looks like a clean measurement.
    val sections = Set("x87", "x95", "x96", "x165", "x176", "x180",
      "x191", "x182")
    val only: String => Boolean =
      args.headOption.map(_.split(",").toSet) match {
        case Some(set) =>
          val unknown = set -- sections
          require(unknown.isEmpty,
            s"unknown probe section(s) ${unknown.toSeq.sorted.mkString(",")} " +
              s"— known: ${sections.toSeq.sorted.mkString(",")}")
          set.contains
        case None => _ => true
      }
    val spark = Engine.session("recall-probe")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val e = Catalog.table(spark, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      val pred = col("label") < 5
      val books = Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      if (only("x87")) {
        val ann = Embeddings.filteredIvfPqKnn(e, pred, q, books, k = 5,
          rerank = 150, nCentroids = 16, nProbe = 6, trainIters = 4, spill = 2).persist()
        val brute = Similarity.bruteForceKnn(e.where(pred), q, k = 5).persist()
        val hits = ann.select(col("qid"), col("nid"))
          .join(brute.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_semi")
          .count()
        val b = brute.count()
        println(s"[probe] $sf x87 recall = $hits/$b = ${hits.toDouble / b}")
        spark.catalog.clearCache()
      }
      // x95 stored-index serve, same construction as its declared query
      // (bundle-backed since round 14; deterministic build — identical
      // bytes and recall to the retired flat store)
      if (only("x95")) {
        val idx = s"/tmp/graft/probe_x95_$sf"
        deleteRec(new java.io.File(idx))
        graft.operators.AnnIndex.writeBundle(e, books, idx, "ann",
          nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0"))
        val ann95 = graft.operators.AnnIndex.knnBundle(spark, idx, "ann", e,
          q, k = 5, rerank = 150, nProbe = 6)
        val brute95 = Similarity.bruteForceKnn(e, q, k = 5).persist()
        val hits95 = ann95.select(col("qid"), col("nid"))
          .join(brute95.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_semi")
          .count()
        val b95 = brute95.count()
        println(s"[probe] $sf x95 recall = $hits95/$b95 = ${hits95.toDouble / b95}")
        spark.catalog.clearCache()
      }
      // x96 append-then-serve, same construction as its declared query
      if (only("x96")) {
        val base = e.where(col("vec_id") % 10 =!= 0)
        val batch = e.where(col("vec_id") % 10 === 0)
        val books96 = Embeddings.pqTrain(
          RelOps.hashSample(base, "vec_id", 0.25), m = 8, k = 16, iters = 3)
        val idx96 = s"/tmp/graft/probe_x96_$sf"
        deleteRec(new java.io.File(idx96))
        graft.operators.AnnIndex.writeBundle(base, books96, idx96, "ann",
          nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0"))
        graft.operators.AnnIndex.appendBundle(spark, idx96, "ann", batch, "b1")
        val ann96 = graft.operators.AnnIndex.knnBundle(spark, idx96, "ann",
          e, q, k = 5, rerank = 150, nProbe = 6)
        val brute96 = Similarity.bruteForceKnn(e, q, k = 5).persist()
        val hits96 = ann96.select(col("qid"), col("nid"))
          .join(brute96.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_semi")
          .count()
        val b96 = brute96.count()
        println(s"[probe] $sf x96 recall = $hits96/$b96 = ${hits96.toDouble / b96}")
        spark.catalog.clearCache()
      }
      // shared hybrid store for the composed-serve probes below
      val docs = Catalog.table(spark, dir, "documents")
      val q165 = e.where(col("vec_id") < 1)
      val terms = Seq("join", "hash", "vector")
      val allowed = e.where(col("label") < 5).select(col("vec_id"))
      val hyb = s"/tmp/graft/probe_x165_bnd_$sf"
      if (Seq("x165", "x176", "x180", "x191").exists(only)) {
        deleteRec(new java.io.File(hyb))
        // aligned build (threeStageServe contract): only embedded docs —
        // at sf0.1 the corpus has docs without vectors, and the x176/x180
        // probes below run the MMR stage whose pool must resolve
        graft.operators.TextIndex.writeBundle(docs
          .join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"),
            "left_semi"), hyb, "tix", seedBatchIds = Seq("b0"))
        graft.operators.AnnIndex.writeBundle(e, books, hyb, "ann",
          nCentroids = 16, trainIters = 4, spill = 2,
          seedBatchIds = Seq("b0"))
      }
      if (only("x165") || only("x176")) {
        // shared exact sides (stored bm25 ranks + brute-force vector
        // ranks, both at qid 0: the query is vec_id 0); each section's
        // SERVE runs only when requested, so a single-section probe no
        // longer pays for the other's serve
        val lex = graft.operators.TextIndex.bm25SearchBundle(spark, hyb,
            "tix", terms, k = 50)
          .select(lit(0L).as("qid"), col("doc_id").as("nid"),
            col("rank").cast("int").as("lrank"))
        val exactVec = Similarity.bruteForceKnn(e, q165, k = 50)
          .select(col("qid"), col("nid"), col("rank").as("vrank"))
        if (only("x165")) {
          // x165 hybrid stored serve: fused-list overlap vs the exact
          // fusion at k=10
          val served = Similarity.hybridStoredServeBundle(spark, hyb,
            "tix", hyb, "ann", e, terms,
            q165, k = 10, poolK = 50, rerank = 150, nProbe = 6).persist()
          val exact = Similarity.rrfFuseBatch(lex, exactVec, k = 10).persist()
          val ov = served.select(col("nid"))
            .join(exact.select(col("nid")), Seq("nid"), "left_semi").count()
          val ex = exact.count()
          println(s"[probe] $sf x165 fused overlap = $ov/$ex = ${ov.toDouble / ex}")
          spark.catalog.clearCache()
        }
        if (only("x176")) {
          // x176 composed three-stage serve: final diversified top-10
          // overlap vs the exact composition (stored bm25 + brute-force
          // vectors + the same fusion and the same integer greedy)
          val served176 = Similarity.threeStageServeBundle(spark, hyb,
            "tix", hyb, "ann", e, terms,
            q165, k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6)
            .persist()
          val exactPool = Similarity.rrfFuseBatch(lex, exactVec, k = 30)
          val exact176 = Similarity.mmrRerankPoolBatch(e, q165,
            exactPool.select(col("qid"), col("nid")), k = 10).persist()
          val ov176 = served176.select(col("nid"))
            .join(exact176.select(col("nid")), Seq("nid"), "left_semi").count()
          val ex176 = exact176.count()
          println(s"[probe] $sf x176 mmr overlap = $ov176/$ex176 = ${ov176.toDouble / ex176}")
          spark.catalog.clearCache()
        }
      }
      if (only("x180")) {
        // x180 filtered composed serve: final top-10 overlap vs the exact
        // FILTERED composition (stored bm25-within + brute force over the
        // filtered corpus + same fusion and greedy)
        val served180 = Similarity.threeStageServeBundle(spark, hyb, "tix",
          hyb, "ann", e, terms,
          q165, k = 10, fuseK = 30, poolK = 50, rerank = 150, nProbe = 6,
          within = Some(allowed)).persist()
        val lexF = graft.operators.TextIndex.bm25SearchBundle(spark, hyb,
            "tix", terms, k = 50, within = Some(allowed))
          .select(lit(0L).as("qid"), col("doc_id").as("nid"),
            col("rank").cast("int").as("lrank"))
        val exactVecF = Similarity.bruteForceKnn(
            e.join(allowed, Seq("vec_id"), "left_semi"), q165, k = 50)
          .select(col("qid"), col("nid"), col("rank").as("vrank"))
        val exact180 = Similarity.mmrRerankPoolBatch(e, q165,
          Similarity.rrfFuseBatch(lexF, exactVecF, k = 30)
            .select(col("qid"), col("nid")), k = 10).persist()
        val ov180 = served180.select(col("nid"))
          .join(exact180.select(col("nid")), Seq("nid"), "left_semi").count()
        val ex180 = exact180.count()
        println(s"[probe] $sf x180 filtered overlap = $ov180/$ex180 = ${ov180.toDouble / ex180}")
        spark.catalog.clearCache()
      }
      if (only("x191")) {
        // x191 filtered BATCHED serve: per-qid overlap vs the exact
        // filtered composition, min over the 8 qids (the floor the
        // declared query pins). Swept over (poolK, nProbe, rerank) when
        // re-margining the floor — the declared config is the last.
        val vocab = Seq("join", "hash", "vector", "scan", "merge",
          "table", "index", "sort")
        val batch191 = (0 until 8).map { i =>
          i.toLong -> Seq(vocab(i), vocab((i + 3) % 8)) }
        val qvecs191 = e.where(col("vec_id") < 8)
        for ((poolK, nProbe, rerank, fuseK) <- Seq((50, 6, 150, 30),
            (80, 12, 400, 30))) {
          val served191 = Similarity.threeStageServeBatchBundle(spark, hyb,
            "tix", hyb, "ann", e, batch191, qvecs191, k = 10, fuseK = fuseK,
            poolK = poolK, rerank = rerank, nProbe = nProbe,
            within = Some(allowed)).persist()
          val lex191 = graft.operators.TextIndex.bm25SearchBatchBundle(spark,
              hyb, "tix", batch191, k = poolK, within = Some(allowed))
            .select(col("qid"), col("doc_id").as("nid"),
              col("rank").cast("int").as("lrank"))
          val exactVec191 = Similarity.bruteForceKnn(
              e.join(allowed, Seq("vec_id"), "left_semi"), qvecs191, k = poolK)
            .select(col("qid"), col("nid"), col("rank").as("vrank"))
          val exact191 = Similarity.mmrRerankPoolBatch(e, qvecs191,
            Similarity.rrfFuseBatch(lex191, exactVec191, k = fuseK)
              .select(col("qid"), col("nid")), k = 10).persist()
          val perQ191 = served191.select(col("qid"), col("nid"))
            .join(exact191.select(col("qid"), col("nid")), Seq("qid", "nid"),
              "left_semi")
            .groupBy(col("qid")).agg(count(lit(1)).as("ov"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val min191 = (0L until 8L).map(qid => perQ191.getOrElse(qid, 0L)).min
          println(s"[probe] $sf x191 poolK=$poolK nProbe=$nProbe " +
            s"rerank=$rerank fuseK=$fuseK per-qid overlap min = $min191/10 " +
            s"(all: ${(0L until 8L).map(q => perQ191.getOrElse(q, 0L)).mkString(",")})")
          spark.catalog.clearCache()
        }
      }
      // x182 bundle-store serve (base+append split, k=10 over 3 qids):
      // nProbe sweep to pick the floor margin — the declared query pins
      // recall_ok at its chosen nProbe, floor ≥3 under the weakest SF
      if (only("x182")) {
      val b182 = e.where(col("vec_id") % 4 =!= 3)
      val books182 = Embeddings.pqTrain(
        RelOps.hashSample(b182, "vec_id", 0.25), m = 8, k = 16, iters = 3)
      val r182 = s"/tmp/graft/probe_x182_$sf"
      deleteRec(new java.io.File(r182))
      graft.operators.AnnIndex.writeBundle(b182, books182, r182, "ann",
        nCentroids = 16, trainIters = 4, spill = 2,
        seedBatchIds = Seq("b0"))
      graft.operators.AnnIndex.appendBundle(spark, r182, "ann",
        e.where(col("vec_id") % 4 === 3), "b1")
      val q182 = e.where(col("vec_id") < 3)
      val brute182 = Similarity.bruteForceKnn(e, q182, k = 10).persist()
      val b182n = brute182.count()
      for (np <- Seq(8, 10, 12)) {
        val hits182 = graft.operators.AnnIndex.knnBundle(spark, r182,
            "ann", e, q182, k = 10, rerank = 200, nProbe = np)
          .select(col("qid"), col("nid"))
          .join(brute182.select(col("qid"), col("nid")),
            Seq("qid", "nid"), "left_semi").count()
        println(s"[probe] $sf x182 nProbe=$np recall = $hits182/$b182n")
        spark.catalog.clearCache()
      }
      }
    }
    spark.stop()
  }
}
