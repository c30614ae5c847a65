package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("cosine on known vectors") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f), -1.0),
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f), 0.0)) // zero vector → 0 by definition
      .toDF("a", "b", "expected")
    val got = df.select(
      Similarity.cosine(transform($"a", x => x.cast("double")),
        transform($"b", x => x.cast("double"))).as("sim"), $"expected")
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("bruteForceKnn exact on a tiny fixture") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceKnn(vecs, vecs.where($"vec_id" === 0), k = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(out === Seq((1L, 1), (2L, 2))) // nearest is the 0.9/0.1 vector
  }

  test("lshKnn: identical vectors always share a bucket (recall=1 on dups)") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where($"vec_id" < 3)
    val out = Similarity.lshKnn(e, q, k = 1, numPlanes = 4)
    // each query's own duplicate isn't present, but results are well-formed:
    assert(out.count() <= 3)
    assert(out.where($"rank" === 1).count() === out.count())
  }

  test("lshKnn recall vs brute force on real embeddings (fewer planes → higher)") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where($"vec_id" < 10)
    val brute = Similarity.bruteForceKnn(e, q, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshKnn(e, q, k = 5, numPlanes = 2)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall > 0.2, s"recall=$recall") // 2 planes = 4 buckets → decent recall
  }

  test("cosineNearDupPairs finds injected duplicates at threshold 0.99") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val injected = e.unionByName(
      e.where($"vec_id" < 5).withColumn("vec_id", $"vec_id" + 1000L))
    val pairs = Similarity.cosineNearDupPairs(injected, threshold = 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert((0L until 5L).forall(i => pairs.contains((i, i + 1000L))))
  }

  test("ivfKnn recall vs brute force with generous probes") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where($"vec_id" < 10)
    val brute = Similarity.bruteForceKnn(e, q, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(e, q, k = 5, nCentroids = 8, nProbe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall") // probing half the cells
    // deterministic across runs (sampled centroids are hash-ordered)
    val again = Similarity.ivfKnn(e, q, k = 5, nCentroids = 8, nProbe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(ivf === again)
  }

  test("ivfKnn spill: exhaustive probes = brute force, partial probes never lose recall") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .where($"vec_id" < 300)
    val q = e.where($"vec_id" < 6)
    val brute = Similarity.bruteForceKnn(e, q, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // all cells probed: the spilled duplicates must collapse, not shadow a
    // distinct neighbor out of the top-k — result is exactly brute force
    val exhaustive = Similarity.ivfKnn(e, q, k = 5, nCentroids = 4, nProbe = 4,
        spill = 2)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(exhaustive === brute)
    // partial probes: the spill-2 inverted lists contain every spill-1 list,
    // so recall can only go up
    def recallAt(spill: Int): Double = {
      val got = Similarity.ivfKnn(e, q, k = 5, nCentroids = 8, nProbe = 2,
          spill = spill)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      (brute & got).size.toDouble / brute.size
    }
    assert(recallAt(2) >= recallAt(1))
  }

  test("kmeansCentroids recovers planted direction clusters") {
    // three tight blobs around orthogonal axes in 4-d
    val rnd = new scala.util.Random(7)
    def blob(axis: Int, off: Long) = (0 until 20).map { i =>
      (off + i, Seq.tabulate(4)(j =>
        (if (j == axis) 1.0 else 0.0) + rnd.nextGaussian() * 0.05))
    }
    val df = (blob(0, 0L) ++ blob(1, 100L) ++ blob(2, 200L))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, k = 3, iters = 5)
    assert(cents.size === 3)
    // every centroid is unit-norm and dominated by a distinct planted axis
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"norm=$n")
    }
    val axes = cents.map(c => c.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes === Set(0, 1, 2), cents.toString)
  }

  test("ivfKnn with trained centroids keeps recall and stays deterministic") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where($"vec_id" < 10)
    val brute = Similarity.bruteForceKnn(e, q, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val trained = Similarity.ivfKnn(e, q, k = 5, nCentroids = 8, nProbe = 4,
        trainIters = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute & trained).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall")
    val again = Similarity.ivfKnn(e, q, k = 5, nCentroids = 8, nProbe = 4,
        trainIters = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(trained === again)
  }

  test("randomProject: JL geometry roughly preserved, deterministic, right width") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .where($"vec_id" < 30)
    val p = Similarity.randomProject(e, outDims = 32)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("o"), $"proj")
      .collect()
      .map(r => (r.getSeq[Double](1), r.getSeq[Double](2)))
    assert(p.forall(_._2.size === 32))
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val errs = for (i <- p.indices; j <- i + 1 until p.length if j < i + 3) yield {
      val orig = dist(p(i)._1, p(j)._1)
      math.abs(dist(p(i)._2, p(j)._2) - orig) / orig
    }
    val meanErr = errs.sum / errs.size
    assert(meanErr < 0.35, s"mean JL distortion $meanErr over ${errs.size} pairs")
    // deterministic: same seed → identical projection
    val again = Similarity.randomProject(e, outDims = 32)
      .select($"proj").collect().map(_.getSeq[Double](0))
    assert(p.map(_._2).toSeq === again.toSeq)
  }

  test("mmrRerankPool fails loudly when a pool id has no vector row") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where($"vec_id" < 1)
    val pool = Seq(1L, 2L, 999999999L).toDF("nid") // last id not in the corpus
    val err = intercept[IllegalArgumentException] {
      Similarity.mmrRerankPool(e, q, pool, k = 2).collect()
    }
    assert(err.getMessage.contains("id-space mismatch"), err.getMessage)
    // the all-resolvable pool still serves
    assert(Similarity.mmrRerankPool(e, q, Seq(1L, 2L, 3L).toDF("nid"), k = 2)
      .count() == 2L)
  }

  test("native vec_dot matches the interpreted HOF dot bit-for-bit") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val both = e.select($"vec_id",
      Similarity.dot($"v", $"v").as("native"),
      KernelOracles.dotHof($"v", $"v").as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(1) === r.getDouble(2),
      s"vec_id=${r.getLong(0)}"))
    // a length mismatch truncates to the shorter input (zip_with would
    // pad with nulls: the HOF is an oracle at equal lengths only)
    val edge = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(2.0, 3.0)),      // truncates to shorter
      (Seq.empty[Double], Seq(1.0)))             // empty → 0
      .toDF("a", "b")
      .select(Similarity.dot($"a", $"b").as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(edge === Seq(8.0, 0.0))
  }

  test("native vec_nearest / vec_ranks match the HOF folds bit-for-bit") {
    // ids non-contiguous and out of array order; the first two centroids
    // are IDENTICAL so every vector ties them: the argmax keeps the FIRST
    // strictly-greater entry in ARRAY order, the rank comparator breaks
    // ties by id ASCENDING — both orders pinned here, plus the null/empty/
    // short-vector and -0.0 == 0.0 fall-throughs
    val cents = Seq((5, Seq(1.0, 0.0)), (2, Seq(1.0, 0.0)), (9, Seq(-0.0, 1.0)))
    val rows: Seq[(Long, Option[Seq[Double]])] = Seq(
      (1L, Some(Seq(1.0, 0.0))),
      (2L, Some(Seq(0.0, 1.0))),
      (3L, Some(Seq(-0.0, -0.0))),
      (4L, Some(Seq(0.5))),          // shorter than the centroids: truncating dot
      (5L, Some(Seq.empty[Double])), // empty → every score 0
      (6L, None))                    // null → -1 / ids ascending
    val df = rows.toDF("vec_id", "v")
    val nat = df.select($"vec_id",
      Similarity.nearestCentroidIn($"v", cents).as("n"),
      Similarity.centroidRanksIn($"v", cents).as("r"))
    // the native expressions are what the plan runs
    assert(nat.queryExecution.analyzed.toString.contains("vec_nearest"))
    assert(nat.queryExecution.analyzed.toString.contains("vec_ranks"))
    val hof = df.select($"vec_id",
      Similarity.nearestCentroid($"v", cents, Similarity.dot).as("n"),
      KernelOracles.centroidRanks($"v", cents).as("r"))
    assert(nat.collect().map(_.toSeq).toSeq === hof.collect().map(_.toSeq).toSeq)
    // the documented null fall-throughs, literally
    val byId = nat.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getSeq[Int](2)))).toMap
    assert(byId(6L) === ((-1, Seq(2, 5, 9))))
    assert(byId(1L) === ((5, Seq(2, 5, 9))))  // tie 1.0: fold keeps first (id 5); ranks id-asc
  }

  test("Column-side cosine on degenerate input: zero-norm -> 0.0, NULL -> NULL") {
    val zero = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c")).collect()
    assert(zero.head.getDouble(0) === 0.0)
    val nul = Seq((Option.empty[Seq[Double]], Seq(1.0))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c")).collect()
    assert(nul.head.isNullAt(0))
  }

  test("lshKnn derives hyperplane width from the data (non-64-dim fixture)") {
    // 8-dim embeddings: the old hardcoded dims=64 would hash on a prefix
    // of garbage; derived dims must bucket exact duplicates together
    val base = (0L until 40L).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 1.7 + d).toFloat)
      (i, v)
    }
    val e = base.toDF("vec_id", "embedding")
    val dup = base.take(3).map { case (i, v) => (i + 1000L, v) }.toDF("vec_id", "embedding")
    val out = Similarity.lshKnn(e.unionByName(dup), dup, k = 1, numPlanes = 4)
    val top = out.where($"rank" === 1).select("qid", "nid")
      .as[(Long, Long)].collect().toMap
    // each injected duplicate's nearest neighbour is its identical original
    assert(Similarity.vecDims(e, "embedding") === 8)
    (0L until 3L).foreach(i => assert(top(i + 1000L) === i))
    // degenerate corpus (no non-empty vectors) fails with a clear message
    val empty = Seq((1L, Seq.empty[Float])).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException](Similarity.vecDims(empty, "embedding"))
    assert(err.getMessage.contains("embedding width"))
  }

  test("hyperplanes are deterministic per seed") {
    assert(Similarity.hyperplanes(8, 4, 7L) === Similarity.hyperplanes(8, 4, 7L))
    assert(Similarity.hyperplanes(8, 4, 7L) !== Similarity.hyperplanes(8, 4, 8L))
  }

  test("incremental semantic dedup: copies die against the stored index, uniques survive") {
    val base = (0L until 20L).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 1.7 + d).toFloat)
      (i, v)
    }
    val corpus = base.toDF("vec_id", "embedding")
    val index = Similarity.cosineLshIndex(corpus)
    // batch: two exact copies of corpus vectors + two negated (cosine −1)
    val batch = (base.take(2).map { case (i, v) => (i + 100L, v) } ++
      base.slice(2, 4).map { case (i, v) => (i + 200L, v.map(x => -x)) })
      .toDF("vec_id", "embedding")
    val matches = Similarity.incrementalCosineMatchesWithIndex(
      batch, corpus, index, threshold = 0.999)
    val got = matches.select($"new_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(got === Set((100L, 0L), (101L, 1L)),
      s"expected exactly the planted copy matches, got $got")
    assert(matches.where($"sim" < 0.999).count() === 0)
    val kept = Similarity.incrementalSemanticDedup(
        batch, corpus, index, threshold = 0.999)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(202L, 203L), "negated vectors must survive")
  }

  test("labelCentroids: exact unit-normalized per-label means") {
    val df = Seq(
      (0L, 0, Seq(1.0f, 0.0f)),
      (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 1, Seq(0.0f, 2.0f)),
      (3L, 1, Seq(0.0f, 4.0f)))
      .toDF("vec_id", "label", "embedding")
    val cents = Similarity.labelCentroids(df).toMap
    assert(cents.keySet === Set(0, 1))
    assert(cents(0).zip(Seq(1.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(cents(1).zip(Seq(0.0, 1.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("labelConfusion: separable labels go diagonal, a planted stray crosses") {
    val df = Seq(
      (0L, 0, Seq(1.0f, 0.0f)),
      (1L, 0, Seq(0.9f, 0.1f)),
      (2L, 1, Seq(0.0f, 1.0f)),
      (3L, 1, Seq(0.1f, 0.9f)),
      (4L, 0, Seq(0.0f, 1.0f))) // labeled 0, sits in label-1 space
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.labelConfusion(df)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((0, 0)) === 2L)
    assert(got((1, 1)) === 2L)
    assert(got((0, 1)) === 1L, "the stray must be assigned to label 1")
    assert(!got.contains((1, 0)))
  }

  test("kmeansAssign: every row keeps a valid cell, deterministically") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val a1 = Similarity.kmeansAssign(e, k = 4, iters = 2)
    assert(a1.count() === e.count())
    assert(a1.where($"cell" < 0 || $"cell" >= 4).count() === 0)
    val a2 = Similarity.kmeansAssign(e, k = 4, iters = 2)
    assert(a1.select($"vec_id", $"cell")
      .exceptAll(a2.select($"vec_id", $"cell")).isEmpty)
  }

  test("labelOutliers puts the farthest-from-prototype vector first") {
    // label 0 clusters near e1 with one adversarial vector at −e1: that
    // vector is the re-annotation candidate and must rank rn=1 with the
    // (strictly) lowest own-label score
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(1.0f, 0.1f), 0), (4L, Seq(-1.0f, 0.0f), 0),
      (10L, Seq(0.0f, 1.0f), 1), (11L, Seq(0.1f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(rows, k = 2)
      .orderBy($"label", $"rn").collect()
    assert(out.length === 4) // 2 per label
    assert(out(0).getLong(0) === 4L && out(0).getInt(1) === 0
      && out(0).getInt(3) === 1)
    // scores non-decreasing with rank inside each label
    out.groupBy(_.getInt(1)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      sorted.sliding(2).foreach {
        case Array(lo, hi) => assert(lo.getDouble(2) <= hi.getDouble(2))
        case _ =>
      }
    }
    // k is a bound, not a requirement: a 1-vector label yields one row
    val tiny = Seq((1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 1),
      (3L, Seq(0.1f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val counts = Similarity.labelOutliers(tiny, k = 5)
      .groupBy($"label").count().orderBy($"label")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(counts.toSeq === Seq((0, 1L), (1, 2L)))
  }

  test("hybridRrf fuses disagreeing lexical and vector ranks deterministically") {
    import SparkTestSession.spark
    import spark.implicits._
    // query doc 0 "a b c d e"; lexical ranks: 1 (exact copy), 2, 3
    val docs = Seq(
      (0L, "a b c d e"), (1L, "a b c d e"),
      (2L, "a b c x y"), (3L, "z q w r t"))
      .toDF("doc_id", "text")
    // vector ranks disagree: 2 closest, 3 second, 1 last
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 0.0f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.hybridRrf(docs, docs.where(col("doc_id") === 0),
        vecs, vecs.where(col("vec_id") === 0), k = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(1), r.getInt(3))).toSeq
    // rrf: doc2 1/62+1/61 = .03252 > doc1 1/61+1/63 = .03227 > doc3 .03200
    assert(got == Seq((2L, 1), (1L, 2), (3L, 3)))
  }

  test("rrfFuseBatch: one-sided score one term, both-sided two, ties on id, per qid") {
    // qid 7 holds the same ids with the sides swapped: fusion never
    // crosses qids, so it ranks and cuts its own candidates
    val lex = Seq((0L, 10L, 1), (0L, 11L, 2), (7L, 11L, 1))
      .toDF("qid", "nid", "lrank")
    val vec = Seq((0L, 11L, 1), (0L, 12L, 2), (7L, 10L, 1), (7L, 12L, 2))
      .toDF("qid", "nid", "vrank")
    val rows = Similarity.rrfFuseBatch(lex, vec, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    def of(qid: Long) = rows.filter(_._1 == qid).sortBy(_._4)
      .map(t => (t._2, t._3, t._4)).toSeq
    // 11: 1/62+1/61 = .032516..; 10: 1/61 = .016393..; 12: 1/62 = .016129..
    val q0 = of(0L)
    assert(q0.map(_._1) == Seq(11L, 10L) && q0.map(_._3) == Seq(1, 2), q0)
    assert(math.abs(q0(0)._2 - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(q0(1)._2 - 1.0 / 61) < 1e-12)
    // qid 7: 10 and 11 tie at 1/61 (the lower id wins), 12 is cut at k
    val q7 = of(7L)
    assert(q7.map(_._1) == Seq(10L, 11L) && q7.map(_._3) == Seq(1, 2), q7)
    assert(q7.forall(t => math.abs(t._2 - 1.0 / 61) < 1e-12), q7)
  }

  test("mmrRerank: greedy integer MMR matches a replayed fixture; duplicates penalized") {
    val raw = Map(
      0L -> (1.0, 0.0), 1L -> (4.0, 1.0), 2L -> (5.0, 2.0),
      3L -> (0.0, 5.0), 4L -> (3.0, 4.0))
    val vecs = raw.toSeq.sortBy(_._1)
      .map { case (id, (x, y)) => (id, Seq(x.toFloat, y.toFloat)) }
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(vecs, vecs.where(col("vec_id") === 0),
        k = 3, poolK = 4)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // replay the greedy with the same arithmetic (x1e4-rounded cosines)
    def sim4(a: Long, b: Long): Long = {
      val ((ax, ay), (bx, by)) = (raw(a), raw(b))
      math.round((ax * bx + ay * by)
        / (math.sqrt(ax * ax + ay * ay) * math.sqrt(bx * bx + by * by)) * 1e4)
    }
    var selected = Seq.empty[(Int, Long, Long)]
    var remaining = Set(1L, 2L, 3L, 4L)
    for (rank <- 1 to 3) {
      val best = remaining.toSeq.map { nid =>
        val pen = if (selected.isEmpty) 0L
          else selected.map { case (_, s, _) => sim4(nid, s) }.max
        (nid, sim4(0L, nid) - pen)
      }.minBy { case (nid, s) => (-s, nid) }
      selected = selected :+ ((rank, best._1, best._2))
      remaining -= best._1
    }
    assert(got == selected, s"got $got want $selected")
    // rank 1 is the most relevant; the near-duplicate directions rank
    // with their penalty applied (every later score strictly below)
    assert(got.head._2 == 1L && got.head._3 == sim4(0L, 1L))
    assert(got.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
  }

  /** A fresh store root holding the serving stack's two bundles, each
    * built in one commit: `tix` over `textDocs` and `ann` over `e` (16
    * trained cells, spill 2).
    */
  private def stack(textDocs: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame, prefix: String): String = {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    TextIndex.writeBundle(textDocs, root, "tix")
    AnnIndex.writeBundle(e, Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 2),
      root, "ann", nCentroids = 16, trainIters = 2, spill = 2)
    root
  }

  test("hybridStoredServe: wiring equals hand-fused sides; both stores scanned pruned") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    spark.catalog.clearCache() // scan census below — no foreign cache substitution
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")
    val root = stack(docs, e, "graft-simspec-hybrid")
    val served = Similarity.hybridStoredServeBundle(spark, root, "tix", root,
      "ann", e, terms, q, k = 5, poolK = 20, rerank = 60, nProbe = 3)
    // collect served ITSELF (not a derived frame): the scan census below
    // reads runtime metrics off this exact plan, which must have executed
    val got = served.collect().sortBy(_.getInt(2))
      .map(r => (r.getLong(0), r.getInt(2))).toSeq
    // the same fusion composed by hand from the two serves (the query is
    // vec_id 0, so both sides carry qid 0)
    val lex = TextIndex.bm25SearchBundle(spark, root, "tix", terms, k = 20)
      .select(lit(0L).as("qid"), col("doc_id").as("nid"),
        col("rank").cast("int").as("lrank"))
    val vec = AnnIndex.knnBundle(spark, root, "ann", e, q, k = 20,
        rerank = 60, nProbe = 3)
      .select(col("qid"), col("nid"), col("rank").as("vrank"))
    val want = Similarity.rrfFuseBatch(lex, vec, k = 5).orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(got == want && got.size == 5)

    // the composed plan reads ONLY the pruned store directories: the
    // postings scan the query terms' shards, the codes scan the probed
    // cells
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec    => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec       => scans(qs.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other                    => other.children.flatMap(scans)
    }
    val all = scans(served.queryExecution.executedPlan)
    // match on the relation's root paths, not toString — the bundle's
    // temp-dir path pushes the member name past simpleString truncation
    def member(name: String) = all.find(_.relation.location.rootPaths
      .exists(_.toString.contains(name)))
    val postings = member("postings.parquet")
      .getOrElse(fail("no postings.parquet scan in the composed plan"))
    val nShards = terms.map(TextIndex.shardOf).distinct.size
    assert(postings.partitionFilters.nonEmpty)
    val shardsRead = postings.metrics("numPartitions").value
    assert(shardsRead > 0 && shardsRead <= nShards,
      s"expected <= $nShards postings shards read, got $shardsRead")
    val codes = member("codes.parquet")
      .getOrElse(fail("no codes.parquet scan in the composed plan"))
    assert(codes.partitionFilters.nonEmpty)
    val cellsRead = codes.metrics("numPartitions").value
    assert(cellsRead > 0 && cellsRead <= 3,
      s"expected <= 3 of 16 cell partitions read, got $cellsRead")
    spark.catalog.clearCache()
  }

  test("threeStageServe: composed = fused shortlist through the shared greedy; stores pruned end to end") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    spark.catalog.clearCache() // scan census below — no foreign cache substitution
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")
    val root = stack(docs, e, "graft-simspec-3stage")
    val got = Similarity.threeStageServeBundle(spark, root, "tix", root, "ann", e, terms, q,
        k = 5, fuseK = 15, poolK = 20, rerank = 60, nProbe = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

    // the same composition built BY HAND from the public stages: the
    // stored fusion at fuseK, then the shared pool-greedy. Equality pins
    // the wiring — the composed serve cannot secretly pool from
    // anything but the fused stored-index shortlist
    val fused = Similarity.hybridStoredServeBundle(spark, root, "tix", root,
      "ann", e, terms, q, k = 15, poolK = 20, rerank = 60, nProbe = 3)
    // collect fused ITSELF: the scan census reads runtime metrics off
    // this exact executed plan — the store-touching stage of the serve
    val fusedRows = fused.collect()
    assert(fusedRows.length == 15)
    val want = Similarity.mmrRerankPool(e, q, fused.select(col("nid")),
        k = 5)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && got.size == 5, s"got $got want $want")
    // diversification really happened off the fused list: every served
    // nid is a fused candidate. (No monotone-score assertion — with
    // negative pairwise cosines a later step's `qsim4 − max psim4` can
    // legitimately exceed an earlier one's.)
    val fusedIds = fusedRows.map(_.getLong(0)).toSet
    assert(got.forall(r => fusedIds.contains(r._2)))

    // the store-touching stage reads ONLY pruned directories: postings
    // scan limited to the query terms' shards, codes scan to the probed
    // cells — end to end, the composed serve touches the two stores
    // nowhere else (the MMR stage reads only the shortlist's own
    // vectors through a broadcast hash join on the embeddings table)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec    => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec       => scans(qs.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other                    => other.children.flatMap(scans)
    }
    val all = scans(fused.queryExecution.executedPlan)
    // match on the relation's root paths, not toString — the bundle's
    // temp-dir path pushes the member name past simpleString truncation
    def member(name: String) = all.find(_.relation.location.rootPaths
      .exists(_.toString.contains(name)))
    val postings = member("postings.parquet")
      .getOrElse(fail("no postings.parquet scan in the fused stage"))
    val nShards = terms.map(TextIndex.shardOf).distinct.size
    assert(postings.partitionFilters.nonEmpty)
    val shardsRead = postings.metrics("numPartitions").value
    assert(shardsRead > 0 && shardsRead <= nShards,
      s"expected <= $nShards postings shards read, got $shardsRead")
    val codes = member("codes.parquet")
      .getOrElse(fail("no codes.parquet scan in the fused stage"))
    assert(codes.partitionFilters.nonEmpty)
    val cellsRead = codes.metrics("numPartitions").value
    assert(cellsRead > 0 && cellsRead <= 3,
      s"expected <= 3 of 16 cell partitions read, got $cellsRead")
    spark.catalog.clearCache()
  }

  test("threeStageServeBundle over an appended text index equals the one-shot stack") {
    import graft.operators.TextIndex
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")
    val root = stack(docs, e, "graft-b3")
    // the same corpus indexed a second time as its even docs plus a
    // ledgered append of the odd ones: the appended postings and the
    // summed BM25 delta stats must give the identical three-stage
    // result over the same ANN bundle
    TextIndex.writeBundle(docs.where(col("doc_id") % 2 === 0), root,
      "tix_appended", seedBatchIds = Seq("b0"))
    assert(TextIndex.appendBundle(spark, root, "tix_appended",
      docs.where(col("doc_id") % 2 === 1), "b1"))
    def serve(text: String) = Similarity.threeStageServeBundle(spark,
        root, text, root, "ann", e, terms, q,
        k = 5, fuseK = 15, poolK = 20, rerank = 60, nProbe = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val appended = serve("tix_appended")
    val oneShot = serve("tix")
    assert(appended == oneShot && oneShot.size == 5,
      s"appended $appended one-shot $oneShot")
    spark.catalog.clearCache()
  }

  test("batched serve: per-qid results equal the single-query serve, caps enforced") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val root = stack(docs, e, "graft-simspec-batch")
    val batch = Seq(0L -> Seq("join", "vector"), 1L -> Seq("hash", "scan"),
      2L -> Seq("merge", "table"))
    val qvecs = e.where(col("vec_id") < 3)
    val got = Similarity.threeStageServeBatchBundle(spark, root, "tix", root, "ann", e, batch,
        qvecs, k = 5, fuseK = 15, poolK = 20, rerank = 60, nProbe = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq }
    assert(got.keySet == Set(0L, 1L, 2L))
    batch.foreach { case (qid, ts) =>
      val single = Similarity.threeStageServeBundle(spark, root, "tix", root, "ann", e, ts,
          e.where(col("vec_id") === qid), k = 5, fuseK = 15, poolK = 20,
          rerank = 60, nProbe = 3)
        .orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got(qid) == single && single.size == 5,
        s"qid $qid: batch ${got(qid)} != single $single")
      spark.catalog.clearCache()
    }
    // caps are explicit, not silent: an over-wide per-query pool refuses
    val wide = e.limit(300).select(lit(0L).as("qid"),
      col("vec_id").as("nid"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.mmrRerankPoolBatch(e, e.where(col("vec_id") < 1), wide, 5)
    }
    assert(ex.getMessage.contains("256-candidate"))
    spark.catalog.clearCache()

    // the filtered batch: within restricts BOTH retrieval sides before
    // top-k per query, exactly as the single filtered serve does
    val allowed = e.where(col("label") < 5).select(col("vec_id"))
    val gotF = Similarity.threeStageServeBatchBundle(spark, root, "tix", root, "ann", e,
        batch.take(2), e.where(col("vec_id") < 2), k = 5, fuseK = 15,
        poolK = 20, rerank = 60, nProbe = 3, within = Some(allowed))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq }
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    batch.take(2).foreach { case (qid, ts) =>
      val single = Similarity.threeStageServeBundle(spark, root, "tix", root, "ann", e, ts,
          e.where(col("vec_id") === qid), k = 5, fuseK = 15, poolK = 20,
          rerank = 60, nProbe = 3, within = Some(allowed))
        .orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(gotF(qid) == single && single.size == 5,
        s"filtered qid $qid: batch ${gotF(qid)} != single $single")
      assert(gotF(qid).forall(r => allowedIds.contains(r._2)),
        s"filtered qid $qid served an id outside the allowed set")
      spark.catalog.clearCache()
    }
  }

  test("filtered serve: results within the allowed set; wiring equals hand-filtered stages") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")
    val root = stack(docs, e, "graft-simspec-filt")
    val allowed = e.where(col("label") < 5).select(col("vec_id"))
    val got = Similarity.threeStageServeBundle(spark, root, "tix", root, "ann", e, terms, q,
        k = 5, fuseK = 15, poolK = 20, rerank = 60, nProbe = 3,
        within = Some(allowed))
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.size == 5)
    // the filter is honored end to end: nothing outside the allowed set
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    assert(got.forall(r => allowedIds.contains(r._2)),
      s"served ids outside filter: ${got.map(_._2).filterNot(allowedIds)}")
    // wiring: identical to composing the filtered stages by hand
    val lex = TextIndex.bm25SearchBundle(spark, root, "tix", terms, k = 20,
        within = Some(allowed))
      .select(lit(0L).as("qid"), col("doc_id").as("nid"),
        col("rank").cast("int").as("lrank"))
    val vec = AnnIndex.knnBundle(spark, root, "ann", e, q, k = 20, rerank = 60,
        nProbe = 3, within = Some(allowed))
      .select(col("qid"), col("nid"), col("rank").as("vrank"))
    val fused = Similarity.rrfFuseBatch(lex, vec, k = 15)
    val want = Similarity.mmrRerankPool(e, q, fused.select(col("nid")),
        k = 5)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
    // bm25Search keeps GLOBAL statistics under a filter: the per-doc
    // score of a doc that survives filtering is unchanged, only ranks
    // renumber within the filtered set
    val unfiltered = TextIndex.bm25SearchBundle(spark, root, "tix", terms, k = 200)
      .select(col("doc_id"), col("score_x10k")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val filteredScores = TextIndex.bm25SearchBundle(spark, root, "tix", terms, k = 200,
        within = Some(allowed))
      .select(col("doc_id"), col("score_x10k")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(filteredScores.nonEmpty)
    filteredScores.foreach { case (id, sc) =>
      assert(allowedIds.contains(id))
      assert(unfiltered.get(id).forall(_ == sc),
        s"doc $id score changed under filter")
    }
    spark.catalog.clearCache()
  }

  test("serve under maintenance: a serve pinned before compaction+append+takedown answers exactly the pinned version") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    import graft.sources.Catalog
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val docsA = docs.where(col("doc_id") % 7 =!= 6)
    val eA = e.where(col("vec_id") % 7 =!= 6)
    val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")
    val root = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val books = Embeddings.pqTrain(
      RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 2)
    TextIndex.writeBundle(docsA, root, "tix", seedBatchIds = Seq("b0"))
    AnnIndex.writeBundle(eA, books, root, "ann", nCentroids = 16,
      trainIters = 2, spill = 2, seedBatchIds = Seq("b0"))
    val tv = Catalog.latestBundleVersion(spark, root, "tix").get
    val av = Catalog.latestBundleVersion(spark, root, "ann").get
    def serve(tvv: Option[Long], avv: Option[Long]) =
      Similarity.threeStageServeBundle(spark, root, "tix", root, "ann",
          e, terms, q, k = 5, fuseK = 15, poolK = 20, rerank = 60,
          nProbe = 3, textVersion = tvv, annVersion = avv)
        .orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val before = serve(None, None)
    assert(before.size == 5)
    spark.catalog.clearCache()
    // the full concurrent story, serialized deterministically: an
    // append, a compaction AND a takedown all commit on both stores.
    // The serve's ONLY read of mutable state is latestBundleVersion at
    // entry — everything downstream threads that version — so a serve
    // that resolved before these commits is exactly a pinned serve,
    // and must return the pinned version's answer end to end.
    assert(TextIndex.appendBundle(spark, root, "tix",
      docs.where(col("doc_id") % 7 === 6), "b1"))
    assert(AnnIndex.appendBundle(spark, root, "ann",
      e.where(col("vec_id") % 7 === 6), "b1"))
    Catalog.compactBundle(spark, root, "tix")
    Catalog.compactBundle(spark, root, "ann")
    val rm = before.map(_._2).take(2).toDF("doc_id")
    TextIndex.retractBundle(spark, root, "tix", rm)
    AnnIndex.retractBundle(spark, root, "ann", rm, idCol = "vec_id")
    val pinned = serve(Some(tv), Some(av))
    assert(pinned == before,
      s"pinned serve drifted under maintenance: $pinned vs $before")
    spark.catalog.clearCache()
    // the fresh serve resolves the post-maintenance latest: the
    // taken-down ids are gone, and it still returns a full top-k
    val after = serve(None, None)
    val removed = rm.collect().map(_.getLong(0)).toSet
    assert(after.size == 5 && after.forall(r => !removed.contains(r._2)),
      s"post-takedown serve returned a removed id: $after")
    spark.catalog.clearCache()
  }

  test("filtered batched serve over an appended text index equals the one-shot stack per qid") {
    import graft.operators.TextIndex
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val aligned = docs.join(e.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val root = stack(aligned, e, "graft-fbb")
    TextIndex.writeBundle(aligned.where(col("doc_id") % 2 === 0), root,
      "tix_appended", seedBatchIds = Seq("b0"))
    assert(TextIndex.appendBundle(spark, root, "tix_appended",
      aligned.where(col("doc_id") % 2 === 1), "b1"))
    val batch = Seq(0L -> Seq("join", "vector"), 1L -> Seq("hash", "scan"))
    val qvecs = e.where(col("vec_id") < 2)
    val allowed = e.where(col("label") < 5).select(col("vec_id"))
    def rows(text: String) = Similarity.threeStageServeBatchBundle(spark,
        root, text, root, "ann", e, batch, qvecs, k = 5, fuseK = 15,
        poolK = 20, rerank = 60, nProbe = 3, within = Some(allowed))
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val appended = rows("tix_appended")
    spark.catalog.clearCache()
    val oneShot = rows("tix")
    assert(appended == oneShot && oneShot.size == 10,
      s"appended $appended != one-shot $oneShot")
    spark.catalog.clearCache()
  }

  test("per-qid (qid,id) filter: batch equals each single serve with that query's own allowed set") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val aligned = docs.join(e.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val root = stack(aligned, e, "graft-simspec-wp")
    val batch = Seq(0L -> Seq("join", "vector"), 1L -> Seq("hash", "scan"))
    val qvecs = e.where(col("vec_id") < 2)
    // DIFFERENT allowed set per query — the per-request ACL shape the
    // shared `within` cannot express
    val allow0 = e.where(col("label") < 5).select(col("vec_id"))
    val allow1 = e.where(col("label") >= 3).select(col("vec_id"))
    val pairs = allow0.select(lit(0L).as("qid"), col("vec_id").as("id"))
      .unionByName(allow1.select(lit(1L).as("qid"), col("vec_id").as("id")))
    val got = Similarity.threeStageServeBatchBundle(spark, root, "tix", root, "ann", e, batch,
        qvecs, k = 5, fuseK = 15, poolK = 20, rerank = 60, nProbe = 3,
        withinPairs = Some(pairs))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq }
    spark.catalog.clearCache()
    val allowed = Map(0L -> allow0, 1L -> allow1)
    batch.foreach { case (qid, ts) =>
      val single = Similarity.threeStageServeBundle(spark, root, "tix", root, "ann", e, ts,
          e.where(col("vec_id") === qid), k = 5, fuseK = 15, poolK = 20,
          rerank = 60, nProbe = 3, within = Some(allowed(qid)))
        .orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got(qid) == single && single.size == 5,
        s"qid $qid: per-qid-pairs batch ${got(qid)} != single-within $single")
      val ok = allowed(qid).collect().map(_.getLong(0)).toSet
      assert(got(qid).forall(r => ok.contains(r._2)),
        s"qid $qid served an id outside ITS allowed set")
      spark.catalog.clearCache()
    }
  }

  test("deployment pins: deployed serve equals explicitly-pinned serve; missing artifact refuses loudly") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    import graft.sources.Catalog
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")
    val root = java.nio.file.Files.createTempDirectory("graft-dep").toString
    val aligned = docs.join(e.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    TextIndex.writeBundle(aligned, root, "tix", seedBatchIds = Seq("b0"))
    AnnIndex.writeBundle(e, Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 2),
      root, "ann", nCentroids = 16, trainIters = 2, spill = 2,
      seedBatchIds = Seq("b0"))
    val tv = Catalog.latestBundleVersion(spark, root, "tix").get
    val av = Catalog.latestBundleVersion(spark, root, "ann").get
    val d1 = Catalog.commitDeployment(spark, root, "serving",
      Map("tix" -> tv, "ann" -> av))
    assert(Catalog.readDeployment(spark, root, "serving") ==
      Map("tix" -> tv, "ann" -> av))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("rank")).collect().map(_.toSeq).toSeq
    val deployed = rows(Similarity.threeStageServeDeployed(spark, root,
      "serving", root, "tix", root, "ann", e, terms, q, k = 5, fuseK = 15,
      poolK = 20, rerank = 60, nProbe = 3))
    spark.catalog.clearCache()
    val pinned = rows(Similarity.threeStageServeBundle(spark, root, "tix",
      root, "ann", e, terms, q, k = 5, fuseK = 15, poolK = 20, rerank = 60,
      nProbe = 3, textVersion = Some(tv), annVersion = Some(av)))
    assert(deployed == pinned && deployed.size == 5)
    spark.catalog.clearCache()
    // the deployment itself time-travels: a later pin set doesn't
    // change what d1 answers. A pin naming no committed bundle version
    // refuses at the FLIP (not at the thousand serves that resolve it)
    // unless the caller opts out of validation for non-bundle artifacts
    val exv = intercept[RuntimeException] {
      Catalog.commitDeployment(spark, root, "serving",
        Map("tix" -> tv, "ann" -> av, "extra" -> 1L))
    }
    assert(exv.getMessage.contains("does not resolve"),
      s"wrong failure: ${exv.getMessage}")
    val d2 = Catalog.commitDeployment(spark, root, "serving",
      Map("tix" -> tv, "ann" -> av, "extra" -> 1L), validate = false)
    assert(d2 == d1 + 1)
    assert(Catalog.readDeployment(spark, root, "serving", Some(d1)) ==
      Map("tix" -> tv, "ann" -> av))
    // a pin set missing a required artifact refuses loudly
    Catalog.commitDeployment(spark, root, "broken", Map("tix" -> tv))
    val ex = intercept[RuntimeException] {
      Similarity.threeStageServeDeployed(spark, root, "broken", root,
        "tix", root, "ann", e, terms, q, k = 5, fuseK = 15, poolK = 20,
        rerank = 60, nProbe = 3)
    }
    assert(ex.getMessage.contains("no pin for artifact 'ann'"),
      s"wrong failure: ${ex.getMessage}")
    spark.catalog.clearCache()
  }

  test("deployed batched serve equals the explicitly-pinned batch; takedownServingStack retracts both stores then flips last") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    import graft.sources.Catalog
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val batch = Seq(0L -> Seq("join", "vector"), 1L -> Seq("hash", "scan"),
      2L -> Seq("merge", "table"))
    val qvecs = e.where(col("vec_id") < 3)
    val root = java.nio.file.Files.createTempDirectory("graft-depb").toString
    val aligned = docs.join(e.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    TextIndex.writeBundle(aligned, root, "tix", seedBatchIds = Seq("b0"))
    AnnIndex.writeBundle(e, Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 2),
      root, "ann", nCentroids = 16, trainIters = 2, spill = 2,
      seedBatchIds = Seq("b0"))
    val tv = Catalog.latestBundleVersion(spark, root, "tix").get
    val av = Catalog.latestBundleVersion(spark, root, "ann").get
    Catalog.commitDeployment(spark, root, "serving",
      Map("tix" -> tv, "ann" -> av))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val deployed = rows(Similarity.threeStageServeBatchDeployed(spark,
      root, "serving", root, "tix", root, "ann", e, batch, qvecs, k = 5,
      fuseK = 15, poolK = 20, rerank = 60, nProbe = 3))
    spark.catalog.clearCache()
    val pinned = rows(Similarity.threeStageServeBatchBundle(spark, root,
      "tix", root, "ann", e, batch, qvecs, k = 5, fuseK = 15, poolK = 20,
      rerank = 60, nProbe = 3, textVersion = Some(tv),
      annVersion = Some(av)))
    assert(deployed == pinned && deployed.size == 15)
    spark.catalog.clearCache()
    // the stack takedown as one library call: both stores retracted
    // (each one atomic bundle commit), the pin flipped LAST to the new
    // versions — and the post-takedown serve never returns a removed id
    val rm = deployed.filter(r => r(1) == 1).map(_(2).asInstanceOf[Long])
    val rmDf = rm.toDF("doc_id")
    val newPins = Similarity.takedownServingStack(spark, root, "serving",
      "tix", "ann", rmDf)
    assert(newPins == Map("tix" -> (tv + 1), "ann" -> (av + 1)))
    assert(Catalog.readDeployment(spark, root, "serving") == newPins)
    val post = rows(Similarity.threeStageServeBatchDeployed(spark, root,
      "serving", root, "tix", root, "ann", e, batch, qvecs, k = 5,
      fuseK = 15, poolK = 20, rerank = 60, nProbe = 3))
    assert(post.size == 15 &&
      !post.exists(r => rm.contains(r(2).asInstanceOf[Long])))
    spark.catalog.clearCache()
  }

  test("stack incident: wrong takedown → rollback → realign → corrected takedown serves only the right removal, ledger intact") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    import graft.sources.Catalog
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")
    val root = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val aligned = docs.join(e.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    TextIndex.writeBundle(aligned, root, "tix", seedBatchIds = Seq("b0"))
    AnnIndex.writeBundle(e, Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 2),
      root, "ann", nCentroids = 16, trainIters = 2, spill = 2,
      seedBatchIds = Seq("b0"))
    val d1 = Catalog.commitDeployment(spark, root, "serving", Map(
      "tix" -> Catalog.latestBundleVersion(spark, root, "tix").get,
      "ann" -> Catalog.latestBundleVersion(spark, root, "ann").get))
    def serve(): Seq[(Int, Long)] =
      Similarity.threeStageServeDeployed(spark, root, "serving", root,
        "tix", root, "ann", e, terms, q, k = 5, fuseK = 15, poolK = 20,
        rerank = 60, nProbe = 3)
        .select(col("rank"), col("nid")).collect()
        .map(r => (r.getAs[Number]("rank").intValue, r.getAs[Long]("nid")))
        .sortBy(_._1).toSeq
    val pre = serve()
    assert(pre.size == 5)
    // the incident: ranks 1-2 get taken down... and they were the WRONG
    // ids — rank 3 was the contaminated doc
    val wrong = pre.filter(_._1 <= 2).map(_._2)
    val right = pre.filter(_._1 == 3).map(_._2)
    spark.catalog.clearCache()
    Similarity.takedownServingStack(spark, root, "serving", "tix", "ann",
      wrong.toDF("doc_id"))
    // response: one flip back (serves answer pre-incident versions),
    // then re-align the stores with the pins — without it the corrected
    // takedown below would derive from the wrong-takedown versions and
    // COMPOUND the removal instead of replacing it
    Catalog.rollbackDeployment(spark, root, "serving", d1)
    val aligned2 = Catalog.realignStack(spark, root, "serving")
    assert(aligned2 == Map("tix" -> 3L, "ann" -> 3L))
    // the corrected takedown is ordinary forward maintenance again
    Similarity.takedownServingStack(spark, root, "serving", "tix", "ann",
      right.toDF("doc_id"))
    val post = serve()
    // greedy MMR picks the first two slots on pure relevance-rank, so
    // removing the rank-3 doc cannot move them: the wrongly-removed ids
    // serve again, the right id is gone
    assert(post.filter(_._1 <= 2).map(_._2) == wrong,
      s"wrongly-removed ids must serve again: pre=$pre post=$post")
    assert(post.forall(r => !right.contains(r._2)),
      s"the contaminated id must be gone: post=$post")
    // ledger intact throughout the whole dance: the seed batch id rode
    // every restore and retract, so its replay stays rejected
    assert(Catalog.bundleManifest(spark, root, "tix").batches == Seq("b0"))
    assert(Catalog.bundleManifest(spark, root, "ann").batches == Seq("b0"))
    spark.catalog.clearCache()
  }

  test("mmrRerankPoolBatch fails loudly when a pooled qid has no query-vector row") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val pool = Seq((0L, 10L), (0L, 11L), (7777L, 10L), (7777L, 12L))
      .toDF("qid", "nid")
    // qid 7777 has no row in the query-vector table: the batch must
    // refuse, not silently return zero rows for that query
    val ex = intercept[IllegalArgumentException] {
      Similarity.mmrRerankPoolBatch(e, e.where(col("vec_id") === 0L),
        pool, k = 2)
    }
    assert(ex.getMessage.contains("no 'vec_id' row in the query-vector"),
      s"wrong failure: ${ex.getMessage}")
    spark.catalog.clearCache()
  }

  /** The Spark-column ×10⁴ integer cosine the MMR stage computed before
    * its scores moved to the driver: the reference `Similarity.cos4`
    * must equal bit for bit.
    */
  private def sparkCos4(a: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
    round(when(na * nb === 0, lit(0.0d))
      .otherwise(Similarity.dot(a, b) / (na * nb)) * lit(1e4), 0).cast("long")

  test("MMR scores: the driver's qsim4/psim4 equal the Spark-column values bit for bit") {
    import org.apache.spark.sql.DataFrame
    // (qsim4 by id, psim4 by ordered pair) from the Spark columns, and the
    // driver's from the same rows read back as the MMR fetch reads them
    def both(vecs: DataFrame, qid: Long) = {
      val v = vecs.select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
        .withColumn("n", sqrt(Similarity.dot($"v", $"v")))
      val q = v.where($"vec_id" === qid).select($"v".as("qv"), $"n".as("qn"))
      val qsim = v.crossJoin(q).select($"vec_id", sparkCos4($"qv", $"qn", $"v", $"n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val a = v.select($"vec_id".as("a"), $"v".as("va"), $"n".as("na"))
      val b = v.select($"vec_id".as("b"), $"v".as("vb"), $"n".as("nb"))
      val psim = a.crossJoin(b).where($"a" =!= $"b")
        .select($"a", $"b", sparkCos4($"va", $"na", $"vb", $"nb"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val raw = vecs.select($"vec_id", $"embedding").collect().map(r =>
        r.getLong(0) -> r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray).toMap
      val driver = Similarity.mmrScores(raw(qid), raw.keys.toSeq.sorted, raw)
      assert(driver._1 == qsim, (driver._1.toSet diff qsim.toSet).take(5))
      assert(driver._2 == psim, (driver._2.toSet diff psim.toSet).take(5))
      driver
    }
    // every pair of the embeddings table
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val (allQ, allP) = both(e, 0L)
    assert(allQ.size == 500 && allP.size == 500 * 499)
    // a zero vector scores 0 against everything, as the query and in the pool
    val zero = Seq(1L -> Seq(0f, 0f, 0f), 2L -> Seq(1f, 2f, 3f), 3L -> Seq(0f, 0f, 0f),
      4L -> Seq(-3f, 0.5f, 2f)).toDF("vec_id", "embedding")
    assert(both(zero, 1L)._1.values.forall(_ == 0L))
    assert(both(zero, 2L)._2((2L, 3L)) == 0L)
    // cosine ±1/32 exactly: ×1e4 lands on ±312.5, and half-up rounds it
    // away from zero (half-even or Math.round would give 312 / -312)
    val half = Seq(10L -> Seq(1f, 0f, 0f, 0f, 0f), 11L -> Seq(1f, 31f, 7f, 3f, 2f),
      12L -> Seq(-1f, 0f, 0f, 0f, 0f)).toDF("vec_id", "embedding")
    val (hq, hp) = both(half, 10L)
    assert(hq(11L) == 313L && hp((12L, 11L)) == -313L, s"$hq $hp")
  }

  // ---- committed-version memo: what a deployed serve may reuse (Catalog.memoAtBundle)

  private object ServeCache {
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    import graft.sources.Catalog
    import org.apache.spark.sql.DataFrame

    lazy val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    lazy val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    lazy val q = e.where(col("vec_id") < 1)
    val terms = Seq("join", "vector")

    def docsOf(vecs: DataFrame): DataFrame =
      docs.join(vecs.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")

    /** Text + ANN bundles over `vecs` and their documents; the new pins. */
    def build(root: String, vecs: DataFrame): Map[String, Long] = {
      TextIndex.writeBundle(docsOf(vecs), root, "tix", seedBatchIds = Seq("b0"))
      AnnIndex.writeBundle(vecs, Embeddings.pqTrain(
          RelOps.hashSample(vecs, "vec_id", 0.25), m = 8, k = 16, iters = 2),
        root, "ann", nCentroids = 16, trainIters = 2, spill = 2,
        seedBatchIds = Seq("b0"))
      latest(root)
    }

    def latest(root: String): Map[String, Long] = Seq("tix", "ann")
      .map(b => b -> Catalog.latestBundleVersion(spark, root, b).get).toMap

    private def rows(df: DataFrame): Seq[(Int, Long, Long)] =
      df.orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

    def pinned(root: String, pins: Map[String, Long]): Seq[(Int, Long, Long)] =
      try rows(Similarity.threeStageServeBundle(spark, root, "tix", root, "ann",
        e, terms, q, k = 5, fuseK = 15, poolK = 20, rerank = 60, nProbe = 3,
        textVersion = Some(pins("tix")), annVersion = Some(pins("ann"))))
      finally spark.catalog.clearCache()

    def deployed(root: String): Seq[(Int, Long, Long)] =
      try rows(Similarity.threeStageServeDeployed(spark, root, "serving",
        root, "tix", root, "ann", e, terms, q, k = 5, fuseK = 15, poolK = 20,
        rerank = 60, nProbe = 3))
      finally spark.catalog.clearCache()

    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString
  }

  test("serve cache: a served version pruned afterwards fails its next pinned serve like an uncached read") {
    import graft.sources.Catalog
    import ServeCache._
    val root = tmp("graft-sc-prune")
    val pins = build(root, e)
    // served twice: the version's manifest, member frames, stats and
    // quantizer are all memoized
    val first = pinned(root, pins)
    assert(first.size == 5 && pinned(root, pins) == first)
    // compaction makes a self-contained snapshot; zero-grace retention
    // then reclaims the served version
    Seq("tix", "ann").foreach { b =>
      Catalog.compactBundle(spark, root, b)
      Catalog.pruneBundleVersions(spark, root, b, keep = 1)
    }
    val ex = intercept[IllegalArgumentException](pinned(root, pins))
    assert(ex.getMessage.contains(s"version ${pins("tix")}") &&
      ex.getMessage.contains("is not committed"), ex.getMessage)
    // the snapshot serves the same corpus, so the same answer
    assert(pinned(root, latest(root)) == first)
  }

  test("serve cache: after rollbackDeployment the deployed serve answers the rolled-back pins") {
    import graft.sources.Catalog
    import ServeCache._
    val root = tmp("graft-sc-rollback")
    val d1 = Catalog.commitDeployment(spark, root, "serving", build(root, e))
    val before = deployed(root)
    assert(before.size == 5 && deployed(root) == before)
    val removed = before.filter(_._1 <= 2).map(_._2)
    Similarity.takedownServingStack(spark, root, "serving", "tix", "ann",
      removed.toDF("doc_id"))
    val taken = deployed(root)
    assert(taken.size == 5 && !taken.exists(r => removed.contains(r._2)),
      s"the flip must show on the next serve: $taken")
    Catalog.rollbackDeployment(spark, root, "serving", d1)
    assert(deployed(root) == before)
  }

  test("serve cache: a bundle deleted and rebuilt at the same root with different vectors serves the new answer") {
    import ServeCache._
    val root = tmp("graft-sc-rebuild")
    val evens = e.where(col("vec_id") % 2 === 0)
    val odds = e.where(col("vec_id") % 2 === 1)
    val pa = build(root, evens)
    val a = pinned(root, pa)
    assert(a.size == 5 && a.forall(_._2 % 2 == 0), s"$a")
    graft.tools.LocalFs.deleteRecursively(new java.io.File(root))
    val pb = build(root, odds)
    assert(pb == pa, "the rebuild reuses the version numbers")
    val b = pinned(root, pb)
    // the rebuilt store's answer, and exactly what a store that never
    // served anything (another path) answers for the same build
    val other = tmp("graft-sc-rebuild-ref")
    assert(b.forall(_._2 % 2 == 1) && b == pinned(other, build(other, odds)),
      s"rebuilt store served $b")
  }

  test("serve cache: cached serves equal uncached serves across an append + commitDeployment cycle") {
    import graft.operators.{AnnIndex, TextIndex}
    import graft.sources.Catalog
    import ServeCache._
    val root = tmp("graft-sc-cycle")
    val base = e.where(col("vec_id") % 7 =!= 6)
    val batch = e.where(col("vec_id") % 7 === 6)
    val p1 = build(root, base)
    Catalog.commitDeployment(spark, root, "serving", p1)
    // an uncached serve of the same bytes: a copy of the store at another
    // path shares no memo key with the original
    def uncached(): Seq[(Int, Long, Long)] = {
      val copy = tmp("graft-sc-copy")
      val src = new org.apache.hadoop.fs.Path(root)
      val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new org.apache.hadoop.fs.Path(copy, "s"), false,
        spark.sparkContext.hadoopConfiguration))
      deployed(s"$copy/s")
    }
    val s1 = deployed(root)
    assert(s1.size == 5 && deployed(root) == s1 && uncached() == s1)
    assert(TextIndex.appendBundle(spark, root, "tix", docsOf(batch), "b1"))
    assert(AnnIndex.appendBundle(spark, root, "ann", batch, "b1"))
    val p2 = latest(root)
    Catalog.commitDeployment(spark, root, "serving", p2)
    val s2 = deployed(root)
    assert(s2.size == 5 && deployed(root) == s2 && uncached() == s2)
    // the pre-append pins still answer themselves
    assert(pinned(root, p1) == s1)
  }

  test("serve cache guard: a second threeStageServeBundle at the same pins runs at most 3 SQL executions") {
    import ServeCache._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = tmp("graft-sc-execs")
    val pins = build(root, e)
    // executions reach the listener asynchronously: each measurement
    // ends with a marker query and waits for it, so every execution of
    // the measured body has been delivered (the bus keeps event order)
    object Counter extends QueryExecutionListener {
      @volatile var marker = "no marker yet"
      @volatile var seen = false
      val n = new java.util.concurrent.atomic.AtomicInteger
      private def record(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(marker)) seen = true
        else { n.incrementAndGet(); () }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, x: Exception): Unit = record(qe)
    }
    def executions(body: => Unit): Int = {
      Counter.marker = s"serve-cache-marker-${java.util.UUID.randomUUID()}"
      body
      spark.range(1).select(lit(Counter.marker)).collect()
      val deadline = System.currentTimeMillis() + 60000L
      while (!Counter.seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(Counter.seen, "the listener never received the marker query")
      Counter.seen = false
      Counter.n.getAndSet(0)
    }
    spark.listenerManager.register(Counter)
    try {
      var first, second = Seq.empty[(Int, Long, Long)]
      val cold = executions { first = pinned(root, pins) }
      val warm = executions { second = pinned(root, pins) }
      assert(second == first && first.size == 5)
      // the query read, the MMR stage's one action (which runs the
      // retrieval inside it), the caller's collect; the BM25 stats and the
      // quantizer come from the memo
      assert(warm <= 3, s"second serve ran $warm SQL executions (first: $cold)")
      assert(cold > warm, s"first serve ran $cold, second $warm")
    } finally spark.listenerManager.unregister(Counter)
  }

  test("fresh-serve guard: the first threeStageServeBundle at pins an append just published runs at most 4 SQL executions and no job outside one") {
    import graft.operators.{AnnIndex, TextIndex}
    import graft.sources.Catalog
    import ServeCache._
    val root = tmp("graft-sc-fresh")
    val batch = e.where(col("vec_id") % 7 === 6)
    val p1 = build(root, e.where(col("vec_id") % 7 =!= 6))
    Catalog.commitDeployment(spark, root, "serving", p1)
    assert(pinned(root, p1).size == 5) // warm: classes compiled, p1 memoized
    assert(TextIndex.appendBundle(spark, root, "tix", docsOf(batch), "b1"))
    assert(AnnIndex.appendBundle(spark, root, "ann", batch, "b1"))
    val p2 = latest(root)
    Catalog.commitDeployment(spark, root, "serving", p2)
    var served = Seq.empty[(Int, Long, Long)]
    val c = SparkCounts.of(spark) { served = pinned(root, p2) }
    assert(served.size == 5)
    // the query read, the new version's BM25 stats, the MMR stage's one
    // action and the caller's collect; the member reads open no footer
    // (recorded schemas) and the quantizer the append read is reused
    assert(c.executions <= 4 && c.jobsOutside == 0, s"fresh serve ran $c")
  }

  test("codegen cache guard: a repeated threeStageServeBundle at the same pins compiles no new classes") {
    import ServeCache._
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val root = tmp("graft-sc-codegen")
    val pins = build(root, e)
    // the answer, and the classes compiled while serving it
    def serve(): (Seq[(Int, Long, Long)], Long) = {
      val c0 = METRIC_COMPILATION_TIME.getCount
      val rows = pinned(root, pins)
      (rows, METRIC_COMPILATION_TIME.getCount - c0)
    }
    val (first, cold) = serve()
    assert(first.size == 5)
    val repeats = (1 to 3).map { _ =>
      val (again, n) = serve()
      assert(again == first)
      n
    }
    // the same request generates the same sources, and one serve's classes
    // fit the generated-class cache (Engine.CodegenCacheEntries). The class
    // name carries the whole-stage codegen id, which AQE assigns in the
    // order it plans stages, so now and then a repeat plans a stage under a
    // new id and compiles it again (6-10 classes): one repeat of three must
    // compile nothing. Under Spark's default cache every repeat compiles ~90.
    assert(repeats.min == 0, s"repeat serves compiled $repeats classes (first: $cold)")
  }

  test("MMR loud failures on the composed serve: one pool id unresolved, every one unresolved; a 300-id pool fetches no vector") {
    import graft.operators.{AnnIndex, TextIndex}
    import ServeCache._
    val root = tmp("graft-mmr-loud")
    val pins = build(root, e)
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
      df.select(col(c)).collect().map(_.getLong(0)).toSet
    def serve(vecs: org.apache.spark.sql.DataFrame): String =
      intercept[IllegalArgumentException] {
        Similarity.threeStageServeBundle(spark, root, "tix", root, "ann", vecs,
          terms, q, k = 5, fuseK = 15, poolK = 20, rerank = 60, nProbe = 3,
          textVersion = Some(pins("tix")), annVersion = Some(pins("ann")))
      }.getMessage
    // a fused id that only the lexical side retrieved: dropping its vector
    // leaves the ANN side's top 20, and so the fused pool, unchanged
    val lex = ids(TextIndex.bm25SearchBundle(spark, root, "tix", terms, k = 20), "doc_id")
    val ann = ids(AnnIndex.knnBundle(spark, root, "ann", e, q, k = 20, rerank = 60,
      nProbe = 3, materialize = false), "nid")
    val fused = ids(Similarity.hybridStoredServeBundle(spark, root, "tix", root, "ann",
      e, terms, q, k = 15, poolK = 20, rerank = 60, nProbe = 3), "nid")
    val lexOnly = (fused intersect lex) -- ann
    assert(lexOnly.nonEmpty, s"fused $fused lex $lex ann $ann")
    val one = serve(e.where(col("vec_id") =!= lexOnly.min))
    assert(one.contains("1 of 15 pool ids have no 'vec_id' row") &&
      one.contains("id-space mismatch"), one)
    // no vector at all: the ANN side returns nothing, and none of the
    // fused (lexical) ids resolves
    val none = serve(e.where(col("vec_id") < 0))
    assert(""".*: (\d+) of \1 pool ids have no 'vec_id' row.*""".r.matches(none), none)
    // over the 256-candidate bound: the one fetch action brings back the
    // pool and the query but no vector, and the MMR stage fails on the
    // bound, for one query as for a batch
    val wide = e.limit(300).select(lit(0L).as("qid"), col("vec_id").as("nid"))
    val fetched = Similarity.mmrFetch(e,
      q.select(lit(0L).as("qid"), col("embedding")), wide, "vec_id", "embedding")
    assert(fetched.pools(0L).size == 300 && fetched.queries.size == 1 &&
      fetched.vectors.isEmpty, s"${fetched.vectors.size} vectors fetched")
    val bound = "mmrRerankPoolBatch: a per-query pool exceeds the " +
      "256-candidate driver-greedy bound (max 300)"
    val ex = intercept[IllegalArgumentException](
      Similarity.mmrRerankPool(e, q, wide.select(col("nid")), 5))
    assert(ex.getMessage.endsWith(bound), ex.getMessage)
    val exBatch = intercept[IllegalArgumentException](
      Similarity.mmrRerankPoolBatch(e, q, wide, 5)) // q is vec_id 0: qid 0
    assert(exBatch.getMessage.endsWith(bound), exBatch.getMessage)
  }

  test("an empty fused pool answers 0 rows, single and batch") {
    import ServeCache._
    val root = tmp("graft-empty-pool")
    val pins = build(root, e)
    // `within` admits no id: both retrieval sides, and so every fused
    // pool, come back empty
    val none = e.where(col("vec_id") < 0).select(col("vec_id"))
    try {
      val single = Similarity.threeStageServeBundle(spark, root, "tix", root,
        "ann", e, terms, q, k = 5, fuseK = 15, poolK = 20, rerank = 60,
        nProbe = 3, within = Some(none), textVersion = Some(pins("tix")),
        annVersion = Some(pins("ann")))
      assert(single.columns.toSeq == Seq("rank", "nid", "mmr4"))
      assert(single.collect().isEmpty)
      val batch = Similarity.threeStageServeBatchBundle(spark, root, "tix",
        root, "ann", e, Seq(0L -> terms, 1L -> Seq("hash", "scan")),
        e.where(col("vec_id") < 2), k = 5, fuseK = 15, poolK = 20,
        rerank = 60, nProbe = 3, within = Some(none),
        textVersion = Some(pins("tix")), annVersion = Some(pins("ann")))
      assert(batch.columns.toSeq == Seq("qid", "rank", "nid", "mmr4"))
      assert(batch.collect().isEmpty)
    } finally spark.catalog.clearCache()
  }

  test("no-cache guard: no SQL execution of a warm threeStageServeBundle reads a cached relation") {
    import ServeCache._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = tmp("graft-sc-nocache")
    val pins = build(root, e)
    // the executions of `body`: each measurement ends with a marker query
    // and waits for it, so every execution of the body has been delivered
    // (the bus keeps event order)
    object Recorder extends QueryExecutionListener {
      @volatile var marker = "no marker yet"
      @volatile var seen = false
      val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      private def record(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(marker)) seen = true else { qes.add(qe); () }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, x: Exception): Unit = record(qe)
    }
    def executions(body: => Unit): Seq[QueryExecution] = {
      Recorder.marker = s"no-cache-marker-${java.util.UUID.randomUUID()}"
      body
      spark.range(1).select(lit(Recorder.marker)).collect()
      val deadline = System.currentTimeMillis() + 60000L
      while (!Recorder.seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(Recorder.seen, "the listener never received the marker query")
      Recorder.seen = false
      import scala.jdk.CollectionConverters._
      try Recorder.qes.asScala.toSeq finally Recorder.qes.clear()
    }
    def cachedScan(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec => true
      case a: AdaptiveSparkPlanExec => cachedScan(a.executedPlan)
      case s: QueryStageExec        => cachedScan(s.plan)
      case o => o.children.exists(cachedScan) || o.subqueries.exists(cachedScan)
    }
    def cached(qe: QueryExecution): Boolean = cachedScan(qe.executedPlan) ||
      qe.withCachedData.collectWithSubqueries { case r: InMemoryRelation => r }.nonEmpty
    spark.listenerManager.register(Recorder)
    try {
      var first, second = Seq.empty[(Int, Long, Long)]
      executions { first = pinned(root, pins) }
      val warm = executions { second = pinned(root, pins) }
      assert(second == first && first.size == 5 && warm.nonEmpty)
      // a persisted intermediate turns the retrieval into a nested cache
      // build inside the MMR action, planned and run apart from it
      val hits = warm.filter(cached)
      assert(hits.isEmpty, s"${hits.size} of ${warm.size} warm executions read a " +
        s"cached relation:\n${hits.map(_.executedPlan.treeString).mkString("\n")}")
    } finally spark.listenerManager.unregister(Recorder)
  }
}
