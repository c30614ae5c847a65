package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Embeddings

class EmbeddingsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("unitNormalize yields norm 1; zero vector unchanged") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Embeddings.unitNormalize(df, "embedding")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Double])]
      .collect().toMap
    assert(math.abs(got(1L).map(x => x * x).sum - 1.0) < 1e-12)
    assert(got(1L) == Seq(0.6, 0.8))
    assert(got(2L) == Seq(0.0, 0.0))
  }

  test("int8 quantization roundtrip error bounded by scale/2") {
    val vecs = spark.read
      .parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = Embeddings.quantizeInt8(vecs, "embedding")
    val checked = q.select(
      col("scale"),
      array_max(zip_with(
        Embeddings.dequantize(col("qvec"), col("scale")),
        transform(col("embedding"), _.cast("double")),
        (a, b) => abs(a - b))).as("max_err"),
      array_max(transform(col("qvec"), x => abs(x.cast("int")))).as("max_q"))
    val bad = checked
      .where(col("max_err") > col("scale") / 2 + lit(1e-9) || col("max_q") > 127)
      .count()
    assert(bad == 0)
  }

  private def pqMse(books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      vecs: Seq[Seq[Double]]): Double = {
    val subDim = books.head.head.size
    vecs.map { v =>
      books.indices.map { j =>
        val sub = v.slice(j * subDim, (j + 1) * subDim)
        books(j).map(c => sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum
    }.sum / vecs.size
  }

  test("pqTrain/pqEncode: shapes, code range, determinism") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .limit(100)
    val books = Embeddings.pqTrain(e, m = 8, k = 4, iters = 1)
    assert(books.size === 8)
    assert(books.forall(_.size === 4))
    assert(books.forall(_.forall(_.size === 8))) // 64 dims / 8 subspaces
    val again = Embeddings.pqTrain(e, m = 8, k = 4, iters = 1)
    assert(books === again, "training must be deterministic run-to-run")
    val codes = Embeddings.pqEncode(e, books)
      .select(col("pq_codes")).as[Seq[Int]].collect()
    assert(codes.forall(c => c.size == 8 && c.forall(x => x >= 0 && x < 4)))
  }

  test("native vec_pq_encode / vec_pq_decode match the HOF constructions bit-for-bit") {
    // 2 subspaces × 3 codewords, width 2; subspace 0's first two codewords
    // are identical (tie → lowest code via the first-strictly-greater
    // fold), one codeword is ±0.0 (the -0.0 == 0.0 compare fall-through);
    // rows cover exact hits, short vectors (truncating dot), empty and
    // null vectors
    val books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = IndexedSeq(
      IndexedSeq(IndexedSeq(0.5, -0.25), IndexedSeq(0.5, -0.25), IndexedSeq(-0.0, 0.0)),
      IndexedSeq(IndexedSeq(1.0, 2.0), IndexedSeq(-1.0, 2.0), IndexedSeq(0.0, 0.0)))
    val rows: Seq[(Long, Option[Seq[Double]])] = Seq(
      (1L, Some(Seq(0.5, -0.25, 1.0, 2.0))),
      (2L, Some(Seq(-0.0, 0.0, -1.0, 2.0))),
      (3L, Some(Seq(0.1, 0.2, 0.3))),
      (4L, Some(Seq.empty[Double])),
      (5L, None))
    val df = rows.toDF("vec_id", "embedding")
    val natDf = Embeddings.pqEncode(df, books)
    assert(natDf.queryExecution.analyzed.toString.contains("vec_pq_encode"))
    val nat = natDf.select(col("vec_id"), col("pq_codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    val hof = KernelOracles.pqEncodeHof(df, books).select(col("vec_id"), col("pq_codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    assert(nat === hof)
    assert(nat.find(_._1 == 5L).get._2 === Seq(-1, -1)) // null vec: the HOF's -1s
    // decode: identical reconstructions, null codes → null through both
    val codes = Seq((1L, Some(Seq(0, 1))), (2L, Some(Seq(2, 2))), (3L, None))
      .toDF("vec_id", "pq_codes")
    val dn = codes.select(col("vec_id"), Embeddings.pqDecode(col("pq_codes"), books).as("r"))
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Double](1)))).toSeq
    val dh = codes.select(col("vec_id"), KernelOracles.pqDecodeHof(col("pq_codes"), books).as("r"))
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Double](1)))).toSeq
    assert(dn === dh)
    assert(dn.find(_._1 == 3L).get._2.isEmpty)
  }

  test("pq reconstructs a constant corpus exactly") {
    val df = (1L to 20L).map(i => (i, Seq.fill(8)(1.5f))).toDF("vec_id", "embedding")
    val books = Embeddings.pqTrain(df, m = 2, k = 2, iters = 2)
    val recon = Embeddings.pqEncode(df, books)
      .select(Embeddings.pqDecode(col("pq_codes"), books).as("r"))
      .as[Seq[Double]].collect()
    assert(recon.forall(_ === Seq.fill(8)(1.5)))
  }

  test("pqAdcKnn with a corpus-wide shortlist equals exact brute force") {
    // rerank >= |corpus| makes the ADC stage a pure pass-through filter:
    // the exact re-rank then must reproduce bruteForceKnn bit for bit
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .limit(100)
    val q = e.where(col("vec_id") < 4)
    val books = Embeddings.pqTrain(e, m = 8, k = 4, iters = 1)
    val adc = Embeddings.pqAdcKnn(e, q, books, k = 5, rerank = 100)
    val brute = graft.operators.Similarity.bruteForceKnn(e, q, k = 5)
    assert(adc.exceptAll(brute).isEmpty && brute.exceptAll(adc).isEmpty,
      "full-shortlist ADC diverged from exact brute force")
  }

  test("ivfPqKnn returns full k-length, self-free, deterministic results") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = e.where(col("vec_id") < 4)
    val books = Embeddings.pqTrain(e, m = 8, k = 4, iters = 1)
    val out = Embeddings.ivfPqKnn(e, q, books, k = 3, rerank = 20)
      .select(col("qid"), col("nid"), col("rank"))
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(out.length === 12) // 4 queries × k=3
    assert(out.forall(r => r._1 != r._2), "self-matches must be excluded")
    val again = Embeddings.ivfPqKnn(e, q, books, k = 3, rerank = 20)
      .select(col("qid"), col("nid"), col("rank"))
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(out.toSeq === again.toSeq, "IVF-PQ must be deterministic")
  }

  test("pq Lloyd iterations never increase distortion") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .limit(200)
    val vecs = e.select(transform(col("embedding"), _.cast("double")).as("v"))
      .as[Seq[Double]].collect().toSeq
    val b0 = Embeddings.pqTrain(e, m = 8, k = 8, iters = 0)
    val b3 = Embeddings.pqTrain(e, m = 8, k = 8, iters = 3)
    assert(pqMse(b3, vecs) <= pqMse(b0, vecs) + 1e-9,
      "trained codebooks must not be worse than the sampled init")
  }

  test("dimStats + standardizeDims: standardized dims have mean 0, sd 1; constant dim → 0") {
    val df = Seq(
      (1L, Seq(1.0f, 10.0f, 5.0f)),
      (2L, Seq(2.0f, 20.0f, 5.0f)),
      (3L, Seq(3.0f, 30.0f, 5.0f)),
      (4L, Seq(4.0f, 40.0f, 5.0f))).toDF("vec_id", "embedding")
    val stats = Embeddings.dimStats(df, "embedding")
    val st = stats.orderBy("pos").collect()
    assert(st.map(_.getDouble(1)).toSeq === Seq(2.5, 25.0, 5.0))
    val z = Embeddings.standardizeDims(df, "embedding", stats)
      .select(explode(col("zvec")).as("x"))
    // every standardized value finite; the constant dim contributes 0s
    val xs = z.as[Double].collect()
    assert(xs.forall(x => !x.isNaN && !x.isInfinite))
    assert(xs.count(_ == 0.0) >= 4) // the constant dimension
    val perDim = Embeddings.dimStats(
      Embeddings.standardizeDims(df, "embedding", stats)
        .select(col("zvec").as("embedding")), "embedding")
      .orderBy("pos").collect()
    assert(math.abs(perDim(0).getDouble(1)) < 1e-12 && math.abs(perDim(0).getDouble(2) - 1) < 1e-12)
    assert(math.abs(perDim(1).getDouble(1)) < 1e-12 && math.abs(perDim(1).getDouble(2) - 1) < 1e-12)
  }

  test("topPrincipalComponent recovers a planted dominant direction") {
    // data = t·u + small noise along a second axis: PC1 must align with u
    val u = Array(0.6, 0.8, 0.0, 0.0)
    val v2 = Array(0.0, 0.0, 1.0, 0.0)
    val rows = (0 until 200).map { i =>
      val tt = (i % 21) - 10.0 // spread -10..10 along u
      val nn = ((i * 7) % 5 - 2.0) * 0.1 // ±0.2 along v2
      (i.toLong, (0 until 4).map(j => (tt * u(j) + nn * v2(j)).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mu, w, lam) = Embeddings.topPrincipalComponent(df, "embedding", iters = 10)
    val cos = math.abs(w.zip(u).map { case (a, b) => a * b }.sum)
    assert(cos > 0.999, s"PC1 misaligned: cos=$cos w=$w")
    // Rayleigh estimate ~ variance along u (population), dominant term t²
    assert(lam > 10.0, s"lambda too small: $lam")
    // projection is centered
    val pm = Embeddings.pc1Project(df, "embedding", mu, w)
      .agg(avg(col("pc1"))).collect()(0).getDouble(0)
    assert(math.abs(pm) < 1e-9, s"projection not centered: $pm")
  }

  test("principalComponents recovers two planted directions, orthogonal, ordered") {
    // data = t1·u1 + t2·u2, var(t1) >> var(t2); PCs must recover u1 then
    // u2, mutually orthogonal, with decreasing Rayleigh estimates
    val u1 = Array(0.6, 0.8, 0.0, 0.0)
    val u2 = Array(0.0, 0.0, 1.0, 0.0)
    val rows = (0 until 300).map { i =>
      val t1 = (i % 21) - 10.0            // spread ±10 along u1
      val t2 = ((i * 7) % 9 - 4.0) * 0.5  // spread ±2 along u2
      (i.toLong, (0 until 4).map(j => (t1 * u1(j) + t2 * u2(j)).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mu, comps) = Embeddings.principalComponents(df, "embedding", k = 2,
      iters = 12)
    val Seq((w1, l1), (w2, l2)) = comps
    def cos(a: Seq[Double], b: Seq[Double]) =
      math.abs(a.zip(b).map { case (x, y) => x * y }.sum)
    assert(cos(w1, u1.toIndexedSeq) > 0.999, s"PC1 misaligned: $w1")
    assert(cos(w2, u2.toIndexedSeq) > 0.999, s"PC2 misaligned: $w2")
    assert(cos(w1, w2) < 1e-9, s"components not orthogonal: ${cos(w1, w2)}")
    assert(l1 > l2 && l2 > 0, s"lambdas not ordered: $l1, $l2")
    // projection onto both components reconstructs the planted spreads
    val pc = Embeddings.pcProject(df, "embedding", mu, Seq(w1, w2))
      .select(element_at(col("pc"), 1).as("p1"), element_at(col("pc"), 2).as("p2"))
      .agg(var_samp(col("p1")), var_samp(col("p2"))).collect()(0)
    assert(pc.getDouble(0) > pc.getDouble(1),
      s"PC1 projection variance must dominate: ${pc.getDouble(0)} vs ${pc.getDouble(1)}")
  }

  test("topPrincipalComponent is deterministic across physical layouts") {
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val (_, w1, l1) = Embeddings.topPrincipalComponent(e, "embedding", iters = 4)
    val (_, w2, l2) = Embeddings.topPrincipalComponent(e.repartition(7), "embedding", iters = 4)
    // same direction up to float-sum ordering noise
    val cos = math.abs(w1.zip(w2).map { case (a, b) => a * b }.sum)
    assert(cos > 1.0 - 1e-9, s"direction unstable across layouts: cos=$cos")
    assert(math.abs(l1 - l2) < 1e-9 * math.max(1.0, l1.abs), s"$l1 vs $l2")
  }
}
