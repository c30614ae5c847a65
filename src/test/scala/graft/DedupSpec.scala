package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "THE  QUICK   brown fox jumps over the lazy dog")) // case/space variant
    .toDF("doc_id", "text")

  test("exact dedup keeps one row per distinct text (min id)") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("exactSummary counts duplicates") {
    val m = Dedup.exactSummary(docs, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m(1L) === 2L && m(3L) === 1L)
  }

  test("jaccard of shingle sets behaves") {
    val df = docs.select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
    val a = df.where($"doc_id" === 1).select("sh").as[Seq[String]].head()
    val b = df.where($"doc_id" === 2).select("sh").as[Seq[String]].head()
    val c = df.where($"doc_id" === 4).select("sh").as[Seq[String]].head()
    assert(a === b)
    assert(a.toSet.intersect(c.toSet).isEmpty)
    assert(a.head === "the quick brown") // 3-gram shape
  }

  test("minhashPairs finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (a, b) cols order a,b
    // doc 5 normalizes to doc 1's text → jaccard 1.0; doc 3 near-dups 1/2/5
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)))
    assert(pairs.exists(p => Set(p._1, p._2) == Set(1L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature: identical docs agree, estimated jaccard sane") {
    val sig = docs.select($"doc_id",
      Dedup.minhashSignature(Dedup.wordShingles($"text", 3), 32).as("sig"))
    val s1 = sig.where($"doc_id" === 1).select("sig").as[Seq[Long]].head()
    val s2 = sig.where($"doc_id" === 2).select("sig").as[Seq[Long]].head()
    assert(s1 === s2 && s1.length === 32)
  }

  test("simhash: identical → distance 0, near dup small, unrelated large") {
    val h = Dedup.withSimHash(docs, "text", "h")
      .select("doc_id", "h").as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    assert(h(1L) === h(5L)) // normalization: case/whitespace invariant
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) <= 16)
    assert(java.lang.Long.bitCount(h(1L) ^ h(4L)) > 16)
  }

  test("simhashPairs returns planted pairs under pigeonhole banding") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashFrame (exploded codegen shape) agrees with the HOF withSimHash") {
    val edge = docs.union(Seq((6L, ""), (7L, "   ")).toDF("doc_id", "text"))
    val hof = Dedup.withSimHash(edge, "text", "h")
      .select("doc_id", "h").as[(Long, Long)].collect().toMap
    val exp = Dedup.simhashFrame(edge, "doc_id", "text", "h")
      .select("doc_id", "h").as[(Long, Long)].collect().toMap
    assert(exp === hof)
    assert(exp(6L) === 0L && exp(7L) === 0L) // token-less docs hash to 0
  }

  test("lshBuckets (exploded codegen shape) agrees with HOF signature banding") {
    val (k, bands) = (32, 8)
    val r = k / bands
    // the pre-rewrite bucket construction: HOF signature, sliced and hashed
    val withSig = docs.select($"doc_id",
      Dedup.minhashSignature(Dedup.wordShingles($"text", 3), k).as("sig"))
    val hof = withSig.select($"doc_id", explode(array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64(concat_ws(",", transform(slice($"sig", j * r + 1, r), x => x.cast("string"))))
          .as("bucket"))
    }: _*)).as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bucket")
      .as[(Long, Int, Long)].collect().toSet
    val exp = Dedup.lshBuckets(docs, "doc_id", "text", 3, k, bands)
      .as[(Long, Int, Long)].collect().toSet
    assert(exp === hof)
  }

  test("jaccardPairs (posting-list join) equals brute-force pairwise jaccard") {
    val sh = docs.select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
    val a = sh.select($"doc_id".as("a"), $"sh".as("sh_a"))
    val b = sh.select($"doc_id".as("b"), $"sh".as("sh_b"))
    val brute = a.crossJoin(b).where($"a" < $"b")
      .select($"a", $"b", round(Dedup.jaccard($"sh_a", $"sh_b"), 4).as("j"))
      .where($"j" >= 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val indexed = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed === brute && brute.nonEmpty)
  }

  test("jaccardPairs maxDocFreq drops boilerplate shingles from the index") {
    val many = (1L to 20L).map(i => (i, "common boilerplate text here")).toDF("doc_id", "text")
    // every shingle occurs in 20 docs > cap → index empty → no pairs
    assert(Dedup.jaccardPairs(many, "doc_id", "text", 0.1, maxDocFreq = 10).count() === 0)
  }

  test("prefixJaccardPairs equals brute-force pairwise jaccard (lossless)") {
    val sh = docs.select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
    val a = sh.select($"doc_id".as("a"), $"sh".as("sh_a"))
    val b = sh.select($"doc_id".as("b"), $"sh".as("sh_b"))
    for (tau <- Seq(0.25, 0.5, 0.9)) {
      // threshold the RAW similarity, round only the output — the operator's
      // contract (a rounded-then-filtered boundary pair would disagree with
      // any exact recomputation)
      val brute = a.crossJoin(b).where($"a" < $"b")
        .select($"a", $"b", Dedup.jaccard($"sh_a", $"sh_b").as("j"))
        .where($"j" >= tau)
        .select($"a", $"b", round($"j", 4).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.prefixJaccardPairs(docs, "doc_id", "text", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref === brute, s"tau=$tau")
      assert(tau > 0.5 || brute.nonEmpty, s"tau=$tau fixture has true pairs")
    }
  }

  test("prefixJaccardPairs keeps boilerplate-only pairs jaccardPairs' df-cut drops") {
    // every shingle occurs in all 20 docs: the posting-frequency cut
    // empties the index (previous test family), but the prefix filter is
    // LOSSLESS — frequent tokens sort to the suffix, yet identical sets
    // still meet in their (rarest-token) prefix
    val many = (1L to 20L).map(i => (i, "common boilerplate text here"))
      .toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(many, "doc_id", "text", 0.9, maxDocFreq = 10)
      .count() === 0)
    assert(Dedup.prefixJaccardPairs(many, "doc_id", "text", 0.9)
      .count() === 190L) // C(20,2): all pairs, jaccard 1.0
  }

  test("sampledDupRate: full sample is exact, partial sample keeps groups whole") {
    val corpus = ((1 to 60).map(i => (i.toLong, s"unique text number $i")) ++
      (61 to 80).map(i => (i.toLong, "duplicated text alpha")) ++
      (81 to 100).map(i => (i.toLong, "duplicated text beta")))
      .toDF("doc_id", "text")
    // sampled == buckets degenerates to the exact full-corpus rate
    val full = Dedup.sampledDupRate(corpus, "text", buckets = 16, sampled = 16)
      .collect().head
    assert(full.getLong(0) === 100L)
    assert(full.getLong(1) === 38L) // (20−1) + (20−1)
    assert(math.abs(full.getDouble(2) - 0.38) < 1e-9)
    // bucket sampling keeps duplicate groups WHOLE: the sampled dup count
    // can only be a sum of whole groups (0, 19, or 38), never a fragment —
    // the property that makes the rate estimate unbiased where row
    // sampling (p² pair survival) is not
    for (sampled <- Seq(2, 4, 8)) {
      val part = Dedup.sampledDupRate(corpus, "text", 16, sampled)
        .collect().head
      assert(Set(0L, 19L, 38L).contains(part.getLong(1)),
        s"sampled=$sampled fragmented a dup group: ${part.getLong(1)}")
    }
  }

  test("containmentPairs equals brute-force directional containment") {
    val sh = docs.select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
    val a = sh.select($"doc_id".as("a"), $"sh".as("sh_a"))
    val b = sh.select($"doc_id".as("b"), $"sh".as("sh_b"))
    for (tau <- Seq(0.5, 0.8)) {
      val brute = a.crossJoin(b).where($"a" =!= $"b")
        .select($"a", $"b",
          (size(array_intersect($"sh_a", $"sh_b")).cast("double") /
            size($"sh_a")).as("c"))
        .where($"c" >= tau)
        .select($"a", $"b", round($"c", 4).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.containmentPairs(docs, "doc_id", "text", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === brute, s"tau=$tau")
      assert(brute.nonEmpty, s"tau=$tau fixture has contained pairs")
    }
  }

  test("containmentPairs finds a subset inside a much larger container") {
    // article ⊂ boilerplate page: containment(article→page) = 1 while the
    // pair's Jaccard is far below any useful symmetric threshold
    val article = "alpha beta gamma delta epsilon zeta"
    val page = s"nav header menu login search $article footer copyright " +
      "terms privacy contact about sitemap feedback careers press"
    val two = Seq((1L, article), (2L, page)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(two, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0))) // directional: only a ⊂ b
    // and the symmetric join correctly does NOT pair them at 0.5
    assert(Dedup.prefixJaccardPairs(two, "doc_id", "text", 0.5).count() === 0)
  }

  test("LSH bucket skew guard drops oversized buckets observably") {
    val many = (1L to 30L).map(i => (i, "same same same text here")).toDF("doc_id", "text")
    val dropped = Dedup.droppedBuckets(many, "doc_id", "text", maxBucketSize = 10)
    assert(dropped.count() > 0)
    val cands = Dedup.minhashCandidates(many, "doc_id", "text", maxBucketSize = 10)
    assert(cands.count() === 0) // all buckets over cap → no pairs, no blowup
  }

  test("incremental dedup drops batch docs that duplicate the corpus") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated corpus content about spark physical plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact
      (11L, "the quick brown fox jumps over the lazy dog again and AGAIN"), // near
      (12L, "fresh novel content that matches nothing in the corpus at all"))
      .toDF("doc_id", "text")
    val exact = Dedup.incrementalExactDupIds(batch, corpus, "doc_id", "text")
      .as[Long].collect().toSet
    assert(exact === Set(10L))
    val matches = Dedup.incrementalMinhashMatches(batch, corpus, "doc_id", "text",
      threshold = 0.5)
    val matched = matches.select("new_id").as[Long].collect().toSet
    assert(matched === Set(10L, 11L)) // exact dup is also a 1.0-jaccard match
    assert(matches.where($"new_id" === 10L).select("jaccard").as[Double].head() === 1.0)
    val kept = Dedup.incrementalDedup(batch, corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(12L))
    // corpus-side skew guard: a degenerate corpus bucket never goes quadratic
    val fatCorpus = (100L to 140L).map(i => (i, "same same same text here")).toDF("doc_id", "text")
    val guarded = Dedup.incrementalMinhashMatches(
      Seq((1L, "same same same text here")).toDF("doc_id", "text"),
      fatCorpus, "doc_id", "text", threshold = 0.5, maxBucketSize = 10)
    assert(guarded.count() === 0)
    // precomputed-index path (the steady-state one) agrees with recompute
    val idx = Dedup.lshBuckets(corpus, "doc_id", "text", 3, 48, 12)
    val viaIndex = Dedup.incrementalMinhashMatchesWithIndex(batch, corpus, idx,
        "doc_id", "text", threshold = 0.5)
      .select("new_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val direct = matches.select("new_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex === direct)
  }

  test("bloom prefilter dup ids = plain exact dup ids, and the sketch prunes") {
    // 200 corpus docs; batch = 30 fresh + 5 exact copies of corpus texts.
    val corpus = (0L until 200L).map(i => (i, s"corpus document number $i with some shared words"))
      .toDF("doc_id", "text")
    val batch = ((1000L until 1030L).map(i => (i, s"fresh novel batch doc $i nothing like the corpus"))
      ++ (0L until 5L).map(i => (2000L + i, s"corpus document number $i with some shared words")))
      .toDF("doc_id", "text")
    val viaBloom = Dedup.bloomPrefilterDupIds(batch, corpus, "doc_id", "text",
      expectedItems = 1000L, fpp = 0.01).as[Long].collect().toSet
    val plain = Dedup.incrementalExactDupIds(batch, corpus, "doc_id", "text")
      .as[Long].collect().toSet
    assert(viaBloom === plain)
    assert(viaBloom === (2000L until 2005L).toSet)
    // the prefilter itself: true dups all pass (no false negatives), and
    // the pass set stays near |dups| + fpp·|batch| — the sketch is doing
    // the pruning the verify join then finishes
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(1000L, 0.01)
    val bf = corpus.agg(call_function("bloom_agg",
        xxhash64($"text"), lit(1000L), lit(numBits)).as("bf"))
      .head.getAs[Array[Byte]](0)
    val passed = batch.where(call_function("bloom_contains", lit(bf), xxhash64($"text")))
      .select("doc_id").as[Long].collect().toSet
    assert((2000L until 2005L).toSet.subsetOf(passed))
    assert(passed.size <= 5 + 5, s"bloom passed ${passed.size}/35 — not pruning")
    // empty corpus → no dups (the aggregate's NULL sketch short-circuits)
    assert(Dedup.bloomPrefilterDupIds(batch, corpus.limit(0), "doc_id", "text")
      .count() === 0)
  }

  test("lshRecallEstimate: planted duplicates give recall 1, empty truth gives null") {
    val base = "spark window shuffle partition broadcast join aggregate scan"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), // identical → always bucket-collide
      (4L, "some other text entirely about different things"),
      (5L, "and a third unrelated document for padding"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecallEstimate(docs, "doc_id", "text",
        threshold = 0.9, sampleFraction = 1.0)
      .collect().head
    assert(r.getLong(1) === 3L)     // 3 true pairs among {1,2,3}
    assert(r.getDouble(4) === 1.0)  // identical docs always collide
    // no true pairs in the sample → recall null, not 0/0
    val none = Dedup.lshRecallEstimate(
      Seq((1L, "aaa bbb ccc"), (2L, "ddd eee fff")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.9, sampleFraction = 1.0)
      .collect().head
    assert(none.getLong(1) === 0L && none.isNullAt(4))
  }

  test("dedupKeepBest keeps the highest-scoring cluster member, min-id on ties") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base, 10),                 // near-dup cluster {1,2,3}
      (2L, base + " extra", 50),      // highest score → survives
      (3L, base, 10),
      (4L, "completely different content about spark plans", 5), // singleton
      (5L, "another unrelated document entirely", 7))            // singleton
      .toDF("doc_id", "text", "score")
    val kept = Dedup.dedupKeepBest(docs, "doc_id", "text", "score",
        threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L, 5L))
    // tie on score → smallest id survives
    val tied = Seq((1L, base, 10), (2L, base, 10))
      .toDF("doc_id", "text", "score")
    val keptTied = Dedup.dedupKeepBest(tied, "doc_id", "text", "score",
        threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied === Set(1L))
    // original schema preserved
    val out = Dedup.dedupKeepBest(docs, "doc_id", "text", "score", 0.7)
    assert(out.columns.toSeq === Seq("doc_id", "text", "score"))
  }

  test("dedupKeepBest: precomputed clusters reused, cluster_id collision safe") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base, 10),
      (2L, base + " extra", 50),
      (3L, base, 10),
      (4L, "completely different content about spark plans", 5))
      .toDF("doc_id", "text", "score")
    val cl = Dedup.clusters(docs, "doc_id", "text", threshold = 0.7)
    // a composed caller pays LSH+CC once: same survivors via the
    // precomputed frame as via the self-contained path
    val viaPre = Dedup.dedupKeepBest(docs, "doc_id", "text", "score",
        threshold = 0.7, precomputedClusters = Some(cl))
      .select("doc_id").as[Long].collect().toSet
    assert(viaPre === Set(2L, 4L))
    // a df that already carries cluster_id (e.g. the clusters output
    // itself) must not trip an ambiguous-column AnalysisException
    val decorated = docs.join(cl, Seq("doc_id"))
    val survivors = Dedup.dedupKeepBest(decorated, "doc_id", "text", "score",
        threshold = 0.7, precomputedClusters = Some(cl))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(2L, 4L))
  }

  test("dedupKeepBest: docs absent from precomputed clusters survive as singletons") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base, 10),
      (2L, base + " extra", 50),
      (3L, "brand new doc the cluster snapshot has never seen", 7))
      .toDF("doc_id", "text", "score")
    // stale snapshot: covers only docs 1 and 2 (one cluster, 2 wins)
    val stale = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val kept = Dedup.dedupKeepBest(docs, "doc_id", "text", "score",
        threshold = 0.7, precomputedClusters = Some(stale))
      .select("doc_id").as[Long].collect().toSet
    // doc 3 is not silently dropped: it falls back to its own singleton
    assert(kept === Set(2L, 3L))
  }

  test("repeatedRuns finds cross-doc and within-doc repeated spans, merges runs") {
    val docs = Seq(
      // doc 1 and 2 share exactly one 8-gram ("a b c d e f g h")
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f g h z w"),
      // doc 3 repeats its own 9-token prefix at position 9: 8-grams at
      // positions 0,1 and 9,10 each occur twice → two 2-shingle runs
      (3L, "m n o p q r s t u m n o p q r s t u"),
      // doc 4: all unique, no output
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text")
    val runs = Dedup.repeatedRuns(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id", "run_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(runs === Seq(
      (1L, 0L, 7L, 1L),   // "a b c d e f g h" at token 0
      (2L, 2L, 9L, 1L),   // same 8-gram at token 2
      (3L, 0L, 8L, 2L),   // first copy: positions 0-1 merge, tokens 0..8
      (3L, 9L, 17L, 2L))) // second copy — separate run, not merged across the gap
  }

  test("repeatedRuns merges consecutive duplicated positions into one span") {
    // two docs share a 10-token span → 3 consecutive duplicated 8-gram
    // positions (0,1,2) must merge into ONE run covering tokens 0..9
    val span = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val docs = Seq(
      (1L, s"$span u1 u2"),
      (2L, s"v1 v2 $span")).toDF("doc_id", "text")
    val runs = Dedup.repeatedRuns(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id", "run_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(runs === Seq(
      (1L, 0L, 9L, 3L),
      (2L, 2L, 11L, 3L)))
  }

  test("repeatedRuns survives a corpus-wide heavy-hitter shingle (no pair blowup)") {
    // every doc is the same text: the single shingle has count = n_docs —
    // the groupBy+semi-join shape never materializes pairs, so a hot
    // boilerplate shingle costs its count, not its count², and every doc
    // reports the same full-span run
    val boiler = "h1 h2 h3 h4 h5 h6 h7 h8 h9 h10"
    val docs = (1L to 500L).map(i => (i, boiler)).toDF("doc_id", "text")
    val runs = Dedup.repeatedRuns(docs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(runs.length === 500)
    assert(runs.forall { case (_, s, e, k) => s === 0L && e === 9L && k === 3L })
  }

  test("stripRepeatedRuns removes exactly the repeated spans, keeps clean docs verbatim") {
    val span = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"$span tail1 tail2"),
      (2L, s"head1 head2 $span"),
      (3L, "clean c1 c2 c3 c4 c5 c6 c7 c8 c9")).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedRuns(docs, "doc_id", "text", n = 8)
      .select($"doc_id", $"n_tokens", $"n_kept", $"text_clean")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 10L, 2L, "tail1 tail2"),
      (2L, 10L, 2L, "head1 head2"),
      (3L, 10L, 10L, "clean c1 c2 c3 c4 c5 c6 c7 c8 c9")))
  }

  test("stripCrossdocDuplicates keeps the corpus-first occurrence, strips the rest") {
    val span = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      // first occurrence by (doc_id, pos) → doc 1 keeps the span
      (1L, s"$span tail1 tail2"),
      (2L, s"head1 head2 $span"),
      (3L, s"x1 x2 $span"),
      (4L, "clean c1 c2 c3 c4 c5 c6 c7 c8 c9")).toDF("doc_id", "text")
    val out = Dedup.stripCrossdocDuplicates(docs, "doc_id", "text", n = 8)
      .select($"doc_id", $"n_kept", $"text_clean")
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 10L, s"$span tail1 tail2"), // survives intact at its first site
      (2L, 2L, "head1 head2"),
      (3L, 2L, "x1 x2"),
      (4L, 10L, "clean c1 c2 c3 c4 c5 c6 c7 c8 c9")))
  }

  test("stripCrossdocDuplicates keep-first applies within one document too") {
    // the doc repeats its own 8-token prefix: the second copy strips,
    // the first stays — where stripRepeatedRuns removes both
    val docs = Seq((1L, "r1 r2 r3 r4 r5 r6 r7 r8 mid r1 r2 r3 r4 r5 r6 r7 r8"))
      .toDF("doc_id", "text")
    val keepFirst = Dedup.stripCrossdocDuplicates(docs, "doc_id", "text", n = 8)
      .select($"text_clean").as[String].collect()(0)
    assert(keepFirst === "r1 r2 r3 r4 r5 r6 r7 r8 mid")
    val stripAll = Dedup.stripRepeatedRuns(docs, "doc_id", "text", n = 8)
      .select($"text_clean").as[String].collect()(0)
    assert(stripAll === "mid")
  }

  test("lshRecallEstimate truth side ignores the posting prune by default") {
    // two identical docs whose every shingle is shared by ALL docs would
    // vanish from a pruned truth at maxDocFreq=1; the unlimited default
    // must keep them in the denominator
    val boiler = "same boilerplate text repeated across the corpus exactly"
    val docs = (1L to 6L).map(i => (i, boiler)).toDF("doc_id", "text")
    val est = Dedup.lshRecallEstimate(docs, "doc_id", "text",
      threshold = 0.9, sampleFraction = 1.0)
    assert(est.collect().head.getLong(1) === 15L) // C(6,2) true pairs
  }

  test("duplicateGramStats: planted shared span, unique doc, short doc") {
    val d = Seq(
      // 8 tokens → 6 trigrams; the first 5 tokens (3 grams) also open doc 2
      (1L, "a b c d e f g h"),
      (2L, "a b c d e x y z"),
      // within-doc repetition counts too: "p q r p q r" → grams
      // (p q r)(q r p)(r p q)(p q r) — "p q r" occurs twice in ONE doc
      (3L, "p q r p q r"),
      (4L, "u v w"), // 3 tokens < n=3? no — use n=3 below: exactly 1 gram
      (5L, "s t")    // shorter than n → 0 grams, score 0
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateGramStats(d, "doc_id", "text", n = 3, minCount = 2)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == ((1L, 6L, 3L, 0.5)))      // abc bcd cde shared with doc 2
    assert(got(1) == ((2L, 6L, 3L, 0.5)))
    assert(got(2) == ((3L, 4L, 2L, 0.5)))      // "p q r" twice within itself
    assert(got(3) == ((4L, 1L, 0L, 0.0)))      // lone gram, unique
    assert(got(4) == ((5L, 0L, 0L, 0.0)))      // too short: zero grams
  }

  test("stored decontamination: serve equals the direct screen; benchmark docs never rescanned") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 200)
    val bench = docs.where(col("doc_id") % 10 === 0)
    val root = "/tmp/graft/dedupspec_shingle_idx"
    deleteDir(root)
    Dedup.writeShingleBundle(bench, "bm", root, "decon", "doc_id", "text",
      shingleSize = 8)
    val served = Dedup.contaminationAgainstBundle(docs, root, "decon",
      "doc_id", "text", shingleSize = 8)
    val direct = Dedup.contamination(docs, bench, "doc_id", "text",
      shingleSize = 8)
    val a = served.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val b = direct.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
    // the serve plan reads the corpus and the STORE — exactly one
    // documents.parquet scan (no benchmark re-shingle)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec    => Seq(s)
      case ad: AdaptiveSparkPlanExec => scans(ad.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case other                    => other.children.flatMap(scans)
    }
    val sc = scans(served.queryExecution.executedPlan).map(_.toString)
    assert(sc.count(_.contains("documents.parquet")) == 1,
      s"benchmark documents rescanned:\n${sc.mkString("\n")}")
    assert(sc.exists(_.contains("shingles.parquet")))
  }

  /** Every data file under a bundle store, as paths. */
  private def storeFiles(root: String, bundle: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(graft.sources.Catalog.bundleDir(root, bundle)))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
  }

  test("shingle bundle append: base file set untouched; append equals rebuild") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 200)
    val v1 = docs.where(col("doc_id") % 20 === 0)
    val v2 = docs.where(col("doc_id") % 20 === 10)
    val inc = "/tmp/graft/dedupspec_shingle_inc"
    val full = "/tmp/graft/dedupspec_shingle_full"
    deleteDir(inc); deleteDir(full)
    Dedup.writeShingleBundle(v1, "v1", inc, "decon", "doc_id", "text",
      shingleSize = 8)
    val baseFiles = storeFiles(inc, "decon")
    assert(Dedup.ingestShingleBundle(v2, "v2", inc, "decon", "v2", "doc_id",
      "text", shingleSize = 8))
    val after = storeFiles(inc, "decon")
    assert(baseFiles.nonEmpty && baseFiles.subsetOf(after) &&
      after.size > baseFiles.size) // base never rewritten; v2 landed beside it
    Dedup.writeShingleBundle(v1.unionByName(v2), "v12", full, "decon",
      "doc_id", "text", shingleSize = 8)
    def serve(r: String) = Dedup.contaminationAgainstBundle(docs, r, "decon",
        "doc_id", "text", 8)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val a = serve(inc)
    assert(a == serve(full) && a.nonEmpty)
  }

  test("stored LSH index: serve equals self-contained match; corpus signatures come from the store") {
    // the scan census below counts FileSourceScans by exact number; a
    // cached frame left over by another suite can substitute into this
    // test's plans and turn a file scan into a cache read — start clean
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 300)
    val corpus = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    val root = "/tmp/graft/dedupspec_lsh_idx"
    deleteDir(root)
    graft.sources.Catalog.commitBundle(Seq("buckets" ->
      Dedup.lshBuckets(corpus, "doc_id", "text", 3, 48, 12)), root, "lsh")
    val served = Dedup.matchesAgainstBundle(batch, corpus, root, "lsh",
      "doc_id", "text", threshold = 0.9)
    val direct = Dedup.incrementalMinhashMatches(batch, corpus,
      "doc_id", "text", threshold = 0.9)
    val a = served.orderBy(col("new_id"), col("corpus_id"))
      .collect().map(_.toSeq).toSeq
    val b = direct.orderBy(col("new_id"), col("corpus_id"))
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
    // distinct-relation scan census: the serve plan reads the bucket
    // STORE, and its only documents scans are the batch signature pass
    // plus the two semi-join-pruned re-shingles — the self-contained
    // operator pays exactly one more (the corpus signature), the scan
    // the store exists to delete. A scan is named by its relation's root
    // paths, never by its plan text, which can also carry the text of a
    // dynamic-pruning subquery. What runs once is censused once: a
    // cached subtree via its cacheBuilder, and an exchange the join and
    // such a subquery share (one side reaches it as a reuse).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    def census(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      def go(p: SparkPlan): Seq[String] = p match {
        case s: FileSourceScanExec    =>
          s.relation.location.rootPaths.mkString(",") +: s.subqueries.flatMap(go)
        case ad: AdaptiveSparkPlanExec => go(ad.executedPlan)
        case q: QueryStageExec        => go(q.plan)
        case r: ReusedExchangeExec    => go(r.child)
        case e: Exchange              => if (seen.add(e)) e.children.flatMap(go) else Nil
        case m: InMemoryTableScanExec =>
          if (seen.add(m.relation.cacheBuilder)) go(m.relation.cachedPlan)
          else Nil
        case other                    => (other.children ++ other.subqueries).flatMap(go)
      }
      go(df.queryExecution.executedPlan)
    }
    val sv = census(served)
    val dr = census(direct)
    assert(sv.exists(_.contains("buckets.parquet")),
      s"serve plan never read the store:\n${sv.mkString("\n")}")
    assert(sv.count(_.contains("documents.parquet")) == 3,
      s"serve documents scans:\n${sv.mkString("\n")}")
    assert(dr.count(_.contains("documents.parquet")) == 4,
      s"direct documents scans:\n${dr.mkString("\n")}")
  }

  test("bucket bundle append: base file set untouched; append equals rebuild row-for-row") {
    import graft.sources.Catalog
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 300)
    val v1 = docs.where(col("doc_id") % 4 < 2)
    val v2 = docs.where(col("doc_id") % 4 === 2)
    val inc = "/tmp/graft/dedupspec_lsh_inc"
    val full = "/tmp/graft/dedupspec_lsh_full"
    deleteDir(inc); deleteDir(full)
    def buckets(d: org.apache.spark.sql.DataFrame) =
      Seq("buckets" -> Dedup.lshBuckets(d, "doc_id", "text", 3, 48, 12))
    Catalog.commitBundle(buckets(v1), inc, "lsh")
    val baseFiles = storeFiles(inc, "lsh")
    assert(Catalog.appendBundle(buckets(v2), inc, "lsh", "v2"))
    val after = storeFiles(inc, "lsh")
    assert(baseFiles.nonEmpty && baseFiles.subsetOf(after) &&
      after.size > baseFiles.size) // append never rewrites the base
    // id-disjoint batches → disjoint bucket rows → append ≡ rebuild,
    // row for row, with no anti-join at ingest
    Catalog.commitBundle(buckets(v1.unionByName(v2)), full, "lsh")
    def rows(r: String) = Catalog.readBundleTable(spark, r, "lsh", "buckets")
      .select(col("doc_id"), col("band"), col("bucket"))
      .orderBy(col("doc_id"), col("band"), col("bucket"))
      .collect().map(_.toSeq).toSeq
    val ai = rows(inc)
    assert(ai == rows(full) && ai.nonEmpty)
  }

  test("pair bundle: stored pair truth equals minhashPairs; consumers read it unchanged") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, base, "feedA"), (2L, base, "feedB"), (3L, base, "feedA"),
      (4L, "totally different words here now", "feedC"))
      .toDF("doc_id", "text", "source")
    val root = "/tmp/graft/dedupspec_pair_store"
    deleteDir(root)
    Dedup.writePairBundle(d, root, "nd", "doc_id", "text", threshold = 0.9)
    def pairs = graft.sources.Catalog.readBundleTable(spark, root, "nd",
      "pairs")
    val stored = pairs.orderBy(col("a"), col("b")).collect().map(_.toSeq).toSeq
    val fresh = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.9)
      .orderBy(col("a"), col("b")).collect().map(_.toSeq).toSeq
    assert(stored == fresh && stored.nonEmpty)
    val viaStore = Dedup.crossSourceDupShareFromPairs(pairs, d, "doc_id",
        "source")
      .orderBy(col("source_a"), col("source_b")).collect().map(_.toSeq).toSeq
    val direct = Dedup.crossSourceDupShare(d, "doc_id", "text", "source",
        threshold = 0.9)
      .orderBy(col("source_a"), col("source_b")).collect().map(_.toSeq).toSeq
    assert(viaStore == direct)
  }

  test("pair bundle: atomic ingest equals a one-shot rebuild; replay rejected; members move together") {
    import graft.sources.Catalog
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 300)
    val p0 = docs.where(col("doc_id") % 3 === 0)
    val p1 = docs.where(col("doc_id") % 3 === 1)
    val p2 = docs.where(col("doc_id") % 3 === 2)
    val root = "/tmp/graft/dedupspec_pair_bundle"
    deleteDir(root)
    Dedup.writePairBundle(p0, root, "nd", "doc_id", "text", threshold = 0.9)
    assert(Dedup.ingestPairBundle(p1, p0, root, "nd", "b1", "doc_id",
      "text", threshold = 0.9))
    assert(Dedup.ingestPairBundle(p2, p0.unionByName(p1), root, "nd", "b2",
      "doc_id", "text", threshold = 0.9))
    // replay rejected, store untouched (same version, same batches)
    val mBefore = Catalog.bundleManifest(spark, root, "nd")
    assert(!Dedup.ingestPairBundle(p1, p0, root, "nd", "b1", "doc_id",
      "text", threshold = 0.9))
    assert(Catalog.bundleManifest(spark, root, "nd") == mBefore
      && mBefore.batches == Seq("b1", "b2"))
    // incremental bundle ≡ one-shot rebuild, both members
    val full = "/tmp/graft/dedupspec_pair_bundle_full"
    deleteDir(full)
    Dedup.writePairBundle(docs, full, "nd", "doc_id", "text", threshold = 0.9)
    def rows(r: String, ref: String, cols: Seq[String]) =
      Catalog.readBundleTable(spark, r, "nd", ref)
        .select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
    val pInc = rows(root, "pairs", Seq("a", "b", "jaccard"))
    assert(pInc == rows(full, "pairs", Seq("a", "b", "jaccard")) && pInc.nonEmpty)
    val bInc = rows(root, "buckets", Seq("doc_id", "band", "bucket"))
    assert(bInc == rows(full, "buckets", Seq("doc_id", "band", "bucket")))
    // every committed version resolves BOTH members (cross-table atomicity)
    (1L to Catalog.latestBundleVersion(spark, root, "nd").get).foreach { v =>
      val m = Catalog.bundleManifest(spark, root, "nd", Some(v))
      assert(m.dirs.keySet == Set("pairs", "buckets"), s"version $v: $m")
    }
  }

  test("pair bundle takedown: pairs and buckets forget the ids; a re-ingested removed doc cannot match them") {
    import graft.sources.Catalog
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 300)
    val root = "/tmp/graft/dedupspec_pair_takedown"
    deleteDir(root)
    Dedup.writePairBundle(docs, root, "nd", "doc_id", "text", threshold = 0.9)
    // remove one side of a real near-dup pair, so the takedown provably
    // destroys a duplicate relation, not just absent ids
    val somePair = Catalog.readBundleTable(spark, root, "nd", "pairs")
      .orderBy(col("a"), col("b")).limit(1).collect()
    assert(somePair.nonEmpty, "fixture needs at least one near-dup pair")
    val rmId = somePair.head.getLong(0)
    val rm = docs.sparkSession.range(rmId, rmId + 1).toDF("doc_id")
    val mBefore = Catalog.bundleManifest(spark, root, "nd")
    Dedup.retractPairBundle(spark, root, "nd", rm)
    val mAfter = Catalog.bundleManifest(spark, root, "nd")
    assert(mAfter.batches == mBefore.batches,
      "takedown must preserve the ledger")
    val pairsLeft = Catalog.readBundleTable(spark, root, "nd", "pairs")
      .where(col("a") === rmId || col("b") === rmId).count()
    val bucketsLeft = Catalog.readBundleTable(spark, root, "nd", "buckets")
      .where(col("doc_id") === rmId).count()
    assert(pairsLeft == 0 && bucketsLeft == 0,
      s"takedown left $pairsLeft pairs / $bucketsLeft buckets")
    // the store genuinely forgot the doc: re-ingesting its exact text
    // under a NEW id yields no cross match against the removed id
    val reborn = docs.where(col("doc_id") === rmId)
      .withColumn("doc_id", col("doc_id") + 100000L)
    assert(Dedup.ingestPairBundle(reborn,
      docs.join(rm, Seq("doc_id"), "left_anti"), root, "nd", "rb-1",
      "doc_id", "text", threshold = 0.9))
    val ghost = Catalog.readBundleTable(spark, root, "nd", "pairs")
      .where(col("a") === rmId || col("b") === rmId).count()
    assert(ghost == 0, "a removed doc re-surfaced as a match partner")
  }

  private def deleteDir(p: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rec)
      f.delete(); ()
    }
    rec(new java.io.File(p))
  }

  test("sourceOverlap: exact jaccard/containment of per-feed shingle sets") {
    // feedA: {a b c, b c d} → 3-shingles {"a b c", "b c d"}
    // feedB: doc "a b c d" → {"a b c", "b c d"}; feedC: {"x y z"}
    val d = Seq(
      (1L, "a b c", "feedA"), (2L, "b c d", "feedA"),
      (3L, "a b c d", "feedB"), (4L, "x y z", "feedC"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(d, "source", "text")
      .orderBy(col("source_a"), col("source_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // A∩B = {"a b c","b c d"} = 2; |A|=2 |B|=2 → jaccard 1.0, containment 1.0
    // C shares nothing → no row
    assert(got == Seq(("feedA", "feedB", 2L, 1.0, 1.0)))
  }

  test("crossSourceDupShare: unordered cells, diagonal vs cross, share sums to 1") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, base, "feedA"),            // near-dup triangle across feeds:
      (2L, base, "feedB"),            // (1,2) A-B, (1,3) A-A, (2,3) A-B
      (3L, base, "feedA"),
      (4L, "totally different words here now", "feedC"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupShare(d, "doc_id", "text", "source",
        threshold = 0.9)
      .orderBy(col("source_a"), col("source_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      ("feedA", "feedA", 1L, 0.333333, false),
      ("feedA", "feedB", 2L, 0.666667, true)))
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-5)
  }

  test("shingle bundle: serve equals the direct screen; retirement keeps shared shingles; ledger survives the retract") {
    val docs = spark.read
      .parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 400)
    val bmA = docs.where(col("doc_id") % 10 === 0)
    val bmB = docs.where(col("doc_id") % 10 === 1)
    val root = java.nio.file.Files.createTempDirectory("graft-shgb").toString
    Dedup.writeShingleBundle(bmA, "bmA", root, "decon", "doc_id", "text",
      shingleSize = 8, seedBatchIds = Seq("bmA"))
    assert(Dedup.ingestShingleBundle(bmB, "bmB", root, "decon", "bmB",
      "doc_id", "text", shingleSize = 8))
    assert(!Dedup.ingestShingleBundle(bmB, "bmB", root, "decon", "bmB",
      "doc_id", "text", shingleSize = 8), "replayed suite ingest landed")
    // serve ≡ the direct screen over the union benchmark (shared core;
    // the provenance rows' distinct sg = the union's distinct shingles)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(rows(Dedup.contaminationAgainstBundle(docs, root, "decon",
        "doc_id", "text", shingleSize = 8)) ==
      rows(Dedup.contamination(docs, bmA.unionByName(bmB), "doc_id", "text",
        shingleSize = 8)))
    spark.catalog.clearCache()
    // retire bmA: the post-retract serve equals a store never holding
    // bmA — INCLUDING the shingles bmA shares with bmB (set semantics:
    // a kept suite's contribution survives the retract)
    val sharedBefore = graft.sources.Catalog
      .readBundleTable(spark, root, "decon", "shingles")
      .groupBy(col("sg")).agg(countDistinct(col("benchmark_id")).as("n"))
      .where(col("n") === 2).count()
    Dedup.retractShingleBundle(spark, root, "decon", "bmA")
    assert(!Dedup.ingestShingleBundle(bmB, "bmB", root, "decon", "bmB",
      "doc_id", "text", shingleSize = 8),
      "retirement must not reopen the ledger")
    assert(rows(Dedup.contaminationAgainstBundle(docs, root, "decon",
        "doc_id", "text", shingleSize = 8)) ==
      rows(Dedup.contamination(docs, bmB, "doc_id", "text",
        shingleSize = 8)))
    // the survival claim is non-vacuous only if the suites truly shared
    // shingles before the retract — and they survive as bmB rows
    val keptShingles = graft.sources.Catalog
      .readBundleTable(spark, root, "decon", "shingles")
    assert(keptShingles.where(col("benchmark_id") === "bmA").count() == 0L)
    if (sharedBefore > 0)
      assert(keptShingles.select(col("sg")).distinct().count() >= sharedBefore,
        "retirement dropped shingles a kept benchmark contributes")
    spark.catalog.clearCache()
  }
}
