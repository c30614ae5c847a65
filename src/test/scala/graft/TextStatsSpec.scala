package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextStats

class TextStatsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("v")).collect().head.getAs[T]("v")

  test("tokenCount handles spacing and empties") {
    assert(one[Int](TextStats.tokenCount($"t"), "a b  c") === 3)
    assert(one[Int](TextStats.tokenCount($"t"), "  leading trailing  ") === 2)
    assert(one[Int](TextStats.tokenCount($"t"), "") === 0)
    assert(one[Int](TextStats.tokenCount($"t"), "   ") === 0)
  }

  test("regexTokenCount splits punctuation BPE-ish") {
    assert(one[Int](TextStats.regexTokenCount($"t"), "don't stop") === 4) // don ' t stop
    assert(one[Int](TextStats.regexTokenCount($"t"), "a,b.c") === 5)
  }

  test("char class counts") {
    assert(one[Int](TextStats.letterCount($"t"), "ab1 c!") === 3)
    assert(one[Int](TextStats.digitCount($"t"), "ab1 c!") === 1)
    assert(one[Int](TextStats.punctCount($"t"), "ab1 c!") === 1)
    assert(one[Int](TextStats.whitespaceCount($"t"), "ab1 c!") === 1)
  }

  test("langId picks the language with most stopword hits") {
    assert(one[String](TextStats.langId($"t"), "the cat is on a mat and it is fine") === "en")
    assert(one[String](TextStats.langId($"t"), "der hund ist nicht mit der katze") === "de")
    assert(one[String](TextStats.langId($"t"), "le chat est dans la maison pour le matin") === "fr")
    assert(one[String](TextStats.langId($"t"), "el perro es un animal en la casa") === "es")
    assert(one[String](TextStats.langId($"t"), "xyzzy qwerty asdf") === "und")
  }

  test("qualityScore components") {
    // 10+ sane tokens incl stopwords, no punct → full score
    assert(one[Double](TextStats.qualityScore($"t"),
      "the quick brown fox jumps over the lazy dog again today") === 1.0)
    // too short → loses length component
    assert(one[Double](TextStats.qualityScore($"t"), "the cat") === 0.75)
  }

  test("withQualityScore agrees with the single-Column qualityScore") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .limit(200)
    val both = TextStats.withQualityScore(docs, "text", as = "staged")
      .withColumn("direct", TextStats.qualityScore(col("text")))
    assert(both.where($"staged" =!= $"direct").count() === 0)
    // staged helper leaves no intermediate columns behind
    assert(!both.columns.exists(_.startsWith("__")))
  }

  test("fingerprint is case/whitespace invariant, content sensitive") {
    val fp = (s: String) => one[Long](TextStats.fingerprint($"t"), s)
    assert(fp("Hello  World") === fp("hello world"))
    assert(fp("hello world") !== fp("hello worlds"))
  }

  test("tfidf: rare terms outrank common ones, tf counts repeats") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana banana date")).toDF("doc_id", "text")
    val out = TextStats.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byKey = out.map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    // banana appears in all 3 docs → idf = ln(1) = 0
    assert(byKey((1L, "banana"))._2 === 0.0)
    // apple: tf=2 in doc 1, df=1 → tfidf = 2·ln(3)
    assert(byKey((1L, "apple"))._1 === 2L)
    assert(math.abs(byKey((1L, "apple"))._2 - 2 * math.log(3.0)) < 1e-6)
    // cherry and date: tf=1, df=1 → ln(3)
    assert(math.abs(byKey((2L, "cherry"))._2 - math.log(3.0)) < 1e-6)
  }

  test("redact masks emails and long digit runs, leaves short numbers") {
    assert(one[String](TextStats.redact($"t"),
      "mail bob@x-corp.co.uk or call 5551234, room 42") ===
      "mail <EMAIL> or call <NUM>, room 42")
  }

  test("chunked: overlap, short docs, empty docs") {
    val docs = Seq(
      (1L, (1 to 120).map(i => s"t$i").mkString(" ")), // 3 chunks
      (2L, "a b c"),                                   // 1 short chunk
      (3L, "   ")).toDF("doc_id", "text")              // no chunks
    val out = TextStats.chunked(docs, "doc_id", "text", chunkTokens = 50, overlap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(c => (c._2, c._3)).toSeq === Seq((0L, 50), (1L, 50), (2L, 40)))
    // chunk 1 starts at token 41: 10-token overlap with chunk 0
    assert(d1(1)._4.startsWith("t41 ") && d1(0)._4.endsWith(" t50"))
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 3, "a b c")))
    assert(!out.exists(_._1 == 3L))
  }

  test("withStats attaches the full bundle") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val out = TextStats.withStats(docs)
    assert(Seq("n_tokens", "quality", "lang_guess", "fp").forall(out.columns.contains))
    assert(out.where($"n_tokens" > 0).count() === docs.count())
  }

  test("unigramLogProb: add-one smoothing, OOV floor, null for empty docs") {
    val docs = Seq((1L, "a a b"), (2L, "c"), (3L, ""))
      .toDF("doc_id", "text")
    // vocab top-1 = 'a' (c=2); N=4 tokens, V=1, denom=6.
    // doc1: avg(log10(3/6), log10(3/6), log10(1/6)); doc2: OOV floor 1/6.
    val out = TextStats.unigramLogProb(docs, "doc_id", "text", vocabSize = 1)
      .orderBy("doc_id").collect()
    val exp1 = (2 * math.log10(3.0 / 6) + math.log10(1.0 / 6)) / 3
    val exp2 = math.log10(1.0 / 6)
    assert(math.abs(out(0).getDouble(1) - exp1) < 1e-12)
    assert(math.abs(out(1).getDouble(1) - exp2) < 1e-12)
    assert(out(2).isNullAt(1)) // tokenless doc keeps a row, score null
  }

  test("bigramLogProb: multiset pair counts, OOV floor, null under two tokens") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    // bigrams: doc1 = [a b, b a, a b], doc2 = [a b]; corpus counts
    // 'a b'=3, 'b a'=1 → N=4; vocab top-1 = 'a b' (c=3); denom = 4+1+1=6.
    val out = TextStats.bigramLogProb(docs, "doc_id", "text", vocabSize = 1)
      .orderBy("doc_id").collect()
    val exp1 = (2 * math.log10(4.0 / 6) + math.log10(1.0 / 6)) / 3
    val exp2 = math.log10(4.0 / 6)
    assert(math.abs(out(0).getDouble(1) - exp1) < 1e-12)
    assert(math.abs(out(1).getDouble(1) - exp2) < 1e-12)
    assert(out(2).isNullAt(1)) // one token → no bigrams → null
    assert(out(3).isNullAt(1)) // empty doc → null
  }

  test("bigramLogProb separates in-order from scrambled word order") {
    // corpus dominated by the ordered phrase; the scrambled doc reuses the
    // same WORDS (same unigram profile) in an order whose bigrams are rare
    val ordered = (100L until 110L).map(i => (i, "the quick brown fox jumps"))
    val docs = (ordered :+ (1L, "fox the jumps quick brown"))
      .toDF("doc_id", "text")
    val out = TextStats.bigramLogProb(docs, "doc_id", "text", vocabSize = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scrambled = out(1L)
    val fluent = out.filterNot(_._1 == 1L).values
    assert(fluent.forall(_ > scrambled),
      s"scrambled=$scrambled should score below all fluent=$fluent")
  }

  test("unigramLogProb ranks gibberish below fluent repetition of the corpus") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat again"),
      (3L, "zzq qxv wvv jjk pqz")) // tokens the corpus never repeats
      .toDF("doc_id", "text")
    val out = TextStats.unigramLogProb(docs, "doc_id", "text", vocabSize = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(3L) < out(1L) && out(3L) < out(2L), out.toString)
  }

  test("importanceWeights: target-domain docs score above off-domain, null for empty") {
    val source = Seq(
      (1L, "spark plans shuffle exchange spark plans"),  // target-domain
      (2L, "cooking pasta with tomato sauce and basil"), // off-domain
      (3L, "spark shuffle"),                             // target-domain, short
      (4L, ""))                                          // tokenless
      .toDF("doc_id", "text")
    val target = Seq((100L, "spark plans shuffle exchange partitions"))
      .toDF("doc_id", "text")
    val out = TextStats.importanceWeights(source, target, "doc_id", "text",
        vocabSize = 10)
      .orderBy("doc_id").collect()
    val w = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(w(1L) > w(2L), s"target-domain must outweigh off-domain: $w")
    assert(w(3L) > w(2L), s"length-invariant: short on-domain still wins: $w")
    assert(out(3).isNullAt(1), "tokenless doc keeps a row with null weight")
  }

  test("importanceWeights matches the hand-computed two-LM ratio") {
    // source: tokens a a b c (N=4); target: a b (N=2); vocab big enough for all
    val source = Seq((1L, "a a b c")).toDF("doc_id", "text")
    val target = Seq((9L, "a b")).toDF("doc_id", "text")
    val out = TextStats.importanceWeights(source, target, "doc_id", "text",
        vocabSize = 10).collect().head.getDouble(1)
    // source LM: V=3, denom=8: p(a)=(2+1)/8, p(b)=p(c)=(1+1)/8
    // target LM: V=2, denom=5: p(a)=p(b)=(1+1)/5, p(c OOV)=1/5
    val exp = (
      math.log10(2.0 / 5) - math.log10(3.0 / 8) +
      math.log10(2.0 / 5) - math.log10(3.0 / 8) +
      math.log10(2.0 / 5) - math.log10(2.0 / 8) +
      math.log10(1.0 / 5) - math.log10(2.0 / 8)) / 4
    assert(math.abs(out - exp) < 1e-12)
  }

  test("tfidfCosinePairs: identical docs hit 1.0, disjoint docs never pair, df prune works") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // identical to 1 → cosine 1.0
      (3L, "epsilon zeta eta theta"))   // shares nothing → no pair
      .toDF("doc_id", "text")
    val out = TextStats.tfidfCosinePairs(docs, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2L, 1.0)))
    // a token in every doc is pruned at maxDocFreq < 3 → docs 1,2 still
    // pair through their remaining tokens
    val shared = Seq(
      (1L, "common alpha beta"), (2L, "common alpha beta"), (3L, "common solo"))
      .toDF("doc_id", "text")
    val pruned = TextStats.tfidfCosinePairs(shared, "doc_id", "text",
        threshold = 0.1, maxDocFreq = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pruned === Seq((1L, 2L, 1.0))) // 'common' (df=3) pruned everywhere
  }

  test("pmiPairs: document-level counts, min-count prune, exact PMI") {
    val docs = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "b a"), // order inside a doc is irrelevant
      (4L, "a c"), (5L, "b c"))
      .toDF("doc_id", "text")
    val out = TextStats.pmiPairs(docs, "doc_id", "text", minCount = 2)
      .as[(String, String, Long, Double)].collect().toSeq
    // only (a,b) survives minCount=2: df(a)=4, df(b)=4, df(ab)=3, N=5
    assert(out.map(r => (r._1, r._2, r._3)) === Seq(("a", "b", 3L)))
    val expected = math.log(3.0 * 5 / (4 * 4))
    assert(math.abs(out.head._4 - BigDecimal(expected).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("pmiPairs excludes docs over the distinct-token cap") {
    val docs = Seq(
      (1L, "a b"), (2L, "a b"),
      (3L, "a b c d e f")) // 6 distinct tokens > cap of 4 → excluded
      .toDF("doc_id", "text")
    val out = TextStats.pmiPairs(docs, "doc_id", "text",
        minCount = 2, maxDocTokens = 4)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) === Seq(("a", "b", 2L)))
    // N counts only surviving docs: pmi = ln(2*2/(2*2)) = 0
    assert(out.head._4 === 0.0)
  }

  test("frequentLines finds lines repeated across enough distinct docs") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nunique alpha\nfooter"),
      (2L, "COOKIE BANNER\nunique beta\nfooter"),
      (3L, "COOKIE BANNER\nunique gamma"),
      // repeats WITHIN one doc don't count toward distinct docs
      (4L, "solo line\nsolo line\nsolo line"))
      .toDF("doc_id", "text")
    val out = TextStats.frequentLines(docs, "doc_id", "text", minDocs = 2)
      .as[(String, Long)].collect().toMap
    assert(out === Map("COOKIE BANNER" -> 3L, "footer" -> 2L))
  }

  test("stripBoilerplate removes frequent lines, keeps order, keeps empty docs") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nalpha first\nfooter\nalpha second"),
      (2L, "COOKIE BANNER\nbeta only\nfooter"),
      (3L, "COOKIE BANNER\nfooter"))
      .toDF("doc_id", "text")
    val out = TextStats.stripBoilerplate(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Int, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "alpha first\nalpha second", 4, 2L),
      (2L, "beta only", 3, 1L),
      (3L, "", 2, 0L))) // fully-boilerplate doc survives with empty text
  }

  test("stripBoilerplate removal join broadcasts the frequent-line table") {
    val docs = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val plan = TextStats.stripBoilerplate(docs, "doc_id", "text", minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(3000))
  }

  test("naiveBayesPredict recovers separable labels and matches a local NB") {
    // two labels with disjoint high-frequency vocab plus shared noise
    val docs = Seq(
      (1L, "cat cat purr cat milk", "pet"),
      (2L, "purr cat cat whisker", "pet"),
      (3L, "milk cat purr purr", "pet"),
      (4L, "bolt nut bolt wrench", "tool"),
      (5L, "wrench bolt nut nut", "tool"),
      (6L, "nut bolt wrench wrench milk", "tool"),
      // held-in rows whose label disagrees with their text: NB should
      // OVERRIDE the stored label — that is the mislabel-audit use
      (7L, "cat purr cat milk", "tool"),
      (8L, "bolt wrench nut", "pet")).toDF("doc_id", "text", "lab")
    val got = TextStats.naiveBayesPredict(docs, "doc_id", "text", "lab")
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(got(1L) === "pet" && got(2L) === "pet" && got(3L) === "pet")
    assert(got(4L) === "tool" && got(5L) === "tool" && got(6L) === "tool")
    assert(got(7L) === "pet", "mislabeled doc 7 should classify by its text")
    assert(got(8L) === "tool", "mislabeled doc 8 should classify by its text")

    // cross-check one document's scores against a from-scratch local NB
    val rows = docs.select("doc_id", "text", "lab")
      .as[(Long, String, String)].collect()
    val toks = rows.map { case (id, tx, lb) => (id, lb, tx.split("\\s+").toSeq) }
    val vocab = toks.flatMap(_._3).distinct.length.toDouble
    val labels = rows.map(_._3).distinct.sorted
    def score(docToks: Seq[String], lb: String): Double = {
      val labToks = toks.filter(_._2 == lb).flatMap(_._3)
      val t = labToks.size.toDouble
      val prior = math.log(rows.count(_._3 == lb) / rows.length.toDouble)
      prior + docToks.map { tk =>
        math.log((labToks.count(_ == tk) + 1) / (t + vocab))
      }.sum
    }
    val doc7 = toks.find(_._1 == 7L).get._3
    // engine tie rule: highest rounded score, then label ASCENDING
    val local7 = labels.map(lb => (BigDecimal(score(doc7, lb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP), lb))
      .sortBy { case (s, l) => (-s, l) }.head._2
    assert(got(7L) === local7)
  }

  test("distinctiveTokens surfaces slice-exclusive vocabulary at the top") {
    // "aa"/"bb" are exclusive to their slice; "shared" is uniform
    val docs = Seq(
      (1L, "aa aa shared aa shared", "L1"),
      (2L, "aa shared aa aa shared", "L1"),
      (3L, "bb bb shared bb shared", "L2"),
      (4L, "bb shared bb bb shared", "L2")).toDF("doc_id", "text", "lang")
    val out = TextStats.distinctiveTokens(docs, "text", "lang", topK = 2)
      .select($"lang", $"tok", $"rank").as[(String, String, Long)].collect()
    val top = out.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
    assert(top === Map("L1" -> "aa", "L2" -> "bb"))
    // the z of the exclusive token must beat the shared token's z
    val z = TextStats.distinctiveTokens(docs, "text", "lang", topK = 10)
      .select($"lang", $"tok", $"z").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(z(("L1", "aa")) > z(("L1", "shared")))
    assert(z(("L2", "bb")) > z(("L2", "shared")))
  }

  test("relativeQualityGate keeps ~the top fraction per slice, drops tokenless docs") {
    // two slices with very different score scales; junk docs (repeated
    // rare token) must fall below their slice's bar
    val fluent = (0 until 20).map(i =>
      (i.toLong, "the cat sat on the mat and the dog ran", "en"))
    val junkEn = (20 until 30).map(i =>
      (i.toLong, s"zz$i zz$i zz$i zz$i zz$i zz$i zz$i zz$i zz$i zz$i", "en"))
    val de = (30 until 50).map(i =>
      (i.toLong, "der hund lief und die katze sass auf der matte", "de"))
    val empty = Seq((99L, "   ", "en"))
    val docs = (fluent ++ junkEn ++ de ++ empty).toDF("doc_id", "text", "lang")
    val kept = TextStats.relativeQualityGate(docs, "doc_id", "text", "lang",
        keepAbovePercentile = 0.3, vocabSize = 10)
      .select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(99L), "tokenless doc must not clear a quality bar")
    // every junk doc scores below every fluent doc; with 30 en docs the
    // 30th-percentile bar lands inside the junk band → all fluent kept
    assert((0L until 20L).forall(kept.contains), s"fluent dropped: $kept")
    // de slice is uniform: everything >= its own threshold survives
    assert((30L until 50L).forall(kept.contains))
  }

  test("naiveBayesPredict breaks exact score ties on label ascending") {
    // perfectly symmetric corpus: both labels give every doc the same
    // score, so every prediction must fall to the first label
    val docs = Seq(
      (1L, "x y", "a"), (2L, "x y", "b"),
      (3L, "y x", "a"), (4L, "y x", "b")).toDF("doc_id", "text", "lab")
    val got = TextStats.naiveBayesPredict(docs, "doc_id", "text", "lab")
      .select("predicted").as[String].collect()
    assert(got.forall(_ == "a"), got.mkString(","))
  }

  test("skipgramCounts: per-offset pairs, min-support prune, short docs safe") {
    val docs = Seq((1L, "a b c d"), (2L, "A b c"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextStats.skipgramCounts(docs, "text", window = 2, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // doc1: o1 (a,b)(b,c)(c,d), o2 (a,c)(b,d); doc2 lowercased: o1 (a,b)(b,c), o2 (a,c)
    assert(got == Map(("a", "b") -> 2L, ("b", "c") -> 2L, ("c", "d") -> 1L,
      ("a", "c") -> 2L, ("b", "d") -> 1L))
    val pruned = TextStats.skipgramCounts(docs, "text", window = 2, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned == Set(("a", "b"), ("b", "c"), ("a", "c")))
  }

  test("naiveBayesCalibration bins every scored doc once, accuracy from the served predictions") {
    val docs = Seq(
      (1L, "cat cat purr cat milk", "pet"),
      (2L, "purr cat cat whisker", "pet"),
      (3L, "bolt nut bolt wrench", "tool"),
      (4L, "wrench bolt nut nut", "tool"),
      (5L, "cat purr milk", "tool"),   // mislabeled → counted incorrect
      (6L, "", "pet"))                 // tokenless → excluded from bins
      .toDF("doc_id", "text", "lab")
    val bins = TextStats.naiveBayesCalibration(docs, "doc_id", "text", "lab")
      .collect()
    // 5 scored docs, each in exactly one bin
    assert(bins.map(_.getLong(1)).sum == 5L)
    // totals agree with predict: docs 1-4 correct, doc 5 incorrect
    assert(bins.map(_.getLong(2)).sum == 4L)
    // per-bin accuracy is n_correct / n (round-6)
    bins.foreach { r =>
      assert(math.abs(r.getDouble(3)
        - math.rint(r.getLong(2).toDouble / r.getLong(1) * 1e6) / 1e6) < 1e-9)
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 9)
      assert(r.getDouble(4) >= 0.0) // margins are non-negative by rank
    }
    // the margin arithmetic matches the exposed scores: recompute top-2
    // margins locally from naiveBayesScores and re-bin
    val sc = TextStats.naiveBayesScores(docs, "doc_id", "text", "lab")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val local = sc.groupBy(_._1).view.mapValues { rows =>
      val sorted = rows.sortBy(t => (-t._3, t._2)).map(t => math.rint(t._3 * 1e6).toLong)
      sorted(0) - sorted(1)
    }.toMap
    val localBins = local.values
      .map(m => math.min(9L, m / 250000L)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val gotBins = bins.map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(gotBins == localBins)
  }

  test("sourceCrossEntropy matches the hand-computed integer ladder") {
    // tokens: a x3, b x1, c x1 -> N=5; vocab all 3 (K=20), V=3; denom=N+V+1=9
    // nlp6(a) = round(-ln(4/9)*1e6), nlp6(b)=nlp6(c) = round(-ln(2/9)*1e6)
    val docs = Seq((1L, "a a b", "A"), (2L, "a c", "B"))
      .toDF("doc_id", "text", "source")
    def nlp6(c: Long): Long = math.round(-math.log((c + 1) / 9.0) * 1e6)
    def xent(sum: Long, n: Long): Double =
      BigDecimal(sum.toDouble / n / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextStats.sourceCrossEntropy(docs, "source", "text",
        vocabSize = 20)
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      ("A", 3L, xent(2 * nlp6(3) + nlp6(1), 3)),
      ("B", 2L, xent(nlp6(3) + nlp6(1), 2))))
  }

  test("LmStore bundle: delta-append ingest == refit; seed + replay rejected; compaction keeps ledger") {
    import graft.operators.LmStore
    import graft.sources.Catalog
    val docs = spark.read
      .parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 300)
    val root = java.nio.file.Files
      .createTempDirectory("graft-lm-bundle").toString
    LmStore.writeBundle(docs.where(col("doc_id") % 3 === 0), "text", root,
      "lm", seedBatchIds = Seq("b0"))
    assert(LmStore.ingestBundle(docs.where(col("doc_id") % 3 === 1), "text",
      root, "lm", "b1"))
    // the CREATE's own id is in the manifest: its replay is rejected
    // with no separate re-mark step
    assert(!LmStore.ingestBundle(docs.where(col("doc_id") % 3 === 0), "text",
      root, "lm", "b0"))
    assert(!LmStore.ingestBundle(docs.where(col("doc_id") % 3 === 1), "text",
      root, "lm", "b1"))
    assert(LmStore.ingestBundle(docs.where(col("doc_id") % 3 === 2), "text",
      root, "lm", "b2"))
    // merged delta file sets == one-shot counts, and load == refit
    def merged() = Catalog.readBundleTable(spark, root, "lm", "counts")
      .groupBy(col("tok")).agg(sum(col("c")).as("c"))
      .orderBy(col("tok")).collect().map(_.toSeq).toSeq
    val oneShot = LmStore.counts(docs, "text")
      .orderBy(col("tok")).collect().map(_.toSeq).toSeq
    assert(merged() == oneShot && oneShot.nonEmpty)
    val (voc, denom) = LmStore.loadBundle(spark, root, "lm", vocabSize = 20)
    val (fitVoc, fitDenom) = TextStats.fitUnigramLm(docs, "text", 20)
    assert(denom == fitDenom)
    assert(voc.orderBy(col("tok")).collect().map(_.toSeq).toSeq
      == fitVoc.orderBy(col("tok")).collect().map(_.toSeq).toSeq)
    // compaction collapses deltas, serve identical, ledger preserved
    assert(Catalog.bundleManifest(spark, root, "lm").dirs("counts").size == 3)
    Catalog.compactBundle(spark, root, "lm")
    assert(Catalog.bundleManifest(spark, root, "lm").dirs("counts").size == 1)
    assert(merged() == oneShot)
    assert(!LmStore.ingestBundle(docs.where(col("doc_id") % 3 === 2), "text",
      root, "lm", "b2"), "compaction must not reopen the ledger")
    // TAKEDOWN: a negative delta through the ordinary ledgered append —
    // load afterwards == refit on the remaining corpus, and the
    // retraction batch id is itself replay-protected
    val rm = docs.where(col("doc_id") % 10 === 3)
    assert(LmStore.retractBundle(rm, "text", root, "lm", "rm-0001"))
    assert(!LmStore.retractBundle(rm, "text", root, "lm", "rm-0001"),
      "replayed takedown must be rejected (it would subtract twice)")
    val remaining = docs.join(rm.select(col("doc_id")), Seq("doc_id"),
      "left_anti")
    val (voc2, denom2) = LmStore.loadBundle(spark, root, "lm", vocabSize = 20)
    val (fitVoc2, fitDenom2) = TextStats.fitUnigramLm(remaining, "text", 20)
    assert(denom2 == fitDenom2)
    assert(voc2.orderBy(col("tok")).collect().map(_.toSeq).toSeq
      == fitVoc2.orderBy(col("tok")).collect().map(_.toSeq).toSeq)
    // GHOST TOKENS: retract the ENTIRE remaining corpus but one doc —
    // fully-retracted tokens group-sum to c = 0 and must NOT occupy
    // vocab slots when the survivor has fewer live tokens than
    // vocabSize; bundle-served must still equal the refit exactly
    val keep = remaining.orderBy(col("doc_id")).limit(1)
    val rmAll = remaining.join(keep.select(col("doc_id")), Seq("doc_id"),
      "left_anti")
    assert(LmStore.retractBundle(rmAll, "text", root, "lm", "rm-0002"))
    val wideVocab = 100000
    val (voc3, denom3) = LmStore.loadBundle(spark, root, "lm", wideVocab)
    val (fitVoc3, fitDenom3) = TextStats.fitUnigramLm(keep, "text", wideVocab)
    assert(denom3 == fitDenom3,
      s"ghost tokens shifted the denominator: $denom3 vs $fitDenom3")
    assert(voc3.orderBy(col("tok")).collect().map(_.toSeq).toSeq
      == fitVoc3.orderBy(col("tok")).collect().map(_.toSeq).toSeq)
  }

  test("stored NB model: serve == in-query fit; OOV docs predict null, mixed docs classify") {
    import graft.operators.NbModel
    val docs = spark.read
      .parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 200)
    val root = "/tmp/graft/textstats_nb_store"
    NbModel.trainWrite(docs, "text", "lang", root)
    val viaStore = NbModel.predict(spark, root, docs, "doc_id", "text", "lang")
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val inQuery = TextStats.naiveBayesPredict(docs, "doc_id", "text", "lang")
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(viaStore == inQuery && viaStore.nonEmpty)
    // serve-time OOV: a vocabulary the training corpus never saw scores
    // no rows -> null prediction; a mixed doc classifies off known tokens
    val probe = Seq(
      (900001L, "zqxv wvvk qqpl", "en"),
      (900002L, "zqxv the and of", "en"))
      .toDF("doc_id", "text", "lang")
    val got = NbModel.predict(spark, root, probe, "doc_id", "text", "lang")
      .orderBy(col("doc_id")).collect()
    assert(got(0).isNullAt(2), s"all-OOV doc must predict null: ${got(0)}")
    assert(!got(1).isNullAt(2), s"mixed doc must classify: ${got(1)}")
  }

  test("stored-LM DSIR serve is row-identical to in-query training") {
    val docs = spark.read
      .parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 200)
    val target = docs.where(col("doc_id") % 10 === 0)
    val root = "/tmp/graft/textstats_lm_store"
    graft.streaming.DsirStream.freezeLms(docs, target, "text",
      vocabSize = 20, root, "spec")
    val (sv, sd, tv, td) = graft.streaming.DsirStream.loadLms(spark, root, "spec")
    val viaStore = TextStats.scoreImportance(docs, "doc_id", "text",
        tv, td, sv, sd)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val inQuery = TextStats.importanceWeights(docs, target, "doc_id",
        "text", vocabSize = 20)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(viaStore == inQuery && viaStore.nonEmpty)
  }
}
