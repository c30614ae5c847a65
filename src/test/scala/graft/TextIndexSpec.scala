package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextIndex
import graft.sources.Catalog

class TextIndexSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  /** A fresh store root holding `corpus` indexed in one commit as `tix`. */
  private def oneShot(corpus: org.apache.spark.sql.DataFrame,
      prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    TextIndex.writeBundle(corpus, root, "tix")
    root
  }

  test("shardOf (driver) equals shardCol (build) for every indexed term") {
    val root = oneShot(docs, "graft-tix-shard")
    val terms = Catalog.readBundleTable(spark, root, "tix", "postings")
      .select(col("term"), col("shard")).distinct().collect()
    assert(terms.nonEmpty)
    terms.foreach { r =>
      assert(TextIndex.shardOf(r.getString(0)) == r.getInt(1),
        s"term ${r.getString(0)}: driver shard ${TextIndex.shardOf(r.getString(0))} != build shard ${r.getInt(1)}")
    }
  }

  test("boolean AND search equals a from-scratch token recount") {
    val corpus = docs.where(col("doc_id") < 200)
    val root = oneShot(corpus, "graft-tix-bool")
    val ts = Seq("join", "hash")
    val got = TextIndex.booleanSearchBundle(spark, root, "tix", ts)
      .orderBy(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val want = corpus
      .select(col("doc_id"), explode(TextIndex.terms(col("text"))).as("t"))
      .where(col("t").isin(ts: _*))
      .groupBy(col("doc_id")).agg(countDistinct(col("t")).as("n"))
      .where(col("n") === ts.size)
      .orderBy(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("bm25 ranks a doc saturated in the query term above a doc that mentions it once") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "apple apple apple apple apple"),
      (1L, "apple pear plum quince fig"),
      (2L, "pear plum quince fig date"),
      (3L, "apple apple pear pear plum")).toDF("doc_id", "text")
    val root = oneShot(tiny, "graft-tix-rank")
    val got = TextIndex.bm25SearchBundle(spark, root, "tix", Seq("apple"), k = 3)
      .orderBy(col("rank")).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 3L, 1L))
    // every doc without the term is absent (disjunctive over query terms)
    assert(!got.map(_.getLong(0)).contains(2L))
    // scores strictly decrease down the ranking here (no ties planted)
    val scores = got.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse && scores.distinct == scores)
  }

  test("phraseSearch: adjacency, multiplicity, repeated-word phrase, no co-occurrence false positive") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "big table hash join"),            // one occurrence
      (1L, "table hash and table hash again"),// two occurrences
      (2L, "hash first then table later"),    // both words, never adjacent
      (3L, "table alone"),                    // one word only
      (4L, "a b a c a b a")).toDF("doc_id", "text")
    val root = oneShot(tiny, "graft-tix-phrase")
    val got = TextIndex.phraseSearchBundle(spark, root, "tix", Seq("table", "hash"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 1L), (1L, 2L)))
    // repeated word in the phrase binds one posting row to two slots
    val rep = TextIndex.phraseSearchBundle(spark, root, "tix", Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rep == Seq((4L, 2L)))
  }

  test("append equals rebuild, and base posting files are never rewritten") {
    val base = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") < 300)
    val delta = docs.where(col("doc_id") % 5 === 0 && col("doc_id") < 300)
    val inc = oneShot(base, "graft-tix-inc")
    // every posting file the latest version's manifest lists, with its
    // size and modification time
    def files() = {
      val m = Catalog.bundleManifest(spark, inc, "tix")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      m.dirs("postings").flatMap(d =>
          walk(new java.io.File(s"${Catalog.bundleDir(inc, "tix")}/$d")))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
    }
    val baseFiles = files()
    assert(TextIndex.appendBundle(spark, inc, "tix", delta, "d1"))
    // file-level append: every base posting file survives untouched
    assert(baseFiles.subsetOf(files()))
    assert(files().size > baseFiles.size)
    val full = oneShot(base.unionByName(delta), "graft-tix-full")
    val qs = Seq("scan", "merge", "vector")
    def bm25(root: String) = TextIndex.bm25SearchBundle(spark, root, "tix", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val got = bm25(inc)
    assert(got == bm25(full) && got.nonEmpty)
    // and the summed meta deltas describe the whole corpus
    val nDocs = Catalog.readBundleTable(spark, inc, "tix", "meta")
      .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    val nExpected = base.unionByName(delta)
      .where(size(TextIndex.terms(col("text"))) > 0).count()
    assert(nDocs == nExpected)
  }

  test("bm25SearchBatch: each query's rows equal its own single-query serve") {
    val root = oneShot(docs, "graft-tix-batch")
    val batch = Seq(
      0L -> Seq("join", "hash"),
      1L -> Seq("vector", "scan", "merge"),
      2L -> Seq("join", "vector"))
    val got = TextIndex.bm25SearchBatchBundle(spark, root, "tix", batch, k = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(t => (t._2, t._3, t._4)).sortBy(_._3).toSeq }
    batch.foreach { case (qid, ts) =>
      val single = TextIndex.bm25SearchBundle(spark, root, "tix", ts, k = 8)
        .orderBy(col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(got(qid) == single && single.nonEmpty,
        s"qid $qid: batch ${got(qid)} != single $single")
    }
    // the batched scan still prunes: union of the three term sets' shards
    val ts = batch.flatMap(_._2).distinct
    val serve = TextIndex.bm25SearchBatchBundle(spark, root, "tix", batch, k = 8)
    serve.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec    => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec       => scans(qs.plan)
      case other                    => other.children.flatMap(scans)
    }
    val sc = scans(serve.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths
        .exists(_.toString.contains("postings.parquet")))
      .getOrElse(fail("no postings scan in the batched serve plan"))
    assert(sc.partitionFilters.nonEmpty)
    assert(sc.metrics("numPartitions").value
      <= ts.map(TextIndex.shardOf).distinct.size)
  }

  test("bundle index: atomic build, ledgered append, serve equals a one-shot rebuild across compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft-tixb").toString
    val corpus = docs.where(col("doc_id") < 300)
    val base = corpus.where(col("doc_id") % 5 =!= 0)
    val delta = corpus.where(col("doc_id") % 5 === 0)
    TextIndex.writeBundle(base, root, "tix", seedBatchIds = Seq("b0"))
    // create-replay closed: the seeding batch id is already in the ledger
    assert(!TextIndex.appendBundle(spark, root, "tix", base, "b0"),
      "seed batch replay must be rejected")
    assert(TextIndex.appendBundle(spark, root, "tix", delta, "b1"))
    val nPostings = graft.sources.Catalog
      .readBundleTable(spark, root, "tix", "postings").count()
    assert(!TextIndex.appendBundle(spark, root, "tix", delta, "b1"),
      "replayed append must be rejected")
    assert(graft.sources.Catalog
      .readBundleTable(spark, root, "tix", "postings").count() == nPostings,
      "replay mutated the index")
    // bundle serve over base∪delta ≡ a one-shot build of the same corpus
    // at a second root — BM25 ranked rows, boolean match set, and
    // positional phrase rows
    val full = oneShot(corpus, "graft-tixb-full")
    val qs = Seq("scan", "merge", "vector")
    def bm25() = TextIndex.bm25SearchBundle(spark, root, "tix", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val got = bm25()
    val want = TextIndex.bm25SearchBundle(spark, full, "tix", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == want && got.nonEmpty)
    val gotBool = TextIndex.booleanSearchBundle(spark, root, "tix",
        Seq("join", "hash"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val wantBool = TextIndex.booleanSearchBundle(spark, full, "tix", Seq("join", "hash"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(gotBool == wantBool && gotBool.nonEmpty)
    val gotPh = TextIndex.phraseSearchBundle(spark, root, "tix",
        Seq("table", "hash"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wantPh = TextIndex.phraseSearchBundle(spark, full, "tix", Seq("table", "hash"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotPh == wantPh)
    // compaction rewrites the delta file sets; serve is bit-identical and
    // the ledger survives
    graft.sources.Catalog.compactBundle(spark, root, "tix")
    assert(bm25() == got, "serve changed across compaction")
    assert(!TextIndex.appendBundle(spark, root, "tix", delta, "b1"),
      "compaction must not reopen the ledger")
  }

  test("bundle takedown: serves equal a rebuild without the docs; stats compensated; ledger kept") {
    val root = java.nio.file.Files.createTempDirectory("graft-tixrm").toString
    val corpus = docs.where(col("doc_id") < 300)
    TextIndex.writeBundle(corpus.where(col("doc_id") % 2 === 0), root, "tix",
      seedBatchIds = Seq("b0"))
    assert(TextIndex.appendBundle(spark, root, "tix",
      corpus.where(col("doc_id") % 2 === 1), "b1"))
    val rm = corpus.where(col("doc_id") % 10 === 3).select(col("doc_id"))
    TextIndex.retractBundle(spark, root, "tix", rm)
    assert(!TextIndex.appendBundle(spark, root, "tix",
      corpus.where(col("doc_id") % 2 === 1), "b1"),
      "takedown must not reopen the ledger")
    val rebuilt = oneShot(corpus.join(rm, Seq("doc_id"), "left_anti"), "graft-tixrm-ref")
    // BM25 equivalence is the stats-compensation proof: a wrong
    // (−n_docs, −Σdl) delta shifts avgdl and every score
    val qs = Seq("scan", "merge", "vector")
    val gotB = TextIndex.bm25SearchBundle(spark, root, "tix", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val wantB = TextIndex.bm25SearchBundle(spark, rebuilt, "tix", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(gotB == wantB && gotB.nonEmpty)
    val gotBool = TextIndex.booleanSearchBundle(spark, root, "tix",
        Seq("join", "hash")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    val wantBool = TextIndex.booleanSearchBundle(spark, rebuilt, "tix", Seq("join", "hash"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(gotBool == wantBool)
    val gotPh = TextIndex.phraseSearchBundle(spark, root, "tix",
        Seq("table", "hash")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wantPh = TextIndex.phraseSearchBundle(spark, rebuilt, "tix", Seq("table", "hash"))
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotPh == wantPh)
    // no removed id survives anywhere in the postings member
    val leftover = graft.sources.Catalog
      .readBundleTable(spark, root, "tix", "postings")
      .join(rm, Seq("doc_id"), "left_semi").count()
    assert(leftover == 0, s"$leftover posting rows survived the takedown")
  }

  test("bundle index crash states: half-rebuilt version invisible, old index serves") {
    val root = java.nio.file.Files.createTempDirectory("graft-tixcrash").toString
    val corpus = docs.where(col("doc_id") < 150)
    TextIndex.writeBundle(corpus, root, "tix", seedBatchIds = Seq("b0"))
    val qs = Seq("scan", "merge", "vector")
    def bm25() = TextIndex.bm25SearchBundle(spark, root, "tix", qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val before = bm25()
    // a rebuild that crashed AFTER writing new postings but BEFORE the
    // manifest: the version directory exists with member data, yet stays
    // invisible — the serve still resolves committed v1, so postings can
    // never pair with stats describing a different corpus
    val base = new java.io.File(graft.sources.Catalog.bundleDir(root, "tix"))
    val half = new java.io.File(base, "2")
    corpus.limit(3).select(col("doc_id")).write
      .parquet(s"$half/postings.parquet")
    assert(bm25() == before, "half-committed rebuild leaked into the serve")
    // the crashed rebuild's slot is reclaimed by the next committer
    TextIndex.writeBundle(corpus, root, "tix", seedBatchIds = Seq("b0"))
    assert(graft.sources.Catalog.latestBundleVersion(spark, root, "tix")
      .contains(2L), "crashed slot not reclaimed")
  }

  test("bundle serve scans only the query terms' shard partitions") {
    val root = java.nio.file.Files.createTempDirectory("graft-tixprune").toString
    TextIndex.writeBundle(docs, root, "tix", seedBatchIds = Seq("b0"))
    val ts = Seq("join", "hash")
    val shards = ts.map(TextIndex.shardOf).distinct
    val serve = TextIndex.bm25SearchBundle(spark, root, "tix", ts, k = 5)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec    => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec       => scans(qs.plan)
      case other                    => other.children.flatMap(scans)
    }
    serve.collect() // materialize so AQE finalizes the executed plan
    // match on the relation's root paths, not toString — the bundle's
    // temp-dir path pushes the member name past simpleString truncation
    val postingScans = scans(serve.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("postings.parquet")))
    assert(postingScans.nonEmpty, "no postings scan in the bundle serve plan")
    postingScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        "shard list must bind as a partition filter on the bundle member")
      val read = sc.metrics("numPartitions").value
      assert(read <= shards.size,
        s"expected <= ${shards.size} shard partitions read, got $read")
    }
  }

  test("filtered BATCH bundle serve still prunes to the union of the queries' term shards") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tixbprune").toString
    TextIndex.writeBundle(docs, root, "tix", seedBatchIds = Seq("b0"))
    val batch = Seq(0L -> Seq("join", "hash"), 1L -> Seq("scan", "merge"))
    val shards = batch.flatMap(_._2).map(TextIndex.shardOf).distinct
    val allowed = docs.select(col("doc_id")).where(col("doc_id") % 2 === 0)
    val pairs = Seq((0L, 0L)).toDF("qid", "id")
      .unionByName(docs.select(lit(0L).as("qid"), col("doc_id").as("id")))
      .unionByName(docs.select(lit(1L).as("qid"), col("doc_id").as("id")))
    val serve = TextIndex.bm25SearchBatchBundle(spark, root, "tix",
      batch, k = 5, within = Some(allowed), withinPairs = Some(pairs))
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec    => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec       => scans(qs.plan)
      case other                    => other.children.flatMap(scans)
    }
    serve.collect()
    // the eligibility semi-joins must not defeat the driver-planned
    // shard predicate: the postings scan still reads only the union of
    // the two queries' term shards
    val postingScans = scans(serve.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("postings.parquet")))
    assert(postingScans.nonEmpty, "no postings scan in the batch plan")
    postingScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        "shard list must bind as a partition filter on the bundle member")
      val read = sc.metrics("numPartitions").value
      assert(read <= shards.size,
        s"expected <= ${shards.size} shard partitions read, got $read")
    }
  }

  test("reindexBundle: superseding atomic rebuild carries the ledger; pinned serve answers the old version") {
    import graft.sources.Catalog
    val root = java.nio.file.Files.createTempDirectory("graft-tixri").toString
    val base = docs.where(col("doc_id") % 3 =!= 2)
    val batch = docs.where(col("doc_id") % 3 === 2)
    TextIndex.writeBundle(base, root, "tix", seedBatchIds = Seq("b0"))
    assert(TextIndex.appendBundle(spark, root, "tix", batch, "b1"))
    val pv = Catalog.latestBundleVersion(spark, root, "tix").get
    val ts = Seq("join", "hash", "vector")
    val pre = TextIndex.bm25SearchBundle(spark, root, "tix", ts, k = 10)
      .collect().map(_.toSeq).toSeq
    val rv = TextIndex.reindexBundle(spark, root, "tix", docs)
    assert(rv == pv + 1, s"reindex must land as the next version, got $rv")
    val m = Catalog.bundleManifest(spark, root, "tix")
    assert(m.batches == Seq("b0", "b1"),
      "reindex must carry the batch ledger")
    assert(m.dirs.values.forall(_.size == 1),
      "reindex publishes one snapshot file set per member")
    assert(!TextIndex.appendBundle(spark, root, "tix", batch, "b1"),
      "reindex must not reopen the ledger")
    // same corpus re-tokenized deterministically → serve unchanged; a
    // pinned serve answers the superseded version explicitly
    val post = TextIndex.bm25SearchBundle(spark, root, "tix", ts, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(post == pre, "re-tokenized reindex of the same corpus drifted")
    val pinned = TextIndex.bm25SearchBundle(spark, root, "tix", ts,
        k = 10, version = Some(pv))
      .collect().map(_.toSeq).toSeq
    assert(pinned == pre, "pinned serve must answer the old version")
    spark.catalog.clearCache()
  }
}
