package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Catalog

class CatalogSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** A versioned table: the one-member bundle `t` under `root`. */
  private def commitT(root: String, n: Long): Long =
    Catalog.commitBundle(Seq("t" -> (1L to n).toDF("id")), root, "t")
  private def readT(root: String, v: Option[Long] = None) =
    Catalog.readBundleTable(spark, root, "t", "t", v)
  private def latestT(root: String) = Catalog.latestBundleVersion(spark, root, "t")

  test("tableName parses proj:ds.table / ds.table / bare forms") {
    assert(Catalog.tableName("proj:ds.table") === "table")
    assert(Catalog.tableName("ds.table") === "table")
    assert(Catalog.tableName("table") === "table")
  }

  test("z-ordered layout keeps per-file spans narrow on BOTH dimensions") {
    // 100x100 uniform grid → 16 z-range files should land near the 4x4
    // quadrant split: every file narrow in x AND y. The 1-D clustered
    // control is narrow in x only — y stays full-range per file, which is
    // exactly the row-group-pruning gap z-order closes.
    val root = Files.createTempDirectory("graft-z").toString
    val grid = (0L until 10000L).map(i => (i, i % 100, i / 100))
      .toDF("id", "x", "y")
    Catalog.writeZOrdered(grid, root, "z", Seq("x", "y"), nFiles = 16)
    Catalog.writeClustered(grid, root, "c1d", Seq("x"), nFiles = 16)
    def avgSpanFrac(ref: String, dim: String): Double = {
      val df = spark.read.parquet(Catalog.path(root, ref))
      val spans = df.groupBy(input_file_name())
        .agg((max(col(dim)) - min(col(dim))).cast("double").as("s"))
      spans.agg(avg($"s")).head().getDouble(0) / 99.0
    }
    assert(avgSpanFrac("z", "x") < 0.6, s"x span ${avgSpanFrac("z", "x")}")
    assert(avgSpanFrac("z", "y") < 0.6, s"y span ${avgSpanFrac("z", "y")}")
    // the control: leading column narrow, second column full-range
    assert(avgSpanFrac("c1d", "x") < 0.6)
    assert(avgSpanFrac("z", "y") < avgSpanFrac("c1d", "y") / 2,
      s"z y-span ${avgSpanFrac("z", "y")} vs 1-D ${avgSpanFrac("c1d", "y")}")
    // the rewrite is row-preserving, byte-identical content
    assert(spark.read.parquet(Catalog.path(root, "z"))
      .orderBy($"id").collect().toSeq ===
      grid.orderBy($"id").collect().toSeq)
    // degenerate coordinates (constant / all-NULL) code to 0, still write
    val weird = Seq((1L, 7L, Option.empty[Long]), (2L, 7L, None))
      .toDF("id", "cst", "nul")
    Catalog.writeZOrdered(weird, root, "w", Seq("cst", "nul"), nFiles = 2)
    assert(spark.read.parquet(Catalog.path(root, "w")).count() === 2)
  }

  test("partitioned write prunes at file listing on a partition filter") {
    val root = Files.createTempDirectory("graft-part").toString
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "A" else "B", i * 1.5))
      .toDF("id", "seg", "v")
    Catalog.writePartitioned(df, root, "t", Seq("seg"))

    val filtered = Catalog.table(spark, root, "t").where($"seg" === "A")
    assert(filtered.count() === 50)
    // pruning happens at listing: the executed scan selects only the seg=A
    // directory (inputFiles would show the unfiltered relation)
    filtered.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val executed = filtered.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val scan = executed.collectLeaves().collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metrics("numPartitions").value === 1,
      s"expected 1 hive partition read, metrics=${scan.metrics.view.mapValues(_.value).toMap}")
  }

  test("same-bucketing join plans without a shuffle exchange") {
    val left = (1L to 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "rv")
    Catalog.writeBucketed(left, "bkt_left", Seq("k"), buckets = 4)
    Catalog.writeBucketed(right, "bkt_right", Seq("k"), buckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force the sort-merge path so the assertion targets bucketing, not
      // a broadcast that would hide the exchange anyway
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(joined.count() === 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("compact rewrites a many-file table into few files, data intact") {
    val root = Files.createTempDirectory("graft-compact").toString
    val df = (1L to 1000L).toDF("id")
    Catalog.writeTruncate(df.repartition(20), root, "frag")
    def nFiles = new java.io.File(s"$root/frag.parquet").listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles === 20)
    Catalog.compact(spark, root, "frag")
    assert(nFiles === 1) // 20 tiny files ≪ 128 MB target → one output file
    val back = Catalog.table(spark, root, "frag")
    assert(back.count() === 1000 && back.agg(sum("id")).as[Long].head() === 500500)
  }

  test("compact refuses a Hive-partitioned table instead of flattening it") {
    val root = Files.createTempDirectory("graft-compact-part").toString
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "A" else "B")).toDF("id", "seg")
    Catalog.writePartitioned(df, root, "pt", Seq("seg"))
    val e = intercept[IllegalArgumentException](Catalog.compact(spark, root, "pt"))
    assert(e.getMessage.contains("Hive-partitioned"))
    // layout untouched: partition pruning still works after the refusal
    assert(Catalog.table(spark, root, "pt").where($"seg" === "A").count() === 50)
  }

  test("compactPartition rewrites one partition's files, leaves siblings untouched") {
    val root = Files.createTempDirectory("graft-compact-onepart").toString
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "A" else "B")).toDF("id", "seg")
    // fragment both partitions (10 files each), then compact only seg=A
    Catalog.writePartitioned(df.repartition(10), root, "pt", Seq("seg"))
    def files(seg: String) = new java.io.File(s"$root/pt.parquet/seg=$seg")
      .listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(files("A") === 10 && files("B") === 10)
    Catalog.compactPartition(spark, root, "pt", Seq("seg" -> "A"))
    assert(files("A") === 1, "compacted partition collapses to one file")
    assert(files("B") === 10, "sibling partition untouched")
    // table intact, layout still partitioned, pruning still works
    val back = Catalog.table(spark, root, "pt")
    assert(back.count() === 200)
    assert(back.where($"seg" === "A").agg(sum("id")).as[Long].head() ===
      (2L to 200L by 2).sum)
    // unknown partition fails loudly instead of creating an empty dir
    val e = intercept[IllegalArgumentException](
      Catalog.compactPartition(spark, root, "pt", Seq("seg" -> "Z")))
    assert(e.getMessage.contains("no partition"))
  }

  test("upsert replaces matched keys, inserts new ones, creates fresh targets") {
    val root = Files.createTempDirectory("graft-upsert").toString
    // fresh target: first batch simply creates the table
    val first = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Catalog.upsert(spark, root, "t", first, Seq("k"))
    assert(Catalog.table(spark, root, "t").orderBy("k").as[(Long, String)].collect()
      .toSeq === Seq((1L, "a"), (2L, "b")))
    // merge: key 2 replaced, key 3 inserted, key 1 untouched
    val second = Seq((2L, "B2"), (3L, "c")).toDF("k", "v")
    Catalog.upsert(spark, root, "t", second, Seq("k"))
    assert(Catalog.table(spark, root, "t").orderBy("k").as[(Long, String)].collect()
      .toSeq === Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    // the swap never leaves the destination missing: either old or new table
    // exists at every step — here, after success, no .old/.staging remnants
    val parent = new java.io.File(s"$root")
    assert(parent.listFiles.map(_.getName).toSet === Set("t.parquet"))
  }

  test("upsert swap recovers from a crashed prior swap's leftover .old dir") {
    val root = Files.createTempDirectory("graft-upsert-rb").toString
    Catalog.upsert(spark, root, "t", Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    // simulate a swap that crashed after staging out: a stale .old directory
    // is still sitting next to the table
    val dst = new java.io.File(Catalog.path(root, "t"))
    val stale = new java.io.File(dst.getParent, s".${dst.getName}.old")
    assert(stale.mkdir())
    Files.write(stale.toPath.resolve("junk"), Array[Byte](1, 2, 3))
    // next upsert must clear the leftover and complete; at no point is the
    // destination deleted before its replacement is ready
    Catalog.upsert(spark, root, "t", Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    assert(Catalog.table(spark, root, "t").count() === 2)
    assert(!stale.exists())
  }

  test("writeClustered produces range-disjoint files (min-max skipping works)") {
    val root = Files.createTempDirectory("graft-clustered").toString
    // shuffled input: clustering must impose the order, not inherit it
    val df = spark.range(0, 10000).select(
      (col("id") * 7919 % 10000).as("k"), col("id").as("v"))
    Catalog.writeClustered(df, root, "ct", Seq("k"), nFiles = 4)
    val dir = new java.io.File(Catalog.path(root, "ct"))
    val parts = dir.listFiles.filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(parts.length === 4)
    // per-file key ranges must not overlap — that is what lets parquet
    // min/max stats skip whole files for a pushed-down range predicate
    val ranges = parts.map { p =>
      val r = spark.read.parquet(p).agg(min($"k"), max($"k")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, ranges.mkString(","))
      case _ =>
    }
    // nothing lost in the rewrite
    assert(Catalog.table(spark, root, "ct").count() === 10000)
  }

  test("testdata-drift tripwire: events timestamps land in-era, batch AND streaming schema") {
    // Round 8 regression, caught only by a streamed-vs-batch set diff: the
    // driver flipped events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS)
    // and the streaming path's hard-coded nanos schema put every window in
    // 1970. This pins the symptom BY NAME at every shipped SF: whatever the
    // file unit, both read paths must land in the data's era (2020-2030).
    import graft.streaming.EventsStream
    val eraLo = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val eraHi = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    Seq("0.001", "0.01", "0.1").map(sf => s"/root/testdata/sf$sf").foreach { dir =>
      // batch path (Catalog.events → normalizeTs)
      val b = Catalog.events(spark, dir)
        .agg(min($"ts"), max($"ts"))
        .collect().head
      assert(!b.getTimestamp(0).before(eraLo) && b.getTimestamp(1).before(eraHi),
        s"batch events ts out of era at $dir: $b")
      // streaming path: the exact schema readStream would use, plus the
      // shared normalizer — exercised via an equivalent batch read so the
      // assertion stays cheap (no stream machinery; same schema+normalize)
      val streamed = EventsStream.normalize(
        spark.read.schema(EventsStream.schemaFor(spark, s"$dir/events.parquet"))
          .parquet(s"$dir/events.parquet"))
      val s = streamed.agg(min($"ts"), max($"ts")).collect().head
      assert(!s.getTimestamp(0).before(eraLo) && s.getTimestamp(1).before(eraHi),
        s"streaming-schema events ts out of era at $dir: $s")
    }
    // and the normalizer itself stays unit-robust if nanos-as-Long returns
    val nanos = Seq((1L, 1704067200000000000L)).toDF("event_id", "ts")
    val normed = Catalog.normalizeTs(nanos).select($"ts").collect().head.getTimestamp(0)
    assert(normed === java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      s"nanos-Long normalization broken: $normed")
  }

  test("footerStats agrees with the scan across many files; counts files and row groups") {
    val root = Files.createTempDirectory("graft-footer").toString
    val df = (1L to 1000L).map(i => (i, i * 3 % 97)).toDF("id", "v")
    df.repartition(4).write.parquet(s"$root/t.parquet")
    val got = Catalog.footerStats(spark, root, "t", "id").collect().head
    assert(got.getLong(0) == 4L, "n_files")
    assert(got.getLong(1) >= 4L, "row groups")
    assert(got.getLong(2) == 1000L && got.getLong(3) == 1L
      && got.getLong(4) == 1000L)
    // a column with no footer presence yields honest nulls, not zeros
    val miss = Catalog.footerStats(spark, root, "t", "absent").collect().head
    assert(miss.getLong(2) == 1000L && miss.isNullAt(3) && miss.isNullAt(4))
  }

  test("footerStats recurses into partitioned layouts; footerFileStats profiles per file") {
    val root = Files.createTempDirectory("graft-footer-part").toString
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "seg")
    // subdirectory-per-partition — the shape the shard/band stores use;
    // the pre-recursion lister saw zero files here
    Catalog.writePartitioned(df, root, "t", Seq("seg"))
    val got = Catalog.footerStats(spark, root, "t", "id").collect().head
    assert(got.getLong(2) == 100L && got.getLong(3) == 1L
      && got.getLong(4) == 100L)
    // per-file profile: row counts sum to the table, global bounds agree
    val perFile = Catalog.footerFileStats(spark, root, "t", "id")
    val s = perFile.agg(sum($"n_rows"), min($"min_value"), max($"max_value"))
      .collect().head
    assert(s.getLong(0) == 100L && s.getLong(1) == 1L && s.getLong(2) == 100L)
    assert(perFile.where($"n_rows" <= 0).count() == 0L)
  }

  test("stored-index maintenance: compactPartition shrinks a shard/band, serve identical pre/post") {
    import graft.operators.{Dedup, TextIndex}
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 300)
    def leafFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet

    // near-dup LSH store: many appended files in each band directory
    val idx = Files.createTempDirectory("graft-lsh-compact").toString
    Dedup.writeLshIndex(docs.where(col("doc_id") % 3 === 0), idx, "doc_id", "text")
    Dedup.appendLshIndex(docs.where(col("doc_id") % 3 === 1), idx, "doc_id", "text")
    Dedup.appendLshIndex(docs.where(col("doc_id") % 3 === 2), idx, "doc_id", "text")
    val batch = docs.where(col("doc_id") % 7 === 0)
    def serve() = Dedup.matchesAgainstLshIndex(batch, docs, idx,
        "doc_id", "text", threshold = 0.9)
      .orderBy(col("new_id"), col("corpus_id")).collect().map(_.toSeq).toSeq
    val before = serve()
    val bandDir = s"$idx/buckets.parquet/band=0"
    val filesBefore = leafFiles(bandDir)
    assert(filesBefore.size >= 3, s"expected appended files, got $filesBefore")
    Catalog.compactPartition(spark, idx, "buckets", Seq(("band", "0")))
    assert(leafFiles(bandDir).size < filesBefore.size, "band not compacted")
    assert(serve() == before && before.nonEmpty,
      "serve changed across compaction")

    // text index: the bundle's maintenance path folds the appended
    // postings file sets into one
    val tix = Files.createTempDirectory("graft-tix-compact").toString
    TextIndex.writeBundle(docs.where(col("doc_id") % 2 === 0), tix, "tix")
    assert(TextIndex.appendBundle(spark, tix, "tix",
      docs.where(col("doc_id") % 2 === 1), "b1"))
    val terms = Seq("the", "data")
    def bm25() = TextIndex.bm25SearchBundle(spark, tix, "tix", terms, k = 10)
      .collect().map(_.toSeq).toSeq
    val b0 = bm25()
    def postingSets() = Catalog.bundleManifest(spark, tix, "tix").dirs("postings").size
    assert(postingSets() == 2, "expected the appended file set")
    Catalog.compactBundle(spark, tix, "tix")
    assert(postingSets() == 1, "postings not compacted")
    assert(bm25() == b0 && b0.nonEmpty, "bm25 serve changed across compaction")
  }

  test("ANN-index maintenance: compactPartition shrinks a cell, serve identical pre/post") {
    import graft.operators.{AnnIndex, Embeddings, RelOps, Similarity}
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val idx = Files.createTempDirectory("graft-ann-compact").toString
    val books = Embeddings.pqTrain(
      RelOps.hashSample(e, "vec_id", 0.5), m = 8, k = 16, iters = 2)
    // build on a third, append twice: every cell accretes a file set
    AnnIndex.writeBundle(e.where(col("vec_id") % 3 === 0), books, idx, "ann",
      nCentroids = 4, trainIters = 2, spill = 2)
    assert(AnnIndex.appendBundle(spark, idx, "ann", e.where(col("vec_id") % 3 === 1), "b1"))
    assert(AnnIndex.appendBundle(spark, idx, "ann", e.where(col("vec_id") % 3 === 2), "b2"))
    val q = e.where(col("vec_id") < 2)
    // exhaustive probes: every cell (including the compacted one) feeds
    // the serve, so any compaction corruption must surface
    def serve() = AnnIndex.knnBundle(spark, idx, "ann", e, q, k = 5,
        rerank = 50, nProbe = 4)
      .orderBy(col("qid"), col("rank")).collect().map(_.toSeq).toSeq
    val before = serve()
    spark.catalog.clearCache()
    // the cell-0 parquet files the latest version's codes member lists
    def cellFiles() = Catalog.bundleManifest(spark, idx, "ann").dirs("codes")
      .flatMap(d => Option(new java.io.File(
          s"${Catalog.bundleDir(idx, "ann")}/$d/cell=0").listFiles())
        .getOrElse(Array.empty[java.io.File]).toSeq)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val filesBefore = cellFiles()
    assert(filesBefore.size >= 3, s"expected appended files, got $filesBefore")
    Catalog.compactBundle(spark, idx, "ann")
    assert(cellFiles().size < filesBefore.size, "cell not compacted")
    assert(serve() == before && before.nonEmpty,
      "ANN serve changed across compaction")
    spark.catalog.clearCache()
  }

  test("pair-store maintenance: flat compact of pairs.parquet, reads and cluster family identical pre/post") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 300)
    val dir = Files.createTempDirectory("graft-pair-compact").toString
    // fragment the flat table the way an append sink does: one pair
    // table build plus several appended batches of the corpus's pairs,
    // each landing whole new files
    Dedup.writePairTable(docs.where(col("doc_id") % 4 === 0), dir,
      "doc_id", "text", threshold = 0.9)
    val all = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.9)
    try for (m <- 1 to 3)
      Catalog.writeAppend(all.where(col("a") % 4 === m).coalesce(1), dir, "pairs")
    finally { all.unpersist(); () }
    def pairFiles() = new java.io.File(s"$dir/pairs.parquet").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def pairs() = Dedup.pairTable(spark, dir)
      .orderBy(col("a"), col("b")).collect().map(_.toSeq).toSeq
    def clusters() = Dedup.clustersFromPairs(docs,
        Dedup.pairTable(spark, dir), "doc_id")
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val (filesBefore, pBefore, cBefore) = (pairFiles(), pairs(), clusters())
    assert(filesBefore >= 4, s"expected fragmented table, got $filesBefore files")
    Catalog.compact(spark, dir, "pairs")
    assert(pairFiles() < filesBefore, "pair table not compacted")
    assert(pairs() == pBefore && pBefore.nonEmpty,
      "pair table changed across compaction")
    assert(clusters() == cBefore && cBefore.nonEmpty,
      "cluster family changed across compaction")
  }

  test("versioned table: commit/time-travel/prune; crash states never serve a partial table") {
    val root = Files.createTempDirectory("graft-vt").toString
    // a store with no committed version refuses, naming the read
    val none = intercept[RuntimeException](readT(root))
    assert(none.getMessage.startsWith("readBundleTable: no committed versions"),
      none.getMessage)
    val v1 = commitT(root, 10L)
    val v2 = commitT(root, 25L)
    assert(v1 == 1L && v2 == 2L)
    assert(latestT(root).contains(2L))
    assert(readT(root).count() == 25L)
    assert(readT(root, Some(1L)).count() == 10L)

    val base = new java.io.File(Catalog.bundleDir(root, "t"))
    // crash AFTER data commit, BEFORE pointer flip: simulate by deleting
    // the pointer — the committed-directory fallback still serves v2
    assert(new java.io.File(base, "_latest").delete())
    assert(latestT(root).contains(2L))
    assert(readT(root).count() == 25L)

    // crash MID data write: an uncommitted directory (no _manifest) is
    // invisible to latest and refused by an explicit read
    val v3 = commitT(root, 30L)
    assert(v3 == 3L)
    val stale = new java.io.File(base, "4")
    assert(stale.mkdir())
    java.nio.file.Files.write(new java.io.File(stale, "part-0.parquet").toPath,
      Array[Byte](0))
    assert(latestT(root).contains(3L))
    intercept[IllegalArgumentException] {
      readT(root, Some(4L))
    }

    // retention: prune to the newest 1 — old versions drop, latest stays
    Catalog.pruneBundleVersions(spark, root, "t", keep = 1)
    assert(!new java.io.File(base, "1").exists())
    assert(!new java.io.File(base, "2").exists())
    assert(readT(root).count() == 30L)
  }

  test("versioned bundle: multi-table commit is all-or-nothing; members resolve through one version") {
    val root = Files.createTempDirectory("graft-bundle").toString
    val v1 = Catalog.commitBundle(Seq(
      "a" -> (1L to 5L).toDF("id"), "b" -> (1L to 7L).toDF("id")), root, "p")
    val v2 = Catalog.commitBundle(Seq(
      "a" -> (1L to 50L).toDF("id"), "b" -> (1L to 70L).toDF("id")), root, "p")
    assert(v1 == 1L && v2 == 2L)
    assert(Catalog.readBundleTable(spark, root, "p", "a").count() == 50L)
    assert(Catalog.readBundleTable(spark, root, "p", "b").count() == 70L)
    // time travel resolves BOTH members through the same version
    assert(Catalog.readBundleTable(spark, root, "p", "a", Some(1L)).count() == 5L)
    assert(Catalog.readBundleTable(spark, root, "p", "b", Some(1L)).count() == 7L)
    // non-member refused
    intercept[IllegalArgumentException] {
      Catalog.readBundleTable(spark, root, "p", "c")
    }

    val base = new java.io.File(Catalog.bundleDir(root, "p"))
    // crash AFTER the tables, BEFORE the manifest: one table of a v3
    // landed — the version is invisible and an explicit read refuses
    val partial = new java.io.File(base, "3")
    (1L to 9L).toDF("id").write.parquet(s"$partial/a.parquet")
    assert(Catalog.latestBundleVersion(spark, root, "p").contains(2L))
    intercept[IllegalArgumentException] {
      Catalog.readBundleTable(spark, root, "p", "a", Some(3L))
    }
    // crash AFTER manifest, BEFORE pointer flip: fallback still serves
    assert(new java.io.File(base, "_latest").delete())
    assert(Catalog.latestBundleVersion(spark, root, "p").contains(2L))
    assert(Catalog.readBundleTable(spark, root, "p", "b").count() == 70L)
  }

  test("bundle compaction: one snapshot file set per member, ledger preserved, prune reclaims") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 300)
    val root = Files.createTempDirectory("graft-bundle-compact").toString
    val p0 = docs.where(col("doc_id") % 3 === 0)
    val p1 = docs.where(col("doc_id") % 3 === 1)
    val p2 = docs.where(col("doc_id") % 3 === 2)
    Dedup.writePairBundle(p0, root, "nd", "doc_id", "text", threshold = 0.9)
    assert(Dedup.ingestPairBundle(p1, p0, root, "nd", "b1", "doc_id",
      "text", threshold = 0.9))
    assert(Dedup.ingestPairBundle(p2, p0.unionByName(p1), root, "nd", "b2",
      "doc_id", "text", threshold = 0.9))
    def pairs() = Catalog.readBundleTable(spark, root, "nd", "pairs")
      .orderBy(col("a"), col("b")).collect().map(_.toSeq).toSeq
    val before = pairs()
    assert(Catalog.bundleManifest(spark, root, "nd")
      .dirs("pairs").size == 3, "expected fragmented member")
    val cv = Catalog.compactBundle(spark, root, "nd")
    val m = Catalog.bundleManifest(spark, root, "nd")
    // one snapshot file set per member, reads identical, ledger intact
    assert(m.dirs.values.forall(_.size == 1))
    assert(pairs() == before && before.nonEmpty)
    assert(m.batches == Seq("b1", "b2"))
    assert(!Dedup.ingestPairBundle(p1, p0, root, "nd", "b1", "doc_id",
      "text", threshold = 0.9), "compaction must not reopen the ledger")
    // retention: everything the snapshot doesn't reference is reclaimed
    Catalog.pruneBundleVersions(spark, root, "nd", keep = 1)
    val base = new java.io.File(Catalog.bundleDir(root, "nd"))
    val numbered = base.listFiles.filter(f =>
      f.isDirectory && f.getName.forall(_.isDigit)).map(_.getName.toLong).toSet
    assert(numbered == Set(cv), s"expected only $cv, got $numbered")
    assert(pairs() == before)
  }

  test("fanOut feeds multiple sinks from one cached source") {
    val root = Files.createTempDirectory("graft-fan").toString
    val src = (1L to 10L).toDF("id")
    Catalog.fanOut(src, cache = true)(
      d => Catalog.writeTruncate(d, root, "raw"),
      d => Catalog.writeTruncate(d.withColumn("id2", $"id" * 2), root, "derived"))
    assert(Catalog.table(spark, root, "raw").count() === 10)
    assert(Catalog.table(spark, root, "derived").agg(sum("id2")).as[Long].head() === 110)
  }

  test("optimistic commit: interleaved committers all land as distinct readable versions") {
    val root = Files.createTempDirectory("graft-occ").toString
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val threads = (1 to 3).map { w =>
      new Thread(() => {
        for (i <- 1 to 2) {
          val n = (w * 100 + i).toLong
          val v = commitT(root, n)
          results.add((v, n))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val got = results.asScala.toSeq
    // every commit claimed its OWN version: 6 commits → versions 1..6
    assert(got.map(_._1).sorted == (1L to 6L), s"versions: ${got.map(_._1)}")
    // each version serves exactly the data its committer wrote
    got.foreach { case (v, n) =>
      assert(readT(root, Some(v)).count() == n, s"version $v corrupted")
    }
    // pointer ends on the highest committed version
    assert(latestT(root).contains(6L))
  }

  test("commit reclaims a crashed writer's uncommitted slot instead of wedging") {
    val root = Files.createTempDirectory("graft-wedge").toString
    assert(commitT(root, 5L) == 1L)
    // a crashed legacy in-place writer left a partial version 2: no
    // _manifest — before the staged-claim protocol this slot was
    // permanently unwritable (every retry recomputed next=2 and failed)
    val base = new java.io.File(Catalog.bundleDir(root, "t"))
    val stale = new java.io.File(base, "2")
    assert(stale.mkdir())
    java.nio.file.Files.write(new java.io.File(stale, "part-0.parquet").toPath,
      Array[Byte](1, 2, 3))
    val v2 = commitT(root, 7L)
    assert(v2 == 2L, s"expected reclaimed slot 2, got $v2")
    assert(readT(root, Some(2L)).count() == 7L)
  }

  test("prune grace: versions younger than minAge survive regardless of keep count") {
    val root = Files.createTempDirectory("graft-grace").toString
    (1 to 3).foreach(i => commitT(root, i.toLong))
    // all three versions were just written: an hour-long grace keeps them
    Catalog.pruneBundleVersions(spark, root, "t", keep = 1, minAgeMs = 3600L * 1000)
    val base = new java.io.File(Catalog.bundleDir(root, "t"))
    def versions() = base.listFiles.filter(f =>
      f.isDirectory && f.getName.forall(_.isDigit)).map(_.getName.toLong).toSet
    assert(versions() == Set(1L, 2L, 3L), s"grace violated: ${versions()}")
    // without the grace the same call reclaims immediately
    Catalog.pruneBundleVersions(spark, root, "t", keep = 1)
    assert(versions() == Set(3L))
    // a fresh staging dir is NEVER collected (it may belong to a live
    // writer mid-claim): garbage reclaim has its own 1h floor even at
    // minAgeMs = 0
    val liveStaging = new java.io.File(base, ".staging-livewriter")
    assert(liveStaging.mkdir())
    Catalog.pruneBundleVersions(spark, root, "t", keep = 1)
    assert(liveStaging.exists(), "live writer's staging dir was collected")

    val v1 = Catalog.commitBundle(Seq("a" -> (1L to 4L).toDF("id")), root, "p")
    val v2 = Catalog.commitBundle(Seq("a" -> (1L to 9L).toDF("id")), root, "p")
    assert(v1 == 1L && v2 == 2L)
    Catalog.pruneBundleVersions(spark, root, "p", keep = 1,
      minAgeMs = 3600L * 1000)
    val bb = new java.io.File(Catalog.bundleDir(root, "p"))
    def bvs() = bb.listFiles.filter(f =>
      f.isDirectory && f.getName.forall(_.isDigit)).map(_.getName.toLong).toSet
    assert(bvs() == Set(1L, 2L), s"bundle grace violated: ${bvs()}")
    Catalog.pruneBundleVersions(spark, root, "p", keep = 1)
    assert(bvs() == Set(2L))
  }

  test("partitioned bundle member: layout declared at create survives append and compaction") {
    val root = Files.createTempDirectory("graft-bpart").toString
    val mk = (ids: Seq[Long]) => ids.map(i => (i, (i % 4).toInt)).toDF("id", "cell")
    Catalog.commitBundle(Seq("codes" -> mk(0L until 40L), "meta" -> Seq(1L).toDF("one")),
      root, "ix", batchIds = Seq("b0"), partitionBy = Map("codes" -> Seq("cell")))
    assert(Catalog.bundleManifest(spark, root, "ix").parts == Map("codes" -> Seq("cell")))
    // append inherits the layout from the manifest — no param to forget
    assert(Catalog.appendBundle(Seq("codes" -> mk(100L until 120L)), root, "ix", "b1"))
    val v2dir = new java.io.File(Catalog.bundleDir(root, "ix"), "2/codes.parquet")
    assert(v2dir.listFiles.exists(f => f.isDirectory && f.getName.startsWith("cell=")),
      s"append flattened the partition layout: ${v2dir.listFiles.map(_.getName).toSeq}")
    // multi-file-set read reconstructs the partition column across versions
    val all = Catalog.readBundleTable(spark, root, "ix", "codes")
    assert(all.columns.contains("cell") && all.count() == 60L)
    assert(all.where(col("cell") === 2).count() == 15L)
    // compaction preserves both the rows and the directory layout
    val cv = Catalog.compactBundle(spark, root, "ix")
    val cdir = new java.io.File(Catalog.bundleDir(root, "ix"), s"$cv/codes.parquet")
    assert(cdir.listFiles.exists(f => f.isDirectory && f.getName.startsWith("cell=")),
      "compaction flattened the partition layout")
    val post = Catalog.readBundleTable(spark, root, "ix", "codes")
    assert(post.count() == 60L && post.where(col("cell") === 2).count() == 15L)
    assert(Catalog.bundleManifest(spark, root, "ix").parts == Map("codes" -> Seq("cell")))
    // a partition predicate prunes the scan to the matching directory only
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val pruned = post.where(col("cell") === 1)
    pruned.collect()
    val executed = pruned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val scan = executed.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metrics("numPartitions").value === 1,
      s"expected 1 cell directory read, got ${scan.metrics("numPartitions").value}")
  }

  test("bundle member schema: read equals inferred after create, append, compaction and rewrite; drifting appends and schema-less manifests fail loudly") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.StructType
    import graft.operators.{AnnIndex, Embeddings, RelOps, TextIndex}
    val root = Files.createTempDirectory("graft-bschema").toString
    // an int partition column, non-nullable fields, arrays, a null element
    val codes = (ids: Seq[Long]) => ids.map(i => (i, Seq(i.toInt, 7), s"n$i", (i % 4).toInt))
      .toDF("id", "pq", "name", "cell")
    val meta = (ids: Seq[Long]) => ids.map(i => (s"m$i", i * 0.5, Seq(Option(s"t$i"), None)))
      .toDF("key", "score", "tags")
    // what an inferring read of the same file sets returns
    def inferred(bundle: String, ref: String): StructType = {
      val m = Catalog.bundleManifest(spark, root, bundle)
      val paths = m.dirs(ref).map(d => s"${Catalog.bundleDir(root, bundle)}/$d")
      (if (m.parts.contains(ref) && paths.size > 1)
        paths.map(spark.read.parquet(_)).reduce(_ unionByName _)
      else spark.read.parquet(paths: _*)).schema
    }
    def faithful(bundle: String): Unit =
      Catalog.bundleManifest(spark, root, bundle).dirs.keys.foreach { ref =>
        val got = Catalog.readBundleTable(spark, root, bundle, ref).schema
        assert(got == inferred(bundle, ref),
          s"$bundle.$ref: read ${got.treeString}inferred ${inferred(bundle, ref).treeString}")
      }
    Catalog.commitBundle(Seq("codes" -> codes(0L until 20L), "meta" -> meta(0L until 5L)),
      root, "s", batchIds = Seq("b0"), partitionBy = Map("codes" -> Seq("cell")))
    val recorded = Catalog.bundleManifest(spark, root, "s").schemas
    assert(recorded("codes").fieldNames.toSeq == Seq("id", "pq", "name"),
      s"the partition column is not recorded: $recorded")
    assert(Catalog.readBundleTable(spark, root, "s", "codes").schema("cell").dataType ==
      org.apache.spark.sql.types.IntegerType)
    faithful("s")
    assert(Catalog.appendBundle(Seq("codes" -> codes(100L until 110L),
      "meta" -> meta(100L until 103L)), root, "s", "b1"))
    faithful("s")
    assert(Catalog.readBundleTable(spark, root, "s", "codes").count() == 30L)
    Catalog.compactBundle(spark, root, "s")
    faithful("s")
    // a rewrite records the rewritten frame's schema: a new column shows
    Catalog.rewriteBundleMembers(spark, root, "s",
      Map("meta" -> ((d: DataFrame) => d.where(col("score") > 1).withColumn("extra", lit(1)))))
    faithful("s")
    assert(Catalog.readBundleTable(spark, root, "s", "meta").columns.last == "extra")

    // loud failures leave the store exactly as it was
    val base = new java.io.File(Catalog.bundleDir(root, "s"))
    def state() = (Catalog.latestBundleVersion(spark, root, "s"), base.list.toSet)
    val before = state()
    val renamed = intercept[RuntimeException](Catalog.appendBundle(
      Seq("codes" -> codes(200L until 202L).withColumnRenamed("name", "label")),
      root, "s", "b2"))
    assert(renamed.getMessage.contains("'codes'"), renamed.getMessage)
    val retyped = intercept[RuntimeException](Catalog.appendBundle(
      Seq("meta" -> meta(200L until 202L).withColumn("extra", lit(1))
        .withColumn("score", col("score").cast("float"))), root, "s", "b2"))
    assert(retyped.getMessage.contains("'meta'"), retyped.getMessage)
    assert(state() == before, s"a refused append changed the store: ${state()}")

    // a manifest without a member's schema line (a store written before
    // manifests recorded schemas): reads and appends fail naming it
    Catalog.commitBundle(Seq("m" -> (1L to 3L).toDF("id")), root, "old")
    val mf = new java.io.File(Catalog.bundleDir(root, "old"), "1/_manifest").toPath
    Files.write(mf, Files.readAllLines(mf).toArray.map(_.toString)
      .filterNot(_.startsWith("#schema=")).mkString("\n").getBytes("UTF-8"))
    Files.deleteIfExists(mf.resolveSibling("._manifest.crc")) // a hand edit: no checksum
    val oldBase = new java.io.File(Catalog.bundleDir(root, "old"))
    val oldBefore = oldBase.list.toSet
    Seq(
      intercept[RuntimeException](Catalog.readBundleTable(spark, root, "old", "m")),
      intercept[RuntimeException](Catalog.appendBundle(
        Seq("m" -> (4L to 5L).toDF("id")), root, "old", "b1"))
    ).foreach(e => assert(e.getMessage.contains("no schema for member 'm'"), e.getMessage))
    assert(oldBase.list.toSet == oldBefore && Catalog.latestBundleVersion(spark, root, "old")
      .contains(1L))

    // every member of the ANN and text index stores
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .where(col("vec_id") < 120)
    AnnIndex.writeBundle(e, Embeddings.pqTrain(RelOps.hashSample(e, "vec_id", 0.5),
      m = 8, k = 16, iters = 2), root, "ann", nCentroids = 4, trainIters = 2, spill = 2)
    TextIndex.writeBundle(spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .where(col("doc_id") < 120), root, "tix")
    Seq("ann", "tix").foreach(faithful)
    spark.catalog.clearCache()
  }

  test("prune reclaims a crashed loser's staging NESTED inside a committed version dir") {
    val root = Files.createTempDirectory("graft-nested").toString
    (1 to 2).foreach(i => commitT(root, i.toLong))
    val base = new java.io.File(Catalog.bundleDir(root, "t"))
    // a claim loser's rename nested its staging into the winner's v2 and
    // the loser crashed before adopting it — invisible to readers, and
    // before the nested scan invisible to retention too
    val nested = new java.io.File(new java.io.File(base, "2"), ".staging-crashed")
    assert(nested.mkdir())
    java.nio.file.Files.write(new java.io.File(nested, "_writer-crashed").toPath,
      Array.empty[Byte])
    // fresh: the 1h garbage floor protects it (could be a live writer)
    Catalog.pruneBundleVersions(spark, root, "t", keep = 2)
    assert(nested.exists(), "fresh nested staging must survive the grace floor")
    // age it past the floor: now it is reclaimable garbage
    val old = System.currentTimeMillis() - 2L * 3600 * 1000
    assert(nested.setLastModified(old))
    Catalog.pruneBundleVersions(spark, root, "t", keep = 2)
    assert(!nested.exists(), "aged nested staging leaked")
    // the committed version it was nested in still serves
    assert(readT(root, Some(2L)).count() == 2L)
  }

  test("concurrent appendBundle: same batch id lands exactly once; distinct ids both land") {
    val root = Files.createTempDirectory("graft-ab-race").toString
    Catalog.commitBundle(Seq("rows" -> (1L to 10L).toDF("id")), root, "q")
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val same = (1 to 2).map { w =>
      new Thread(() => outcomes.add(Catalog.appendBundle(
        Seq("rows" -> (100L * w until 100L * w + 5).toDF("id")), root, "q",
        "batch-dup")))
    }
    same.foreach(_.start()); same.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(outcomes.asScala.toSeq.sorted == Seq(false, true),
      s"same-id race: ${outcomes.asScala.toSeq}")
    val m1 = Catalog.bundleManifest(spark, root, "q")
    assert(m1.batches.count(_ == "batch-dup") == 1)
    assert(Catalog.readBundleTable(spark, root, "q", "rows").count() == 15L)

    val distinct = (1 to 2).map { w =>
      new Thread(() => outcomes.add(Catalog.appendBundle(
        Seq("rows" -> (1000L * w until 1000L * w + 3).toDF("id")), root, "q",
        s"batch-$w")))
    }
    distinct.foreach(_.start()); distinct.foreach(_.join())
    val m2 = Catalog.bundleManifest(spark, root, "q")
    assert(m2.batches.toSet == Set("batch-dup", "batch-1", "batch-2"),
      s"batches: ${m2.batches}")
    assert(Catalog.readBundleTable(spark, root, "q", "rows").count() == 21L)
  }

  test("store health: dry-run equals the subsequent prune, aged garbage included") {
    val root = Files.createTempDirectory("graft-health").toString
    (1 to 4).foreach(i => commitT(root, i.toLong))
    val base = new java.io.File(Catalog.bundleDir(root, "t"))
    // a crashed writer's staging, aged PAST the 1h garbage floor: the
    // report must call it reclaimable and the prune must then take it
    val dead = new java.io.File(base, ".staging-crashed")
    assert(dead.mkdir())
    assert(dead.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000))
    // and a live writer's fresh staging: reported, NOT reclaimable
    val live = new java.io.File(base, ".staging-live")
    assert(live.mkdir())
    val rep = Catalog.bundleHealth(spark, root, "t", keep = 2).collect()
      .map(r => (r.getString(1), r.getBoolean(7), r.getString(8))).toSet
    assert(rep == Set(
      ("1", true, "retention"), ("2", true, "retention"),
      ("3", false, "keep-window"), ("4", false, "latest"),
      (".staging-crashed", true, "garbage"),
      (".staging-live", false, "writer-grace")), s"report: $rep")
    // telemetry columns are populated (ages non-negative, sizes >= 0)
    val tele = Catalog.bundleHealth(spark, root, "t", keep = 2)
      .where(col("age_ms") < 0 || col("bytes") < 0).count()
    assert(tele == 0)
    Catalog.pruneBundleVersions(spark, root, "t", keep = 2)
    val left = base.listFiles.filter(_.isDirectory).map(_.getName).toSet
    val predicted = rep.collect { case (n, false, _) => n }
    assert(left == predicted,
      s"prune took a different action than the report predicted: $left vs $predicted")

    // bundle: compaction leaves two unreferenced versions at keep=1
    Catalog.commitBundle(Seq("m" -> (1L to 4L).toDF("id")), root, "b", Seq("b0"))
    Catalog.appendBundle(Seq("m" -> (5L to 9L).toDF("id")), root, "b", "b1")
    Catalog.compactBundle(spark, root, "b")
    val brep = Catalog.bundleHealth(spark, root, "b", keep = 1).collect()
      .map(r => (r.getString(1), r.getBoolean(7), r.getString(8))).toSet
    assert(brep == Set(
      ("1", true, "retention"), ("2", true, "retention"),
      ("3", false, "latest")), s"bundle report: $brep")
    // an append-chained bundle at keep=1 WITHOUT compaction keeps the
    // referenced older versions alive - and the report says why
    Catalog.commitBundle(Seq("m" -> (1L to 4L).toDF("id")), root, "c", Seq("b0"))
    Catalog.appendBundle(Seq("m" -> (5L to 9L).toDF("id")), root, "c", "b1")
    val crep = Catalog.bundleHealth(spark, root, "c", keep = 1).collect()
      .map(r => (r.getString(1), r.getBoolean(7), r.getString(8))).toSet
    assert(crep == Set(("1", false, "referenced"), ("2", false, "latest")),
      s"append-chain report: $crep")
    Catalog.pruneBundleVersions(spark, root, "b", keep = 1)
    Catalog.pruneBundleVersions(spark, root, "c", keep = 1)
    def bvs(b: String) = new java.io.File(Catalog.bundleDir(root, b))
      .listFiles.filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .map(_.getName).toSet
    assert(bvs("b") == Set("3") && bvs("c") == Set("1", "2"),
      s"bundle prunes diverged from their reports: b=${bvs("b")} c=${bvs("c")}")
  }

  test("object-store rename shim: protocol correct and claim loss detected under copy+delete rename") {
    // the 100 TB deployment target is object storage, where directory
    // rename is emulated as copy-then-delete; the commit protocol's
    // correctness must not secretly depend on posix/HDFS rename atomicity
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nonatomic.impl", classOf[NonAtomicRenameFileSystem].getName)
    val tmp = Files.createTempDirectory("graft-nonatomic").toString
    val root = s"nonatomic://$tmp"
    // deterministic claim-loss probe: under copy+delete a rename onto an
    // existing version directory still NESTS, and the ownership marker is
    // then NOT visible at the target root - exactly the signal
    // claimVersionSlot keys on to detect a lost race
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val probe = new org.apache.hadoop.fs.Path(s"$root/probe")
    assert(f.mkdirs(new org.apache.hadoop.fs.Path(probe, "7")))
    assert(f.mkdirs(new org.apache.hadoop.fs.Path(probe, ".staging-tok")))
    f.create(new org.apache.hadoop.fs.Path(probe,
      ".staging-tok/_writer-tok"), true).close()
    assert(f.rename(new org.apache.hadoop.fs.Path(probe, ".staging-tok"),
      new org.apache.hadoop.fs.Path(probe, "7")),
      "nesting rename must report success (as local/HDFS do)")
    assert(!f.exists(new org.apache.hadoop.fs.Path(probe, "7/_writer-tok")),
      "marker visible at target root despite a lost claim")
    assert(f.exists(new org.apache.hadoop.fs.Path(probe,
      "7/.staging-tok/_writer-tok")),
      "nested staging (the retry source) must survive the lost claim")

    // the single-writer protocol on the shim behaves exactly as on an
    // atomic-rename filesystem: sequential commits, time travel, and
    // the ledgered bundle append. CONCURRENT optimistic claims are NOT
    // supported under copy+delete rename — two racers can interleave
    // one slot because the uncommitted-target clear destroys a racer's
    // in-flight copy (the documented object-store caveat; real
    // deployments there single-write or coordinate externally) — and
    // the protocol now detects that state loudly via the foreign
    // root-level writer marker instead of publishing interleaved data
    assert(commitT(root, 3L) == 1L)
    assert(commitT(root, 5L) == 2L)
    assert(readT(root, Some(1L)).count() == 3L)
    assert(readT(root, Some(2L)).count() == 5L)
    (3L to 8L).foreach { v =>
      assert(commitT(root, v) == v)
      assert(readT(root, Some(v)).count() == v)
    }
    assert(latestT(root).contains(8L))
    Catalog.commitBundle(Seq("m" -> (1L to 4L).toDF("id")), root, "b", Seq("b0"))
    assert(Catalog.appendBundle(Seq("m" -> (5L to 6L).toDF("id")), root, "b", "b1"))
    assert(!Catalog.appendBundle(Seq("m" -> (5L to 6L).toDF("id")), root, "b", "b1"),
      "replay must stay rejected on the shim")
    assert(Catalog.readBundleTable(spark, root, "b", "m").count() == 6L)
  }

  test("rewriteBundleMembers refuses unknown members and requires a transform") {
    val root = Files.createTempDirectory("graft-rwb").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b", Seq("b0"))
    val e1 = intercept[IllegalArgumentException] {
      Catalog.rewriteBundleMembers(spark, root, "b",
        Map("nope" -> ((d: org.apache.spark.sql.DataFrame) => d)))
    }
    assert(e1.getMessage.contains("unknown member"))
    val e2 = intercept[IllegalArgumentException] {
      Catalog.rewriteBundleMembers(spark, root, "b", Map.empty)
    }
    assert(e2.getMessage.contains("nothing to rewrite"))
    // a real rewrite keeps the ledger and commits a new version
    val v = Catalog.rewriteBundleMembers(spark, root, "b",
      Map("m" -> ((d: org.apache.spark.sql.DataFrame) => d.where($"id" =!= 3L))))
    assert(v == 2L)
    assert(Catalog.bundleManifest(spark, root, "b").batches == Seq("b0"))
    assert(Catalog.readBundleTable(spark, root, "b", "m").count() == 4L)
    // time travel still serves the pre-takedown rows until retention
    assert(Catalog.readBundleTable(spark, root, "b", "m", Some(1L)).count() == 5L)
  }

  test("commitBundle supersedes: a snapshot computed from a superseded version refuses to land") {
    val root = Files.createTempDirectory("graft-sup").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b", Seq("b0"))
    // a batch lands while a compaction-style snapshot is being computed
    // from v1: publishing that snapshot would silently drop the batch's
    // rows while keeping (or resetting) its ledger id — refuse loudly
    assert(Catalog.appendBundle(Seq("m" -> (10L to 12L).toDF("id")),
      root, "b", "b1"))
    val ex = intercept[RuntimeException] {
      Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b",
        Seq("b0"), supersedes = Some(1L))
    }
    assert(ex.getMessage.contains("advanced past superseded"),
      s"wrong failure: ${ex.getMessage}")
    // the store is untouched: latest still serves both file sets
    assert(Catalog.readBundleTable(spark, root, "b", "m").count() == 8L)
    // superseding the ACTUAL latest lands (= what compactBundle passes)
    val v3 = Catalog.commitBundle(
      Seq("m" -> Catalog.readBundleTable(spark, root, "b", "m")),
      root, "b", Seq("b0", "b1"), supersedes = Some(2L))
    assert(v3 == 3L)
    assert(Catalog.readBundleTable(spark, root, "b", "m").count() == 8L)
    assert(Catalog.bundleManifest(spark, root, "b").batches ==
      Seq("b0", "b1"))
  }

  test("deployment-pinned versions survive bundle retention; health reports them as pinned") {
    val root = Files.createTempDirectory("graft-pinret").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b",
      Seq("b0"))
    assert(Catalog.appendBundle(Seq("m" -> (10L to 12L).toDF("id")),
      root, "b", "b1"))
    Catalog.compactBundle(spark, root, "b") // v3 snapshot
    // a live deployment still answers v1: retention must not take it —
    // nor the directories its manifest references (v1 references itself)
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 1L))
    val pins = Set(Catalog.readDeployment(spark, root, "serving")("b"))
    val health = Catalog.bundleHealth(spark, root, "b", keep = 1,
        pinned = pins)
      .select($"version", $"would_reclaim", $"reason")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2)))
      .toMap
    assert(health(1L) == (false, "pinned"), s"health: $health")
    assert(health(2L)._1, "v2 (unpinned, unreferenced) should reclaim")
    Catalog.pruneBundleVersions(spark, root, "b", keep = 1, pinned = pins)
    // the pinned version still serves end to end; the victim is gone
    assert(Catalog.readBundleTable(spark, root, "b", "m", Some(1L))
      .count() == 5L)
    intercept[Exception] {
      Catalog.readBundleTable(spark, root, "b", "m", Some(2L)).count()
    }
    assert(Catalog.readBundleTable(spark, root, "b", "m").count() == 8L)
    // once the pin moves on, the old version reclaims normally
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 3L))
    Catalog.pruneBundleVersions(spark, root, "b", keep = 1,
      pinned = Set(3L))
    intercept[Exception] {
      Catalog.readBundleTable(spark, root, "b", "m", Some(1L)).count()
    }
    assert(Catalog.readBundleTable(spark, root, "b", "m").count() == 8L)
  }

  test("takedownStack: partial coverage refuses; a failing retract leaves the pin and serves on the pre-takedown deployment") {
    val root = Files.createTempDirectory("graft-tds").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "a",
      Seq("b0"))
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b",
      Seq("b0"))
    Catalog.commitDeployment(spark, root, "serving",
      Map("a" -> 1L, "b" -> 1L))
    def retract(bundle: String): Long => Long = _ =>
      Catalog.rewriteBundleMembers(spark, root, bundle,
        Map("m" -> ((m: org.apache.spark.sql.DataFrame) =>
          m.where(col("id") =!= 1L))))
    // partial coverage must refuse BEFORE any retract: flipping while
    // an uncovered artifact still serves the removed rows is the skew
    val exp = intercept[IllegalArgumentException] {
      Catalog.takedownStack(spark, root, "serving", Map("a" -> retract("a")))
    }
    assert(exp.getMessage.contains("cover exactly"),
      s"wrong failure: ${exp.getMessage}")
    assert(Catalog.latestBundleVersion(spark, root, "a") == Some(1L))
    // a crash BETWEEN retracts (first landed, second threw) leaves the
    // pin — and everything resolving it — on the pre-takedown versions
    val exc = intercept[RuntimeException] {
      Catalog.takedownStack(spark, root, "serving", Map(
        "a" -> retract("a"),
        "b" -> ((_: Long) => sys.error("boom: b's retract crashed"))))
    }
    assert(exc.getMessage.contains("boom"))
    assert(Catalog.readDeployment(spark, root, "serving") ==
      Map("a" -> 1L, "b" -> 1L))
    // bundle 'a' advanced (v2, rows retracted) but the pinned v1 stays
    // the serving version AND survives deployment-derived retention
    assert(Catalog.latestBundleVersion(spark, root, "a") == Some(2L))
    Catalog.pruneBundleVersionsDeployed(spark, root, "a", keep = 1)
    assert(Catalog.readBundleTable(spark, root, "a", "m", Some(1L))
      .count() == 5L)
    // the retried takedown completes: both stores retract, pin flips
    // LAST to the new versions
    val pins = Catalog.takedownStack(spark, root, "serving",
      Map("a" -> retract("a"), "b" -> retract("b")))
    assert(pins == Map("a" -> 3L, "b" -> 2L))
    assert(Catalog.readDeployment(spark, root, "serving") == pins)
    assert(Catalog.readBundleTable(spark, root, "a", "m", Some(3L))
      .count() == 4L)
    assert(Catalog.readBundleTable(spark, root, "b", "m", Some(2L))
      .count() == 4L)
  }

  test("CAS deployment flips: racing maintenance operators — exactly one lands, the loser refuses loudly") {
    val root = Files.createTempDirectory("graft-cas").toString
    Catalog.commitBundle(Seq("m" -> (1L to 6L).toDF("id")), root, "a",
      Seq("b0"))
    Catalog.commitBundle(Seq("m" -> (1L to 6L).toDF("id")), root, "b",
      Seq("b0"))
    val d1 = Catalog.commitDeployment(spark, root, "serving",
      Map("a" -> 1L, "b" -> 1L))
    def retract(bundle: String, id: Long): Long => Long = _ =>
      Catalog.rewriteBundleMembers(spark, root, bundle,
        Map("m" -> ((m: org.apache.spark.sql.DataFrame) =>
          m.where(col("id") =!= id))))
    // operator B's ENTIRE takedown completes inside operator A's window
    // (between A's pin read and A's flip) — injected via A's first
    // retract closure. Under the commit's optimistic both-land
    // semantics both flips would "succeed" and A's stale pin set would
    // silently discard B's retractions (removed ids serve again, no
    // error anywhere); the compare-and-set makes A the loud loser.
    var racerPins: Map[String, Long] = null
    val ex = intercept[RuntimeException] {
      Catalog.takedownStack(spark, root, "serving", Map(
        "a" -> ((v: Long) => {
          racerPins = Catalog.takedownStack(spark, root, "serving",
            Map("a" -> retract("a", 2L), "b" -> retract("b", 2L)))
          retract("a", 1L)(v)
        }),
        "b" -> retract("b", 1L)))
    }
    assert(ex.getMessage.contains("compare-and-set") &&
      ex.getMessage.contains("concurrent writer flipped"),
      s"loser must refuse naming the interleaving: ${ex.getMessage}")
    // exactly ONE takedown landed: the racer's pins serve and its
    // retraction is intact in the served versions (id 2 gone, id 1 —
    // the loser's target — still present)
    assert(racerPins != null && racerPins == Map("a" -> 2L, "b" -> 2L))
    assert(Catalog.readDeployment(spark, root, "serving") == racerPins)
    val servedA = Catalog.readBundleTable(spark, root, "a", "m",
      Some(racerPins("a")))
    assert(servedA.where(col("id") === 2L).count() == 0L)
    assert(servedA.where(col("id") === 1L).count() == 1L)
    // the loser retries against the NEW pin set and lands on top
    val pins2 = Catalog.takedownStack(spark, root, "serving",
      Map("a" -> retract("a", 1L), "b" -> retract("b", 1L)))
    assert(Catalog.readDeployment(spark, root, "serving") == pins2)
    assert(Catalog.readBundleTable(spark, root, "a", "m",
      Some(pins2("a"))).where(col("id").isin(1L, 2L)).count() == 0L)
    // the CAS primitive directly: a stale expectedVersion refuses and
    // leaves the deployment untouched; the version actually read lands
    val cur = Catalog.latestDeploymentVersion(spark, root, "serving").get
    val exr = intercept[RuntimeException] {
      Catalog.commitDeployment(spark, root, "serving",
        Map("a" -> 1L, "b" -> 1L), expectedVersion = Some(d1))
    }
    assert(exr.getMessage.contains("compare-and-set"),
      s"wrong failure: ${exr.getMessage}")
    assert(Catalog.readDeployment(spark, root, "serving") == pins2)
    val d = Catalog.commitDeployment(spark, root, "serving",
      Map("a" -> 1L, "b" -> 1L), expectedVersion = Some(cur))
    assert(d == cur + 1)
  }

  test("deployment-derived retention: prune discovers live pins itself; unknown pins and bogus deployments refuse loudly") {
    val root = Files.createTempDirectory("graft-depret").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b",
      Seq("b0"))
    assert(Catalog.appendBundle(Seq("m" -> (10L to 12L).toDF("id")),
      root, "b", "b1"))
    Catalog.compactBundle(spark, root, "b") // v3 snapshot
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 1L))
    assert(Catalog.listDeployments(spark, root) == Seq("serving"))
    assert(Catalog.deployedPins(spark, root, "b") == Set(1L))
    // no pin set passed: the prune reads the committed deployments
    // itself — a forgotten caller-side union can no longer reclaim a
    // version a serving tier still answers from
    Catalog.pruneBundleVersionsDeployed(spark, root, "b", keep = 1)
    assert(Catalog.readBundleTable(spark, root, "b", "m", Some(1L))
      .count() == 5L)
    intercept[Exception] {
      Catalog.readBundleTable(spark, root, "b", "m", Some(2L)).count()
    }
    // a pin naming no committed version (typo, or already pruned by an
    // unpinned prune) aborts the prune loudly instead of silently
    // dropping the protection
    val exu = intercept[IllegalArgumentException] {
      Catalog.pruneBundleVersions(spark, root, "b", keep = 1,
        pinned = Set(99L))
    }
    assert(exu.getMessage.contains("not") &&
      exu.getMessage.contains("committed"), s"wrong failure: ${exu.getMessage}")
    // commitDeployment refuses a broken pin set at the flip: unknown
    // artifact, or a version that is not committed
    val exa = intercept[RuntimeException] {
      Catalog.commitDeployment(spark, root, "serving", Map("nope" -> 1L))
    }
    assert(exa.getMessage.contains("does not resolve"))
    val exs = intercept[RuntimeException] {
      Catalog.commitDeployment(spark, root, "serving", Map("b" -> 99L))
    }
    assert(exs.getMessage.contains("does not resolve"))
    // the refused flips left the deployment untouched
    assert(Catalog.readDeployment(spark, root, "serving") == Map("b" -> 1L))
  }

  test("stackHealth: one stack-wide report ≡ each component report's rows, and ≡ the prune actions it predicts") {
    val root = Files.createTempDirectory("graft-stkh").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "a",
      Seq("b0"))
    assert(Catalog.appendBundle(Seq("m" -> (6L to 8L).toDF("id")), root,
      "a", "b1"))
    Catalog.compactBundle(spark, root, "a") // a: v1, v2, v3 snapshot
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b",
      Seq("b0"))
    Catalog.commitDeployment(spark, root, "serving",
      Map("a" -> 1L, "b" -> 1L))
    Catalog.commitDeployment(spark, root, "serving",
      Map("a" -> 3L, "b" -> 1L)) // history depth 2
    // age_ms/bytes are call-time-dependent — compare the decision
    // columns, which must be IDENTICAL because stackHealth is built by
    // calling the component reports (shared decision functions)
    val compCols = Seq("kind", "name", "version", "committed",
      "is_latest", "would_reclaim", "reason")
    def tag(df: org.apache.spark.sql.DataFrame, art: String) =
      df.select(compCols.map(col): _*).collect()
        .map(r => art +: r.toSeq).toSet
    val expected =
      tag(Catalog.bundleHealthDeployed(spark, root, "a", keep = 1), "a") ++
      tag(Catalog.bundleHealthDeployed(spark, root, "b", keep = 1), "b") ++
      tag(Catalog.deploymentHealth(spark, root, "serving", keep = 1),
        "_history")
    val stack = Catalog.stackHealth(spark, root, "serving", keep = 1)
    val got = stack.select((col("artifact") +: compCols.map(col)): _*)
      .collect().map(_.toSeq).toSet
    assert(got == expected, s"stackHealth drifted from its components:\n" +
      s"extra=${got -- expected}\nmissing=${expected -- got}")
    // report ≡ action stack-wide: run the prunes the report predicts
    val predicted = stack.where(col("would_reclaim"))
      .select(col("artifact"), col("name")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(predicted.nonEmpty)
    Seq("a", "b").foreach(art =>
      Catalog.pruneBundleVersionsDeployed(spark, root, art, keep = 1))
    Catalog.pruneDeploymentHistory(spark, root, "serving", keep = 1)
    val after = Catalog.stackHealth(spark, root, "serving", keep = 1)
    assert(after.where(col("would_reclaim")).count() == 0L)
    val remaining = after.select(col("artifact"), col("name")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(predicted.intersect(remaining).isEmpty,
      s"predicted reclaims still present after the prunes: " +
        s"${predicted.intersect(remaining)}")
  }

  test("rollbackDeployment: old pins re-protected mechanically, health ≡ prune on derived pins, reclaimed pins refuse") {
    val root = Files.createTempDirectory("graft-rb").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b",
      Seq("b0"))
    val d1 = Catalog.commitDeployment(spark, root, "serving",
      Map("b" -> 1L))
    Catalog.rewriteBundleMembers(spark, root, "b",
      Map("m" -> ((m: org.apache.spark.sql.DataFrame) =>
        m.where(col("id") =!= 1L)))) // v2 (the "takedown")
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 2L))
    // roll back: a NEW deployment version carrying d1's pins — the
    // audit trail stays monotone, and v1 is pinned (protected) again
    val rb = Catalog.rollbackDeployment(spark, root, "serving", d1)
    assert(rb == d1 + 2)
    assert(Catalog.readDeployment(spark, root, "serving") == Map("b" -> 1L))
    // the deployed health report and the deployed prune share the
    // derived pin set: the report says v1 survives as pinned, and the
    // prune then acts exactly as reported
    val health = Catalog.bundleHealthDeployed(spark, root, "b", keep = 1)
      .select($"version", $"would_reclaim", $"reason")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2)))
      .toMap
    assert(health(1L) == (false, "pinned"), s"health: $health")
    Catalog.pruneBundleVersionsDeployed(spark, root, "b", keep = 1)
    assert(Catalog.readBundleTable(spark, root, "b", "m", Some(1L))
      .count() == 5L)
    // the unsafe path: flip away again, zero-grace prune reclaims v1,
    // and the rollback to the reclaimed pins refuses at the flip
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 2L))
    Catalog.pruneBundleVersionsDeployed(spark, root, "b", keep = 1)
    intercept[Exception] {
      Catalog.readBundleTable(spark, root, "b", "m", Some(1L)).count()
    }
    val ex = intercept[RuntimeException] {
      Catalog.rollbackDeployment(spark, root, "serving", d1)
    }
    assert(ex.getMessage.contains("does not resolve"),
      s"wrong failure: ${ex.getMessage}")
    assert(Catalog.readDeployment(spark, root, "serving") == Map("b" -> 2L))
    // deployment history has its own retention, and the keep window IS
    // the rollback horizon: health says the two oldest pin sets would
    // reclaim at keep=2, the prune acts as reported, and a rollback
    // past the horizon refuses (the pin-set version is gone)
    val dh = Catalog.deploymentHealth(spark, root, "serving", keep = 2)
      .select($"version", $"would_reclaim")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dh == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false),
      s"health: $dh")
    Catalog.pruneDeploymentHistory(spark, root, "serving", keep = 2)
    assert(Catalog.readDeployment(spark, root, "serving", Some(3L)) ==
      Map("b" -> 1L))
    intercept[Exception] {
      Catalog.readDeployment(spark, root, "serving", Some(d1))
    }
    intercept[Exception] {
      Catalog.rollbackDeployment(spark, root, "serving", d1)
    }
  }

  test("incident composition: wrong takedown → rollback → realign → corrected takedown; ledger intact throughout") {
    val root = Files.createTempDirectory("graft-fix").toString
    Catalog.commitBundle(Seq("m" -> (1L to 6L).toDF("id")), root, "a",
      Seq("b0"))
    Catalog.commitBundle(Seq("m" -> (1L to 6L).toDF("id")), root, "b",
      Seq("b0"))
    val d1 = Catalog.commitDeployment(spark, root, "serving",
      Map("a" -> 1L, "b" -> 1L))
    def retract(bundle: String, id: Long): Long => Long = _ =>
      Catalog.rewriteBundleMembers(spark, root, bundle,
        Map("m" -> ((m: org.apache.spark.sql.DataFrame) =>
          m.where(col("id") =!= id))))
    def rows(bundle: String, v: Option[Long] = None): Seq[Long] =
      Catalog.readBundleTable(spark, root, bundle, "m", v)
        .orderBy("id").collect().map(_.getLong(0)).toSeq
    // the WRONG takedown (id 3 was not the contaminated doc) lands
    // through the ordinary library path — stores advance, pin flips
    Catalog.takedownStack(spark, root, "serving",
      Map("a" -> retract("a", 3L), "b" -> retract("b", 3L)))
    // incident response: one flip back — serves answer the old pins
    Catalog.rollbackDeployment(spark, root, "serving", d1)
    // but each store's LATEST is still the wrong retraction, and the
    // forward verbs derive from latest: a corrected takedown here would
    // COMPOUND the wrong removal instead of replacing it...
    assert(Catalog.latestBundleVersion(spark, root, "a") == Some(2L))
    // ...so re-align: every pinned store restored BY REFERENCE to its
    // pin, the deployment re-pinned in one CAS flip
    val aligned = Catalog.realignStack(spark, root, "serving")
    assert(aligned == Map("a" -> 3L, "b" -> 3L))
    assert(Catalog.readDeployment(spark, root, "serving") == aligned)
    assert(rows("a") == (1L to 6L), "restore must bring back the full " +
      "pre-incident member without a data rewrite")
    // idempotent: an aligned stack commits nothing
    val depVAfter = Catalog.latestDeploymentVersion(spark, root, "serving")
    assert(Catalog.realignStack(spark, root, "serving") == aligned)
    assert(Catalog.latestDeploymentVersion(spark, root, "serving")
      == depVAfter)
    // the CORRECTED takedown is ordinary forward maintenance again
    val fixed = Catalog.takedownStack(spark, root, "serving",
      Map("a" -> retract("a", 4L), "b" -> retract("b", 4L)))
    assert(rows("a", Some(fixed("a"))) == Seq(1L, 2L, 3L, 5L, 6L),
      "the served store must reflect ONLY the right removal — the " +
        "wrongly-removed id serves again")
    assert(rows("b", Some(fixed("b"))) == Seq(1L, 2L, 3L, 5L, 6L))
    // ledger intact THROUGHOUT: the seeding batch replays rejected
    assert(!Catalog.appendBundle(Seq("m" -> Seq(99L).toDF("id")), root,
      "a", "b0"))
    // an append ENCODED against the wrong-takedown version refuses: its
    // pinned member advanced when the restore landed (the 'advanced
    // since pinned' guard crosses the restore correctly)
    val exp = intercept[RuntimeException] {
      Catalog.appendBundle(Seq("m" -> Seq(99L).toDF("id")), root, "a",
        "b9", pinned = Some((2L, Seq("m"))))
    }
    assert(exp.getMessage.contains("advanced since pinned"),
      s"wrong failure: ${exp.getMessage}")
    // history stays immutable: the bad version is readable time travel
    assert(rows("a", Some(2L)) == Seq(1L, 2L, 4L, 5L, 6L))
  }

  test("restoreBundleVersion refuses a version whose referenced file sets retention reclaimed") {
    val root = Files.createTempDirectory("graft-rsg").toString
    Catalog.commitBundle(Seq("m" -> (1L to 4L).toDF("id")), root, "p",
      Seq("b0"))
    assert(Catalog.appendBundle(Seq("m" -> (5L to 6L).toDF("id")), root,
      "p", "b1")) // v2's manifest references v1's file set + its own
    Catalog.compactBundle(spark, root, "p") // v3 snapshot
    // the reader-grace edge: v1 aged out, v2 (young) survives the prune
    // — its manifest now references a reclaimed directory
    val base = new java.io.File(Catalog.bundleDir(root, "p"))
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    assert(new java.io.File(base, "1").setLastModified(old))
    Catalog.pruneBundleVersions(spark, root, "p", keep = 1,
      minAgeMs = 24L * 3600 * 1000)
    assert(!new java.io.File(base, "1").exists(),
      "aged v1 should have been reclaimed")
    assert(new java.io.File(base, "2").exists(),
      "young v2 should have survived on grace")
    // restoring the broken-reference version refuses AT THE FLIP
    val ex = intercept[RuntimeException] {
      Catalog.restoreBundleVersion(spark, root, "p", 2L)
    }
    assert(ex.getMessage.contains("no longer exists"),
      s"wrong failure: ${ex.getMessage}")
    assert(Catalog.latestBundleVersion(spark, root, "p") == Some(3L),
      "a refused restore must leave the pointer untouched")
    // the intact snapshot still restores fine after another commit
    Catalog.commitBundle(Seq("m" -> (7L to 9L).toDF("id")), root, "p",
      Seq("b0", "b1", "b2"))
    val v = Catalog.restoreBundleVersion(spark, root, "p", 3L)
    assert(v == 5L)
    assert(Catalog.readBundleTable(spark, root, "p", "m")
      .count() == 6L)
  }

  test("deployment flip under a pinned in-flight serve: reader grace covers the old pins; a zero-grace prune after the flip is the unsafe path") {
    val root = Files.createTempDirectory("graft-flip").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b",
      Seq("b0"))
    Catalog.rewriteBundleMembers(spark, root, "b",
      Map("m" -> ((m: org.apache.spark.sql.DataFrame) =>
        m.where(col("id") =!= 1L)))) // v2
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 1L))
    // an in-flight serve resolved its pins at d1...
    val inflight = Catalog.readDeployment(spark, root, "serving")
    // ...then maintenance flips to d2 and retention runs WITH reader
    // grace: v1 is no longer pinned by any live deployment, but it is
    // younger than the grace — the in-flight serve keeps its files
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 2L))
    Catalog.pruneBundleVersionsDeployed(spark, root, "b", keep = 1,
      minAgeMs = 60L * 60 * 1000)
    assert(Catalog.readBundleTable(spark, root, "b", "m",
      Some(inflight("b"))).count() == 5L)
    // a ZERO-grace prune right after a flip is the documented unsafe
    // path: the old pins' version reclaims immediately and the
    // in-flight serve's next member read refuses
    Catalog.pruneBundleVersionsDeployed(spark, root, "b", keep = 1)
    intercept[Exception] {
      Catalog.readBundleTable(spark, root, "b", "m",
        Some(inflight("b"))).count()
    }
    assert(Catalog.readBundleTable(spark, root, "b", "m").count() == 4L)
  }

  test("racing pinned appends: exactly one lands, the loser fails loudly instead of committing stale-encoded rows") {
    val root = Files.createTempDirectory("graft-pinrace").toString
    Catalog.commitBundle(Seq("index" -> (1L to 10L).toDF("id")), root,
      "b", Seq("b0"))
    // both writers encoded their batch against version 1's index member
    // and append TO that member: whoever claims second must fail loudly
    // (its rows were matched/encoded against a superseded table), never
    // silently commit
    val outcomes =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Boolean]]()
    val ws = (1 to 2).map { w =>
      new Thread(() =>
        try outcomes.add(Right(Catalog.appendBundle(
          Seq("index" -> (100L * w until 100L * w + 5).toDF("id")),
          root, "b", s"batch-$w", pinned = Some((1L, Seq("index"))))))
        catch { case e: RuntimeException => outcomes.add(Left(e.getMessage)) })
    }
    ws.foreach(_.start()); ws.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = outcomes.asScala.toSeq.partition(_.isLeft)
    assert(winners == Seq(Right(true)) && losers.size == 1,
      s"expected one winner + one loud loser, got ${outcomes.asScala.toSeq}")
    assert(losers.head.left.exists(_.contains("advanced since pinned")),
      s"wrong failure: ${losers.head}")
    // store state: exactly the winner's batch landed
    val m = Catalog.bundleManifest(spark, root, "b")
    assert(m.batches.size == 2 && m.batches.head == "b0")
    assert(Catalog.readBundleTable(spark, root, "b", "index").count() == 15L)
  }

  test("takedown durability: after retract + compact + prune no file under the store holds a removed id; pruned time-travel refuses") {
    import graft.operators.{AnnIndex, Embeddings, RelOps}
    val e = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .where(col("vec_id") < 150)
    val root = Files.createTempDirectory("graft-durable").toString
    val books = Embeddings.pqTrain(
      RelOps.hashSample(e, "vec_id", 0.5), m = 8, k = 16, iters = 2)
    AnnIndex.writeBundle(e, books, root, "ann", nCentroids = 4,
      trainIters = 2, spill = 2, seedBatchIds = Seq("b0"))
    val vPre = Catalog.latestBundleVersion(spark, root, "ann").get
    val removed = (0L until 150L by 10L).toSet
    AnnIndex.retractBundle(spark, root, "ann",
      removed.toSeq.toDF("vec_id"))
    // the takedown version references the removed rows' files until
    // retention — compact so ONLY post-takedown data is referenced,
    // then prune with zero grace: this is the documented "run after a
    // takedown that must be durable on storage" sequence
    Catalog.compactBundle(spark, root, "ann")
    Catalog.pruneBundleVersions(spark, root, "ann", keep = 1, minAgeMs = 0L)
    // FILESYSTEM-level proof, not a serve-level one: walk every parquet
    // file still under the store root and read it raw — no surviving
    // file set may contain a removed id
    val base = new java.io.File(Catalog.bundleDir(root, "ann"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    val codeFiles = walk(base).map(_.getPath)
      .filter(p => p.endsWith(".parquet") && p.contains("codes.parquet"))
    assert(codeFiles.nonEmpty, "expected surviving codes files")
    val survivors = spark.read.parquet(codeFiles: _*)
      .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(survivors.intersect(removed).isEmpty,
      s"removed ids still on disk: ${survivors.intersect(removed)}")
    assert(survivors == (0L until 150L).toSet -- removed,
      "prune lost surviving rows")
    // time-travel to the pre-takedown version now correctly REFUSES —
    // the deletion is durable, not just unreferenced
    intercept[Exception] {
      Catalog.readBundleTable(spark, root, "ann", "codes", Some(vPre))
        .count()
    }
    spark.catalog.clearCache()
  }

  test("committed-version memo: a flip shows on the next read, a pruned version refuses, a rebuilt bundle reads its new rows") {
    val root = Files.createTempDirectory("graft-memo").toString
    def rows(v: Long) = Catalog.readBundleTable(spark, root, "b", "m", Some(v))
      .as[Long].collect().sorted.toSeq
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b") // v1
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 1L))
    // read twice: the second read is answered from the memo
    assert(rows(1L) == (1L to 5L) && rows(1L) == (1L to 5L))
    assert(Catalog.readDeployment(spark, root, "serving") == Map("b" -> 1L))
    Catalog.commitBundle(Seq("m" -> (1L to 8L).toDF("id")), root, "b") // v2
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 2L))
    // the current deployment is re-resolved on every read: the memoized
    // pin set of the old deployment version is never served for it
    assert(Catalog.readDeployment(spark, root, "serving") == Map("b" -> 2L))
    assert(Catalog.readDeployment(spark, root, "serving", Some(1L)) ==
      Map("b" -> 1L))
    // v1 was read and memoized; once retention takes it, the read refuses
    // exactly as an uncached read of a pruned version does
    Catalog.pruneBundleVersionsDeployed(spark, root, "b", keep = 1)
    val ex = intercept[IllegalArgumentException](rows(1L))
    assert(ex.getMessage.contains("version 1") &&
      ex.getMessage.contains("is not committed"), ex.getMessage)
    intercept[IllegalArgumentException] {
      Catalog.bundleManifest(spark, root, "b", Some(1L))
    }
    // the store deleted and rebuilt at the same path: version 1 again,
    // with a new manifest, so the memo keys it apart from the old v1
    graft.tools.LocalFs.deleteRecursively(new java.io.File(root))
    Catalog.commitBundle(Seq("m" -> (100L to 102L).toDF("id")), root, "b")
    Catalog.commitBundle(Seq("m" -> (200L to 201L).toDF("id")), root, "b")
    assert(rows(1L) == (100L to 102L) && rows(2L) == (200L to 201L))
    // deployment version 1 again, now pinning b at 2: the old version 1's
    // memoized pins (b -> 1) must not answer it
    assert(Catalog.commitDeployment(spark, root, "serving", Map("b" -> 2L)) == 1L)
    assert(Catalog.readDeployment(spark, root, "serving") == Map("b" -> 2L))
  }

  test("first read of a fresh pin-set version: at most one SQL execution and no job outside one") {
    val root = Files.createTempDirectory("graft-pinread").toString
    Catalog.commitBundle(Seq("m" -> (1L to 5L).toDF("id")), root, "b")
    Catalog.commitBundle(Seq("m" -> (1L to 8L).toDF("id")), root, "b")
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 1L))
    assert(Catalog.readDeployment(spark, root, "serving") == Map("b" -> 1L))
    // the pin set is a one-member bundle read with its recorded schema:
    // the new version's first read opens no Parquet footer, so its only
    // work is the collect's own SQL execution
    Catalog.commitDeployment(spark, root, "serving", Map("b" -> 2L))
    var pins = Map.empty[String, Long]
    val c = SparkCounts.of(spark) { pins = Catalog.readDeployment(spark, root, "serving") }
    assert(pins == Map("b" -> 2L))
    assert(c.executions <= 1 && c.jobsOutside == 0, s"first pin-set read ran $c")
  }
}
