package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, date_trunc, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Catalog
import graft.streaming.EventsStream

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}
  import spark.implicits._

  test("streaming hourly counts equal the batch transform on the same data") {
    // file streaming sources list directories — stage the single-file table
    val dir = Files.createTempDirectory("graft_events_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), dir.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = EventsStream.hourlyCountsStream(spark, dir.toString)
      .writeStream.outputMode("complete").format("memory").queryName("hourly").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("hourly")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventsStream.hourlyCounts(Catalog.events(spark, sfDir))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("streaming rate anomalies equal the batch scorer under the frozen baseline") {
    val dir = Files.createTempDirectory("graft_rate_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), dir.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // frozen baseline from the batch history (here: the same data)
    val batchCounts = Catalog.events(spark, sfDir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("n"))
    val baseline = graft.operators.Behavior.rateBaseline(batchCounts)
    val src = spark.readStream.schema(EventsStream.schemaFor(spark, dir.toString))
      .parquet(dir.toString)
    val q = EventsStream.rateAnomalyStream(EventsStream.normalize(src), baseline)
      .writeStream.outputMode("complete").format("memory")
      .queryName("rate_anom").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("rate_anom")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toSet
    val batch = graft.operators.Behavior
      .scoreRates(batchCounts, baseline)
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("batch sessionize splits on inactivity gap") {
    val t0 = 1700000000000L
    val df = Seq(
      (7L, new Timestamp(t0), 1.0),
      (7L, new Timestamp(t0 + 30000), 2.0),
      (7L, new Timestamp(t0 + 200000), 4.0), // 170s > 60s gap → new session
      (8L, new Timestamp(t0 + 5000), 8.0))
      .toDF("user_id", "ts", "value")
    val out = EventsStream.sessionize(df, gapSec = 60)
      .select("user_id", "n_events", "total_value", "duration_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(out === Set((7L, 2L, 3.0, 30.0), (7L, 1L, 4.0, 0.0), (8L, 1L, 8.0, 0.0)))
  }

  test("streaming dedup drops redelivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val deduped = EventsStream.dedupStream(
      input.toDS().toDF("event_id", "ts", "value"), watermark = "10 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("deduped").start()
    try {
      val t0 = 1700000000000L
      input.addData((1L, new Timestamp(t0), 1.0), (2L, new Timestamp(t0 + 1000), 2.0))
      q.processAllAvailable()
      // redelivery of id 1 (same and different payload) + one new id
      input.addData((1L, new Timestamp(t0), 1.0), (1L, new Timestamp(t0 + 2000), 9.0),
        (3L, new Timestamp(t0 + 3000), 3.0))
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L)) // each id exactly once
    } finally q.stop()
  }

  test("stream-stream attribution join emits qualifying click-purchase pairs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val pairs = EventsStream.attributionPairs(
      input.toDS().toDF("event_id", "user_id", "ts", "event_type", "value"),
      windowSec = 3600, watermark = "10 minutes")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("attrib").start()
    try {
      val t0 = 1700000000000L
      input.addData(
        (1L, 7L, new Timestamp(t0), "click", 0.0),
        (2L, 7L, new Timestamp(t0 + 60000), "purchase", 9.99),      // 1 min after → match
        (3L, 8L, new Timestamp(t0 + 1000), "click", 0.0),
        (4L, 8L, new Timestamp(t0 + 2 * 3600 * 1000L), "purchase", 5.0), // 2h → no match
        (5L, 9L, new Timestamp(t0 + 5000), "purchase", 1.0))        // no prior click
      q.processAllAvailable()
      val got = spark.table("attrib").select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 2L)))
    } finally q.stop()
  }

  test("batch lastTouch credits the latest in-window click") {
    val t0 = 1700000000000L
    val df = Seq(
      (1L, 7L, new Timestamp(t0), "click", 0.0),
      (2L, 7L, new Timestamp(t0 + 10000), "click", 0.0),
      (3L, 7L, new Timestamp(t0 + 60000), "purchase", 9.99),
      (4L, 8L, new Timestamp(t0), "purchase", 5.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = EventsStream.lastTouch(df)
      .select("purchase_id", "click_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((3L, 2L, 9.99))) // latest click (id 2) wins; purchase 4 unattributed
  }

  test("stream-static enrichment joins each micro-batch against the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val q = EventsStream.enrichStream(
      input.toDS().toDF("event_id", "user_id"), dim, Seq("user_id"))
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      input.addData((1L, 7L), (2L, 9L))
      q.processAllAvailable()
      // USING-join output order: (user_id, event_id, tier)
      val got = spark.table("enriched").collect()
        .map(r => (r.getLong(1), Option(r.getString(2)).getOrElse("-"))).toSet
      assert(got === Set((1L, "gold"), (2L, "-"))) // miss keeps the row (left join)
    } finally q.stop()
  }

  test("anomalyStream scores micro-batches against the static baseline") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:15:00").getTime
    // history: 20 calm events in the (m, hour 10) bucket + an hour-11 row
    val history = ((0 until 20).map(i =>
      (i.toLong, new Timestamp(t0 + i), "m", 10.0 + (i % 2))) :+
      (50L, Timestamp.valueOf("2024-01-01 11:00:00"), "m", 10.0))
      .toDF("event_id", "ts", "event_type", "value")
    val baseline = graft.operators.Behavior.baselineStats(history)
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val q = EventsStream.anomalyStream(
      input.toDS().toDF("event_id", "ts", "event_type", "value"), baseline)
      .writeStream.outputMode("append").format("memory").queryName("anoms").start()
    try {
      input.addData(
        (100L, new Timestamp(t0 + 99), "m", 500.0), // wild outlier
        (101L, new Timestamp(t0 + 100), "m", 10.5)) // calm
      q.processAllAvailable()
      val got = spark.table("anoms")
        .select("event_id", "is_anomaly").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got === Map(100L -> true, 101L -> false))
    } finally q.stop()
  }

  test("streaming upsert materializes last-value-per-key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_upsert_stream").toString
    Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("k", "v", "ts")
      .write.parquet(s"$root/state.parquet")
    val input = MemoryStream[(Long, String, Long)]
    val q = EventsStream.upsertStream(
      input.toDS().toDF("k", "v", "ts"), root, "state", Seq("k"), "ts")
    try {
      // batch 1: update k=1 (two versions in one batch — later ts wins), insert k=3
      input.addData((1L, "a2", 200L), (1L, "a3", 300L), (3L, "c", 150L))
      q.processAllAvailable()
      // batch 2: redelivery of (1,a3) is idempotent; k=2 updated
      input.addData((1L, "a3", 300L), (2L, "b2", 400L))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$root/state.parquet")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set((1L, "a3", 300L), (2L, "b2", 400L), (3L, "c", 150L)))
    } finally q.stop()
  }

  test("streaming partitioned append lands micro-batches in the pruned layout") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_part_stream").toString
    val input = MemoryStream[(Long, String, Double)]
    val q = EventsStream.partitionedAppendStream(
      input.toDS().toDF("id", "day", "v"), root, "pt", Seq("day"))
    try {
      input.addData((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0))
      q.processAllAvailable()
      input.addData((3L, "2024-01-01", 3.0)) // appends into an existing partition
      q.processAllAvailable()
      // Hive layout on disk: one day=... directory per distinct key (the
      // underscore-prefixed commit ledger is invisible to Spark's listing)
      val dirs = new java.io.File(s"$root/pt.parquet").listFiles
        .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_")).toSet
      assert(dirs === Set("day=2024-01-01", "day=2024-01-02"))
      // data intact across both batches; the partition filter prunes to one dir
      val back = spark.read.parquet(s"$root/pt.parquet")
      assert(back.count() === 3)
      assert(back.where($"day" === "2024-01-01")
        .select(org.apache.spark.sql.functions.sum($"v")).as[Double].head() === 4.0)
      // batch-id ledger: one marker per committed batch...
      val commits = new java.io.File(s"$root/pt.parquet/_graft_commits")
      assert(commits.listFiles.map(_.getName).filterNot(_.startsWith("."))
        .toSet === Set("0", "1")) // ignore local-FS .crc sidecars
      // ...and a replay of an already-committed batch id is skipped: plant
      // the marker the NEXT batch will get, then feed it — no rows land
      new java.io.File(commits, "2").createNewFile()
      input.addData((4L, "2024-01-01", 9.0))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$root/pt.parquet").count() === 3,
        "pre-committed batch id must not append again")
    } finally q.stop()
  }

  test("streaming sessionize emits closed sessions once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sessions = EventsStream.sessionize(
      input.toDS().toDF("user_id", "ts", "value").withWatermark("ts", "0 seconds"),
      gapSec = 60)
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sessions").start()
    try {
      val t0 = 1700000000000L
      input.addData((7L, new Timestamp(t0), 1.0), (7L, new Timestamp(t0 + 30000), 2.0))
      q.processAllAvailable()
      // watermark advances past t0+30s+gap → first session closes and emits
      input.addData((7L, new Timestamp(t0 + 300000), 4.0))
      q.processAllAvailable()
      val out = spark.table("sessions")
        .select("user_id", "n_events", "duration_sec")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(out.toSet === Set((7L, 2L, 30.0)))
    } finally q.stop()
  }

  test("streaming vector ingest maintains the IVF index with frozen centroids") {
    import graft.streaming.VectorIngest
    val src = Files.createTempDirectory("graft_vec_src")
    val root = Files.createTempDirectory("graft_vec_root").toString
    val rnd = new scala.util.Random(7L)
    def vec(id: Long) = (id, Seq.fill(8)(rnd.nextFloat()))
    def stage(name: String, ids: Seq[Long]): Unit = {
      val tmp = Files.createTempDirectory("graft_vec_stage")
      ids.map(vec).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    stage("b0.parquet", 0L until 20L)
    val q = VectorIngest.ingestStream(spark, src.toString, root, "vectors",
      nCentroids = 4)
    try {
      q.processAllAvailable()
      val cents1 = VectorIngest.loadCentroids(spark, root, "vectors")
      assert(cents1.size === 4)
      stage("b1.parquet", 20L until 35L)
      q.processAllAvailable()
      // centroids frozen across batches
      assert(VectorIngest.loadCentroids(spark, root, "vectors") === cents1)
      // index covers exactly the table, with valid cells
      val tableIds = Catalog.table(spark, root, "vectors")
        .select("vec_id").as[Long].collect().toSet
      val idx = Catalog.table(spark, root, "vectors_ivf")
        .as[(Long, Int)].collect()
      assert(tableIds === (0L until 35L).toSet)
      assert(idx.map(_._1).toSet === tableIds)
      assert(idx.forall(r => r._2 >= 0 && r._2 < 4))
      // online cells match what the batch assignment computes on the table
      import org.apache.spark.sql.functions.{col, element_at, transform}
      val batchCells = Catalog.table(spark, root, "vectors")
        .select(col("vec_id"),
          element_at(KernelOracles.centroidRanks(
            transform(col("embedding"), x => x.cast("double")), cents1), 1)
            .as("cell"))
        .as[(Long, Int)].collect().toMap
      assert(idx.toMap === batchCells)
    } finally q.stop()
    // crash-orphan heal: vectors appended to the table but never indexed
    // get cells on the next stream start, with the SAME frozen centroids
    Catalog.writeAppend(Seq(vec(100L), vec(101L)).toDF("vec_id", "embedding"),
      root, "vectors")
    stage("b2.parquet", Seq(102L))
    val q2 = VectorIngest.ingestStream(spark, src.toString, root, "vectors",
      nCentroids = 4)
    try {
      q2.processAllAvailable()
      val idx2 = Catalog.table(spark, root, "vectors_ivf")
        .select("vec_id").distinct().as[Long].collect().toSet
      val ids2 = Catalog.table(spark, root, "vectors")
        .select("vec_id").distinct().as[Long].collect().toSet
      assert(idx2 === ids2, "restart reconcile must index the orphans")
      assert(Set(100L, 101L, 102L).subsetOf(idx2))
      // the restart re-read b0/b1 (no durable checkpoint here): the id
      // anti-join must have kept ingestion exactly-once per vector
      assert(Catalog.table(spark, root, "vectors").count() === ids2.size)
    } finally q2.stop()
  }

  test("vector ingest over a pre-existing corpus bootstraps the index; restart loads, not retrains") {
    import graft.streaming.VectorIngest
    val src = Files.createTempDirectory("graft_vec2_src")
    val root = Files.createTempDirectory("graft_vec2_root").toString
    val rnd = new scala.util.Random(11L)
    def vec(id: Long) = (id, Seq.fill(8)(rnd.nextFloat()))
    def stage(name: String, ids: Seq[Long]): Unit = {
      val tmp = Files.createTempDirectory("graft_vec2_stage")
      ids.map(vec).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    // a corpus that predates the stream: vectors only — no index, no
    // frozen centroids (the batch-loaded-then-streamed deployment shape)
    Catalog.writeAppend((0L until 30L).map(vec).toDF("vec_id", "embedding"),
      root, "vectors")
    stage("b0.parquet", Seq(30L))
    val q = VectorIngest.ingestStream(spark, src.toString, root, "vectors",
      nCentroids = 4)
    val cents1 =
      try {
        q.processAllAvailable()
        // the WHOLE pre-existing corpus must be indexed (bootstrap branch),
        // not just the streamed batch — without it, ANN probes silently
        // miss every pre-existing vector for the life of the stream
        val idx = Catalog.table(spark, root, "vectors_ivf")
          .as[(Long, Int)].collect().toMap
        assert(idx.keySet === (0L to 30L).toSet,
          "bootstrap must index the pre-existing corpus, not only the batch")
        VectorIngest.loadCentroids(spark, root, "vectors")
      } finally q.stop()
    // restart: the quantizer must be LOADED from its side table, never
    // retrained (retraining would re-cell the whole index), and cells
    // assigned before the restart must be byte-identical after it
    val idxBefore = Catalog.table(spark, root, "vectors_ivf")
      .as[(Long, Int)].collect().toMap
    stage("b1.parquet", Seq(31L))
    val q2 = VectorIngest.ingestStream(spark, src.toString, root, "vectors",
      nCentroids = 4)
    try {
      q2.processAllAvailable()
      assert(VectorIngest.loadCentroids(spark, root, "vectors") === cents1,
        "restart must load the frozen quantizer, not retrain it")
      val idxAfter = Catalog.table(spark, root, "vectors_ivf")
        .as[(Long, Int)].collect().toMap
      assert(idxAfter.keySet === (0L to 31L).toSet)
      assert(idxBefore.forall { case (id, cell) => idxAfter(id) === cell },
        "cell assignments must be unchanged across restart")
    } finally q2.stop()
  }

  test("DSIR score stream: frozen LMs, scores match the batch scorer, once per doc") {
    import graft.streaming.DsirStream
    import graft.functions.TextStats
    val src = Files.createTempDirectory("graft_dsir_src")
    val root = Files.createTempDirectory("graft_dsir_root").toString
    def doc(id: Long, text: String) = (id, text, "en", "s0", text.length.toLong)
    def stage(name: String, docs: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_dsir_stage")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    // LMs fitted offline from a static corpus + in-domain target, frozen
    val corpus = Seq(
      (1L, "spark plans shuffle exchange broadcast"),
      (2L, "cooking pasta with tomato and basil"),
      (3L, "gardens need water and sunlight daily")).toDF("doc_id", "text")
    val target = Seq((9L, "spark shuffle broadcast partitions")).toDF("doc_id", "text")
    DsirStream.freezeLms(corpus, target, "text", vocabSize = 10, root, "corpus")
    val svoc1 = Catalog.table(spark, root, "corpus_dsir_svoc")
      .as[(String, Long)].collect().toSet

    stage("b0.parquet", Seq(
      doc(10L, "spark shuffle exchange all day"),
      doc(11L, "tomato basil pasta recipe")))
    val q = DsirStream.scoreStream(spark, src.toString, root, "corpus", "scored")
    try {
      q.processAllAvailable()
      // replayed/duplicate doc 10 must not be re-scored
      stage("b1.parquet", Seq(
        doc(10L, "spark shuffle exchange all day"),
        doc(12L, "sunlight gardens water")))
      q.processAllAvailable()
      val scored = Catalog.table(spark, root, "scored")
        .as[(Long, Double)].collect().toMap
      assert(scored.keySet === Set(10L, 11L, 12L))
      // scores equal the shared batch scorer run against the SAME frozen LMs
      val (sv, sd, tv, td) = DsirStream.loadLms(spark, root, "corpus")
      val expect = TextStats.scoreImportance(
          Seq((10L, "spark shuffle exchange all day"),
            (11L, "tomato basil pasta recipe"),
            (12L, "sunlight gardens water")).toDF("doc_id", "text"),
          "doc_id", "text", tv, td, sv, sd)
        .as[(Long, Double)].collect().toMap
      scored.foreach { case (id, w) =>
        assert(math.abs(w - expect(id)) < 1e-12, s"doc $id") }
      // in-domain stream doc outranks the off-domain one
      assert(scored(10L) > scored(11L))
      // LMs stayed frozen across batches
      assert(Catalog.table(spark, root, "corpus_dsir_svoc")
        .as[(String, Long)].collect().toSet === svoc1)
    } finally q.stop()
  }

  test("streaming pair-bundle ingest equals a one-shot bundle build, all members atomic") {
    import graft.streaming.PairBundleStream
    import graft.operators.Dedup
    import graft.sources.Catalog
    val src = Files.createTempDirectory("graft_pb_src")
    val root = Files.createTempDirectory("graft_pb_store").toString
    def doc(id: Long, text: String) = (id, text, "en", "s0", text.length.toLong)
    def stage(name: String, docs: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_pb_stage")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten eleven"
    stage("b0.parquet", Seq(doc(1, base), doc(2, other)))
    stage("b1.parquet", Seq(
      doc(10, base), // cross-batch near-dup of 1
      doc(12, "fresh unrelated content that matches nothing else at all")))
    stage("b2.parquet", Seq(doc(20, other.replace("eleven", "ELEVEN"))))
    val q = PairBundleStream.pairBundleStream(spark, src.toString, root,
      threshold = 0.5)
    try q.processAllAvailable() finally q.stop()
    // stream-built bundle ≡ one-shot build over the same corpus
    val all = Seq(doc(1, base), doc(2, other), doc(10, base),
      doc(12, "fresh unrelated content that matches nothing else at all"),
      doc(20, other.replace("eleven", "ELEVEN")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val oneShot = Files.createTempDirectory("graft_pb_oneshot").toString
    Dedup.writePairBundle(all, oneShot, "neardup", "doc_id", "text",
      threshold = 0.5)
    def pairs(r: String) = Catalog.readBundleTable(spark, r, "neardup", "pairs")
      .orderBy($"a", $"b").collect().map(_.toSeq).toSeq
    val streamed = pairs(root)
    assert(streamed == pairs(oneShot) && streamed.nonEmpty)
    // cross-batch pair (1,10) came off the STORED buckets of batch 0
    assert(streamed.exists(r => r.head == 1L && r(1) == 10L))
    // the corpus member holds every streamed doc; every version commits
    // all three members + its batch id — the whole state is atomic
    assert(Catalog.readBundleTable(spark, root, "neardup", "corpus")
      .count() == 5L)
    val latest = Catalog.latestBundleVersion(spark, root, "neardup").get
    (1L to latest).foreach { v =>
      val m = Catalog.bundleManifest(spark, root, "neardup", Some(v))
      assert(m.dirs.keySet == Set("pairs", "buckets", "corpus"), s"v$v: $m")
      assert(m.batches.size == v, s"v$v ledger: ${m.batches}")
    }
    // a replayed micro-batch id (including the CREATING batch's) is
    // rejected by the manifest ledger — the exactly-once guarantee
    val m = Catalog.bundleManifest(spark, root, "neardup")
    assert(!Dedup.ingestPairBundle(all.limit(1),
      Catalog.readBundleTable(spark, root, "neardup", "corpus"),
      root, "neardup", m.batches.head, "doc_id", "text", threshold = 0.5))
    assert(Catalog.bundleManifest(spark, root, "neardup") == m)
  }

  test("streaming LM bundle store: manifest-ledgered, exactly-once, no re-mark step") {
    import graft.streaming.LmStream
    import graft.operators.LmStore
    val src = Files.createTempDirectory("graft_lmb_src")
    val root = Files.createTempDirectory("graft_lmb_store").toString
    def doc(id: Long, text: String) = (id, text, "en", "s0", text.length.toLong)
    def stage(name: String, docs: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_lmb_stage")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    stage("b0.parquet", Seq(doc(1, "alpha beta beta gamma")))
    stage("b1.parquet", Seq(doc(2, "beta gamma delta"), doc(3, "alpha alpha")))
    stage("b2.parquet", Seq(doc(4, "epsilon")))
    val q = LmStream.lmBundleStream(spark, src.toString, root, "lm")
    try q.processAllAvailable() finally q.stop()
    val all = Seq(doc(1, "alpha beta beta gamma"),
      doc(2, "beta gamma delta"), doc(3, "alpha alpha"), doc(4, "epsilon"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def merged() = Catalog.readBundleTable(spark, root, "lm", "counts")
      .groupBy($"tok").agg(sum($"c").as("c"))
      .orderBy($"tok").collect().map(_.toSeq).toSeq
    val oneShot = LmStore.counts(all, "text")
      .orderBy($"tok").collect().map(_.toSeq).toSeq
    assert(merged() == oneShot && oneShot.nonEmpty)
    // every micro-batch id is in the manifest — INCLUDING the creating
    // batch (seeded into its own commit; the flat twin needed a
    // separate re-mark with a documented crash window)
    val m = Catalog.bundleManifest(spark, root, "lm")
    assert(m.batches.toSet == Set("0", "1", "2"), s"ledger: ${m.batches}")
    // a replayed micro-batch (crash-recovery path) is rejected by the
    // manifest atomically, store untouched
    assert(!LmStore.ingestBundle(all.where($"doc_id" === 2 || $"doc_id" === 3),
      "text", root, "lm", "1"))
    assert(merged() == oneShot)
    assert(Catalog.bundleManifest(spark, root, "lm") == m)
  }

  test("streaming corpus ingest decontaminates each micro-batch against the table") {
    import graft.streaming.CorpusIngest
    val src = Files.createTempDirectory("graft_docs_src")
    val root = Files.createTempDirectory("graft_corpus").toString
    def doc(id: Long, text: String) = (id, text, "en", "s0", text.length.toLong)
    def stage(name: String, docs: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_docs_stage")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different corpus content all about spark physical plans"
    stage("b0.parquet", Seq(
      doc(1, base), doc(2, other),
      doc(3, base))) // within-batch exact dup of 1 → dropped, min id kept
    val q = CorpusIngest.ingestStream(spark, src.toString, root, "corpus",
      threshold = 0.5)
    try {
      q.processAllAvailable()
      assert(Catalog.table(spark, root, "corpus").select("doc_id")
        .as[Long].collect().toSet === Set(1L, 2L))
      // second batch arrives only after the first is in the table
      stage("b1.parquet", Seq(
        doc(10, base),                                // exact dup of corpus 1
        doc(11, other.replace("plans", "PLANS")),     // near dup of corpus 2
        doc(12, "entirely fresh novel text that matches nothing seen before")))
      q.processAllAvailable()
      assert(Catalog.table(spark, root, "corpus").select("doc_id")
        .as[Long].collect().toSet === Set(1L, 2L, 12L))
      // the LSH index must cover batch-1's admitted doc NOW, mid-run: the
      // first append's refreshByPath once invalidated the kept-rows cache
      // and the index append silently recomputed an empty anti-join — the
      // start-time reconcile would mask that hole, so pin it here
      assert(Catalog.table(spark, root, "corpus_lsh").select("doc_id")
        .distinct().as[Long].collect().toSet === Set(1L, 2L, 12L))
      // simulate a crash between the corpus append and the index append:
      // doc 20 lands in the corpus but never in the LSH index. A crash
      // implies a restart, and the self-heal reconcile runs once per
      // stream START (not per batch — that would make every batch's work
      // corpus-sized), so stop this run and start a fresh one.
      q.stop()
      val orphan = "an orphaned document that reached the corpus unindexed somehow"
      Catalog.writeAppend(Seq(doc(20, orphan))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), root, "corpus")
      stage("b2.parquet", Seq(
        doc(21, orphan.replace("somehow", "SOMEHOW"))))
      // restart: the reconcile must index doc 20 BEFORE matching, so its
      // near-duplicate is rejected instead of admitted. The restarted
      // source re-reads b0/b1 too (no durable checkpoint here) — the
      // dedup itself makes that reprocessing idempotent.
      val q2 = CorpusIngest.ingestStream(spark, src.toString, root, "corpus",
        threshold = 0.5)
      try {
        q2.processAllAvailable()
        assert(Catalog.table(spark, root, "corpus").select("doc_id")
          .as[Long].collect().toSet === Set(1L, 2L, 12L, 20L))
        // and the healed index now covers every corpus doc
        val indexed = Catalog.table(spark, root, "corpus_lsh")
          .select("doc_id").distinct().as[Long].collect().toSet
        assert(indexed === Set(1L, 2L, 12L, 20L))
      } finally q2.stop()
    } finally q.stop()
  }

  test("hist stream maintains the durable quantile state; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_hist_stream").toString
    val input = MemoryStream[(String, Double)]
    val q = graft.streaming.HistStream.histStream(
      input.toDS().toDF("k", "v"), root, "hist",
      Seq("k"), "v", lo = 0.0, hi = 10.0, bins = 5)
    try {
      input.addData(("a", 1.0), ("a", 3.0), ("b", 9.0))
      q.processAllAvailable()
      input.addData(("a", 5.0), ("c", 2.0)) // existing + brand-new group
      q.processAllAvailable()
      val stored = Catalog.table(spark, root, "hist")
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      // equals one batch pass over the union
      val onePass = graft.operators.Stats.partialHist(
          Seq(("a", 1.0), ("a", 3.0), ("b", 9.0), ("a", 5.0), ("c", 2.0))
            .toDF("k", "v"), Seq("k"), "v", lo = 0.0, hi = 10.0, bins = 5)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(stored == onePass && stored.keySet == Set("a", "b", "c"))
      // planting the next batch id makes its merge a no-op
      val ledger = new java.io.File(
        graft.streaming.HistStream.ledgerDir(root, "hist"))
      assert(ledger.listFiles.map(_.getName).filterNot(_.startsWith("."))
        .toSet === Set("0", "1"))
      new java.io.File(ledger, "2").createNewFile()
      input.addData(("a", 1.0))
      q.processAllAvailable()
      val after = Catalog.table(spark, root, "hist")
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(after == onePass, "pre-committed batch id must not merge again")
    } finally q.stop()
  }

  test("stats stream maintains the durable state; replayed batch ids are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_stats_stream").toString
    val input = MemoryStream[(String, Long)]
    val q = graft.streaming.StatsStream.statsStream(
      input.toDS().toDF("source", "n_chars"), root, "doc_stats",
      Seq("source"), "n_chars")
    try {
      input.addData(("a", 10L), ("a", 30L), ("b", 5L))
      q.processAllAvailable()
      input.addData(("a", 20L), ("c", 7L)) // touches an existing and a new group
      q.processAllAvailable()
      val got = graft.operators.Stats.finalizeStats(
          Catalog.table(spark, root, "doc_stats"), Seq("source"))
        .orderBy("source")
        .select("source", "n", "sum", "mean")
        .as[(String, Long, Double, Double)].collect().toSeq
      assert(got === Seq(("a", 3L, 60.0, 20.0), ("b", 1L, 5.0, 5.0),
        ("c", 1L, 7.0, 7.0)))
      // the ledger marks both committed batches; planting the NEXT id
      // makes its batch a no-op — the monoid never double-counts a replay
      val ledger = new java.io.File(
        graft.streaming.StatsStream.ledgerDir(root, "doc_stats"))
      assert(ledger.listFiles.map(_.getName).filterNot(_.startsWith("."))
        .toSet === Set("0", "1"))
      new java.io.File(ledger, "2").createNewFile()
      input.addData(("a", 999L))
      q.processAllAvailable()
      val n = Catalog.table(spark, root, "doc_stats")
        .where($"source" === "a").select("__n").as[Long].head()
      assert(n === 3L, "pre-committed batch id must not merge again")
    } finally q.stop()
  }

  test("drift stream scores micro-batches against the frozen baseline; twin equals batch PSI") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_drift_stream").toString
    // baseline: uniform-ish values per group
    val rnd = new scala.util.Random(11L)
    val baseline = Seq.tabulate(2000)(_ => ("g" + rnd.nextInt(2), rnd.nextInt(50)))
      .toDF("g", "v")
    graft.streaming.DriftStream.freezeBaseline(baseline, root, "base_hist",
      Seq("g"), "v", lo = 0.0, hi = 100.0, nBins = 10)
    val input = MemoryStream[(String, Int)]
    val q = graft.streaming.DriftStream.driftStream(
      input.toDS().toDF("g", "v"), root, "base_hist", "drift_log",
      Seq("g"), "v", lo = 0.0, hi = 100.0, nBins = 10)
    try {
      // batch 0: same distribution → low psi; batch 1: shifted → high psi
      val calm = Seq.tabulate(1000)(_ => ("g0", rnd.nextInt(50)))
      input.addData(calm: _*)
      q.processAllAvailable()
      val shifted = Seq.tabulate(1000)(_ => ("g0", 60 + rnd.nextInt(30)))
      input.addData(shifted: _*)
      q.processAllAvailable()
      val log = Catalog.table(spark, root, "drift_log")
        .select($"batch_id", $"g", $"psi").as[(Long, String, Double)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(log((0L, "g0")) < 0.1, s"calm batch drifted: ${log((0L, "g0"))}")
      assert(log((1L, "g0")) > 1.0, s"shift not detected: ${log((1L, "g0"))}")
      // baseline groups absent from a batch still get a (finite) row
      assert(log.contains((0L, "g1")) && !log((0L, "g1")).isNaN)
      // the streaming score IS the batch estimator: recomputing the
      // shifted batch against the baseline with batch psiDrift matches
      val want = graft.operators.Checks.psiDrift(baseline,
          shifted.toDF("g", "v"), Seq("g"), "v", 0.0, 100.0, 10)
        .where($"g" === "g0").select($"psi").as[Double].head()
      assert(math.abs(log((1L, "g0")) - want) < 1e-9,
        s"stream ${log((1L, "g0"))} vs batch $want")
    } finally q.stop()
  }

  test("streaming text-bundle index: stream-built store serves equal to a one-shot build") {
    import graft.streaming.IndexStream
    import graft.operators.TextIndex
    val src = Files.createTempDirectory("graft_tixs_src")
    val root = Files.createTempDirectory("graft_tixs_store").toString
    def doc(id: Long, text: String) = (id, text, "en", "s0", text.length.toLong)
    def stage(name: String, docs: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_tixs_stage")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    stage("b0.parquet", Seq(doc(1, "alpha beta gamma hash join"),
      doc(2, "join table scan vector")))
    stage("b1.parquet", Seq(doc(3, "hash join vector merge"),
      doc(4, "unrelated words entirely different")))
    stage("b2.parquet", Seq(doc(5, "vector vector vector join")))
    val q = IndexStream.textBundleStream(spark, src.toString, root, "tix")
    try q.processAllAvailable() finally q.stop()
    val all = Seq(doc(1, "alpha beta gamma hash join"),
      doc(2, "join table scan vector"), doc(3, "hash join vector merge"),
      doc(4, "unrelated words entirely different"),
      doc(5, "vector vector vector join"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val oneShot = Files.createTempDirectory("graft_tixs_oneshot").toString
    TextIndex.writeBundle(all, oneShot, "tix")
    def bm25(r: String) = TextIndex.bm25SearchBundle(spark, r, "tix",
        Seq("join", "vector"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val got = bm25(root)
    val want = bm25(oneShot)
    assert(got == want && got.nonEmpty)
    // every micro-batch id is in the manifest, including the creating
    // one; a crash-replayed micro-batch is rejected atomically
    val m = Catalog.bundleManifest(spark, root, "tix")
    assert(m.batches.toSet == Set("0", "1", "2"), s"ledger: ${m.batches}")
    assert(!TextIndex.appendBundle(spark, root, "tix",
      all.where($"doc_id" === 3 || $"doc_id" === 4), "1"))
    assert(Catalog.bundleManifest(spark, root, "tix") == m)
  }

  test("streaming ANN-bundle appends: frozen quantizer, stream equals batch appends") {
    import graft.streaming.IndexStream
    import graft.operators.{AnnIndex, Embeddings, RelOps, Similarity}
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 120)
    val base = e.where(col("vec_id") % 4 === 0)
    val books = Embeddings.pqTrain(
      RelOps.hashSample(base, "vec_id", 0.5), m = 8, k = 16, iters = 2)
    val root = Files.createTempDirectory("graft_anns_store").toString
    // a stream against a missing index refuses loudly (the quantizer is
    // a deployment-time modeling decision)
    val srcDir = Files.createTempDirectory("graft_anns_src")
    val ex = intercept[IllegalArgumentException] {
      IndexStream.annBundleStream(spark, srcDir.toString, root, "ann")
    }
    assert(ex.getMessage.contains("writeBundle"))
    AnnIndex.writeBundle(base, books, root, "ann", nCentroids = 4,
      trainIters = 2, spill = 2, seedBatchIds = Seq("seed"))
    def stage(name: String, part: Int): Unit = {
      val tmp = Files.createTempDirectory("graft_anns_stage")
      e.where(col("vec_id") % 4 === part).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val f = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, srcDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    stage("b0.parquet", 1)
    stage("b1.parquet", 2)
    stage("b2.parquet", 3)
    val q = IndexStream.annBundleStream(spark, srcDir.toString, root, "ann")
    try q.processAllAvailable() finally q.stop()
    // ledger: seed + three micro-batches
    val m = Catalog.bundleManifest(spark, root, "ann")
    assert(m.batches.toSet == Set("seed", "0", "1", "2"), s"ledger: ${m.batches}")
    // the stream-grown index covers the corpus and serves exactly brute
    // force under an exhaustive probe — appended vectors are first-class
    val ids = Catalog.readBundleTable(spark, root, "ann", "codes")
      .select(col("vec_id")).distinct().count()
    assert(ids == e.count(), "stream-grown index must cover the corpus")
    val qv = e.where(col("vec_id") < 3)
    val got = AnnIndex.knnBundle(spark, root, "ann", e, qv, k = 5,
      rerank = 500, nProbe = 4).orderBy(col("qid"), col("rank")).collect()
    val want = Similarity.bruteForceKnn(e, qv, k = 5)
      .orderBy(col("qid"), col("rank")).collect()
    assert(got.length == want.length && got.length == 15)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1),
        s"got $g want $w")
    }
    spark.catalog.clearCache()
  }

  test("deployment-follow serve: batch N wholly pre-flip, batch N+1 wholly post-flip, takedown landing between") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{AnnIndex, Embeddings, RelOps, Similarity, TextIndex}
    import graft.streaming.ServeStream
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val root = Files.createTempDirectory("graft_follow_store").toString
    val alignedDocs = docs.join(e.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    TextIndex.writeBundle(alignedDocs, root, "tix", seedBatchIds = Seq("b0"))
    AnnIndex.writeBundle(e, Embeddings.pqTrain(
        RelOps.hashSample(e, "vec_id", 0.25), m = 8, k = 16, iters = 2),
      root, "ann", nCentroids = 4, trainIters = 2, spill = 2,
      seedBatchIds = Seq("b0"))
    val d1 = Catalog.commitDeployment(spark, root, "serving", Map(
      "tix" -> Catalog.latestBundleVersion(spark, root, "tix").get,
      "ann" -> Catalog.latestBundleVersion(spark, root, "ann").get))
    val srcDir = Files.createTempDirectory("graft_follow_src")
    val outDir = Files.createTempDirectory("graft_follow_out").toString
    val reqTerms = Seq(0L -> Seq("join", "vector"), 1L -> Seq("hash", "scan"))
    val requests = reqTerms.toDF("qid", "terms")
    def stage(name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_follow_stage")
      requests.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = tmp.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, srcDir.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    stage("r0.parquet")
    val q = ServeStream.deploymentFollowServe(spark, srcDir.toString,
      outDir, root, "serving", root, "tix", root, "ann", e, k = 5,
      fuseK = 15, poolK = 20, rerank = 60, nProbe = 3)
    val rmIds: Seq[Long] =
      try {
        q.processAllAvailable()
        // the flip lands BETWEEN micro-batches: take down batch 0's
        // top-ranked answers, then feed the same requests again
        val ids = spark.read.parquet(outDir).where(col("rank") === 1)
          .select(col("nid")).distinct().collect().map(_.getLong(0)).toSeq
        Similarity.takedownServingStack(spark, root, "serving", "tix",
          "ann", ids.toDF("doc_id"))
        stage("r1.parquet")
        q.processAllAvailable()
        ids
      } finally q.stop()
    val out = spark.read.parquet(outDir)
    def answers(batch: Long): Set[(Long, Int, Long)] =
      out.where(col("batch_id") === batch)
        .select(col("qid"), col("rank"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getLong(2)))
        .toSet
    // each batch answered by exactly ONE deployment version — the flip
    // is visible only at the batch boundary, never torn mid-batch
    val vers = out.groupBy(col("batch_id"))
      .agg(org.apache.spark.sql.functions.collect_set(col("dep_version"))
        .as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(vers.keySet == Set(0L, 1L), s"batches: ${vers.keySet}")
    assert(vers(0L) == Set(d1) && vers(1L) == Set(d1 + 1),
      s"batch 0 must answer wholly pre-flip, batch 1 wholly post-flip: $vers")
    // the streamed answers ARE the deployed batch serve at the pinned
    // deployment versions (shared per-batch core)
    def direct(depV: Long): Set[(Long, Int, Long)] =
      Similarity.threeStageServeBatchDeployed(spark, root, "serving",
        root, "tix", root, "ann", e, reqTerms,
        e.where(col("vec_id") < 2), k = 5, fuseK = 15, poolK = 20,
        rerank = 60, nProbe = 3, deploymentVersion = Some(depV))
        .select(col("qid"), col("rank"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getLong(2)))
        .toSet
    assert(answers(0L) == direct(d1) && answers(0L).size == 10)
    spark.catalog.clearCache()
    assert(answers(1L) == direct(d1 + 1) && answers(1L).size == 10)
    // post-flip answers contain none of the removed ids; pre-flip did
    assert(rmIds.nonEmpty && answers(0L).exists(a => rmIds.contains(a._3)))
    assert(!answers(1L).exists(a => rmIds.contains(a._3)))
    spark.catalog.clearCache()
  }
}
