package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, SparkEntry}
import graft.operators.{AnnIndex, Embeddings, RelOps, Similarity, TextIndex}
import graft.sources.Catalog
import graft.tools.{LocalFs, Par}

/** The seeded request plan written by `datagen.py`. */
final case class Request(id: Long, terms: Seq[String], qvec: Long)
final case class Batch(id: String, ids: Seq[Long])

final class Plan(n: JsonNode) {
  private def longs(j: JsonNode): Seq[Long] = j.elements.asScala.map(_.asLong).toSeq
  private def strings(j: JsonNode): Seq[String] = j.elements.asScala.map(_.asText).toSeq
  private def req(j: JsonNode) = Request(j.get("id").asLong, strings(j.get("terms")),
    j.get("qvec").asLong)
  val baseIds: Seq[Long] = longs(n.get("base_ids"))
  val serves: Seq[Request] = n.get("serves").elements.asScala.map(req).toSeq
  val ingest: Batch = Batch(n.get("ingest_batch").get("id").asText,
    longs(n.get("ingest_batch").get("ids")))
  val passes: Seq[Seq[String]] = n.get("batch_passes").elements.asScala.map(strings).toSeq
  val allowedBelow: Int = n.get("allowed_labels_below").asInt
  val allowedIds: Seq[Long] = longs(n.get("allowed_ids"))
}

/** One benchmark run: set up the deployed serving stack, commit one ingest
  * batch and serve it, then run the workload's closed loop (one client) for
  * the given seconds. Every call into the engine goes through its public
  * API and is timed here.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1 --data DIR
  *   --plan FILE --work DIR --out FILE
  */
object Main {
  val SetupRepeats = 2
  val K = 10

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val rec = new Recorder(a("trace") == "1")
    val events = new SparkEvents
    val spark = rec.op("session")(rec.span("engine.session")(Engine.session("perfbench")))
    if (rec.traced) events.register(spark)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val plan = new Plan(json.readTree(new java.io.File(a("plan"))))
    val run = new Run(spark, rec, plan, a("data"), a("work"))
    try run.workload(a("workload"), a("seconds").toDouble)
    finally {
      // retained heap: what the process holds after the run, not garbage
      System.gc(); System.gc()
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
      if (rec.traced) events.drain()
      val env = Map("jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version, "xmx_bytes" -> Runtime.getRuntime.maxMemory,
        "cores" -> Engine.cpus, "master" -> spark.sparkContext.master)
      json.writeValue(new java.io.File(a("out")), Map("env" -> env,
        "retained_heap_bytes" -> heap, "ops" -> rec.ops, "spans" -> rec.spans,
        "counters" -> rec.counters, "spark" -> events.toMap, "run" -> run.summary))
    }
    spark.stop()
  }
}

final class Run(spark: SparkSession, rec: Recorder, plan: Plan, data: String,
    work: String) {
  import Main._
  import spark.implicits._

  private val vecs = Catalog.table(spark, data, "embeddings")
  private val docs = Catalog.table(spark, data, "documents")
  private val within = vecs.where(col("label") < plan.allowedBelow).select(col("vec_id"))
  private val allowed: Set[Long] = plan.allowedIds.toSet
  private val jobs = SparkEntry.queries
  private var root = ""
  // ids in the store per deployed pin set: the served corpus of that pin
  private val corpusAt = scala.collection.mutable.Map.empty[Map[String, Long], Set[Long]]
  private var corpus: Set[Long] = plan.baseIds.toSet
  private val reference = scala.collection.mutable.Map.empty[(Long, Map[String, Long]), Seq[Long]]
  // each batch job's rows from its checked pass; later passes must match them
  private val jobRows = scala.collection.mutable.Map.empty[String, Seq[Row]]
  var summary: Map[String, Any] = Map.empty

  private def idFrame(ids: Seq[Long], name: String) = broadcast(ids.toDF(name))
  private def vecsOf(ids: Seq[Long]) = vecs.join(idFrame(ids, "vec_id"), Seq("vec_id"), "left_semi")
  private def docsOf(ids: Seq[Long]) = docs.join(idFrame(ids, "doc_id"), Seq("doc_id"), "left_semi")

  def workload(name: String, seconds: Double): Unit = {
    // Two set-ups, so set-up time is a median (the mean of a cold and a
    // warm one). On the first store an untimed warm-up commits the ingest
    // batch and serves the first request, so the JIT has compiled both
    // paths. On the second, which the loop serves, the same commit and serve
    // are timed (commit and fresh-serve latency); the served answer must
    // equal the warm-up's for the same request and pin.
    val b = plan.ingest
    val q = plan.serves.head
    var committed: Option[Map[String, Long]] = None
    (0 until SetupRepeats).foreach { i =>
      val warmup = i < SetupRepeats - 1
      if (root.nonEmpty) LocalFs.deleteRecursively(new java.io.File(root))
      root = s"$work/store$i"
      corpus = plan.baseIds.toSet
      corpusAt(rec.op("setup")(bringUp(root))) = corpus
      committed = try Some(rec.op(if (warmup) "warmup" else "commit",
          Map("batch" -> b.id))(commit(b)))
        catch { case e: Exception => rec.failLast(e.toString); None }
      if (!warmup) guarded("prune")(prune())
      timedServe(if (warmup) "warmup" else "fresh_serve", q, committed)
    }
    name match {
      case "serve" =>
        serveLoop(seconds)
        if (rec.traced) {
          // the committed vectors must be servable (traced runs only: the
          // check costs about 2.5 s, which untraced runs cannot spare)
          check(selfCheck(b))
          // per-layer batch figures exist on every workload: one checked pass
          plan.passes.head.foreach(runJob(_, 0))
        }
      case "batch" => batchLoop(seconds)
      case other => sys.error(s"unknown workload '$other'")
    }
    summary = Map("store_bytes" -> treeBytes(new java.io.File(root))._1,
      "committed_batches" -> committed.map(_ => b.id).toSeq,
      "check_dir" -> s"$work/check",
      "oracle_sql" -> jobRows.keys.map(j => s"$j.parquet" -> SparkEntry.oracleSql(j)).toMap,
      "versions_live" -> Seq("tix", "ann").map(b => liveVersions(b)).sum)
  }

  /** The aligned deployed stack under `r`: text and ANN bundles over the
    * base vectors and their documents, built overlapped the way the x195
    * query builds them, then pinned by a deployment. Returns the pins.
    */
  private def bringUp(r: String): Map[String, Long] = {
    val base = vecsOf(plan.baseIds)
    rec.span("par.together")(Par.together(
      () => rec.span("textindex.build")(TextIndex.writeBundle(docsOf(plan.baseIds), r,
        "tix", seedBatchIds = Seq("b0"))),
      () => rec.span("annindex.build")(AnnIndex.writeBundle(base, Embeddings.pqTrain(
        RelOps.hashSample(base, "vec_id", 0.25), m = 8, k = 16, iters = 3),
        r, "ann", nCentroids = 16, trainIters = 4, spill = 2,
        seedBatchIds = Seq("b0")))))
    deploy(r)
  }

  private def deploy(r: String): Map[String, Long] = rec.span("catalog.commit_deployment") {
    val p = Map("tix" -> Catalog.latestBundleVersion(spark, r, "tix").get,
      "ann" -> Catalog.latestBundleVersion(spark, r, "ann").get)
    Catalog.commitDeployment(spark, r, "serving", p)
    p
  }

  /** One ingest commit: the batch into both indexes, then the pin flip. */
  private def commit(b: Batch): Map[String, Long] = {
    val before = if (rec.traced) treeBytes(new java.io.File(root)) else (0L, 0L)
    require(rec.span("annindex.append")(
      AnnIndex.appendBundle(spark, root, "ann", vecsOf(b.ids), b.id)),
      s"ANN append of ${b.id} was refused as a replay")
    require(rec.span("textindex.append")(
      TextIndex.appendBundle(spark, root, "tix", docsOf(b.ids), b.id)),
      s"text append of ${b.id} was refused as a replay")
    val pins = deploy(root)
    corpus ++= b.ids
    corpusAt(pins) = corpus
    if (rec.traced) {
      val after = treeBytes(new java.io.File(root))
      rec.counters += Map("name" -> "catalog.write",
        "bytes" -> (after._1 - before._1), "files" -> (after._2 - before._2))
    }
    pins
  }

  private def prune(): Unit = rec.span("catalog.prune") {
    Catalog.pruneBundleVersionsDeployed(spark, root, "tix", keep = 2)
    Catalog.pruneBundleVersionsDeployed(spark, root, "ann", keep = 2)
  }

  /** A deployed serve: resolve the pins, serve with them, collect. */
  private def serve(q: Request): (Map[String, Long], Seq[(Int, Long)]) = {
    val pins = rec.span("catalog.resolve")(Catalog.readDeployment(spark, root, "serving"))
    val df = rec.span("similarity.serve_call")(Similarity.threeStageServeBundle(
      spark, root, "tix", root, "ann", vecs, q.terms,
      vecs.where(col("vec_id") === q.qvec), k = K, fuseK = 30, poolK = 50,
      rerank = 150, nProbe = 6, within = Some(within),
      textVersion = Some(pins("tix")), annVersion = Some(pins("ann"))))
    val rows = rec.span("serve.materialize")(df.select(col("rank"), col("nid")).collect())
    (pins, rows.map(r => (r.getInt(0), r.getLong(1))).toSeq)
  }

  /** Output check of one served answer, outside the timer. */
  private def checkServe(q: Request, served: (Map[String, Long], Seq[(Int, Long)])
      ): Option[String] = {
    val (pins, rows) = served
    val ids = rows.sortBy(_._1).map(_._2)
    val pinned = corpusAt.getOrElse(pins, Set.empty[Long])
    if (rows.map(_._1).sorted != (1 to K)) Some(s"ranks ${rows.map(_._1)} are not 1..$K")
    else if (!ids.forall(pinned)) Some(s"ids outside the pinned corpus: ${ids.filterNot(pinned)}")
    else if (!ids.forall(allowed)) Some(s"ids failing the filter: ${ids.filterNot(allowed)}")
    else reference.get((q.id, pins)) match {
      case Some(ref) if ref != ids => Some(s"answer $ids differs from the first answer $ref")
      case Some(_) => None
      case None => reference((q.id, pins)) = ids; None
    }
  }

  /** A timed serve; outside the timer its answer is checked and, when a
    * commit preceded it, its pins must be the committed ones.
    */
  private def timedServe(kind: String, q: Request,
      expectPins: Option[Map[String, Long]] = None): Unit = {
    val res = try Right(rec.op(kind, Map("request" -> q.id))(serve(q)))
      catch { case e: Exception => Left(e) }
    res match {
      case Left(e) => rec.failLast(e.toString)
      case Right(served) =>
        val problem = expectPins.filter(_ != served._1)
          .map(p => s"served pins ${served._1}, committed $p")
          .orElse(checkServe(q, served))
        problem.foreach(rec.failLast)
    }
  }

  /** An untimed op of its own that fails the run when `body` finds a problem. */
  private def check(body: => Option[String]): Unit =
    (try rec.op("check")(body) catch { case e: Exception => Some(e.toString) })
      .foreach(rec.failLast)

  private def guarded(kind: String)(body: => Unit): Unit =
    try rec.op(kind)(body) catch { case e: Exception => rec.failLast(e.toString) }

  private def elapsed(t0: Double) = (rec.nowMs - t0) / 1000.0

  /** Read-only deployed serves, each request drawn fresh by the seed. */
  private def serveLoop(seconds: Double): Unit = {
    val t0 = rec.nowMs
    val it = plan.serves.iterator.drop(1)
    while (elapsed(t0) < seconds && it.hasNext) timedServe("serve", it.next())
  }

  /** Whole passes over the batch jobs in seeded orders, after one checked
    * pass that is not timed into the loop.
    */
  private def batchLoop(seconds: Double): Unit = {
    plan.passes.head.foreach(runJob(_, 0))
    val t0 = rec.nowMs
    val it = plan.passes.iterator.drop(1).zipWithIndex
    while (elapsed(t0) < seconds && it.hasNext) {
      val (order, i) = it.next()
      order.foreach(runJob(_, i + 1))
    }
  }

  /** One batch job, collected. Pass 0 writes its rows for the oracle check
    * (`run.py` compares them with `SparkEntry.oracleSql` in DuckDB); later
    * passes must return the same rows. Caches are cleared before each job.
    */
  private def runJob(job: String, pass: Int): Unit = {
    spark.catalog.clearCache()
    val res = try Right(rec.op("job", Map("job" -> job, "pass" -> pass)) {
        rec.span(s"batch.$job") {
          val df = jobs(job)(spark, data)
          (df.schema, df.collect().toSeq)
        }
      }) catch { case e: Exception => Left(e) }
    res match {
      case Left(e) => rec.failLast(e.toString)
      case Right((schema, rows)) if pass == 0 =>
        jobRows(job) = rows
        spark.createDataFrame(rows.asJava, schema).coalesce(1).write
          .parquet(s"$work/check/$job.parquet")
      case Right((_, rows)) if !jobRows.get(job).contains(rows) =>
        rec.failLast(s"rows differ from the checked pass (${rows.size} rows)")
      case Right(_) =>
    }
  }

  /** An appended vector, queried under another id, must find itself at
    * rank 1 in the deployed ANN version.
    */
  private def selfCheck(b: Batch): Option[String] = {
    val id = b.ids.head
    val q = vecsOf(Seq(id)).withColumn("vec_id", lit(-1L - id))
    val pins = Catalog.readDeployment(spark, root, "serving")
    val top = AnnIndex.knnBundle(spark, root, "ann", vecs, q, k = 1,
      version = Some(pins("ann")), materialize = false)
      .select(col("nid")).as[Long].collect().toSeq
    if (top == Seq(id)) None else Some(s"appended vector $id served $top at rank 1")
  }

  private def liveVersions(bundle: String): Int = {
    val d = new java.io.File(Catalog.bundleDir(root, bundle))
    Option(d.listFiles).map(_.count(f => f.isDirectory && f.getName.matches("\\d+")))
      .getOrElse(0)
  }

  /** (bytes, files) of every regular file under `f`. */
  private def treeBytes(f: java.io.File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.isFile) (f.length, 1L) else (0L, 0L)
}
