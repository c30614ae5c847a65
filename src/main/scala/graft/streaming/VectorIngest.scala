package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Similarity
import graft.sources.Catalog

/** Streaming vector ingestion with online IVF index maintenance: each
  * arriving batch of embeddings is appended to the vector table AND to its
  * IVF cell index (`<ref>_ivf`: vec_id → cell), so ANN queries can probe
  * cells over the up-to-date corpus at any time — the streaming complement
  * of the batch `ivfKnn`/`ivfPqKnn` path.
  *
  * The coarse quantizer is FROZEN at first sight and persisted as a side
  * table (`<ref>_centroids`): centroids retrained per batch would re-cell
  * the whole existing index (cells are only meaningful against one fixed
  * quantizer), so the stream trains once — from the existing table if the
  * stream starts over a corpus, else from its first batch — and every
  * later batch (and every restart) loads the same centroids. Rebuilding
  * the quantizer is an offline maintenance job that rewrites the index
  * table, exactly like a compaction.
  *
  * Cell assignment reuses `Similarity.nearestCentroidIn` — the SAME
  * expression (and tie rule) `ivfKnn` uses for batch assignment, so
  * online-assigned cells and query probes can never drift apart.
  *
  * Scale: per-batch work is batch-sized (one narrow assignment projection
  * + two appends). The index row is (vec_id, cell) — bytes per vector —
  * and the table IS the state: no streaming state store grows with the
  * corpus, restarts resume from the source checkpoint plus the tables.
  */
object VectorIngest {

  /** embeddings schema as streamed from parquet. */
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Load the frozen centroids from their side table (ordered by cell id). */
  def loadCentroids(spark: SparkSession, root: String, ref: String): Seq[(Int, Seq[Double])] =
    Catalog.table(spark, root, s"${ref}_centroids")
      .orderBy(col("cell"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
      .toIndexedSeq

  private def trainAndFreeze(source: DataFrame, root: String, ref: String,
      nCentroids: Int): Unit = {
    val spark = source.sparkSession
    import spark.implicits._
    val cents = Similarity.kmeansCentroids(source, nCentroids, iters = 3)
      .zipWithIndex.map { case (cv, i) => (i, cv) }
    Catalog.writeTruncate(
      cents.toDF("cell", "centroid"), root, s"${ref}_centroids")
  }

  /** Start ingesting parquet embedding files from `srcDir` into the vector
    * table at `root`/`ref`, maintaining `<ref>_ivf` and freezing
    * `<ref>_centroids` on first sight.
    */
  private def assignCells(vectors: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    vectors
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("__v"))
      .select(col("vec_id"),
        Similarity.nearestCentroidIn(col("__v"), centroids).as("cell"))

  def ingestStream(spark: SparkSession, srcDir: String, root: String,
      ref: String, nCentroids: Int = 16,
      checkpointDir: Option[String] = None): StreamingQuery = {
    // index self-heal runs once per stream START (a crash between the two
    // appends below is a restart event) — same cadence contract as
    // CorpusIngest. checkpointDir: same contract as CorpusIngest — temp
    // checkpoint restarts rescan srcDir (costly, not wrong).
    val reconciled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val w = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
    checkpointDir.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val ctRef = s"${ref}_centroids"
        val idxRef = s"${ref}_ivf"
        if (!Catalog.tableExists(s, root, ctRef)) {
          // freeze the quantizer: prefer the existing corpus (restart over
          // a table whose centroids were lost), else this first batch
          val trainSrc =
            if (Catalog.tableExists(s, root, ref)) Catalog.table(s, root, ref)
            else batch.toDF()
          trainAndFreeze(trainSrc, root, ref, nCentroids)
        }
        val centroids = loadCentroids(s, root, ref)
        // self-heal: vectors that reached the table but never the index
        // re-assign with the SAME frozen centroids. The existence check
        // gates the CAS (not the reverse): consuming the one-shot flag on
        // a batch where the table doesn't exist yet would burn the heal
        // before it could ever run. Two shapes:
        //   - no index at all (stream started over a pre-existing corpus,
        //     or crash between the FIRST-ever table append and its index
        //     append): bootstrap the index over the whole table;
        //   - index exists (crash between any later pair of appends):
        //     ids-only anti-join, both scans column-pruned.
        if (Catalog.tableExists(s, root, ref) &&
            reconciled.compareAndSet(false, true)) {
          if (!Catalog.tableExists(s, root, idxRef)) {
            Catalog.writeAppend(
              assignCells(Catalog.table(s, root, ref), centroids), root, idxRef)
          } else {
            val unindexed = Catalog.table(s, root, ref).join(
              Catalog.table(s, root, idxRef).select(col("vec_id")).distinct(),
              Seq("vec_id"), "left_anti")
            if (!unindexed.isEmpty)
              Catalog.writeAppend(assignCells(unindexed, centroids), root, idxRef)
          }
        }
        // idempotent by id: replays (restart without a durable checkpoint,
        // redelivered files) must not duplicate vectors — the guard is an
        // ids-only anti join against the column-pruned table spine
        val fresh0 = batch.toDF().dropDuplicates("vec_id")
        val fresh =
          if (!Catalog.tableExists(s, root, ref)) fresh0
          else fresh0.join(Catalog.table(s, root, ref).select(col("vec_id")),
            Seq("vec_id"), "left_anti")
        // materialize WITH lineage truncation before the append: `fresh`
        // reads the table the write is about to extend, and a plain
        // persist is not enough — the first writeAppend's refreshByPath
        // invalidates every cache whose plan contains the table path, so
        // the second append would silently recompute the anti-join
        // against the already-extended table and write NOTHING (the
        // orphan-index bug the reconcile exists for, created on every
        // normal batch). localCheckpoint rebases the rows onto a
        // materialized RDD with no file-source lineage to invalidate.
        val rows = fresh.localCheckpoint(true)
        // vectors first, then index: a crash between the writes leaves
        // vectors unindexed, which the next start's reconcile repairs
        Catalog.writeAppend(rows, root, ref)
        Catalog.writeAppend(assignCells(rows, centroids), root, idxRef)
      }
      .outputMode("append")
      .start()
  }
}
