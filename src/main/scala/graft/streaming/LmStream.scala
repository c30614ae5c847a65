package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.LmStore

/** Streaming LM count-store maintenance — x169's streaming twin: every
  * micro-batch of documents merges into the stored word-count table
  * through the VERBATIM batch path, so the LM stays current as the
  * corpus grows and stream and batch cannot drift on the arithmetic.
  *
  * The store is the BUNDLE-backed one
  * ([[graft.operators.LmStore.writeBundle]] /
  * [[graft.operators.LmStore.ingestBundle]]), with the manifest as the
  * ledger: the creating micro-batch seeds its own id INTO the commit
  * manifest, so every crash window is closed — a replayed create
  * commits an identical superseding snapshot (readers resolve the
  * latest version only), and a replayed ingest is rejected by the
  * manifest atomically. The bundle is the store's only layout: the
  * flat swap→marker store, whose write→mark sequence left a replay gap,
  * is gone together with its batch APIs.
  */
object LmStream {

  /** Start merging parquet document files from `srcDir` into the
    * bundle-backed LM count store at `root`/`name`.
    */
  def lmBundleStream(spark: SparkSession, srcDir: String, root: String,
      name: String, checkpointDir: Option[String] = None): StreamingQuery = {
    val w = spark.readStream.schema(CorpusIngest.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
    checkpointDir.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          if (graft.sources.Catalog.latestBundleVersion(s, root, name).isEmpty) {
            LmStore.writeBundle(batch.toDF(), "text", root, name,
              Seq(batchId.toString))
            ()
          } else {
            LmStore.ingestBundle(batch.toDF(), "text", root, name,
              batchId.toString)
            ()
          }
        }
      }
      .outputMode("update")
      .start()
  }
}
