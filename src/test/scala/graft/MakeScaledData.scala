package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (not part of the driver contract; lives in test scope):
  * build an sf1-equivalent dataset for the scaling bench by replicating
  * the driver's sf0.1 tables `reps`× with disjoint key ranges, so
  * `tools/scaling.py` can extend the steep-slope family's curves a decade
  * past the provided SFs.
  *
  * Replication, not resynthesis, on purpose:
  *   - `lineitem` rows are replicated verbatim with the order key remapped
  *     into a disjoint range per replica — the quantile/rewrite workloads
  *     (winsorize, robust scale) see 10× the rows with the same value
  *     distribution, which is exactly the scaling question being measured;
  *   - `documents` keeps its text verbatim under a remapped `doc_id`, so
  *     the sf1 corpus is DUPLICATE-HEAVY by construction (every doc has 10
  *     exact copies). For the substring/boilerplate family that is the
  *     conservative direction: repeated-run detection does strictly more
  *     merging work per row than on a dedup'd corpus of the same size —
  *     the measured slope upper-bounds the organic-corpus slope;
  *   - the `doc_id` remap uses an EVEN stride (`r * N + doc_id`, N even),
  *     preserving the (2k, 2k+1) adjacency the planted multimodal twins
  *     derive from (`Multimodal.audioPairAssetsFromDocuments` et al. pair
  *     by `id / 2` + parity), so the perceptual-hash workloads keep their
  *     pair density while each replica block fingerprints distinct content
  *     (payloads are seeded by the NEW id);
  *   - `embeddings` replicates under the SAME stride as `documents`
  *     ([[idStride]]), preserving the doc↔vec id alignment and the
  *     partial-coverage geometry per replica block — the serving-stack
  *     family (x193/x195) gets its third decade on 10× the corpus it
  *     actually reads.
  *
  * Usage: `sbt "Test/runMain graft.MakeScaledData [srcDir outDir reps]"`;
  * defaults: /root/testdata/sf0.1 → /tmp/graft/sf1, reps = 10.
  */
object MakeScaledData {

  /** Replica spine 0..reps-1, broadcast-joined so each source row fans out
    * without a shuffle (the parquet write repartitions by nothing — the
    * fan-out happens inside the scan's map stage).
    */
  private def replicate(spark: SparkSession, df: DataFrame, reps: Int): DataFrame = {
    import spark.implicits._
    df.crossJoin(broadcast((0 until reps).toDF("__r")))
  }

  def scaleLineitem(spark: SparkSession, src: DataFrame, reps: Int): DataFrame =
    replicate(spark, src, reps)
      .withColumn("l_orderkey",
        col("l_orderkey") * reps + col("__r").cast("long"))
      .drop("__r")

  /** The id stride shared by [[scaleDocuments]] and [[scaleEmbeddings]]:
    * even (preserves twin adjacency/parity) and computed from the DOC id
    * range, so replica r's doc `r*n + d` still pairs with vector
    * `r*n + d` — the doc↔vec alignment contract every hybrid serve
    * builds on survives the replication.
    */
  def idStride(src: DataFrame): Long = {
    val mx = src.agg(max(col("doc_id"))).head().getLong(0) + 1L
    if (mx % 2 == 0) mx else mx + 1L
  }

  def scaleDocuments(spark: SparkSession, src: DataFrame, reps: Int,
      stride: Long): DataFrame =
    replicate(spark, src, reps)
      .withColumn("doc_id", col("__r").cast("long") * stride + col("doc_id"))
      .drop("__r")

  /** `embeddings` replicated under the SAME stride as `documents`, so
    * the partial-coverage geometry (2000 vectors vs 5000 docs at sf0.1)
    * and the doc↔vec id alignment repeat per replica block. Vectors are
    * verbatim copies — duplicate-heavy like the doc corpus, which is the
    * conservative direction for the serving-stack family measured on it
    * (10× the corpus with the same value distribution; every ANN stage
    * does full-sized work, and exact re-rank ties across replicas do
    * strictly more comparison work than organic data would).
    */
  def scaleEmbeddings(spark: SparkSession, src: DataFrame, reps: Int,
      stride: Long): DataFrame =
    replicate(spark, src, reps)
      .withColumn("vec_id", col("__r").cast("long") * stride + col("vec_id"))
      .drop("__r")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Engine.session("make-scaled-data")
    try {
      val li = scaleLineitem(spark, spark.read.parquet(s"$src/lineitem.parquet"), reps)
      li.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      val docsSrc = spark.read.parquet(s"$src/documents.parquet")
      val stride = idStride(docsSrc)
      scaleDocuments(spark, docsSrc, reps, stride)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      scaleEmbeddings(spark,
          spark.read.parquet(s"$src/embeddings.parquet"), reps, stride)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"[make-scaled-data] wrote $out (reps=$reps from $src)")
    } finally spark.stop()
  }
}
