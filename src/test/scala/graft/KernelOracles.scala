package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Interpreted twins of the native vector expressions
  * (graft.functions.VectorExpressions), built from Spark's higher-order
  * functions. The engine calls the natives unconditionally; these forms
  * are the bit-identity oracles the specs compare them against
  * (SimilaritySpec, EmbeddingsSpec, StreamingSpec). ~10× slower per row:
  * HOFs evaluate interpreted.
  *
  * `zip_with` pads the shorter input with nulls, so [[dotHof]] equals
  * `vec_dot` only on equal-length inputs (`vec_dot` truncates to the
  * shorter one). The table-expression twins therefore score with the
  * native `vec_dot`, whose truncation the table expressions share, and
  * fold, sort and decode interpreted. The `vec_nearest` twin is
  * `Similarity.nearestCentroid` scored with plain `Similarity.dot`.
  */
object KernelOracles {

  /** `vec_dot` on equal-length inputs: Σ aᵢ·bᵢ left to right from 0.0;
    * null input → null.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** `vec_ranks`: centroid ids sorted by score desc, id asc. */
  def centroidRanks(vec: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    val scored = array(centroids.map { case (i, cv) =>
      struct(Similarity.dot(vec, typedLit(cv)).as("s"), lit(i).as("idx"))
    }: _*)
    transform(
      array_sort(scored, (a, b) =>
        when(a.getField("s") > b.getField("s"), -1)
          .when(a.getField("s") < b.getField("s"), 1)
          .otherwise(a.getField("idx") - b.getField("idx"))),
      x => x.getField("idx"))
  }

  /** argmin_c ‖sub − c‖² as argmax_c (2·sub·c − ‖c‖²): one fold over the
    * scored codewords, ties to the lowest code, -1 for a null subvector.
    */
  def nearestCode(sub: Column, book: IndexedSeq[IndexedSeq[Double]]): Column = {
    val scored = array(book.zipWithIndex.map { case (c, i) =>
      val score = lit(2.0d) * Similarity.dot(sub, typedLit(c)) - lit(c.map(x => x * x).sum)
      struct(score.as("s"), lit(i).as("idx"))
    }: _*)
    aggregate(scored,
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1).as("idx")),
      (acc, e) => when(e.getField("s") > acc.getField("s"), e).otherwise(acc),
      acc => acc.getField("idx"))
  }

  /** Stage each subspace slice as its own attribute so the per-codeword
    * dot products read attributes (interpreted HOFs re-evaluate non-cheap
    * inputs per reference — `slice` would otherwise run k times each).
    */
  def stageSubvectors(df: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], subDim: Int): DataFrame =
    books.indices.foldLeft(df) { case (d, j) =>
      d.withColumn(s"__sub$j", slice(col("__v"), j * subDim + 1, subDim))
    }

  /** `Embeddings.pqEncode` (`vec_pq_encode`) as the staged-slice fold. */
  def pqEncodeHof(df: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      vecCol: String = "embedding", as: String = "pq_codes"): DataFrame = {
    val subDim = books.head.head.size
    val staged = stageSubvectors(
      df.withColumn("__v", transform(col(vecCol), _.cast("double"))), books, subDim)
    staged
      .withColumn(as, array(books.indices.map(j =>
        nearestCode(col(s"__sub$j"), books(j))): _*))
      .drop("__v" +: books.indices.map(j => s"__sub$j"): _*)
  }

  /** `Embeddings.pqDecode` (`vec_pq_decode`) as element_at/flatten. */
  def pqDecodeHof(codes: Column,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column =
    flatten(array(books.indices.map { j =>
      element_at(typedLit(books(j).map(_.toSeq).toSeq),
        element_at(codes, j + 1) + 1)
    }: _*))
}
