package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.VectorExpressions

/** Engine extensions, activated with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (`Engine.session` and the test session set it). Registers the native
  * vector expressions so they are callable through
  * `functions.call_function("vec_dot", ...)` and SQL `vec_dot(a, b)`.
  * They are the one path for the engine's vector kernels: there is no
  * interpreted fallback, so a session without this extension fails at
  * analysis on the unresolved routine (`vec_dot`, `vec_pq_encode`, ...).
  * The HOF constructions they replace live in test scope as bit-identity
  * oracles (`KernelOracles`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(VectorExpressions.DotProduct.getClass.getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"vec_dot expects 2 arguments, got ${args.length}")
        VectorExpressions.DotProduct(args(0), args(1))
      }))
    // PQ/IVF table expressions: each stands for an aggregate/array_sort
    // fold over an m×k codeword-literal forest as one codegen'd node
    // holding the codebook as a table reference — the per-row hot loop of
    // every index build/train/serve pass, and a plan one literal wide
    // instead of m×k (driver planning time). Bit-identical to the HOF
    // constructions, which are test-scope oracles now (see the
    // VectorExpressions notes; pinned by specs).
    ext.injectFunction((
      FunctionIdentifier("vec_pq_encode"),
      new ExpressionInfo(VectorExpressions.PqEncode.getClass.getName, "vec_pq_encode"),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"vec_pq_encode expects 3 arguments, got ${args.length}")
        VectorExpressions.PqEncode(args(0), args(1), args(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_pq_decode"),
      new ExpressionInfo(VectorExpressions.PqDecode.getClass.getName, "vec_pq_decode"),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"vec_pq_decode expects 3 arguments, got ${args.length}")
        VectorExpressions.PqDecode(args(0), args(1), args(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_nearest"),
      new ExpressionInfo(VectorExpressions.NearestCentroid.getClass.getName, "vec_nearest"),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"vec_nearest expects 3 arguments, got ${args.length}")
        VectorExpressions.NearestCentroid(args(0), args(1), args(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_ranks"),
      new ExpressionInfo(VectorExpressions.CentroidRanks.getClass.getName, "vec_ranks"),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"vec_ranks expects 3 arguments, got ${args.length}")
        VectorExpressions.CentroidRanks(args(0), args(1), args(2))
      }))
    // Spark ships BloomFilterAggregate / BloomFilterMightContain as
    // INTERNAL expressions (the runtime-row-group-filter machinery behind
    // spark.sql.optimizer.runtime.bloomFilter) without a public SQL
    // surface. Registering them here gives the incremental-dedup operators
    // a codegen'd bloom build + probe with zero UDFs: `bloom_agg(xxhash64
    // (x), est_items, num_bits)` folds a partition-local sketch per task
    // and ORs them at the final aggregate (one bounded binary to the
    // driver); `bloom_contains(<binary literal>, xxhash64(x))` then
    // evaluates map-side inside whole-stage codegen.
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"bloom_agg expects 3 arguments, got ${args.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_contains"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"bloom_contains expects 2 arguments, got ${args.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
      }))
  }
}
