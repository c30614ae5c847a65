package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** SparkSession factory with the engine's standard configuration.
  *
  * Design notes for cluster scale (the library itself is deployment-neutral;
  * these settings only apply when the engine owns session construction, e.g.
  * tests and local CLIs — on a real cluster spark-submit config wins):
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *     and dynamic broadcast conversion are the main levers that let the same
  *     plan run at sf0.001 and at 100 TB.
  *   - UTC session timezone so timestamp arithmetic matches the DuckDB oracle
  *     and is stable across deployments.
  *   - Generated-class cache of [[CodegenCacheEntries]] entries. Spark keeps
  *     the classes it compiles for plans in one JVM-wide LRU keyed by the
  *     generated source. Its default of 100 entries is smaller than the
  *     working set of one deployed three-stage serve, so each serve evicted
  *     what the previous one compiled and recompiled it.
  *     The setting is static: the cache is built when the JVM first compiles
  *     generated code, with the value of the session active then, so the
  *     first session wins and a later session's value is ignored. The
  *     engine's tools and tests all open their session with this value.
  */
object Engine {
  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). Measured working sets: one
    * deployed serve compiles 90-120 classes; a JVM running the whole
    * deployed stack (two set-ups, an ingest commit, fresh and loop serves)
    * about 270, and the same stack plus the weblog, count-enrich, transpose
    * and brute-kNN jobs about 310. The constant leaves room for several
    * times that.
    */
  val CodegenCacheEntries = 2000

  def session(appName: String = "graft", master: String = s"local[${cpus}]"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // tolerance, not an assertion: lets TIMESTAMP(NANOS) files arrive as
      // Long if the testdata unit flips back; inert for TIMESTAMP(MICROS).
      // Catalog.normalizeTs dispatches on the arrived type either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  /** Generated classes compiled in this JVM so far, and their total compile
    * time in nanoseconds. The difference between two readings counts the
    * generated-class cache misses of the work in between.
    */
  def codegenCompiles: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
