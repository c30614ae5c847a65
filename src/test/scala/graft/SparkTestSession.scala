package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (fork=true → one JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // tolerance, not an assertion: lets TIMESTAMP(NANOS) files arrive as
      // Long if the testdata unit flips back; inert for TIMESTAMP(MICROS).
      // Catalog.normalizeTs dispatches on the arrived type either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      // static, fixed by the first session of the JVM: see Engine
      .config("spark.sql.codegen.cache.maxEntries", Engine.CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
