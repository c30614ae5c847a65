package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache is sized once per JVM, by whichever code
  * first touches its `CodeGenerator`: a session built after that silently
  * gets Spark's default of 100 entries instead of
  * `Engine.CodegenCacheEntries`, and a deployed serve then recompiles its
  * classes on every call. Checked by behaviour, not through Spark
  * internals: a class compiled before 150 other distinct classes is still
  * cached after them.
  */
class CodegenCacheSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** A one-row projection adding `c`: the long literal is inlined into the
    * generated source, so each distinct `c` compiles a distinct class.
    */
  private def project(c: Long): Unit =
    spark.range(1).select((col("id") + lit(c)).as("x")).collect()

  private def compiles(): Long = Engine.codegenCompiles._1

  test("the generated-class cache holds more than Spark's default of 100 entries") {
    val marker = -7919L
    // one round: the marker, then 150 distinct classes, then the marker
    // again; returns the marker's second-run compile count
    def round(r: Int): Long = {
      project(marker)
      val before = compiles()
      (1 to 150).foreach(i => project(r * 1000000L + i))
      val filled = compiles() - before
      assert(filled >= 150, s"the fillers compiled only $filled classes")
      val c0 = compiles()
      project(marker)
      compiles() - c0
    }
    // up to three rounds until one is clean: compiles are counted
    // JVM-wide, and work another suite left running may compile meanwhile
    val misses = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (misses.size < 3 && !misses.contains(0L)) misses += round(misses.size + 1)
    assert(misses.contains(0L),
      s"the marker projection recompiled ${misses.mkString("/")} classes after " +
        "150 others: the cache bound is below Engine.CodegenCacheEntries")
  }
}
