package graft

/** Driver-run benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Results are fully materialized through a noop sink — `count()` would let
  * Catalyst prune every projected column and time only the scan/agg skeleton.
  *
  * Output contract: stdout carries ONE SHORT final JSON line (total + the
  * slowest queries only — it fits any log-tail window); the FULL per-query
  * detail JSON is written to /tmp/graft/bench_last.json. Earlier rounds
  * printed the full ~3 KB line to stdout and the driver's ~2 KB tail never
  * captured a parseable result.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")
    // SPARK_GRAFT_ONLY=q1_agg,x2_dedup_minhash runs a subset (iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val ordered = selected.toSeq.sortBy(_._1)
    // One UNTIMED warm-up pass over the whole selected set before rep 1:
    // every query's first-ever run pays JIT, codegen compilation, and the
    // parquet page-cache fill, so without this, rep 1 of each query times
    // cold-start while reps 2-3 time the plan — and round-over-round totals
    // compare cold-start-to-warm whenever the query set changes. With it,
    // all timed reps measure the warm plan. SPARK_GRAFT_WARMUP=0 skips
    // (iteration aid).
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      for ((name, fn) <- ordered) {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable =>
          System.err.println(s"[bench] warmup $name failed (timed reps will record it)") }
        spark.catalog.clearCache()
      }
    }
    // Per-query median of SPARK_GRAFT_REPS runs (default 3), with reps
    // INTERLEAVED round-robin across queries (rep 1 of every query, then
    // rep 2, ...): single-shot timings in a shared JVM swing 4-8x from
    // JIT/GC/page-cache carryover, and a minutes-long environment stall
    // that spans consecutive runs of ONE query would own all its reps —
    // round-robin spreads any stall across many queries' single reps,
    // where the per-query median absorbs it (r4: official x6 at 9.67 s vs
    // 0.96-1.20 s for the same binary).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val failed = scala.collection.mutable.Set.empty[String]
    // generated classes each query compiles over its timed reps: after the
    // warm-up pass these are misses of the generated-class cache
    val compiles = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for (rep <- 1 to reps; (name, fn) <- ordered) {
      val c0 = Engine.codegenCompiles._1
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        times(name) = times(name) :+ t
        System.err.println(f"[bench] rep $rep/$reps $name $t%.3f")
      } catch { case e: Throwable =>
        // ANY failed rep marks the query failed: a median over surviving
        // reps would let an intermittent OOM/regression masquerade as a
        // clean timing in the JSON (stderr keeps the per-rep detail)
        failed += name
        System.err.println(s"[bench] rep $rep/$reps $name FAILED: ${e.getMessage}")
      }
      compiles(name) += Engine.codegenCompiles._1 - c0
      // operators that persist intermediates (LSH candidates, CC frontiers)
      // must not leak cached blocks into later queries' memory budget —
      // every rep starts cache-cold
      spark.catalog.clearCache()
    }
    // -1.0 marks a failed query — a swallowed exception must not masquerade
    // as a fast timing in the bench JSON. Median AND best are both kept:
    // the median is the headline (robust to one fast fluke), the best is
    // the stall-proof floor — a multi-minute environment stall in one rep
    // (r8: a 206 s rep of a 5 s query) moves the median of 3 but never the
    // best, so median >> best across many queries reads as "noisy run",
    // while median ≈ best with both elevated reads as "the plan got slower".
    val results = ordered.map { case (name, _) =>
      val ts = times(name)
      val ok = !failed(name) && ts.size >= reps
      val sec = if (ok) ts.sorted.apply(ts.size / 2) else -1.0
      val best = if (ok) ts.min else -1.0
      System.err.println(f"[bench] $name median=$sec%.3f best=$best%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      (name, sec, best)
    }
    // serve-only timings for the stored-index family: the declared queries
    // time build+serve together (the oracle needs the build in-query), but
    // the number production pays repeatedly at 100 TB is the SERVE — build
    // each store once here (untimed), then time serve reps. Medians track
    // round-over-round serving cost without the build constant drowning it.
    // SPARK_GRAFT_SERVE_ONLY=0 skips (iteration aid).
    val serveResults: Seq[(String, Double)] =
      if (sys.env.getOrElse("SPARK_GRAFT_SERVE_ONLY", "1") == "0") Seq.empty
      else SparkEntry.serveOnly.toSeq.sortBy(_._1).map { case (name, (build, serve)) =>
        val sec = try {
          build(spark, sfDir)
          spark.catalog.clearCache()
          // one untimed warm-up serve (JIT/codegen/page cache), then reps
          serve(spark, sfDir).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          val ts = (1 to reps).map { rep =>
            val t0 = System.nanoTime()
            serve(spark, sfDir).write.format("noop").mode("overwrite").save()
            val t = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            System.err.println(f"[bench] serve rep $rep/$reps $name $t%.3f")
            t
          }
          ts.sorted.apply(ts.size / 2)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] serve $name FAILED: ${e.getMessage}")
          -1.0
        }
        (name, sec)
      }
    val serveJson = serveResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsBest = results.map { case (k, _, b) => s"\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val bestTotal = results.collect { case (_, _, b) if b >= 0 => b }.sum
    val fullFields =
      s""""metric":"total","value":$total,"unit":"sec","best_total":$bestTotal,"queries":$qs,"queries_best":$qsBest,"serve_only":$serveJson,"sf":"$sfDir","reps":$reps"""
    val fullJson = s"{$fullFields}"
    // durable copy holds the FULL per-query detail, plus the per-query
    // compile counts (file only: the stdout lines keep their keys)
    val compilesJson = ordered.map { case (k, _) => s"\"" + k + "\":" + compiles(k) }
      .mkString("{", ",", "}")
    val out = new java.io.File("/tmp/graft/bench_last.json")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out)
    try w.println(s"""{$fullFields,"codegen_compiles":$compilesJson}""") finally w.close()
    // The full contract line ALSO goes to stdout (r17, additions-only): a
    // consumer that reads entire stdout gets the per-query medians map under
    // "queries" (the round-over-round per-query/geomean input the compact
    // line cannot carry). It prints FIRST so the compact line below stays
    // the LAST line — a tail-window consumer still sees a complete JSON
    // line (rounds 1-4 proved a >2 KB final line truncates to garbage in a
    // 2 KB tail). Both lines report the same run; neither replaces the
    // other's keys.
    println(fullJson)
    // stdout gets one SHORT line (total + 5 slowest + failure count) as the
    // LAST line — guaranteed to fit the driver's log-tail window. The
    // truncated map is keyed "slowest", NOT "queries": a consumer of the
    // old full per-query "queries" map should fail loudly on the missing
    // key rather than silently read 5 entries as if they were all of them
    // (the full map lives in the detail file, under "queries").
    // each slow entry carries median AND best so the artifact is
    // self-adjudicating: median >> best = an environment stall owned a
    // rep (ignore), median ≈ best with both elevated = the plan really
    // got slower (investigate). value_kind names the headline's
    // aggregation explicitly — it is a sum of per-query MEDIANS, never
    // of rep sums, so one stalled rep cannot own the headline.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v, b) =>
        s"\"" + k + "\":{\"median\":" + v + ",\"best\":" + b + "}" }
      .mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    println(
      s"""{"metric":"total","value":$total,"value_kind":"sum_of_per_query_medians","unit":"sec","best_total":$bestTotal,"slowest":$slowest,"serve_only":$serveJson,"sf":"$sfDir","reps":$reps,"queries_n":${results.size},"failed_n":$nFailed,"detail":"/tmp/graft/bench_last.json"}""")
    spark.stop()
  }
}
