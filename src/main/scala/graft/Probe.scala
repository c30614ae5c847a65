package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Measurement aid (optimization rounds): run named declared queries once
  * (after an untimed warm-up) and attribute wall time to Spark jobs by call
  * site, so a proof-dominated query's cost can be split into its library
  * stages (pqTrain vs writeBundle vs serve vs earned checks) without the UI.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Probe x195_deployed_batch_serve"
  * Prints [probe] lines: total wall, per-call-site job-time sums, the
  * accounted time (the union of the SQL-execution and non-SQL job
  * intervals, so executions overlapped through `Par` count once), the
  * driver-side gap (wall minus accounted = planning/commit/driver work),
  * the Spark jobs the rep ran (from a SparkListener), and the generated
  * classes compiled and their compile time.
  */
object Probe {
  /** Milliseconds covered by at least one of the `[start, end]` intervals:
    * overlapping and nested intervals count their shared time once.
    */
  def coveredMs(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (start, end)) =>
        if (end <= reach) (sum, reach) else (sum + end - math.max(start, reach), end)
    }._1

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-probe")
    val jobs = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val starts = mutable.Map.empty[Int, (String, Long)]
    // SQL executions (AQE runs their stages as future-submitted sub-jobs
    // whose stage names are useless) — attribute wall time per execution
    // via the start/end events, whose description IS the action call site
    val execs = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val execStarts = mutable.Map.empty[Long, (String, Long)]
    // a rep's events are the ones the listener bus delivers between its
    // begin and end marker jobs (the bus keeps event order), so counts
    // are exact however late the bus delivers them
    val Marker = "graft-probe-marker"
    var counting = false
    var nJobs = 0
    val ended = new java.util.concurrent.Semaphore(0)
    def marker(tag: String): Unit = {
      spark.sparkContext.setJobDescription(s"$Marker $tag")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(js.properties).map(_.getProperty("spark.job.description")).orNull
        if (desc == s"$Marker begin") {
          jobs.clear(); starts.clear(); execs.clear(); execStarts.clear()
          nJobs = 0; counting = true
        } else if (desc == s"$Marker end") { counting = false; ended.release() }
        else if (counting) {
          nJobs += 1
          val inSql = Option(js.properties)
            .exists(p => p.getProperty("spark.sql.execution.id") != null)
          if (!inSql) {
            val cs = js.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
              .getOrElse("?")
            starts(js.jobId) = (cs, js.time)
          }
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        starts.get(je.jobId).foreach { case (cs, t0) =>
          jobs += ((cs, t0, je.time))
        }
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        jobs.synchronized {
          e match {
            case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
                if counting =>
              execStarts(s.executionId) = (s.description, s.time)
            case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
              execStarts.remove(s.executionId).foreach { case (d, t0) =>
                execs += ((d, t0, s.time))
              }
            case _ =>
          }
        }
    })
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm-up
      spark.catalog.clearCache()
      for (rep <- 1 to reps) {
        marker("begin")
        val (c0, ns0) = Engine.codegenCompiles
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        val (c1, ns1) = Engine.codegenCompiles
        spark.catalog.clearCache()
        marker("end")
        ended.acquire()
        // executions and non-SQL jobs overlap (`Par`), so the accounted
        // time is the union of their intervals; the residual is driver-side
        // work outside any execution (planning, manifest I/O, commits)
        val (spans, nExecs, nj) =
          jobs.synchronized { (jobs.toList ++ execs.toList, execs.size, nJobs) }
        val agg = spans.groupBy(_._1)
          .map { case (cs, v) => (cs, v.size, v.map(x => x._3 - x._2).sum) }
          .toSeq.sortBy(-_._3)
        val accounted = coveredMs(spans.map(x => (x._2, x._3))) / 1000.0
        println(f"[probe] $name rep=$rep total=$total%.2f s execs=$nExecs accounted=$accounted%.2f s gap=${total - accounted}%.2f s sparkjobs=$nj codegen_compiles=${c1 - c0} compile=${(ns1 - ns0) / 1e6}%.0f ms")
        for ((cs, n, ms) <- agg.take(40))
          println(f"[probe]   ${ms / 1000.0}%8.2f s  n=$n%-4d $cs")
      }
    }
    spark.stop()
  }
}
