package graft

import java.util.concurrent.{Semaphore, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** What one body runs on a session: its SQL executions (counted by a
  * `QueryExecutionListener`) and its Spark jobs, split by whether a job ran
  * inside an SQL execution (counted by a `SparkListener`). Listener events
  * arrive asynchronously, so the body is bracketed by a begin and an end
  * marker query, and each listener counts what it receives between the two
  * (a listener bus keeps event order) — the bracketing `graft.Probe` uses.
  */
object SparkCounts {

  final case class Counts(executions: Int, jobs: Int, jobsOutside: Int)

  def of(spark: SparkSession)(body: => Unit): Counts = {
    val tag = s"spark-counts-${java.util.UUID.randomUUID()}"
    val (begin, end) = (s"$tag begin", s"$tag end")
    val done = new Semaphore(0)
    var jobs, outside, execs = 0
    var jobsOn, execsOn = false
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        val p = Option(js.properties)
        p.map(_.getProperty("spark.job.description")).orNull match {
          case `begin` => jobs = 0; outside = 0; jobsOn = true
          case `end` => if (jobsOn) { jobsOn = false; done.release() }
          case _ if jobsOn =>
            jobs += 1
            if (!p.exists(_.getProperty("spark.sql.execution.id") != null)) outside += 1
          case _ =>
        }
      }
    }
    val execListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = synchronized {
        val plan = qe.logical.toString
        if (plan.contains(begin)) { execs = 0; execsOn = true }
        else if (plan.contains(end)) { if (execsOn) { execsOn = false; done.release() } }
        else if (execsOn) execs += 1
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, x: Exception): Unit = record(qe)
    }
    def marker(m: String): Unit = {
      spark.sparkContext.setJobDescription(m)
      try spark.range(1).select(lit(m)).collect()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
    try {
      marker(begin)
      body
      marker(end)
      assert(done.tryAcquire(2, 60, TimeUnit.SECONDS),
        "the listeners never received the end marker")
      jobListener.synchronized(execListener.synchronized(Counts(execs, jobs, outside)))
    } finally {
      spark.listenerManager.unregister(execListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
