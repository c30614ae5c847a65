package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of one run. Ops (the requests the benchmark times) are
  * always kept; spans around each call into an engine layer, and the Spark
  * events below, only when the run is traced. Every time is epoch
  * milliseconds as a double, so spans line up with Spark's event times.
  */
final class Recorder(val traced: Boolean) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val ops = ArrayBuffer.empty[Map[String, Any]]
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val counters = ArrayBuffer.empty[Map[String, Any]]
  private var opId = 0
  private val spanIds = new java.util.concurrent.atomic.AtomicInteger
  @volatile private var curOp = 0
  // open spans of this thread; threads a call starts (tools.Par) inherit them
  private val stack = new InheritableThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Time `body` as one op of `kind`. A throw is recorded as a failed op
    * and rethrown; `info` adds fields the metric code reads (fresh, job).
    */
  def op[T](kind: String, info: Map[String, Any] = Map.empty)(body: => T): T = {
    opId += 1
    val id = opId
    curOp = id
    val g0 = gcMs
    val t0 = nowMs
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = nowMs
      ops += info ++ Map("id" -> id, "kind" -> kind, "start" -> t0,
        "end" -> t1, "ok" -> ok, "gc_ms" -> (gcMs - g0))
      curOp = 0
    }
  }

  /** Mark the last recorded op failed (an output check did not hold). */
  def failLast(reason: String): Unit = {
    val last = ops.remove(ops.size - 1)
    ops += last ++ Map("ok" -> false, "error" -> reason)
  }

  /** Record `body` as a span of the current op (traced runs only). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spanIds.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = nowMs
      try body
      finally {
        val s = Map("id" -> id, "op" -> curOp, "name" -> name, "start" -> t0,
          "end" -> nowMs, "parent" -> outer.headOption.getOrElse(0))
        spans.synchronized(spans += s)
        stack.set(outer)
      }
    }
}

/** Spark-side events of a traced run, gathered by a listener the benchmark
  * registers itself: SQL executions, jobs, per-task metrics and the
  * planning phases of every executed query.
  */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  private val execStart = scala.collection.mutable.Map.empty[Long, Long]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  val execs = ArrayBuffer.empty[Seq[Double]]   // start, end, id
  val jobs = ArrayBuffer.empty[Seq[Double]]    // start, end
  // launch, finish, cpu s, shuffle read, shuffle write, spill bytes
  val tasks = ArrayBuffer.empty[Seq[Double]]
  val phases = ArrayBuffer.empty[Seq[Double]]  // start, end
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart(s.executionId) = s.time; touch()
      case s: SparkListenerSQLExecutionEnd =>
        execStart.remove(s.executionId).foreach { t0 =>
          execs += Seq(t0.toDouble, s.time.toDouble, s.executionId.toDouble)
        }
        touch()
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobStart(j.jobId) = j.time; touch()
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach(t0 => jobs += Seq(t0.toDouble, j.time.toDouble))
    touch()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) tasks += Seq(t.taskInfo.launchTime.toDouble,
      t.taskInfo.finishTime.toDouble, m.executorCpuTime / 1e9,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    touch()
  }

  private def addPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p =>
      phases += Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)

  /** Wait until the asynchronous listener bus has delivered every event:
    * no SQL execution or job left open and the stream quiet for 300 ms.
    */
  def drain(maxMs: Long = 15000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled = synchronized(execStart.isEmpty && jobStart.isEmpty) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def toMap: Map[String, Any] = synchronized(Map("execs" -> execs.toSeq,
    "jobs" -> jobs.toSeq, "tasks" -> tasks.toSeq, "phases" -> phases.toSeq))
}
