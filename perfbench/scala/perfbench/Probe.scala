package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-substrate counters gathered from outside the program: one
  * SparkListener (scheduler, executor, shuffle and block-manager events)
  * and one QueryExecutionListener (Catalyst phase times from each
  * query's `queryExecution.tracker`). Attached only for traced runs.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap

  // stages of jobs a search request started (tagged by Probe.Request)
  private val requestStages = scala.collection.concurrent.TrieMap.empty[Int, Unit]
  private def isRequest(p: java.util.Properties) = p != null && p.getProperty(Probe.Request) != null

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (isRequest(e.properties)) { requestStages(e.stageInfo.stageId) = (); add("req_stages", 1) }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    if (isRequest(e.properties)) add("req_jobs", 1)
    // the result stage is named after the user call site, "first at Dedup.scala:423"
    if (e.stageInfos.nonEmpty) {
      val site = e.stageInfos.maxBy(_.stageId).name.replaceAll(":\\d+$", "")
      add(s"jobs@$site", 1)
      add(s"jobs@${site.split(" at ").last}", 1)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (requestStages.contains(e.stageId)) {
      add("req_tasks", 1)
      if (m != null) add("req_rows", m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
    }
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("bytes_read", m.inputMetrics.bytesRead)
      add("records_read", m.inputMetrics.recordsRead)
      add("bytes_written", m.outputMetrics.bytesWritten)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_records_read", m.shuffleReadMetrics.recordsRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_disk_bytes", m.diskBytesSpilled)
      // Spark UI's scheduler delay: task wall minus the parts the
      // executor accounts for
      if (i != null) add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    val size = b.memSize + b.diskSize
    if (b.storageLevel.isValid && size > 0) { add("blocks_stored", 1); add("block_bytes", size) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      p.get(k).foreach(s => add(s"${k}_ms", s.durationMs))
    }
    add("queries", 1)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Probe {
  /** Local property marking the jobs a search request starts. */
  val Request = "perfbench.request"

  /** Attach a fresh probe to the session; returns it with a detach hook. */
  def attach(spark: SparkSession): (Probe, () => Unit) = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    (p, () => { drain(spark); spark.sparkContext.removeSparkListener(p); spark.listenerManager.unregister(p) })
  }

  /** Add to a counter that only the traced half of a run reads. */
  def count(c: AtomicLong, n: Long): Unit = if (Trace.on) c.addAndGet(n)

  /** Wait until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L))).toMap

  /** Codegen counters: total compile time (ns) and compiled classes. */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** In-memory spans at layer boundaries: name, start, end, parent and
  * request id. Off unless enabled, so untraced runs pay one volatile read
  * per boundary. Written out once, at exit.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, req: Long, t0: Long, t1: Long)

  @volatile var on = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val reqId = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def request[T](id: Long)(body: => T): T = {
    reqId.set(id)
    try body finally reqId.set(-1L)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, reqId.get, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def drainAll(): Seq[Span] = {
    val all = spans.asScala.toSeq.sortBy(_.t0)
    spans.clear()
    all
  }
}
