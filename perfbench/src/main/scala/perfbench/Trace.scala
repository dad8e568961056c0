package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** Spans the benchmark records around its own calls into each layer.
  *
  * A span has a name, a layer, start/end (ns), a parent and the id of the
  * request it belongs to. Spans stay in memory and are written out once at
  * the end. Counts from outside the product code are attributed to the
  * open span: Spark jobs carry the span id as the local property
  * [[SpanProperty]] (read back by [[Listener]]), and the analyzer-pass
  * check rule runs on the calling thread, so it reads the thread's
  * innermost open span. When tracing is off, [[span]] is a plain call. */
object Trace {
  val SpanProperty = "perfbench.span"

  final class Span(val id: Int, val req: Int, val name: String, val layer: String,
      val parent: Int, val start: Long) {
    var end: Long = -1L
    val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private var nextId = 1
  private var req = 0
  private var sc: SparkContext = _

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Listener)
  }

  /** Start a new request: spans until the next call share its id. */
  def newRequest(): Int = synchronized { req += 1; req }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parentStack = open.get()
      val s = synchronized {
        val s = new Span(nextId, req, name, layer,
          parentStack.headOption.map(_.id).getOrElse(0), System.nanoTime())
        nextId += 1
        spans += s
        byId(s.id) = s
        s
      }
      open.set(s :: parentStack)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanProperty) else null
      if (sc != null) sc.setLocalProperty(SpanProperty, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        open.set(parentStack)
        if (sc != null) sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  /** Add to a counter of the calling thread's innermost open span. */
  def count(key: String, v: Double = 1.0): Unit =
    if (enabled) open.get().headOption.foreach(s => synchronized(s.counts(key) += v))

  /** Add to a counter of the span with the given id. */
  def countOn(spanId: Int, key: String, v: Double): Unit = synchronized {
    byId.get(spanId).foreach(s => s.counts(key) += v)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (sc != null) org.apache.spark.perfbenchbridge.Bus.drain(sc)

  def all: Seq[Span] = synchronized(spans.toList)

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "req" -> s.req, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
      "counts" -> s.counts.toMap)
  }

  /** Job, stage and task statistics, attributed to the span that started
    * the job (its [[SpanProperty]]). */
  object Listener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val stageSubmitted = mutable.HashMap.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt)
      id.foreach { sid =>
        synchronized(e.stageIds.foreach(stageSpan(_) = sid))
        countOn(sid, "jobs", 1)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sid = synchronized(stageSpan.get(e.stageInfo.stageId))
      sid.foreach(countOn(_, "stages", 1))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sid = synchronized(stageSpan.get(e.stageId))
      val submitted = synchronized(stageSubmitted.get(e.stageId))
      sid.foreach { s =>
        countOn(s, "tasks", 1)
        if (e.reason != org.apache.spark.Success) countOn(s, "task_failures", 1)
        submitted.foreach(t => countOn(s, "task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3))
        val m = e.taskMetrics
        if (m != null) {
          countOn(s, "task_run_s", m.executorRunTime / 1e3)
          countOn(s, "task_cpu_s", m.executorCpuTime / 1e9)
          countOn(s, "gc_s", m.jvmGCTime / 1e3)
          countOn(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          countOn(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          countOn(s, "shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          countOn(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          countOn(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      }
    }
  }

  /** A no-op analyzer check rule that counts analyzer runs. Installed only
    * in the traced run. */
  def install(ext: SparkSessionExtensions): Unit =
    ext.injectCheckRule(_ => _ => count("analyzer_passes"))

  object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collect(p) { case e: Exchange => e }.size
    def nodes(p: SparkPlan): Int = collect(p) { case n => n }.size
    /** Output rows of the first aggregate feeding a filter: the candidate
      * pairs into the Jaccard filter of the n-gram pair kernel. */
    def filteredAggRows(p: SparkPlan): Option[Long] =
      collectFirst(p) { case f: FilterExec => f }
        .flatMap(f => collectFirst(f.child) { case a: HashAggregateExec => a })
        .flatMap(_.metrics.get("numOutputRows")).map(_.value)
  }
}
