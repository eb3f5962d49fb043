package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call: name, start and end (ns since the run began),
  * parent span, run id, and the Spark work attributed to it.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val runId: String, val start: Long) {
  @volatile var end: Long = -1L
  /** JVM-wide GC milliseconds spent while the span was open. */
  var gcMs: Long = 0L
  val counts: ConcurrentHashMap[String, java.lang.Long] = new ConcurrentHashMap()

  def add(key: String, v: Long): Unit =
    counts.merge(key, v, (a: java.lang.Long, b: java.lang.Long) => a + b)

  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name, "run_id" -> runId,
    "start_ns" -> start, "end_ns" -> end, "gc_ms" -> gcMs,
    "counts" -> counts.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}

/** Spans around the benchmark's own calls into the engine's public
  * functions. While a span is open, its id is the driver thread's
  * Spark job group, so [[CountingListener]] can credit each job, and
  * the job's stages, to the span that caused it. Spans stay in memory
  * until [[spans]] is read at the end of the run.
  *
  * Spans are recorded only inside [[traced]] on an enabled tracer;
  * elsewhere [[span]] just runs its body. The end-to-end runs use a
  * disabled tracer, so their timings carry no tracing cost, and a
  * traced run can time untraced operations beside traced ones.
  */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  val groupPrefix = s"perfbench-$runId-"

  private var active = false

  private def gcMsNow: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Runs `body` with span recording on (when the tracer is enabled). */
  def traced[A](body: => A): A = {
    val was = active
    active = enabled
    try body finally active = was
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val s = new Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name,
        runId, System.nanoTime() - t0)
      all += s
      byId.put(s.id, s)
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val prevDesc = sc.getLocalProperty("spark.job.description")
      stack = s :: stack
      sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
      val gc0 = gcMsNow
      try body
      finally {
        s.end = System.nanoTime() - t0
        s.gcMs = gcMsNow - gc0
        stack = stack.tail
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, prevDesc, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Adds a count measured by the benchmark itself (not by Spark). */
  def note(key: String, v: Long): Unit =
    if (active) stack.headOption.foreach(_.add(key, v))

  def spanOf(group: String): Option[Span] =
    if (group != null && group.startsWith(groupPrefix))
      group.stripPrefix(groupPrefix).toIntOption.flatMap(i => Option(byId.get(i)))
    else None

  def spans: Seq[Span] = all.toSeq
}

/** Counts Spark work per span: jobs, stages, tasks, shuffle read and
  * write bytes, spill bytes, input rows and bytes, output bytes and
  * task GC time.
  *
  * A job is credited through the job group of the thread that
  * submitted it. A job that carries no benchmark group (a broadcast or
  * subquery job started from a pool thread that did not inherit it) is
  * joined to its span through its SQL execution id, learned from an
  * earlier job of the same execution; call-site strings are never
  * matched. Work no span claims is summed under `unattributed`.
  */
final class CountingListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[String, Span]()
  val unattributed = new Span(-1, -1, "unattributed", tracer.runId, 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    val exec = props.map(_.getProperty("spark.sql.execution.id")).orNull
    val span = tracer.spanOf(group) match {
      case Some(s) =>
        if (exec != null) execSpan.putIfAbsent(exec, s)
        s
      case None =>
        Option(exec).flatMap(x => Option(execSpan.get(x))).getOrElse(unattributed)
    }
    e.stageIds.foreach(st => stageSpan.put(st, span))
    span.add("jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val span = Option(stageSpan.get(info.stageId)).getOrElse(unattributed)
    span.add("stages", 1)
    span.add("tasks", info.numTasks)
    val m = info.taskMetrics
    if (m != null) {
      span.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      span.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      span.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      span.add("input_rows", m.inputMetrics.recordsRead)
      span.add("input_bytes", m.inputMetrics.bytesRead)
      span.add("output_bytes", m.outputMetrics.bytesWritten)
      span.add("task_gc_ms", m.jvmGCTime)
    }
  }
}
