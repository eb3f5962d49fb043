package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import com.sun.management.GarbageCollectionNotificationInfo
import graft.GraftSession

/** One benchmark run in one JVM: `perfbench.Main <plan.json>`.
  *
  * `run.py` writes the plan (workload, seconds, trace flag, cores,
  * work directory, generated input files) and reads the result file
  * this writes: set-up times, per-operation samples, the calibration
  * samples, attempted and failed counts, the post-GC heap samples,
  * workload figures, the in-JVM correctness checks and, in a traced
  * run, the spans.
  * Metrics and the remaining checks are computed in Python.
  */
object Main {
  val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    require(args.length == 1, "usage: perfbench.Main <plan.json>")
    val plan = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    val run = new Run(plan, t0)
    val ok = run.execute()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Shared run state: session, tracer, listener, samples and checks. */
final class Run(val plan: Map[String, Any], t0: Long) {
  val workload: String = str("workload")
  val seconds: Double = num("seconds")
  val work: String = str("work")
  val cores: Int = num("cores").toInt

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // the UI is off, so keep its listeners' history short: the heap
    // then holds the engine's state, not a log of every query run so far
    .config("spark.sql.ui.retainedExecutions", "20")
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  GraftSession.tune(spark)

  val tracer = new Tracer(spark, str("run_id"), plan("trace") == true)
  val listener = new CountingListener(tracer)
  if (tracer.enabled) spark.sparkContext.addSparkListener(listener)
  val sessionS: Double = Run.secs(t0)
  val calibration = new Calibration(cores)
  private val gcWatch = new GcWatch

  val out: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
    "session_s" -> sessionS)
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  var attempted = 0
  var failed = 0
  private val heapAfterOp = mutable.ArrayBuffer.empty[Double]

  def str(k: String): String = plan(k).toString
  def num(k: String): Double = plan(k).asInstanceOf[Number].doubleValue
  def section(k: String): Map[String, Any] = plan(k).asInstanceOf[Map[String, Any]]

  /** Runs one operation: counts it as attempted, times it, and counts
    * a thrown exception as a failure instead of ending the run.
    * Returns the seconds taken, or None when it failed.
    */
  def attempt[A](kind: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val s = System.nanoTime()
    val cpu0 = Run.processCpuNs
    try {
      val r = body
      val d = Run.secs(s)
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += d
      samples.getOrElseUpdate(s"$kind.cpu", mutable.ArrayBuffer.empty) +=
        (Run.processCpuNs - cpu0) / 1e9
      Some((r, d))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    } finally graft.Scratch.release()
  }

  /** Heap still in use right after a full GC, in MB. */
  private def heapAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Runs `n` calibration blocks, recorded as samples of `kind`. */
  def calibrate(n: Int, kind: String = "calib"): Unit =
    (0 until n).foreach { _ =>
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += calibration.block()
    }

  /** Calls `step(i)` for i = 0, 1, ... until `seconds` have passed
    * (at least once).
    */
  def measure(step: Int => Unit): Unit = steps(None)(step)

  /** Calls `step(i)` for i = 0 until `n`. */
  def repeat(n: Int)(step: Int => Unit): Unit = steps(Some(n))(step)

  /** The timed steps. After each step, untimed: two calibration blocks,
    * then a full GC whose post-GC heap is a sample of what the step left
    * held. The GC watch keeps the largest post-GC heap of every
    * collection meanwhile, the steps' own young GCs included.
    */
  private def steps(count: Option[Int])(step: Int => Unit): Unit = {
    heapAfterGc() // the set-up's garbage is not the first step's
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    gcWatch.start()
    try
      while (count.fold(i == 0 || System.nanoTime() < end)(i < _)) {
        step(i)
        calibrate(2)
        heapAfterOp += heapAfterGc()
        i += 1
      }
    finally gcWatch.stop()
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  def execute(): Boolean = {
    val ok =
      try {
        calibrate(3, "calib_jit")
        calibrate(3)
        workload match {
          case "analyze_raw" => new AnalyzeRaw(this).run()
          case "index_serve" => new IndexServe(this).run()
          case w => sys.error(s"unknown workload $w")
        }
        calibrate(3)
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          out("error") = e.toString
          false
      }
    PerfbenchBus.drain(spark.sparkContext)
    out("samples") = samples.map { case (k, v) => k -> v.toSeq }.toMap
    out("attempted") = attempted
    out("failed") = failed
    out("heap_mb_after_op") = heapAfterOp.toSeq
    out("heap_mb_gc_max") = gcWatch.maxMb
    out("checks") = checks.toSeq
    out("cores") = cores
    out("max_heap_mb") = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    out("spark_master") = spark.sparkContext.master
    out("spark_version") = spark.version
    if (tracer.enabled)
      out("spans") = (tracer.spans :+ listener.unattributed).map(_.toMap)
    Files.write(Paths.get(str("result")), Main.mapper.writeValueAsBytes(out.toMap))
    calibration.close()
    gcWatch.close()
    spark.stop()
    ok
  }
}

object Run {
  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  /** CPU time of the whole JVM (all threads: tasks, JIT, GC), in ns. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Total bytes and files under a directory (0 when absent). */
  def du(dir: String): (Long, Long) = {
    val root = new File(dir)
    if (!root.exists()) (0L, 0L)
    else {
      val files = Files.walk(root.toPath).filter(p => Files.isRegularFile(p))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.map(p => Files.size(p)).sum, files.length.toLong)
    }
  }

  def readText(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  def longs(df: DataFrame, c: String): Set[Long] =
    df.select(col(c).cast("long")).collect().map(_.getLong(0)).toSet
}

/** A fixed CPU and memory workload that calls nothing of the program:
  * `threads` threads each fill a seeded array, sort it and count its
  * low bits in a hash map. A block's wall time tracks how fast the host
  * runs at that moment; run.py scales the time metrics by the run's
  * median block, so a host that is slower for a while does not read as
  * a slower program.
  */
final class Calibration(threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-calibration")
    t.setDaemon(true)
    t
  })

  private def task(seed: Long): Long = {
    val a = new Array[Long](1 << 17)
    var x = seed
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      i += 1
    }
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < a.length) {
      m.merge(a(i) & 0x7fffL, 1L, (p: java.lang.Long, q: java.lang.Long) => p + q)
      i += 4
    }
    a(a.length / 2) + m.size
  }

  /** Seconds for one block: every thread runs the task four times. */
  def block(): Double = {
    val t = System.nanoTime()
    val fs = (1 to threads).map(k => pool.submit(new Callable[Long] {
      def call(): Long = (1 to 4).map(r => task(k * 4 + r)).sum
    }))
    fs.foreach(_.get())
    Run.secs(t)
  }

  def close(): Unit = {
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** The largest heap in use right after any GC while started: young,
  * mixed and full collections alike, from the JVM's GC notifications.
  */
final class GcWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var on = false
  private val maxBytes = new AtomicLong(0L)
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      maxBytes.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def start(): Unit = on = true
  def stop(): Unit = on = false
  def maxMb: Double = maxBytes.get / (1024.0 * 1024.0)
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
