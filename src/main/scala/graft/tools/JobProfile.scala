package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.GraftSession

/** Per-JOB wall-clock profile of registry queries (round 17
  * measurement harness, optimization guide §1): registers a listener
  * that records every Spark job's duration and call site, runs the
  * named queries exactly as Bench does (toRdd materialization), and
  * prints jobs sorted by cost plus a call-site rollup. The call site
  * (`count at IndexCorpus.scala:413`) names the operator phase that
  * scheduled the job, so the phase split of a multi-command lifecycle
  * query (build / ingest / compact / search) is readable without
  * instrumenting the operators themselves. Gaps between job wall time
  * and query wall time are driver-side work (planning, manifest I/O,
  * collect-side math).
  *
  * Usage: sbt "runMain graft.tools.JobProfile q262_sq8_index_search ..."
  *   SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1);
  *   SPARK_GRAFT_CPUS the core count (default 32, the driver's bench
  *   shape); repeat a name to see warm-vs-cold.
  */
object JobProfile {
  private[tools] final case class JobRec(id: Int, site: String, ms: Long,
    execId: String)

  /** Is `j` a thread-pool job — a broadcast, subquery or adaptive
    * stage job its SQL execution spawned off the caller's thread? It
    * is when it carries an execution id and its call site differs from
    * that execution's own call site (`execSites`, the action that
    * started it, e.g. `collect at Foo.scala:12`). A pool job's site is
    * wherever the pool thread started (`CompletableFuture`,
    * `ThreadPoolExecutor`, `FutureTask` — it varies by Spark version),
    * so no site pattern can recognize it. The execution's FIRST job is
    * no owner either: a broadcast job is submitted before the action's
    * own job, and under adaptive execution every job of an execution
    * starts on the pool.
    */
  private[tools] def isPoolJob(j: JobRec, execSites: Map[String, String]): Boolean =
    j.execId.nonEmpty && execSites.get(j.execId).exists(_ != j.site)

  /** The jobs with every pool job charged to its execution's call site
    * (marked `[pool]`); other jobs unchanged.
    */
  private[tools] def attributed(jobs: Seq[JobRec],
      execSites: Map[String, String]): Seq[JobRec] =
    jobs.map(j =>
      if (isPoolJob(j, execSites)) j.copy(site = execSites(j.execId) + " [pool]")
      else j)

  /** Records every finished job's duration, call site and SQL
    * execution id, and every SQL execution's call site.
    */
  private[tools] final class Recorder extends SparkListener {
    private val starts = mutable.Map.empty[Int, (Long, String, String)]
    private val jobs = mutable.ArrayBuffer.empty[JobRec]
    private val execSites = mutable.Map.empty[String, String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the action's call site arrives as the job's result-stage name
      // (callSite.short), e.g. "count at IndexCorpus.scala:413"
      val site = e.stageInfos.lastOption.map(_.name)
        .orElse(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("?")
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .getOrElse("")
      starts(e.jobId) = (e.time, site, execId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(e.jobId).foreach { case (t0, site, execId) =>
        jobs += JobRec(e.jobId, site, e.time - t0, execId)
      }
    }
    // the execution's description is its call site unless the caller
    // set a job description
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { execSites(x.executionId.toString) = x.description }
      case _ =>
    }

    def clear(): Unit = synchronized { jobs.clear() }
    def snapshot(): (Vector[JobRec], Map[String, String]) =
      synchronized { (jobs.toVector, execSites.toMap) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-job-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)

    // same warm-up as Bench: JVM/codegen/FS init must not be charged
    // to the first profiled query
    spark.range(16).repartition(4).count()
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      li.groupBy("l_returnflag").count()
        .queryExecution.toRdd.foreach(_ => ())
    } catch { case _: Throwable => () }

    val names = if (args.nonEmpty) args.toSeq else Seq("q262_sq8_index_search")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      rec.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      val wallMs = (System.nanoTime() - t0) / 1e6
      graft.Scratch.release()
      // listener events are delivered asynchronously; settle briefly
      // so tail JobEnd events land before the snapshot (round-18
      // ADVICE fix — a missed tail job under-counted job time and
      // inflated the reported driver gap)
      Thread.sleep(300)
      val (snap, execSites) = rec.snapshot()
      val jobMs = snap.map(_.ms).sum
      println(f"%n==== $name: wall ${wallMs / 1000}%.3f s, " +
        f"${snap.size} jobs, job-time ${jobMs / 1000.0}%.3f s, " +
        f"driver gap ${(wallMs - jobMs) / 1000.0}%.3f s ====")
      println("-- jobs over 50 ms, slowest first --")
      snap.sortBy(-_.ms).takeWhile(_.ms >= 50).foreach { j =>
        println(f"  ${j.ms}%6d ms  job ${j.id}%4d  ${j.site}")
      }
      println("-- call-site rollup --")
      snap.groupBy(_.site).toSeq
        .map { case (s, js) => (s, js.size, js.map(_.ms).sum) }
        .sortBy(-_._3)
        .foreach { case (s, n, ms) =>
          println(f"  $ms%6d ms  $n%3d jobs  $s")
        }
      println("-- rollup with pool jobs charged to their execution --")
      attributed(snap, execSites)
        .groupBy(_.site).toSeq
        .map { case (s, js) => (s, js.size, js.map(_.ms).sum) }
        .sortBy(-_._3)
        .foreach { case (s, n, ms) =>
          println(f"  $ms%6d ms  $n%3d jobs  $s")
        }
    }
    spark.stop()
  }
}
