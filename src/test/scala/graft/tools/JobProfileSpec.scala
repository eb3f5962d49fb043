package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** JobProfile's pool-job attribution: the pure rule, and the recorder
  * that feeds it on a live session.
  */
class JobProfileSpec extends AnyFunSuite {
  import JobProfile.{JobRec, attributed, isPoolJob}

  lazy val spark = GraftSession.local(4, "JobProfileSpec")

  test("pool-job rule: an execution's job whose site differs from the " +
    "execution's call site is a pool job, whatever site the pool reports") {
    val execs = Map("1" -> "collect at Q.scala:9", "2" -> "count at Q.scala:12")
    val jobs = Seq(
      JobRec(0, "parquet at Q.scala:3", 5, ""), // no execution: never pool
      // a broadcast job is submitted BEFORE the action's own job
      JobRec(1, "run at ThreadPoolExecutor.java:1136", 7, "1"),
      JobRec(2, "collect at Q.scala:9", 11, "1"),
      JobRec(3, "$anonfun$withThreadLocalCaptured$2 at " +
        "CompletableFuture.java:1768", 13, "2"),
      JobRec(4, "run at FutureTask.java:264", 17, "2"),
      // its execution's start was never seen: left as it is
      JobRec(5, "run at FutureTask.java:264", 19, "9"))
    assert(jobs.map(isPoolJob(_, execs)) ==
      Seq(false, true, false, true, true, false))
    assert(attributed(jobs, execs).map(_.site) == Seq(
      "parquet at Q.scala:3", "collect at Q.scala:9 [pool]",
      "collect at Q.scala:9", "count at Q.scala:12 [pool]",
      "count at Q.scala:12 [pool]", "run at FutureTask.java:264"))
    assert(attributed(jobs, execs).map(_.ms) == jobs.map(_.ms))
  }

  test("Recorder: every job of a broadcast join rolls up to the action " +
    "that ran it, with and without adaptive execution") {
    val sc = spark.sparkContext
    val rec = new JobProfile.Recorder
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    sc.addSparkListener(rec)
    try {
      val facts = spark.range(20000).select((col("id") % 10).as("k"))
      val dim = spark.range(10).select(col("id").as("k"), (col("id") * 2).as("v"))
      for (aqe <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        org.apache.spark.ListenerBusDrain(sc)
        rec.clear()
        facts.join(broadcast(dim), "k").groupBy("v").count().collect()
        org.apache.spark.ListenerBusDrain(sc)
        val (jobs, execs) = rec.snapshot()
        assert(jobs.exists(isPoolJob(_, execs)), s"aqe=$aqe: no pool job in $jobs")
        val sites = attributed(jobs, execs).map(_.site.stripSuffix(" [pool]")).distinct
        assert(sites.size == 1 && sites.head.startsWith("collect at JobProfileSpec.scala"),
          s"aqe=$aqe: $sites")
      }
    } finally {
      sc.removeSparkListener(rec)
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None    => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }
}
