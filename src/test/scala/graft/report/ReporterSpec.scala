package graft.report

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.analyze.{Analyzer, SlowQueryPipeline}
import graft.analyze.Analyzer.Reports
import graft.catalog.CqlCatalog
import graft.ingest.KibanaReader
import graft.model.AnalysisConfig

/** Golden CSV fixtures (SURVEY.md §5.4): the five report artifacts
  * byte-compared against expected content, mirroring the reference's
  * slow_queries / slow_primary_keys / primary_keys / volume /
  * volume_top_n CSVs (analyze_slow_queries.py:1148-1246).
  */
class ReporterSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "ReporterSpec")

  private def csvContent(dir: Path, report: String): String =
    Files.list(dir.resolve(report)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))
      .mkString

  test("five reports match golden bytes") {
    val fixture = Files.createTempFile("kibana", ".json")
    Files.writeString(fixture,
      """{"responses":[{"hits":{"total":4,"hits":[
        |{"_source":{"@timestamp":"2026-08-12T15:45:01.000000Z","message":"W Query too slow, took 100 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u1']"}},
        |{"_source":{"@timestamp":"2026-08-12T15:45:02.000000Z","message":"W Query too slow, took 201 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u1']"}},
        |{"_source":{"@timestamp":"2026-08-12T15:46:01.000000Z","message":"W Query too slow, took 300 ms: BEGIN BATCH APPLY"}},
        |{"_source":{"@timestamp":"2026-08-12T15:46:02.000000Z","message":"W Query too slow, took 40 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u2']"}}
        |]}}]}""".stripMargin.replace("\n", ""))

    val config = AnalysisConfig(minCount = 1, orderBy = "duration",
      schema = CqlCatalog.parse(
        "CREATE TABLE ks1.users (\n  user_id uuid,\n  PRIMARY KEY (user_id)\n);"))
    val events = SlowQueryPipeline.parseEvents(
      KibanaReader.hits(spark, Seq(fixture.toString)), config)
    val out = Files.createTempDirectory("reports")
    Reporter.report(Analyzer.analyze(events, config), out.toString)

    assert(csvContent(out, "slow_queries") ==
      """Count,Duration,Avg. Duration,Query
        |3,341,113,SELECT * FROM ks1.users WHERE user_id=?;
        |1,300,300,BEGIN BATCH APPLY
        |""".stripMargin)

    assert(csvContent(out, "slow_primary_keys") ==
      """Count,Duration,Avg. Duration,Primary Key,Query
        |2,301,150,u1,SELECT * FROM ks1.users WHERE user_id=?;
        |1,40,40,u2,SELECT * FROM ks1.users WHERE user_id=?;
        |""".stripMargin)

    assert(csvContent(out, "primary_keys") ==
      """Count,Duration,Avg. Duration,Keyspace,Column Family,Primary Key
        |2,301,150,ks1,users,u1
        |1,40,40,ks1,users,u2
        |""".stripMargin)

    assert(csvContent(out, "volume") ==
      """Time,Count,Duration,Avg. Duration
        |2026-08-12 15:45,2,301,150
        |2026-08-12 15:46,2,340,170
        |""".stripMargin)

    assert(csvContent(out, "volume_top_n") ==
      """Time,Count,Duration,Avg. Duration,Primary Key,Query
        |2026-08-12 15:45,2,301,150,u1,SELECT * FROM ks1.users WHERE user_id=?;
        |2026-08-12 15:46,1,300,300,"",BEGIN BATCH APPLY
        |2026-08-12 15:46,1,40,40,u2,SELECT * FROM ks1.users WHERE user_id=?;
        |""".stripMargin)
  }

  /** Two events of one minute, every report non-empty at minCount 1. */
  private def smallReports(): Reports = {
    val page = Files.createTempFile("kibana", ".json")
    Files.writeString(page,
      """{"responses":[{"hits":{"total":2,"hits":[
        |{"_source":{"@timestamp":"2026-08-12T15:45:01.000000Z","message":"W Query too slow, took 100 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u1']"}},
        |{"_source":{"@timestamp":"2026-08-12T15:45:02.000000Z","message":"W Query too slow, took 300 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u2']"}}
        |]}}]}""".stripMargin.replace("\n", ""))
    val config = AnalysisConfig(minCount = 1)
    Analyzer.analyze(SlowQueryPipeline.parseEvents(
      KibanaReader.hits(spark, Seq(page.toString)), config), config)
  }

  test("a failing sink surfaces its cause after every other sink has finished") {
    val good = smallReports()
    val reports = good.copy(volume = good.volume.withColumn("avg_duration",
      raise_error(lit("sink-boom")).cast("long")))
    val out = Files.createTempDirectory("reports")
    val err = intercept[Exception](Reporter.report(reports, out.toString))
    assert(err.getMessage.contains("sink-boom"), err.getMessage)
    for (name <- Seq("slow_queries", "slow_primary_keys", "primary_keys", "volume_top_n"))
      assert(Files.exists(out.resolve(name).resolve("_SUCCESS")), name)
    ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("sink jobs keep the caller's job group") {
    val reports = smallReports()
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("reporter-spec", "report sinks", interruptOnCancel = false)
    try Reporter.report(reports, Files.createTempDirectory("reports").toString)
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(groups.size >= 5, groups)
    assert(groups.asScala.forall(_ == "reporter-spec"), groups)
  }
}
