package graft.analyze

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.SparkEntry
import graft.catalog.CqlCatalog
import graft.ingest.KibanaReader
import graft.model.AnalysisConfig

/** End-to-end pipeline over a Kibana fixture (FIXTURES.md shapes),
  * with hand-computed expected aggregates.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "PipelineSpec")

  private val cql =
    """CREATE TABLE ks1.users (
      |    user_id uuid,
      |    name text,
      |    PRIMARY KEY (user_id, name)
      |);""".stripMargin

  private def fixture(): String = {
    val f = Files.createTempFile("kibana", ".json")
    Files.writeString(f,
      """{"responses":[{"hits":{"total":5,"hits":[
        |{"_source":{"@timestamp":"2026-08-12T15:45:01.123456Z","message":"W Query too slow, took 100 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u1']","tags":["prod"]}},
        |{"_source":{"@timestamp":"2026-08-12T15:45:02.123456Z","message":"W Query too slow, took 200 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u1']"}},
        |{"_source":{"@timestamp":"2026-08-12T15:46:02.123456Z","@message":"W Query too slow, took 301 ms: INSERT INTO ks1.users (user_id) VALUES (1)"}},
        |{"_source":{"@timestamp":"2026-08-12T15:46:03.123456Z","message":"not slow"}},
        |{"_source":{"@timestamp":"bad-timestamp","message":"W Query too slow, took 1 ms: SELECT 1"}}
        |]}}]}""".stripMargin.replace("\n", ""))
    f.toString
  }

  test("full pipeline: ingest -> parse -> five reports") {
    val config = AnalysisConfig(minCount = 1, orderBy = "duration",
      schema = CqlCatalog.parse(cql))
    val raw = KibanaReader.hits(spark, Seq(fixture()))
    val events = SlowQueryPipeline.parseEvents(raw, config)
    assert(events.count() == 3) // non-slow + bad-timestamp dropped

    val reports = Analyzer.analyze(events, config)
    val q = reports.query.collect()
    assert(q.length == 2)
    // top by duration: INSERT 301 vs SELECT 100+200=300
    assert(q(0).getAs[String]("query") == "INSERT INTO ks1.users (user_id) VALUES (1)")
    assert(q(0).getAs[Long]("duration") == 301L)
    assert(q(1).getAs[Long]("count") == 2L)
    assert(q(1).getAs[Long]("avg_duration") == 150L)

    val pk = reports.primaryKey.collect()
    assert(pk.length == 1)
    assert(pk(0).getAs[String]("primary_key") == "u1")
    assert(pk(0).getAs[String]("keyspace") == "ks1")

    val vol = reports.volume.collect()
    assert(vol.map(_.getAs[String]("minute")).toSeq ==
      Seq("2026-08-12 15:45", "2026-08-12 15:46"))

    val vt = reports.volumeTop.collect()
    assert(vt.length == 2)
  }

  test("observed parse exposes skip-class metrics without a second pass") {
    val config = AnalysisConfig(minCount = 1, schema = CqlCatalog.parse(cql))
    val (events, obs) = SlowQueryPipeline.parseEventsObserved(
      KibanaReader.hits(spark, Seq(fixture())), config)
    assert(events.count() == 3)
    val m = obs.get
    assert(m("hits") == 4L) // prefiltered slow-query lines reaching lex
    assert(m("not_slow_query") == 0L) // P1 prefilter already dropped it
    assert(m("bad_timestamp") == 1L)
    assert(m("bad_duration") == 0L)
  }

  test("observed and plain parse agree, and the observation matches dataQuality") {
    val config = AnalysisConfig(minCount = 1, schema = CqlCatalog.parse(cql))
    val slow = "W Query too slow, took %s ms: %s"
    val users = "[1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u1']"
    val f = Files.createTempFile("kibana-skips", ".json")
    Files.writeString(f, Seq(
        "2026-08-12T15:47:00.000000Z" -> slow.format("600", users),
        "2026-08-12T15:47:00.500000Z" ->
          slow.format("650", "INSERT INTO ks1.users (user_id) VALUES (1)"),
        "2026-08-12T15:47:01.000000Z" -> "W Query too slow, and it took a while",
        "2026-08-12 15:47:02.000000Z" -> slow.format("700", users),
        "2026-08-12T15:47:03.000000Z" -> slow.format("n/a", users),
        "2026-08-12T15:47:04.000000Z" -> slow.format("800", "TRUNCATE ks1.users;"))
      .map { case (ts, msg) => s"""{"_source":{"@timestamp":"$ts","message":"$msg"}}""" }
      .mkString("""{"responses":[{"hits":{"total":6,"hits":[""", ",", "]}}]}"))
    def raw = KibanaReader.hits(spark, Seq(f.toString))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq

    val (observed, obs) = SlowQueryPipeline.parseEventsObserved(raw, config)
    val observedRows = rows(observed)
    assert(observedRows == rows(SlowQueryPipeline.parseEvents(raw, config)))

    val quality = SlowQueryPipeline.dataQuality(raw, config)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Seq("not_slow_query", "bad_timestamp", "bad_duration", "no_processor")
      .forall(quality.get(_).contains(1L)), quality)
    val m = obs.get
    assert(m("hits") == quality.values.sum)
    Seq("not_slow_query", "bad_timestamp", "bad_duration").foreach { k =>
      assert(m(k) == quality(k), k)
    }
    assert(observedRows.length.toLong == quality("parsed"))
    assert(observedRows.length == 2) // the SELECT and the INSERT
  }

  test("driver entry smoke: flagship returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("partitioned materialization prunes by type") {
    val config = AnalysisConfig(minCount = 1, schema = CqlCatalog.parse(cql))
    val events = SlowQueryPipeline.parseEvents(
      KibanaReader.hits(spark, Seq(fixture())), config)
    val dir = Files.createTempDirectory("partitioned").toString
    graft.report.Reporter.materializePartitioned(events, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition-pruned read touches only the SELECT directory
    val sel = back.filter(back("type") === "SELECT")
    assert(sel.count() == 2)
    assert(new java.io.File(dir, "type=SELECT").exists())
    assert(new java.io.File(dir, "type=INSERT").exists())
  }

  test("materialized events round-trip with microsecond fidelity") {
    val config = AnalysisConfig(minCount = 1, schema = CqlCatalog.parse(cql))
    val events = SlowQueryPipeline.parseEvents(
      KibanaReader.hits(spark, Seq(fixture())), config)
    val dir = Files.createTempDirectory("processed").toString
    graft.report.Reporter.materialize(events, dir)
    val back = graft.report.Reporter.readMaterialized(spark, dir)
    // same names and types (nullability legitimately loosens on read)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      events.schema.map(f => (f.name, f.dataType)))
    // the .123456 micros survive the write/read pairing exactly
    val orig = events.select("timestamp").collect()
      .map(_.getTimestamp(0)).sortBy(_.getTime)
    val round = back.select("timestamp").collect()
      .map(_.getTimestamp(0)).sortBy(_.getTime)
    assert(round.toSeq == orig.toSeq)
    assert(orig.head.getNanos % 1000000 != 0) // fixture really has micros
  }

  test("streaming ingest composes with the batch parse pipeline") {
    val config = AnalysisConfig(minCount = 1, orderBy = "duration",
      schema = CqlCatalog.parse(cql))
    val dir = Files.createTempDirectory("pages")
    Files.copy(java.nio.file.Paths.get(fixture()), dir.resolve("page0.json"))
    val stream = KibanaReader.hitsStream(spark, dir.toString)
    assert(stream.isStreaming)
    val events = SlowQueryPipeline.parseEvents(stream, config)
    val q = events.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("stream_events").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("stream_events").count() == 3) // same as batch
  }
}
