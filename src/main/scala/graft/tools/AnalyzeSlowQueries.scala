package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.GraftSession
import graft.analyze.{Analyzer, SlowQueryPipeline}
import graft.catalog.CqlCatalog
import graft.ingest.KibanaReader
import graft.model.{AnalysisConfig, QueryPattern}
import graft.report.Reporter

/** CLI counterpart of the reference's `analyze_slow_queries.py`
  * (reference: analyze_slow_queries.py:1309-1335): Kibana JSON in,
  * five CSV reports out.
  *
  * Usage:
  *   AnalyzeSlowQueries <outDir> <jsonPathOrGlob>... [--schema f.cql]
  *     [--queries f.json] [--tags f.json] [--top-n N]
  *     [--rows-per-minute N] [--order-by count|duration|avg_duration]
  *     [--min-count N] [--processed dir]
  *
  * --processed re-analyzes a previous run's materialized events
  * (the `<outDir>/processed` JSON, reference's processed.json
  * re-analysis workflow) instead of parsing raw pages; positional
  * paths are then ignored.
  *
  * queries file format (reference :27-36): JSON array of
  *   {"start": "...", "parameters": ["...", ...]}
  * tags file format (reference :38-39): JSON object tag -> keyspace.
  */
object AnalyzeSlowQueries {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.tune(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-analyze-slow-queries")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    run(args, spark)
    spark.stop()
  }

  /** The whole CLI chain minus session lifecycle — e2e-testable
    * (CliSpec drives it on fixture pages against golden CSVs).
    */
  def run(args: Array[String], spark: SparkSession): Unit = {
    require(args.length >= 2, "usage: AnalyzeSlowQueries <outDir> <json>... [flags]")
    val outDir = args(0)
    val (flags, files) = parseArgs(args.drop(1).toList)
    require(flags.contains("processed") || files.nonEmpty,
      "provide input JSON paths or --processed <dir>")

    val schema = flags.get("schema")
      .map(f => CqlCatalog.parse(read(f)))
      .getOrElse(Map.empty)
    val patterns = flags.get("queries").map(f => parsePatterns(read(f))).getOrElse(Nil)
    val tags = flags.get("tags").map(f => parseTagMap(read(f))).getOrElse(Map.empty[String, String])

    val config = AnalysisConfig(
      topN = flags.getOrElse("top-n", "100").toInt,
      rowsPerMinute = flags.getOrElse("rows-per-minute", "5").toInt,
      orderBy = flags.getOrElse("order-by", "duration"),
      minCount = flags.getOrElse("min-count", "5").toInt,
      schema = schema,
      patterns = patterns,
      tags = tags)

    val (events, eventCount) = flags.get("processed") match {
      case Some(dir) =>
        // filled by one serial job: an Observation on a cache the five
        // concurrent report sinks fill could read before every task
        // that computed a shared block had reported its count
        val ev = Reporter.readMaterialized(spark, dir).cache()
        (ev, ev.count())
      case None =>
        val (parsed, skips) = SlowQueryPipeline
          .parseEventsObserved(KibanaReader.hits(spark, files), config)
        val rows = new Observation("graft_events")
        val ev = parsed.observe(rows, count(lit(1)).as("events")).cache()
        Reporter.materialize(ev, s"$outDir/processed")
        val n = rows.get("events").asInstanceOf[Long]
        println(skipSummary(skips.get.map { case (k, v) => k -> v.asInstanceOf[Long] }, n))
        (ev, n)
    }
    val reports = Analyzer.analyze(events, config)
    Reporter.report(reports, outDir)
    println(s"[graft] wrote reports to $outDir (events=$eventCount)")
    events.unpersist()
  }

  /** The reference's skip classes (analyze_slow_queries.py:225-261) as
    * one line: every hit is one skip class or one event, so
    * `no_processor` is what the observed classes and the events leave.
    */
  private def skipSummary(observed: Map[String, Long], events: Long): String = {
    val classes = Seq("not_slow_query", "bad_timestamp", "bad_duration")
    val hits = observed("hits")
    val noProcessor = hits - classes.map(observed).sum - events
    (Seq("hits" -> hits) ++ classes.map(c => c -> observed(c)) ++
      Seq("no_processor" -> noProcessor, "events" -> events))
      .map { case (k, v) => s"$k=$v" }
      .mkString("[graft] parsed ", " ", "")
  }

  private def parseArgs(args: List[String]): (Map[String, String], Seq[String]) = {
    var flags = Map.empty[String, String]
    var files = Vector.empty[String]
    var rest = args
    while (rest.nonEmpty) rest match {
      case flag :: v :: _ if flag.startsWith("--") && v.startsWith("--") =>
        throw new IllegalArgumentException(s"flag $flag requires a value")
      case flag :: v :: tail if flag.startsWith("--") =>
        flags += (flag.stripPrefix("--") -> v); rest = tail
      case flag :: Nil if flag.startsWith("--") =>
        throw new IllegalArgumentException(s"flag $flag requires a value")
      case f :: tail => files :+= f; rest = tail
      case Nil => ()
    }
    (flags, files)
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** Minimal JSON parsing for the two small config files, via Spark's
    * own Jackson (no extra deps allowed in this build).
    */
  private def mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  private def parsePatterns(json: String): Seq[QueryPattern] =
    mapper.readValue(json, classOf[Seq[Map[String, Any]]]).map { m =>
      QueryPattern(
        m("start").toString,
        m("parameters").asInstanceOf[Seq[Any]].map(_.toString))
    }

  private def parseTagMap(json: String): Map[String, String] =
    mapper.readValue(json, classOf[Map[String, String]])
}
