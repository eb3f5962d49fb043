package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analyze.{Analyzer, SlowQueryPipeline}
import graft.catalog.CqlCatalog
import graft.ingest.KibanaReader
import graft.model.{AnalysisConfig, QueryPattern}
import graft.parse.LogColumns
import graft.report.Reporter
import graft.tools.AnalyzeSlowQueries

/** `analyze_raw`: each operation is one `AnalyzeSlowQueries.run` over
  * the generated `_msearch` pages, from Kibana JSON to five CSVs.
  *
  * A traced run alternates that call with a staged operation that
  * forces each seam through its public call, one after another: read,
  * lex, enrich, the observed parse and the data-quality rollup,
  * materialize, each of the five reports, then the CSVs.
  */
final class AnalyzeRaw(run: Run) {
  import run.{spark, tracer}

  private val in = run.section("analyze")
  private val pages = in("pages").asInstanceOf[Seq[Any]].map(_.toString)
  private val minCount = in("min_count").toString
  private val outDir = s"${run.work}/analyze-out"
  private val cliArgs = Array(outDir) ++ pages ++ Array(
    "--schema", in("schema").toString, "--queries", in("queries").toString,
    "--tags", in("tags").toString, "--min-count", minCount)

  private def plain(): Unit = AnalyzeSlowQueries.run(cliArgs, spark)

  /** The CLI's configuration, built from the same files. */
  private lazy val config: AnalysisConfig = {
    val patterns = Main.mapper.readValue(Run.readText(in("queries").toString),
      classOf[Seq[Map[String, Any]]]).map { m =>
      QueryPattern(m("start").toString,
        m("parameters").asInstanceOf[Seq[Any]].map(_.toString))
    }
    AnalysisConfig(
      minCount = minCount.toInt,
      schema = CqlCatalog.parse(Run.readText(in("schema").toString)),
      patterns = patterns,
      tags = Main.mapper.readValue(Run.readText(in("tags").toString),
        classOf[Map[String, String]]))
  }

  private def staged(): Unit = tracer.traced(tracer.span("op") {
    val hits = tracer.span("ingest.read") {
      val h = KibanaReader.hits(spark, pages).cache()
      tracer.note("hits", h.count())
      h
    }
    val lexed = tracer.span("parse.lex") {
      val l = hits.select(
        LogColumns.lex(col("message")).as("lex"),
        LogColumns.kibanaTimestamp(col("timestamp_str")).as("timestamp"),
        col("tags")).cache()
      l.count()
      l
    }
    tracer.span("parse.enrich") {
      val catalog = SlowQueryPipeline.catalogOf(config)
      tracer.note("enriched", lexed
        .filter(col("lex").isNotNull && col("timestamp").isNotNull &&
          col("lex.duration").isNotNull)
        .select(SlowQueryPipeline.enrich(col("lex.query"), col("lex.bound_values"),
          col("tags"), catalog).as("en"))
        .filter(col("en").isNotNull)
        .count())
    }
    val events = tracer.span("parse.observe") {
      val (ev, obs) = SlowQueryPipeline.parseEventsObserved(hits, config)
      val cached = ev.cache()
      tracer.note("events", cached.count())
      obs.get.foreach { case (k, v) => tracer.note(s"observed.$k", v.toString.toLong) }
      cached
    }
    tracer.span("parse.quality") {
      SlowQueryPipeline.dataQuality(hits, config).collect()
        .foreach(r => tracer.note(s"quality.${r.getString(0)}", r.getLong(1)))
    }
    tracer.span("report.materialize") {
      Reporter.materialize(events, s"$outDir/processed")
    }
    def report(name: String)(df: => DataFrame): DataFrame =
      tracer.span(s"analyze.$name") {
        val c = df.cache()
        c.count()
        c
      }
    val reports = Analyzer.Reports(
      query = report("query")(Analyzer.queryReport(events, config)),
      queryPk = report("query_pk")(Analyzer.queryPkReport(events, config)),
      primaryKey = report("primary_key")(Analyzer.primaryKeyReport(events, config)),
      volume = report("volume")(Analyzer.volumeReport(events, config)),
      volumeTop = report("volume_top")(Analyzer.volumeTopReport(events, config)))
    tracer.span("report.csv")(Reporter.report(reports, outDir))
    Seq(reports.query, reports.queryPk, reports.primaryKey, reports.volume,
      reports.volumeTop, events, lexed, hits).foreach(_.unpersist(false))
  })

  def run(): Unit = {
    // untimed runs until the JIT settles: the first compiles the plans
    run.out("warmup_s") = (0 until 3).flatMap { _ =>
      val r = run.attempt("warmup")(plain())
      run.calibrate(1)
      r
    }.map(_._2).sum
    if (!tracer.enabled) {
      run.measure(_ => run.attempt("op")(plain()))
    } else {
      run.attempt("warmup_traced")(staged())
      run.measure { _ =>
        run.attempt("op")(plain())
        run.attempt("op_traced")(staged())
      }
    }
    verify()
  }

  /** Untimed: the skip classes and event count the program observes,
    * for run.py to compare with the generator's ground truth, which it
    * also does for the `volume` CSV the last operation wrote.
    */
  private def verify(): Unit = {
    val quality = SlowQueryPipeline.dataQuality(KibanaReader.hits(spark, pages), config)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val processed = Reporter.readMaterialized(spark, s"$outDir/processed").count()
    run.out("observed") = quality + ("processed_events" -> processed)
    run.out("out_dir") = outDir
  }
}
