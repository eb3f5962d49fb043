package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.catalog.CqlCatalog
import graft.model.AnalysisConfig
import graft.parse.{EnrichSlowQuery, LogColumns, SlowQueryCatalog}

/** The parse + enrich pipeline: raw hit rows -> typed slow-query
  * events (reference: process_message + the five processors,
  * analyze_slow_queries.py:892-936, 570-839).
  *
  * The hot path is exactly TWO custom expression nodes — the lexer
  * ([[graft.parse.LexSlowQuery]]) and the fused enrichment
  * ([[graft.parse.EnrichSlowQuery]], which carries the driver-built
  * catalog maps to the executors). Earlier revisions composed the
  * same logic from ~10 stages of built-in Column functions; the
  * collapsed projection blew past the JVM's 64KB method limit, fell
  * out of whole-stage codegen, and the optimizer choked on the
  * duplicated alias trees. Two fused nodes keep the plan O(1) and
  * fully codegen'd.
  *
  * Every reference "raise -> skip row with warning" becomes a
  * null-producing expression plus an explicit filter, so one
  * malformed row costs O(1) and never fails the job (optimization
  * O10). No shuffle until aggregation.
  */
object SlowQueryPipeline {

  /** strptime('%Y-%m-%dT%H:%M:%S.%fZ') (analyze_slow_queries.py:913). */
  val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

  def catalogOf(config: AnalysisConfig): SlowQueryCatalog =
    SlowQueryCatalog(
      cfKs = CqlCatalog.cfKeyspaces(config.schema),
      tagKs = config.tags,
      pkIdx = config.schema.map { case (k, meta) => k -> meta.partitionKey },
      patterns = config.patterns,
      enrichDml = config.enrichDml)

  /** The fused enrichment as a Column. */
  def enrich(query: Column, bvStr: Column, tags: Column,
      catalog: SlowQueryCatalog): Column =
    ColumnBridge.column(EnrichSlowQuery(
      ColumnBridge.expression(query),
      ColumnBridge.expression(bvStr),
      ColumnBridge.expression(tags),
      catalog))

  /** Data-quality side channel: every raw hit classified by parse
    * outcome, counted — the Spark form of the reference's aggregated
    * warning report (AggregatedStreamHandler,
    * analyze_slow_queries.py:225-261, flushed sorted by count). One
    * narrow pass + one tiny aggregation; run it alongside parseEvents
    * to see what a corpus drops and why.
    */
  def dataQuality(raw: DataFrame, config: AnalysisConfig): DataFrame = {
    val catalog = catalogOf(config)
    lexed(raw)
      .select(
        when(col("lex").isNull, "not_slow_query")
          .when(col("timestamp").isNull, "bad_timestamp")
          .when(col("lex.duration").isNull, "bad_duration")
          .when(enrich(col("lex.query"), col("lex.bound_values"), col("tags"), catalog)
            .isNull, "no_processor")
          .otherwise("parsed").as("outcome"))
      .groupBy(col("outcome"))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("outcome"))
  }

  /** [[parseEvents]] with free-riding pipeline metrics — the Spark
    * form of the reference's Timer/warning counters
    * (analyze_slow_queries.py:151-261): an `Observation` attached to
    * the raw scan counts total hits and each skip class WITHOUT a
    * second pass; metrics become available after the first action on
    * the returned DataFrame (`observation.get`).
    */
  def parseEventsObserved(raw: DataFrame, config: AnalysisConfig)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation("graft_pipeline")
    val observed = lexed(raw).observe(obs,
      count(lit(1)).as("hits"),
      count(when(col("lex").isNull, 1)).as("not_slow_query"),
      count(when(col("lex").isNotNull && col("timestamp").isNull, 1))
        .as("bad_timestamp"),
      count(when(col("lex").isNotNull && col("timestamp").isNotNull &&
        col("lex.duration").isNull, 1)).as("bad_duration"))
    (finishParse(observed, catalogOf(config)), obs)
  }

  /** Parse raw hit rows (timestamp_str, message, tags) into the event
    * schema (type, timestamp, duration, query, bound_values,
    * primary_key, keyspace, column_family, tags).
    */
  def parseEvents(raw: DataFrame, config: AnalysisConfig): DataFrame =
    finishParse(lexed(raw), catalogOf(config))

  /** The lex projection every parse entry point starts from: raw hit
    * rows (timestamp_str, message, tags) -> (lex, timestamp, tags).
    */
  private def lexed(raw: DataFrame): DataFrame =
    raw.select(
      LogColumns.lex(col("message")).as("lex"),
      LogColumns.kibanaTimestamp(col("timestamp_str")).as("timestamp"),
      col("tags"))

  /** Post-lex stages shared by [[parseEvents]] and [[parseEventsObserved]]. */
  private def finishParse(lexed: DataFrame, catalog: SlowQueryCatalog): DataFrame = {
    lexed
      // get_log raise / strptime raise / int() raise
      // -> row skipped (analyze_slow_queries.py:1299-1300)
      .filter(col("lex").isNotNull && col("timestamp").isNotNull &&
        col("lex.duration").isNotNull)
      .select(
        col("timestamp"),
        col("lex.duration").as("duration"),
        enrich(col("lex.query"), col("lex.bound_values"), col("tags"), catalog)
          .as("en"),
        col("tags"))
      // no processor matched / multi-dot table segment -> row skipped
      .filter(col("en").isNotNull)
      .select(
        col("en.type").as("type"),
        col("timestamp"),
        col("duration"),
        col("en.query").as("query"),
        col("en.bound_values").as("bound_values"),
        col("en.primary_key").as("primary_key"),
        col("en.keyspace").as("keyspace"),
        col("en.column_family").as("column_family"),
        col("tags"))
  }
}
