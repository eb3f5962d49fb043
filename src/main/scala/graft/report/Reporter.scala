package graft.report

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.analyze.Analyzer.Reports

/** S9 — CSV report sinks with the reference's exact headers
  * (analyze_slow_queries.py:1155,1174,1194,1215,1234) plus the S8
  * processed-events JSON materialization.
  *
  * `coalesce(1)` matches the reference's single-file artifacts; the
  * upstream aggregations have already reduced to report-sized data.
  * The five sinks are independent reads of the same cached events, so
  * [[report]] fans them out: each sink plans and runs its jobs on its
  * own driver thread, and Spark's scheduler interleaves the five
  * reports' small stages on cores a serial chain would leave idle.
  */
object Reporter {

  private def writeCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)

  def report(reports: Reports, outDir: String): Unit = writeAll(outDir, Seq(
    "slow_queries" -> reports.query.select(
      col("count").as("Count"),
      col("duration").as("Duration"),
      col("avg_duration").as("Avg. Duration"),
      col("query").as("Query")),
    "slow_primary_keys" -> reports.queryPk.select(
      col("count").as("Count"),
      col("duration").as("Duration"),
      col("avg_duration").as("Avg. Duration"),
      col("primary_key").as("Primary Key"),
      col("query").as("Query")),
    "primary_keys" -> reports.primaryKey.select(
      col("count").as("Count"),
      col("duration").as("Duration"),
      col("avg_duration").as("Avg. Duration"),
      col("keyspace").as("Keyspace"),
      col("column_family").as("Column Family"),
      col("primary_key").as("Primary Key")),
    "volume" -> reports.volume.select(
      col("minute").as("Time"),
      col("count").as("Count"),
      col("duration").as("Duration"),
      col("avg_duration").as("Avg. Duration")),
    "volume_top_n" -> reports.volumeTop.select(
      col("minute").as("Time"),
      col("count").as("Count"),
      col("duration").as("Duration"),
      col("avg_duration").as("Avg. Duration"),
      col("primary_key").as("Primary Key"),
      col("query").as("Query"))))

  /** Writes every sink on its own thread and returns once all have
    * finished. The threads are created by this call, so each inherits
    * the caller's Spark local properties (job group, description,
    * scheduler pool). A failure is rethrown only after every sink has
    * ended, so no sink job outlives the call: the first failure in
    * sink order, with the others attached as suppressed.
    */
  private def writeAll(outDir: String, sinks: Seq[(String, DataFrame)]): Unit = {
    val pool = Executors.newFixedThreadPool(sinks.size)
    try {
      val pending = sinks.map { case (name, df) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = writeCsv(df, s"$outDir/$name")
        })
      }
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** Timestamp format for the JSON materialization round-trip: Spark's
    * default writes milliseconds only, silently truncating the
    * microsecond precision the parse path produced.
    */
  val MaterializeTsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** S8 — durable intermediate materialization of parsed events
    * (analyze_slow_queries.py:140-142).
    */
  def materialize(events: DataFrame, dir: String): Unit =
    events.write.mode("overwrite")
      .option("timestampFormat", MaterializeTsFmt)
      .json(dir)

  /** Read [[materialize]] output back with the event schema and the
    * matching timestamp format — the `--processed` re-analysis input.
    */
  def readMaterialized(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.schema(graft.model.Schemas.slowQueryEvent)
      .option("timestampFormat", MaterializeTsFmt)
      .json(dir)

  /** S8 at scale: parquet partitioned by statement type and day —
    * downstream per-type / per-day reads prune whole directories
    * (partition pruning), and parquet beats the reference's JSON dump
    * on both size and re-read cost.
    */
  def materializePartitioned(events: DataFrame, dir: String): Unit =
    events
      .withColumn("event_date",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("timestamp")))
      .write.mode("overwrite")
      .partitionBy("type", "event_date")
      .parquet(dir)
}
