package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming upgrades of the batch reports (SURVEY.md
  * §2.10): the reference is batch-only, but its per-minute volume
  * aggregation (A4/A5) is a tumbling window away from a stream.
  *
  * Input contract: a streaming DataFrame with the parsed-event schema
  * (timestamp: timestamp, duration: long, query: string, ...) — the
  * parse pipeline (SlowQueryPipeline.parseEvents) is stateless
  * narrow-only, so it composes onto readStream unchanged.
  */
object StreamingAnalyzer {

  /** A4 as a streaming tumbling window: per-minute count/sum with a
    * watermark bounding state. Late rows beyond the watermark are
    * dropped (the reference had no late policy at all — rows landed
    * whenever processed; the watermark makes that bound explicit).
    */
  def volumePerMinute(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), "1 minute").as("w"))
      .agg(count(lit(1)).as("count"), sum(col("duration")).as("duration"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("minute"),
        col("count"), col("duration"),
        floor(col("duration") / col("count")).cast("long").as("avg_duration"))

  /** Hopping (sliding) windows: `width`-long windows emitted every
    * `slide` — each event lands in width/slide overlapping windows
    * (the "last 10 minutes, refreshed every 5" monitoring shape that
    * tumbling windows can't express). State per key is bounded by the
    * watermark exactly as in the tumbling case; the fan-out factor is
    * width/slide, paid at update time, not in state size.
    */
  def volumeHopping(events: DataFrame, width: String = "10 minutes",
      slide: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), width, slide).as("w"))
      .agg(count(lit(1)).as("count"), sum(col("duration")).as("duration"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("count"), col("duration"))

  /** Gap-merged session windows on a stream: per-user sessions that
    * extend while events arrive within `gap` of each other — the
    * streaming form of q43's batch session_window, with the state
    * store carrying open sessions that MERGE as micro-batches land
    * (two separate sessions join when a bridging event arrives; this
    * merge is what distinguishes session state from fixed windows).
    * Input contract: (user_id, tsm: timestamp, d: long).
    *
    * Run in Complete mode here so end-of-input equals the batch
    * result exactly (update mode is unsupported for session windows);
    * a production job uses append mode with a real watermark, which
    * both finalizes sessions and bounds state — per-key open-session
    * state, evicted at watermark + gap.
    */
  def sessionizeStream(events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("tsm", watermark)
      .groupBy(col("user_id"), session_window(col("tsm"), gap).as("w"))
      .agg(count(lit(1)).as("cnt"), sum(col("d")).as("dur"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("cnt"), col("dur"))

  /** Stream-stream interval join: left events matched to right events
    * with the same key whose time falls in (leftTs, leftTs + within].
    * Both sides carry watermarks and the join condition bounds event
    * time in BOTH directions, so Spark can evict state for rows whose
    * match window has passed — the state-bounded form of a streaming
    * join (an unconstrained stream-stream join would buffer forever).
    * Column names must already be disambiguated by the caller.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      joinKey: String, leftTs: String, rightTs: String,
      within: String, watermark: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$joinKey AND $rightTs > $leftTs AND " +
          s"$rightTs <= $leftTs + INTERVAL $within"))

  /** A5 as a streaming window: per (minute, query) aggregates. The W1
    * per-minute ranking is done per finalized window downstream
    * (foreachBatch + the batch Analyzer), because rank-over-updating-
    * state is not expressible incrementally.
    */
  def volumeTopPerMinute(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), "1 minute").as("w"),
        col("query"), col("primary_key"))
      .agg(count(lit(1)).as("count"), sum(col("duration")).as("duration"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("minute"),
        col("query"), col("primary_key"), col("count"), col("duration"))

  /** W1 applied to a finalized micro-batch of volumeTopPerMinute
    * output: per-minute top-N ranking with the batch Analyzer's
    * deterministic tie-breaks. Rank-over-updating-state is not
    * incrementally expressible, so the intended wiring is
    * append-output (watermark-finalized windows) + foreachBatch:
    *
    * {{{
    * volumeTopPerMinute(events).writeStream
    *   .outputMode(OutputMode.Append)
    *   .foreachBatch { (batch, _) =>
    *     sink(StreamingAnalyzer.rankPerMinute(batch, rowsPerMinute, "count"))
    *   }.start()
    * }}}
    */
  def rankPerMinute(batch: DataFrame, rowsPerMinute: Int,
      orderBy: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("minute"))
      .orderBy(col(orderBy).desc, col("query").asc, col("primary_key").asc)
    batch
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= rowsPerMinute)
      .drop("rn")
  }

  /** Streaming exact dedup: duplicates of the key columns arriving
    * within the watermark delay are dropped; state is bounded by the
    * watermark (the unbounded-state dropDuplicates footgun avoided).
    * The batch-side counterpart is Dedup.exactDedup.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String, delay: String): DataFrame =
    events
      .withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming n-gram decontamination: incoming docs are checked
    * against a STATIC test-set gram table via a stream-static
    * left-semi join (the static side broadcasts; no stream-side state
    * beyond the running per-doc aggregate). The batch counterpart is
    * the q74 bloom-pruned pipeline — on a stream the static side is
    * loaded once and every micro-batch probes it, which is exactly
    * the "check each arriving crawl shard against the eval set"
    * production shape.
    */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
      testGrams: DataFrame, n: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.ops.TextOps.ngramsDistinct(col(textCol), n)).as("gram"))
      .join(testGrams, Seq("gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
}
