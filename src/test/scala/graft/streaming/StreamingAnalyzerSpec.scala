package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class StreamingAnalyzerSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "StreamingAnalyzerSpec")

  test("volumePerMinute aggregates tumbling windows incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("timestamp", "duration")

    val q = StreamingAnalyzer.volumePerMinute(events)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("vol").start()

    mem.addData(
      (Timestamp.valueOf("2026-08-12 10:00:01"), 100L),
      (Timestamp.valueOf("2026-08-12 10:00:30"), 201L),
      (Timestamp.valueOf("2026-08-12 10:01:10"), 50L))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2026-08-12 10:00:59"), 99L))
    q.processAllAvailable()
    // update mode re-emits a row per refinement; the latest state per
    // minute has the highest count -> max(struct) picks it atomically
    val rows = spark.table("vol")
      .groupBy("minute")
      .agg(max(struct("count", "duration", "avg_duration")).as("s"))
      .select("minute", "s.count", "s.duration", "s.avg_duration")
      .orderBy("minute").collect()
    q.stop()

    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq(("2026-08-12 10:00", 3L, 400L, 133L), ("2026-08-12 10:01", 1L, 50L, 50L)))
  }

  test("append-mode volume-top windows finalize and rank via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, String)]
    val events = mem.toDF().toDF("timestamp", "duration", "query", "primary_key")

    val ranked = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val q = StreamingAnalyzer.volumeTopPerMinute(events, watermark = "0 seconds")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingAnalyzer.rankPerMinute(batch, rowsPerMinute = 1, orderBy = "count")
          .collect().foreach(r => ranked.synchronized {
            ranked += ((r.getAs[String]("minute"), r.getAs[String]("query"),
              r.getAs[Long]("count")))
          })
        ()
      }
      .start()

    mem.addData(
      (Timestamp.valueOf("2026-08-12 10:00:01"), 10L, "Q1", "p"),
      (Timestamp.valueOf("2026-08-12 10:00:02"), 10L, "Q1", "p"),
      (Timestamp.valueOf("2026-08-12 10:00:03"), 10L, "Q2", "p"))
    q.processAllAvailable()
    // advancing event time past the window closes 10:00
    mem.addData((Timestamp.valueOf("2026-08-12 10:05:00"), 1L, "Q9", "p"))
    q.processAllAvailable()
    q.stop()

    assert(ranked.toList == List(("2026-08-12 10:00", "Q1", 2L))) // top-1 only
  }

  test("streaming dedup drops in-watermark duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val events = mem.toDF().toDF("timestamp", "doc_key")
    val q = StreamingAnalyzer.dedupStream(events, Seq("doc_key"), "timestamp", "10 minutes")
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    mem.addData(
      (Timestamp.valueOf("2026-08-12 10:00:01"), "A"),
      (Timestamp.valueOf("2026-08-12 10:00:02"), "A"), // dup, same batch
      (Timestamp.valueOf("2026-08-12 10:00:03"), "B"))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2026-08-12 10:01:00"), "A")) // dup, later batch
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_out").collect().map(_.getString(1)).sorted
    assert(keys.toSeq == Seq("A", "B"))
  }

  test("interval join matches in-window pairs and evicts state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, Long, Timestamp)]
    val rMem = MemoryStream[(Long, Long, Timestamp)]
    val left = lMem.toDF().toDF("l_user", "signup_id", "lts")
    val right = rMem.toDF().toDF("r_user", "purchase_id", "rts")
    val q = StreamingAnalyzer.intervalJoinStream(left, right,
      "l_user = r_user", "lts", "rts", within = "1 HOUR",
      watermark = "10 minutes")
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("ssj").start()

    // batch 1: a signup, plus an in-window purchase -> one pair
    lMem.addData((1L, 100L, Timestamp.valueOf("2026-08-12 10:00:00")))
    rMem.addData((1L, 200L, Timestamp.valueOf("2026-08-12 10:30:00")))
    q.processAllAvailable()
    // batch 2: advance both watermarks far past the signup's match
    // window (10:00 + 1h + 10min delay)
    lMem.addData((9L, 999L, Timestamp.valueOf("2026-08-12 15:00:00")))
    rMem.addData((9L, 998L, Timestamp.valueOf("2026-08-12 15:00:01")))
    q.processAllAvailable()
    // batch 3: a LATE purchase that would match user 1's signup — its
    // event time is behind the watermark, so the signup's state is
    // gone and no pair may appear
    rMem.addData((1L, 201L, Timestamp.valueOf("2026-08-12 10:45:00")))
    q.processAllAvailable()

    val pairs = spark.table("ssj")
      .select($"signup_id", $"purchase_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(pairs.contains((100L, 200L)))   // in-window pair emitted
    assert(pairs.contains((999L, 998L)))   // watermark-advancing pair
    assert(!pairs.contains((100L, 201L)),
      "late row behind the watermark must not join — state was evicted")
  }

  test("streaming dedup state is bounded by the watermark horizon: " +
    "8x the input keeps the same state ceiling as 2x") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // keysPerMinute distinct keys per event-minute, fed in 4-minute
    // micro-batches; dropDuplicatesWithinWatermark must evict keys
    // behind the 10-minute horizon, so the state ceiling depends on
    // horizon x rate, NEVER on total input volume — the SCALING.md
    // flat-state claim, asserted in-spec at two input scales.
    val keysPerMinute = 25
    val horizonMinutes = 10
    val batchSpan = 4
    def run(totalMinutes: Int, name: String): (Long, Long) = {
      val mem = MemoryStream[(Timestamp, String)]
      val q = StreamingAnalyzer.dedupStream(
          mem.toDF().toDF("timestamp", "doc_key"),
          Seq("doc_key"), "timestamp", s"$horizonMinutes minutes")
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName(name).start()
      (0 until totalMinutes by batchSpan).foreach { m0 =>
        mem.addData((m0 until m0 + batchSpan).flatMap { m =>
          (0 until keysPerMinute).map(i =>
            (new Timestamp(Timestamp.valueOf("2026-08-12 10:00:00").getTime
              + m * 60000L), s"k_${m}_$i"))
        })
        q.processAllAvailable()
      }
      val lastState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val maxState = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)
      q.stop()
      (lastState, maxState)
    }
    val (last2x, max2x) = run(2 * horizonMinutes, "dedup_state_2x")   // 500 keys
    val (last8x, max8x) = run(8 * horizonMinutes, "dedup_state_8x")   // 2000 keys
    // ceiling: dropDuplicatesWithinWatermark keeps an entry until the
    // watermark passes eventTime + delay, and the watermark itself
    // lags maxEventTime by delay — so the live span is 2 x horizon,
    // plus batch-granularity slack (watermark advances at batch ends,
    // eviction lags one batch plus the in-flight span). Measured: 600
    // rows = 24 event-minutes of keys at both input scales.
    val bound = keysPerMinute.toLong * (2 * horizonMinutes + 2 * batchSpan)
    assert(max2x <= bound, s"2x max state $max2x > bound $bound")
    assert(max8x <= bound, s"8x max state $max8x > bound $bound")
    // flat across input scale: 4x more input (2000 distinct keys fed
    // vs 500), same state ceiling — volume-independent by horizon
    assert(max8x <= max2x + keysPerMinute * 2 * batchSpan,
      s"state grew with input volume: 2x last=$last2x/max=$max2x, " +
        s"8x last=$last8x/max=$max8x")
  }

  test("streaming misra-gries keeps ONE state row regardless of key cardinality") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("key")
      .agg(graft.ops.HeavyHitters.candidates(
        org.apache.spark.sql.functions.col("key"), 8).as("cand"))
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("mg_state").start()
    // 3 micro-batches, 3000 distinct keys + one hot key at 1/3 mass
    (0 until 3).foreach { b =>
      mem.addData((0 until 1000).flatMap(i =>
        Seq("hot", s"cold_${b}_$i")))
      q.processAllAvailable()
    }
    val maxState = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)
    val cand = spark.table("mg_state").head().getSeq[String](0)
    q.stop()
    // the q130 claim, measured: 6000 input rows / 3001 distinct keys
    // -> state is the single k-counter buffer row, and the hot key
    // (freq n/2 > n/9) survived every micro-batch merge
    assert(maxState == 1L, s"state rows = $maxState")
    assert(cand.contains("hot"))
  }
}
