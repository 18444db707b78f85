package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.streaming.EventStreams.Event

class EventStreamsSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def ts(m: Int, s: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 00:$m%02d:$s%02d")

  test("windowed counts with watermark over a memory stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0, 10), 1, "click", 1.0),
      Event(2, ts(0, 40), 2, "click", 2.0),
      Event(3, ts(1, 10), 1, "view", 3.0))
    val q = EventStreams.windowedCounts(input.toDF(), "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("wc")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    val rows = spark.table("wc").collect()
    val clickWin = rows.find(_.getAs[String]("event_type") == "click").get
    clickWin.getAs[Long]("cnt") shouldBe 2
    clickWin.getAs[Double]("sum_value") shouldBe 3.0
    clickWin.getAs[Timestamp]("window_start") shouldBe ts(0)
    clickWin.getAs[Timestamp]("window_end") shouldBe ts(1)
  }

  test("sessionize closes a session on gap and keeps state across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 60 * 1000L,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // batch 1: two events 10s apart (one session), then a 5-minute gap
      input.addData(
        Event(1, ts(0, 0), 7, "click", 1.0),
        Event(2, ts(0, 10), 7, "view", 2.0))
      q.processAllAvailable()
      // batch 2: an event far past the gap closes the first session inline
      input.addData(Event(3, ts(5, 0), 7, "click", 4.0))
      q.processAllAvailable()

      val sessions = spark.table("sess").collect()
      sessions.length shouldBe 1
      val sess = sessions.head
      sess.getAs[Long]("user_id") shouldBe 7
      sess.getAs[Long]("n_events") shouldBe 2
      sess.getAs[Double]("total_value") shouldBe 3.0
      sess.getAs[Timestamp]("session_start") shouldBe ts(0, 0)
      sess.getAs[Timestamp]("session_end") shouldBe ts(0, 10)
    } finally q.stop()
  }

  test("interval join matches across restart cycles — buffered state survives the checkpoint") {
    val s = spark
    import s.implicits._
    // user 1: click in slice 1, purchase 30 min later in slice 2 — the
    // cross-restart pair a naive per-batch join would drop; user 2: both
    // in slice 1 (within-batch); user 3: purchase 2 h after the click,
    // outside the 1 h window — must NOT match
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(10), 2L, "click", 1.0),
      (3L, ts(20), 2L, "purchase", 1.0),
      (4L, ts(30), 3L, "click", 1.0),
      (5L, ts(40), 1L, "purchase", 1.0),
      (6L, ts(50), 9L, "view", 1.0),
      (7L, Timestamp.valueOf("2024-01-01 02:35:00"), 3L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val work = tmpDir("ijoin")
    val out = Replay.intervalJoinReplay(spark, ev, work, nBatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // ntile(2) over 7 time-ordered rows → slice 1 = events 1-4, slice 2 =
    // events 5-7: the (1,5) match spans the restart boundary
    out shouldBe Array((1L, 5L), (2L, 3L))
  }

  test("left-outer interval join defers nulls until the watermark proves no match") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(10), 2L, "click", 1.0),
      (3L, ts(20), 2L, "purchase", 1.0),
      (4L, ts(30), 3L, "click", 1.0),
      (5L, ts(40), 1L, "purchase", 1.0),
      (6L, ts(50), 9L, "view", 1.0),
      (7L, Timestamp.valueOf("2024-01-01 02:35:00"), 3L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val work = tmpDir("ojoin")
    val out = Replay.intervalJoinReplay(spark, ev, work, nBatches = 2,
        joinType = "leftOuter")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted
    // the matched pairs as in the inner case, PLUS user 3's click whose
    // only purchase is outside the 1 h window: it must surface exactly
    // once with a null right side, flushed by the sentinel watermark
    out shouldBe Array((1L, 5L), (2L, 3L), (4L, -1L))
  }

  test("streaming exact dedup drops in-watermark duplicates across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ingest_ts", "text")
    val q = StreamingDedup.exact(docs, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      // batch 1: doc 2 duplicates doc 1 up to whitespace/case
      input.addData((1L, ts(0), "Hello  World"), (2L, ts(1), "hello world"),
        (3L, ts(1), "unique one"))
      q.processAllAvailable()
      // batch 2: another in-watermark duplicate + a new doc
      input.addData((4L, ts(2), "HELLO WORLD"), (5L, ts(3), "brand new"))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.table("sdedup").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 3L, 5L)
  }

  test("streaming simhash dedup collapses token-jitter duplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ingest_ts", "text")
    val q = StreamingDedup.simhashExact(docs)
      .writeStream.format("memory").queryName("shdedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "alpha beta gamma delta"),
        (2L, ts(1), "alpha  BETA gamma\tdelta"), // same token multiset
        (3L, ts(1), "totally different content"))
      q.processAllAvailable()
    } finally q.stop()

    spark.table("shdedup").select("doc_id")
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
  }

  test("streamed top-k sketch accumulates exactly-once; a re-counted batch is detected") {
    import graft.functions.FrequencySketch._
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val n = 3000
    val rows = (1 to n).map(i => (i.toLong, s"u${i % 50}")).toDF("id", "item")
    val work = tmpDir("stopk")
    val sk = graft.streaming.Replay.topkSketchReplay(s, rows, work,
      nBatches = 3, maxMapSize = 64)
    val row = sk.select(freqStreamLength(col("sk")).as("n"),
        freqLowerBound(col("sk"), lit("u7")).as("lb"),
        freqUpperBound(col("sk"), lit("u7")).as("ub"))
      .collect().head
    // exactly-once: the sketch absorbed each row once across 3 cycles
    row.getLong(0) shouldBe n.toLong
    val exact7 = (n / 50).toLong
    row.getLong(1) should be <= exact7
    row.getLong(2) should be >= exact7
    // NEGATIVE CONTROL: replay one batch under a fresh batchId (what a
    // non-idempotent sink would do on restart) — the stream-length
    // witness must fire, proving the contract detects re-counting
    val b0 = s.read.parquet(s"$work/sk/batch_0")
    b0.write.mode("overwrite").parquet(s"$work/sk/batch_99")
    val tampered = s.read.parquet(s"$work/sk/batch_*")
      .agg(freqUnionAgg(col("sk"), 64).as("sk"))
      .select(freqStreamLength(col("sk"))).collect().head.getLong(0)
    tampered should be > n.toLong
  }

  test("streamed OHLC partials merge to exactly the batch rollup across " +
      "restart cycles; a re-counted batch is detected") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // ids deliberately NOT time-ordered: batch slicing is by id range,
    // so a bucket's open/close can land in different micro-batches —
    // the merge must still pick the global (ts, id) endpoints
    val rows = (1 to 600).map { i =>
      (i.toLong, s"g${i % 3}", ((i * 7919) % 100).toLong, i / 3.0)
    }.toDF("id", "grp", "ts", "v")
    val work = tmpDir("sohlc")
    val streamed = graft.streaming.Replay.ohlcReplay(s, rows, work,
        bucketWidth = 10L, nBatches = 3)
      .select(col("grp"), col("bucket"), col("open"), col("high"),
        col("low"), col("close"), col("n_events"),
        round(col("value_sum"), 6).as("value_sum"))
      .orderBy("grp", "bucket").collect().toSeq
    val batch = graft.operators.Resample.ohlc(rows, "ts", "grp", "v", "id", 10L)
      .select(col("grp"), col("bucket"), col("open"), col("high"),
        col("low"), col("close"), col("n_events"),
        round(col("value_sum"), 6).as("value_sum"))
      .orderBy("grp", "bucket").collect().toSeq
    streamed shouldBe batch
    // NEGATIVE CONTROL: re-land one batch's partials under a fresh
    // batchId (a non-idempotent sink's restart) — counts must inflate
    val b0 = s.read.parquet(s"$work/ohlc/batch_0")
    b0.write.mode("overwrite").parquet(s"$work/ohlc/batch_99")
    val tampered = s.read.parquet(s"$work/ohlc/batch_*")
      .groupBy(col("grp"), col("bucket"))
      .agg(sum(col("cnt")).as("n")).agg(sum(col("n"))).head().getLong(0)
    tampered should be > 600L
  }

  test("streamed Hampel monitor: frozen-fence partial sums equal the batch " +
      "recount; fenceless groups are not judged") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // baseline: tight cluster around 10 per group, a couple of wild
    // points; stream: mostly in-fence with injected anomalies, plus a
    // group ("gx") with no baseline fence at all
    val baseline = ((1 to 60).map(i => (s"g${i % 2}", 10.0 + (i % 5))) ++
      Seq(("g0", 500.0), ("g1", -400.0))).toDF("grp", "v")
    val stream = ((1 to 90).map(i => (i.toLong, s"g${i % 2}", 11.0 + (i % 3))) ++
      Seq((91L, "g0", 9999.0), (92L, "g1", -777.0), (93L, "g1", 8888.0),
        (94L, "gx", 5.0)))
      .toDF("id", "grp", "v")
    val fences = graft.operators.Quality.madFences(baseline, "grp", "v")
    val work = tmpDir("sanom")
    val streamed = graft.streaming.Replay.madMonitorReplay(
        s, fences, stream, "grp", "v", k = 5, work, nBatches = 3)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // batch closed form against the SAME fences
    val batch = stream.join(broadcast(fences), "grp")
      .groupBy("grp").agg(count(lit(1)).as("n"),
        sum(when(abs(col("v") - col("med")) > col("mad") * 5, 1L)
          .otherwise(0L)).as("violations"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    streamed shouldBe batch
    // the injected anomalies are caught; the fenceless group is absent
    val byGrp = streamed.map(t => t._1 -> t._3).toMap
    byGrp("g0") should be >= 1L
    byGrp("g1") should be >= 2L
    byGrp.contains("gx") shouldBe false
    // fences are FROZEN: med/mad come from baseline only — assert the
    // stream's own wild points did not re-fence (baseline med of g0 is
    // in the 10..14 band, never 9999-contaminated)
    val f = fences.orderBy("grp").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    all(f.map(_._2)) should (be >= 10.0 and be <= 15.0)
  }
}
