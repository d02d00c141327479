package graft

import graft.streaming.Streaming
import graft.streaming.Streaming.{UserEvent, UserRunning}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Structured-Streaming semantics (SURVEY.md §2 rows B39-B41, §5.2 item
  * 5): the batch-first transforms run unchanged under MemoryStream
  * micro-batches; watermarks drop late rows; dedup is exactly-once within
  * the watermark; custom state accumulates across batches. */
case class Ev(event_id: Long, ts: Timestamp, event_type: String,
    user_id: Long, value: Double)
case class ArrVec(vec_id: Long, embedding: Seq[Float])

/** Crash-injection switch for a UDF: executor tasks run in this JVM
  * under local mode, so one JVM-wide flag arms exactly one throw. */
object CrashOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling window: streaming ≡ batch on the same rows (B36/B39)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      Ev(1, ts(5), "click", 1, 1.0), Ev(2, ts(15), "click", 1, 2.0),
      Ev(3, ts(25), "view", 2, 3.0), Ev(4, ts(59), "click", 2, 4.0))
    val input = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumble")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumble")
        .select(col("window.start"), col("event_type"), col("n"))
        .collect().map(_.toSeq).toSet
      val batch = Streaming.tumblingCounts(rows.toDF())
        .select(col("window.start"), col("event_type"), col("n"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("OHLC candles: streaming ≡ batch, opens/closes by total order") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      Ev(3, ts(10), "click", 1, 5.0), Ev(1, ts(10), "click", 1, 2.0),
      Ev(2, ts(20), "click", 1, 9.0), Ev(4, ts(50), "click", 2, 1.0),
      Ev(5, ts(30), "view", 2, 7.0))
    val input = MemoryStream[Ev]
    val q = Streaming.ohlcCandles(input.toDF())
      .writeStream.format("memory").queryName("ohlc")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ohlc")
        .select("window.start", "event_type", "open", "high", "low",
          "close", "n")
        .collect().map(_.toSeq).toSet
      val batch = Streaming.ohlcCandles(rows.toDF())
        .select("window.start", "event_type", "open", "high", "low",
          "close", "n")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      // same-instant tie at 10:10 broken by event_id: open = id 1's 2.0
      val click = spark.table("ohlc")
        .filter(col("event_type") === "click").head
      assert(click.getAs[Double]("open") === 2.0)
      assert(click.getAs[Double]("close") === 1.0)
      assert(click.getAs[Double]("high") === 9.0)
      assert(click.getAs[Double]("low") === 1.0)
    } finally q.stop()
  }

  test("session windows: streaming ≡ batch; gap >30min splits sessions " +
      "(B38)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      // user 1: 10:05,10:20 chain (gap 15m) then 10:55 (gap 35m → new
      // session); user 2: one singleton
      Ev(1, ts(5), "click", 1, 1.0), Ev(2, ts(20), "click", 1, 2.0),
      Ev(3, ts(55), "click", 1, 4.0), Ev(4, ts(30), "view", 2, 8.0))
    val input = MemoryStream[Ev]
    val q = Streaming.sessionCounts(input.toDF())
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select(col("session_window.start"), col("user_id"),
          col("n_events"), col("sum_value"))
        .collect().map(_.toSeq).toSet
      val streamed = norm(spark.table("sess"))
      val batch = norm(Streaming.sessionCounts(rows.toDF()))
      assert(streamed == batch && streamed.size == 3)
      // the merged session holds both in-gap events
      val merged = spark.table("sess")
        .filter(col("user_id") === 1 && col("n_events") === 2).head
      assert(merged.getAs[Double]("sum_value") === 3.0)
    } finally q.stop()
  }

  test("HLL register file maintains itself across micro-batches: " +
    "streaming groupBy-MAX sketch ≡ batch sketch of the union") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.functions.XHash.sha60
    // same register/rho formulation as sketch_hll_registers — the
    // sketch IS a groupBy-MAX, so complete-mode streaming keeps it
    // current for free: each micro-batch merges into the register file
    // exactly like executors merge partials at 100 TB.
    def regs(df: org.apache.spark.sql.DataFrame) = {
      val h = sha60(concat(lit("hll:"), col("user_id").cast("string")))
      df.select((h % 256).as("reg"), shiftright(h, 8).as("w"))
        .groupBy("reg")
        .agg(max(when(col("w") === 0, 53)
          .otherwise(lit(52) - length(bin(col("w"))) + 1)).as("max_rho"))
    }
    val batch1 = (1 to 40).map(i => Ev(i, ts(i % 60), "click", i % 17, 1.0))
    val batch2 = (41 to 80).map(i =>
      Ev(i, ts(i % 60), "view", i % 29 + 100, 1.0))
    val input = MemoryStream[Ev]
    val q = regs(input.toDF()).writeStream.format("memory")
      .queryName("hllregs").outputMode("complete").start()
    try {
      def snap() = spark.table("hllregs").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      def batchOf(rows: Seq[Ev]) = regs(rows.toDF()).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      input.addData(batch1: _*)
      q.processAllAvailable()
      assert(snap() == batchOf(batch1), "mid-stream sketch != batch1 sketch")
      input.addData(batch2: _*)
      q.processAllAvailable()
      assert(snap() == batchOf(batch1 ++ batch2),
        "final sketch != batch sketch of the union")
    } finally q.stop()
  }

  test("KMV bottom-k sketch maintains itself across micro-batches " +
    "(bounded-buffer aggregate ≡ batch sketch of the union)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.functions.XHash.sha60
    def sk(df: org.apache.spark.sql.DataFrame) = {
      val kmv = udaf(new graft.queries.Sketches.KmvAgg(16),
        org.apache.spark.sql.Encoders.scalaLong)
      df.select(sha60(concat(lit("skmv:"), col("user_id").cast("string")))
          .as("h"))
        .agg(kmv(col("h")).as("sk"))
    }
    val batch1 = (1 to 30).map(i => Ev(i, ts(i % 60), "click", i * 3, 1.0))
    val batch2 = (31 to 60).map(i => Ev(i, ts(i % 60), "view", i * 7, 1.0))
    val input = MemoryStream[Ev]
    val q = sk(input.toDF()).writeStream.format("memory")
      .queryName("kmvsk").outputMode("complete").start()
    try {
      def snap() = spark.table("kmvsk").head.getSeq[Long](0)
      input.addData(batch1: _*)
      q.processAllAvailable()
      assert(snap() == sk(batch1.toDF()).head.getSeq[Long](0))
      input.addData(batch2: _*)
      q.processAllAvailable()
      assert(snap() == sk((batch1 ++ batch2).toDF()).head.getSeq[Long](0),
        "streamed KMV sketch != batch sketch of the union")
      assert(snap().length === 16, "sketch must be full at 50+ keys")
    } finally q.stop()
  }

  test("watermark drops rows later than the delay (B39)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Streaming.watermarkedCounts(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("wm")
      .outputMode("append").start()
    try {
      // batch 1: events in the 10:00 window
      input.addData(Ev(1, ts(5), "click", 1, 1.0), Ev(2, ts(30), "click", 1, 1.0))
      q.processAllAvailable()
      // batch 2: event far ahead — watermark passes 10:59 + closes window
      input.addData(Ev(3, Timestamp.valueOf("2024-01-01 12:30:00"), "view", 2, 1.0))
      q.processAllAvailable()
      // batch 3: late row for the already-closed 10:00 window → dropped
      input.addData(Ev(4, ts(10), "click", 3, 1.0))
      q.processAllAvailable()
      val out = spark.table("wm")
        .select(col("window.start"), col("n")).collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      assert(out("2024-01-01 10:00:00.0") == 2L,
        s"late row must not bump the closed window: $out")
    } finally q.stop()
  }

  test("stream-stream interval join ≡ batch join on the same rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = Seq(
      Ev(1, ts(5), "click", 1, 1.0), Ev(2, ts(20), "click", 1, 1.0),
      Ev(3, ts(8), "click", 2, 1.0))
    val errors = Seq(
      Ev(10, ts(7), "error", 1, 1.0),   // within 5m of click 1
      Ev(11, ts(30), "error", 1, 1.0),  // not within 5m of any click
      Ev(12, ts(9), "error", 2, 1.0),   // within 5m of click 3
      Ev(13, ts(6), "error", 3, 1.0))   // no click for user 3
    val cIn = MemoryStream[Ev]
    val eIn = MemoryStream[Ev]
    val q = Streaming.clickErrorJoin(cIn.toDF(), eIn.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      cIn.addData(clicks: _*)
      eIn.addData(errors: _*)
      q.processAllAvailable()
      val streamed = spark.table("ssjoin").collect().map(_.toSeq).toSet
      val batch = Streaming.clickErrorJoin(clicks.toDF(), errors.toDF())
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed == Set(Seq(1L, 1L, 10L), Seq(2L, 3L, 12L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched click's null " +
      "row is deferred until the watermark passes, then emitted exactly " +
      "once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val cIn = MemoryStream[Ev]
    val eIn = MemoryStream[Ev]
    val q = Streaming.clickErrorLeftJoin(cIn.toDF(), eIn.toDF())
      .writeStream.format("memory").queryName("ssleft")
      .outputMode("append").start()
    try {
      // click 1 matches error 10; click 2 (ts 10:20) has NO error in
      // its 5-minute window
      cIn.addData(Ev(1, ts(5), "click", 1, 1.0), Ev(2, ts(20), "click", 1, 1.0))
      eIn.addData(Ev(10, ts(7), "error", 1, 1.0))
      q.processAllAvailable()
      val early = spark.table("ssleft").collect().map(_.toSeq)
      assert(early.toSet == Set(Seq(1L, 1L, 10L)),
        s"inner match only — the null row must NOT emit while click 2's " +
          s"window (ends 10:25 + 10m delay) is still open: " +
          s"${early.mkString(",")}")
      // advance BOTH watermarks (stream-stream watermark = min of the
      // sides) past 10:35 = click2.ts + window + delay → click 2's
      // state evicts and its null row emits
      val far = Timestamp.valueOf("2024-01-01 12:00:00")
      cIn.addData(Ev(90, far, "click", 9, 1.0))
      eIn.addData(Ev(91, far, "error", 9, 1.0))
      q.processAllAvailable()
      // one more empty-ish cycle so the post-advance batch runs even if
      // the null emission lands a micro-batch behind the data batch
      val far2 = Timestamp.valueOf("2024-01-01 13:00:00")
      cIn.addData(Ev(92, far2, "click", 9, 1.0))
      eIn.addData(Ev(93, far2, "error", 9, 1.0))
      q.processAllAvailable()
      val out = spark.table("ssleft").collect().map(_.toSeq)
      val nullRows = out.filter(r => r(1) == 2L)
      assert(nullRows.length == 1,
        s"unmatched click must emit EXACTLY once: ${nullRows.mkString(",")}")
      assert(nullRows.head == Seq(1L, 2L, null),
        s"late-side columns must be null: ${nullRows.head}")
      // and the matched row was never duplicated by the outer pass
      assert(out.count(r => r(1) == 1L) == 1)
    } finally q.stop()
  }

  test("stream-static dimension join enriches without join state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val evs = Seq(Ev(1, ts(1), "click", 1, 1.0), Ev(2, ts(2), "click", 2, 1.0),
      Ev(3, ts(3), "click", 3, 1.0))
    val in = MemoryStream[Ev]
    val q = Streaming.enrichWithDim(in.toDF(), dim)
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      in.addData(evs: _*)
      q.processAllAvailable()
      val streamed = spark.table("enrich").collect().map(_.toSeq).toSet
      val batch = Streaming.enrichWithDim(evs.toDF(), dim)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed == Set(Seq(1L, 1L, "gold"), Seq(2L, 2L, "silver"),
        Seq(3L, 3L, "unknown")))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark is exactly-once per event id (B40)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Streaming.dedupWithinWatermark(input.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts(5), "click", 1, 1.0), Ev(1, ts(5), "click", 1, 1.0))
      q.processAllAvailable()
      input.addData(Ev(1, ts(6), "click", 1, 1.0), Ev(2, ts(7), "view", 1, 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user state across batches (B41)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = Streaming.runningUserAgg(input.toDS())
      .writeStream.format("memory").queryName("state")
      .outputMode("append").start()
    try {
      input.addData(UserEvent(1, 1000, 2.0), UserEvent(1, 2000, 3.0))
      q.processAllAvailable()
      input.addData(UserEvent(1, 3000, 5.0), UserEvent(2, 1000, 7.0))
      q.processAllAvailable()
      val last = spark.table("state").as[UserRunning].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_events) }
      assert(last(1L).n_events == 3 && math.abs(last(1L).sum_value - 10.0) < 1e-9)
      assert(last(2L).n_events == 1 && math.abs(last(2L).sum_value - 7.0) < 1e-9)
    } finally q.stop()
  }

  test("transformWithState (StatefulProcessor) matches flatMapGroupsWithState (B41)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[UserEvent]
      val q = Streaming.runningUserAggTws(input.toDS())
        .writeStream.format("memory").queryName("tws")
        .outputMode("append").start()
      try {
        input.addData(UserEvent(1, 1000, 2.0), UserEvent(1, 2000, 3.0))
        q.processAllAvailable()
        input.addData(UserEvent(1, 3000, 5.0), UserEvent(2, 1000, 7.0))
        q.processAllAvailable()
        val last = spark.table("tws").as[UserRunning].collect()
          .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_events) }
        assert(last(1L).n_events == 3 && math.abs(last(1L).sum_value - 10.0) < 1e-9)
        assert(last(2L).n_events == 1 && math.abs(last(2L).sum_value - 7.0) < 1e-9)
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("event-time timers: idle flush fires once on watermark passage, " +
      "evicts state, and a later event starts a fresh aggregate (B41)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Ev]
      // gap 30 min, watermark delay 10 min
      val q = Streaming.idleFlush(input.toDF(), 30 * 60 * 1000L, "10 minutes")
        .writeStream.format("memory").queryName("idleflush")
        .outputMode("append").start()
      try {
        input.addData(Ev(1, ts(5), "click", 1, 2.0),
          Ev(2, ts(10), "click", 1, 3.0))
        q.processAllAvailable()
        assert(spark.table("idleflush").isEmpty,
          "no flush while the idle gap is still open")
        // watermark jumps past 10:10 + 30m gap + 10m delay → timer fires
        input.addData(Ev(3,
          java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "x", 9, 1.0))
        q.processAllAvailable()
        // one more cycle in case the expiry batch trails the data batch
        input.addData(Ev(4,
          java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), "x", 9, 1.0))
        q.processAllAvailable()
        val flushes = spark.table("idleflush")
          .as[graft.streaming.Streaming.UserFlush].collect()
          .filter(_.user_id == 1L)
        assert(flushes.length == 1,
          s"idle user must flush EXACTLY once: ${flushes.mkString(",")}")
        assert(flushes.head.n_events == 2 &&
          math.abs(flushes.head.sum_value - 5.0) < 1e-9, flushes.head)
        // post-flush event: state was evicted, the aggregate restarts
        input.addData(Ev(5,
          java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), "click", 1, 7.0))
        q.processAllAvailable()
        input.addData(Ev(6,
          java.sql.Timestamp.valueOf("2024-01-01 16:00:00"), "x", 9, 1.0))
        q.processAllAvailable()
        input.addData(Ev(7,
          java.sql.Timestamp.valueOf("2024-01-01 17:00:00"), "x", 9, 1.0))
        q.processAllAvailable()
        val second = spark.table("idleflush")
          .as[graft.streaming.Streaming.UserFlush].collect()
          .filter(_.user_id == 1L).sortBy(_.flushed_at_ms)
        assert(second.length == 2,
          s"fresh aggregate must flush separately: ${second.mkString(",")}")
        assert(second(1).n_events == 1 &&
          math.abs(second(1).sum_value - 7.0) < 1e-9, second(1))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("initial state warm-starts the stream: offline aggregates seed " +
      "the processor, increments land on top (B41 batch->stream hand-off)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // "warehouse backfill": user 1 has 10 events / 100.0 already
      val initial = Seq(UserRunning(1L, 10L, 100.0)).toDS()
      val input = MemoryStream[UserEvent]
      val q = Streaming.runningUserAggWarm(input.toDS(), initial)
        .writeStream.format("memory").queryName("warm")
        .outputMode("append").start()
      try {
        input.addData(UserEvent(1, 1000, 2.0), UserEvent(2, 1000, 7.0))
        q.processAllAvailable()
        val last = spark.table("warm").as[UserRunning].collect()
          .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_events) }
        assert(last(1L).n_events == 11 &&
          math.abs(last(1L).sum_value - 102.0) < 1e-9,
          s"warm-started user must continue from the backfill: ${last(1L)}")
        assert(last(2L).n_events == 1 &&
          math.abs(last(2L).sum_value - 7.0) < 1e-9,
          s"unseeded user starts fresh: ${last(2L)}")
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("restart from checkpoint: a transformWithState query stopped " +
      "after a batch boundary resumes from its RocksDB checkpoint dir " +
      "with exactly-once output (B41 operational restart path)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // The restart path transformWithState users hit on every deploy:
    // the query goes away between micro-batches and is restarted
    // against the SAME checkpointLocation. q.stop() is a graceful
    // batch-boundary shutdown, so this witnesses STATE RESTORATION
    // (RocksDB reload + no re-emission of committed batches); the
    // harder torn-window crash — sink attempt failed mid-batch, state
    // side already advanced — is witnessed separately by the
    // foreachBatch injected-crash tests above. Durable sink: the
    // parquet _spark_metadata commit log carries the exactly-once
    // guarantee (a memory sink forgets its table on restart, so it
    // cannot witness recovery): run B stops after batch 1, a NEW
    // query object restarts from the checkpoint, batch 2 arrives only
    // after the restart — and the final committed output must be
    // row-identical to an uninterrupted run A, with user 1's running
    // aggregate CONTINUING from RocksDB-restored state (n_events 3),
    // not restarting at 1, and no batch-1 row duplicated.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft_restart").toString
      val batch1 = Seq(UserEvent(1, 1000, 2.0), UserEvent(1, 2000, 3.0))
      val batch2 = Seq(UserEvent(1, 3000, 5.0), UserEvent(2, 1000, 7.0))
      def run(tag: String, interrupt: Boolean): Seq[(Long, Long, Double)] = {
        val input = MemoryStream[UserEvent]
        def start() = Streaming.runningUserAggTws(input.toDS())
          .writeStream.format("parquet")
          .option("path", s"$root/$tag/out")
          .option("checkpointLocation", s"$root/$tag/ck")
          .outputMode("append").start()
        var q = start()
        input.addData(batch1: _*)
        q.processAllAvailable()
        if (interrupt) {
          q.stop() // the "crash": no more batches reach this query
          q = start() // fresh query object, same checkpoint dir
        }
        input.addData(batch2: _*)
        q.processAllAvailable()
        q.stop()
        // the read respects _spark_metadata: only COMMITTED files count
        spark.read.parquet(s"$root/$tag/out").as[UserRunning].collect()
          .map(r => (r.user_id, r.n_events, r.sum_value)).toSeq.sorted
      }
      val uninterrupted = run("ref", interrupt = false)
      val restarted = run("restart", interrupt = true)
      assert(restarted == uninterrupted,
        s"restarted run diverged:\n  ref=$uninterrupted\n  got=$restarted")
      // state restoration, not coincidence: the post-restart event
      // continued user 1's aggregate from the checkpointed (2, 5.0)
      assert(restarted.contains((1L, 3L, 10.0)),
        s"user 1 did not resume from restored state: $restarted")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("MapState + ListState accumulate across micro-batches (B41 " +
      "state primitives beyond ValueState)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{TypedEvent, TypeCount}
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[TypedEvent]
      val q = Streaming.typeCounts(input.toDS())
        .writeStream.format("memory").queryName("typecounts")
        .outputMode("append").start()
      try {
        input.addData(TypedEvent(1, "click", 1.0), TypedEvent(1, "view", 2.0))
        q.processAllAvailable()
        input.addData(TypedEvent(1, "click", 3.0), TypedEvent(1, "click", 4.0),
          TypedEvent(2, "view", 9.0))
        q.processAllAvailable()
        val rows = spark.table("typecounts").as[TypeCount].collect()
        // MAP state: per-type counts accumulated ACROSS batches
        val u1click = rows.filter(r => r.user_id == 1 &&
          r.event_type == "click").map(_.n).max
        assert(u1click == 3L, s"click count must accumulate: ${rows.toSeq}")
        assert(rows.filter(r => r.user_id == 1 && r.event_type == "view")
          .map(_.n).max == 1L)
        assert(rows.filter(_.user_id == 2).map(_.n).max == 1L)
        // LIST state: last-3 window spans the batch boundary
        // (values seen for user 1: 1,2 then 3,4 → last3 = 2+3+4)
        val lastBatchU1 = rows.filter(r => r.user_id == 1 &&
          r.event_type == "click").maxBy(_.n)
        assert(math.abs(lastBatchU1.last3_sum - 9.0) < 1e-9,
          s"rolling window must span batches: $lastBatchU1")
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("foreachBatch additive upsert is exactly-once: a replayed " +
    "micro-batch is a no-op (the streaming→warehouse bridge)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_upsert").toString
    val (target, ledger) = (s"$base/target", s"$base/ledger")
    val input = MemoryStream[Ev]
    val q = Streaming.sink(input.toDF())(
      Streaming.additiveUpsertBatch(_, _, target, ledger)).start()
    try {
      input.addData(Ev(1, ts(5), "click", 1, 2.0), Ev(2, ts(6), "click", 1, 3.0))
      q.processAllAvailable()
      input.addData(Ev(3, ts(7), "view", 2, 7.0), Ev(4, ts(8), "view", 1, 5.0))
      q.processAllAvailable()
      def state() = Streaming.additiveUpsertRead(spark, target, ledger)
        .collect().map(r => r.getLong(0) ->
          (r.getDouble(1), r.getLong(2))).toMap
      val afterRun = state()
      assert(afterRun(1L) == ((10.0, 3L)), s"user1: ${afterRun(1L)}")
      assert(afterRun(2L) == ((7.0, 1L)), s"user2: ${afterRun(2L)}")
      // crash-replay simulation: re-deliver batch 1 with the same id —
      // the ledger gate must make it a no-op (without it the additive
      // merge would double-count batch 1's rows)
      val replay = Seq(Ev(3, ts(7), "view", 2, 7.0),
        Ev(4, ts(8), "view", 1, 5.0)).toDF()
      Streaming.additiveUpsertBatch(replay, 1L, target, ledger)
      assert(state() == afterRun, "replayed batch id must be a no-op")
      // a NEW batch id with the same rows does apply (not dedup-by-content)
      Streaming.additiveUpsertBatch(replay, 99L, target, ledger)
      assert(state()(2L) == ((14.0, 2L)))
    } finally q.stop()
  }

  test("version-dir retention vacuum: superseded snapshots and " +
    "abandoned torn writes are deleted, the committed view is " +
    "untouched, and in-flight dirs above the newest commit survive") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_vacuum").toString
    val (target, ledger) = (s"$base/target", s"$base/ledger")
    def state() = Streaming.additiveUpsertRead(spark, target, ledger)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    def dirs() = new java.io.File(target).list().toSet
    for (i <- 0 to 2)
      Streaming.additiveUpsertBatch(
        Seq(Ev(10 + i, ts(5 + i), "click", 1, 2.0)).toDF(), i, target, ledger)
    // plus a torn write above the newest commit (in-flight batch 7)
    Streaming.additiveUpsertVersion(
      Seq(Ev(20, ts(9), "view", 2, 1.0)).toDF(), 7L, target, ledger)
    val before = state()
    assert(before == Map(1L -> ((6.0, 3L))) && dirs() ==
      Set("v0", "v1", "v2", "v7"), s"setup: ${dirs()} $before")
    val deleted = Streaming.vacuumVersions(spark, target, ledger, keep = 1)
    assert(deleted == Seq(0L, 1L), s"deleted: $deleted")
    assert(dirs() == Set("v2", "v7"),
      s"must retain the newest commit and the in-flight dir: ${dirs()}")
    assert(state() == before, "vacuum changed the committed view")
    // idempotent, and the retention floor is enforced
    assert(Streaming.vacuumVersions(spark, target, ledger, keep = 1).isEmpty)
    intercept[IllegalArgumentException] {
      Streaming.vacuumVersions(spark, target, ledger, keep = 0)
    }
    // batch 7 later commits normally through its replay — the vacuumed
    // store keeps working end-to-end
    Streaming.additiveUpsertBatch(
      Seq(Ev(20, ts(9), "view", 2, 1.0)).toDF(), 7L, target, ledger)
    assert(state() == Map(1L -> ((6.0, 3L)), 2L -> ((1.0, 1L))))
    assert(Streaming.vacuumVersions(spark, target, ledger, keep = 1)
      == Seq(2L))
  }

  test("foreachBatch crash BETWEEN sink write and ledger commit: the " +
    "replay re-merges from the committed base — exactly-once through " +
    "the torn-write window (the round-9 in-place merge double-counted " +
    "here)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_crashwin").toString
    val (target, ledger) = (s"$base/target", s"$base/ledger")
    def state() = Streaming.additiveUpsertRead(spark, target, ledger)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // batch 0 commits normally
    val b0 = Seq(Ev(1, ts(5), "click", 1, 2.0)).toDF()
    Streaming.additiveUpsertBatch(b0, 0L, target, ledger)
    assert(state() == Map(1L -> ((2.0, 1L))))
    // batch 1 "crashes" after the version write, before the ledger row:
    // the torn version dir exists on disk but is uncommitted
    val b1 = Seq(Ev(2, ts(6), "click", 1, 3.0), Ev(3, ts(7), "view", 2, 7.0))
      .toDF()
    Streaming.additiveUpsertVersion(b1, 1L, target, ledger)
    assert(state() == Map(1L -> ((2.0, 1L))),
      "an uncommitted version dir must be invisible to readers")
    // restart re-delivers batch 1 with the same id — the full apply
    // must land it exactly once (the in-place merge would read the
    // torn write back and double-count users 1 and 2 here)
    Streaming.additiveUpsertBatch(b1, 1L, target, ledger)
    assert(state() == Map(1L -> ((5.0, 2L)), 2L -> ((7.0, 1L))),
      s"replay through the crash window double- or zero-counted: ${state()}")
    // and a SECOND replay of the now-committed id is a no-op
    Streaming.additiveUpsertBatch(b1, 1L, target, ledger)
    assert(state() == Map(1L -> ((5.0, 2L)), 2L -> ((7.0, 1L))))
  }

  test("foreachBatch first-attempt failure under a real streaming " +
    "restart: the sink throws mid-window, the query is restarted from " +
    "its checkpoint, and the re-delivered batch lands exactly once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_crashq").toString
    val (target, ledger, ck) = (s"$base/target", s"$base/ledger", s"$base/ck")
    val input = MemoryStream[Ev]
    @volatile var injected = false
    def start() = input.toDF().writeStream
      .option("checkpointLocation", ck)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          if (id == 1L && !injected) {
            injected = true
            // the crash window: version written, ledger commit never
            // reached, sink attempt reported FAILED to the engine
            Streaming.additiveUpsertVersion(b.toDF(), id, target, ledger)
            throw new RuntimeException("injected first-attempt crash")
          }
          Streaming.additiveUpsertBatch(b.toDF(), id, target, ledger)
      }
      .start()
    var q = start()
    input.addData(Ev(1, ts(5), "click", 1, 2.0))
    q.processAllAvailable()
    input.addData(Ev(2, ts(6), "click", 1, 3.0), Ev(3, ts(7), "view", 2, 7.0))
    intercept[Exception] { q.processAllAvailable() } // batch 1 fails
    assert(injected, "the injected failure must actually have fired")
    // operational restart: new query object, same checkpoint — Spark
    // re-delivers batch 1 with the same id
    q = start()
    q.processAllAvailable()
    q.stop()
    val got = Streaming.additiveUpsertRead(spark, target, ledger)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(got == Map(1L -> ((5.0, 2L)), 2L -> ((7.0, 1L))),
      s"re-delivered batch did not land exactly once: $got")
  }

  test("transform sink first-execution failure under a real streaming " +
    "restart: the transform's UDF throws, no ledger row and no row is " +
    "visible, and the re-delivered batch lands exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
      StructType}
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_tfcrash").toString
    val (target, ledger, ck) = (s"$base/target", s"$base/ledger", s"$base/ck")
    // the crash lands inside the transform's own write job: the UDF
    // throws on its first execution, in an executor task
    CrashOnce.armed.set(true)
    val doubled = udf { (v: Double) =>
      if (CrashOnce.armed.getAndSet(false))
        throw new RuntimeException("injected first-execution crash")
      v * 2
    }.asNondeterministic()
    def transform(b: DataFrame): DataFrame =
      b.select(col("event_id"), doubled(col("value")).as("doubled"))
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("doubled", DoubleType)))
    def got = Streaming.gatedSplitRead(spark, target, ledger, schema)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sorted.toSeq
    val input = MemoryStream[Ev]
    def start() = Streaming.sink(input.toDF())(
        Streaming.transformSinkBatch(_, _, transform, target, ledger))
      .option("checkpointLocation", ck).start()
    var q = start()
    input.addData(Ev(1, ts(5), "click", 1, 2.0), Ev(2, ts(6), "view", 2, 3.5))
    intercept[Exception] { q.processAllAvailable() } // batch 0 fails
    assert(!CrashOnce.armed.get, "the injected failure must actually have fired")
    assert(!new java.io.File(ledger).exists,
      "a failed transform must leave no ledger row")
    assert(got.isEmpty, s"a failed transform's rows became visible: $got")
    // operational restart: same checkpoint, batch 0 re-delivers with the
    // same id; a following batch commits normally
    q = start()
    try {
      q.processAllAvailable()
      input.addData(Ev(3, ts(7), "click", 1, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(got == Seq(1L -> 4.0, 2L -> 7.0, 3L -> 2.0),
      s"re-delivered batch did not land exactly once: $got")
    assert(spark.read.parquet(ledger).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(0L, 1L))
  }

  test("streaming dead-letter channel: the gate splits every " +
    "micro-batch exactly once, a null verdict routes to dead-letter, " +
    "and the torn-write crash window replays cleanly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_dlq").toString
    val (ok, dlq, ledger) = (s"$base/ok", s"$base/dlq", s"$base/ledger")
    val gate = col("value") >= 0.0
    val schema = Seq.empty[Ev].toDF().schema
    def okRows = Streaming.gatedSplitRead(spark, ok, ledger, schema)
      .collect().map(_.getAs[Long]("event_id")).toSet
    def dlqRows = Streaming.gatedSplitRead(spark, dlq, ledger, schema)
      .collect().map(_.getAs[Long]("event_id")).toSet
    val input = MemoryStream[Ev]
    val q = Streaming.sink(input.toDF())(
        Streaming.gatedSplitBatch(_, _, gate, ok, dlq, ledger))
      .option("checkpointLocation", s"$base/ck").start()
    try {
      input.addData(Ev(1, ts(5), "click", 1, 2.0),
        Ev(2, ts(6), "click", 1, -3.0))
      q.processAllAvailable()
      // NaN passes a ">= 0" gate: Spark SQL orders NaN GREATER than
      // every double (unlike Java's NaN-poisoned comparisons) — a
      // real gate screening for garbage values must test isnan()
      // explicitly; this pin documents the trap
      input.addData(Ev(3, ts(7), "view", 2, Double.NaN),
        Ev(4, ts(8), "view", 2, 7.0))
      q.processAllAvailable()
      assert(okRows == Set(1L, 3L, 4L), s"ok channel: $okRows")
      assert(dlqRows == Set(2L), s"dlq channel: $dlqRows")
    } finally q.stop()
    // crash window: split written for a new batch, ledger not
    // committed — both channels must NOT see it yet. The batch also
    // carries a NULL value: a null gate verdict routes to the
    // dead-letter channel (unjudgeable data is never silently dropped)
    val b9 = Seq(
      (9L, ts(9), "click", 3L, java.lang.Double.valueOf(1.0)),
      (10L, ts(9), "click", 3L, java.lang.Double.valueOf(-1.0)),
      (11L, ts(9), "click", 3L, null.asInstanceOf[java.lang.Double]))
      .toDF("event_id", "ts", "event_type", "user_id", "value")
    Streaming.gatedSplitVersion(b9, 99L, gate, ok, dlq)
    assert(okRows == Set(1L, 3L, 4L) && dlqRows == Set(2L),
      "uncommitted split must be invisible to readers")
    // replay with the same id commits exactly once; a second replay
    // is a no-op
    Streaming.gatedSplitBatch(b9, 99L, gate, ok, dlq, ledger)
    Streaming.gatedSplitBatch(b9, 99L, gate, ok, dlq, ledger)
    assert(okRows == Set(1L, 3L, 4L, 9L), s"ok after replay: $okRows")
    assert(dlqRows == Set(2L, 10L, 11L), s"dlq after replay: $dlqRows")
  }

  test("restart from checkpoint: session-window aggregation state " +
    "survives — stopped after batch 1, restarted, the in-gap event " +
    "still MERGES into the open session (B38's operational path)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft_sess_restart").toString
      // batch 1 opens user 1's session [10:05, 10:50); the restart
      // happens while it is OPEN STATE; batch 2's 10:20 event can only
      // merge into it if the session state was restored from RocksDB
      val batch1 = Seq(Ev(1, ts(5), "click", 1, 1.0))
      val batch2 = Seq(Ev(2, ts(20), "click", 1, 2.0),
        Ev(3, ts(55), "click", 1, 4.0), Ev(4, ts(30), "view", 2, 8.0))
      // far-future row pushes the watermark past every session end so
      // append mode emits them all
      val batch3 = Seq(
        Ev(5, Timestamp.valueOf("2024-01-01 14:00:00"), "click", 3, 0.0))
      def run(tag: String, interrupt: Boolean): Set[Seq[Any]] = {
        val input = MemoryStream[Ev]
        def start() = Streaming.sessionCounts(input.toDF(), "10 minutes")
          .select(col("session_window.start").cast("long").as("ss"),
            col("user_id"), col("n_events"), col("sum_value"))
          .writeStream.format("parquet")
          .option("path", s"$root/$tag/out")
          .option("checkpointLocation", s"$root/$tag/ck")
          .outputMode("append").start()
        var q = start()
        input.addData(batch1: _*)
        q.processAllAvailable()
        if (interrupt) {
          q.stop()
          q = start() // fresh query object, same checkpoint dir
        }
        input.addData(batch2: _*)
        q.processAllAvailable()
        input.addData(batch3: _*)
        q.processAllAvailable()
        q.stop()
        spark.read.parquet(s"$root/$tag/out")
          .collect().map(_.toSeq).toSet
      }
      val ref = run("ref", interrupt = false)
      val restarted = run("restart", interrupt = true)
      assert(restarted == ref,
        s"restarted run diverged:\n  ref=$ref\n  got=$restarted")
      // state restoration, not coincidence: the post-restart 10:20
      // event merged into the pre-restart session (n_events = 2);
      // lost session state would have emitted two singletons instead
      assert(restarted.exists(r =>
          r(1) == 1L && r(2) == 2L && r(3) == 3.0),
        s"user 1's session did not merge across the restart: $restarted")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("file-source readStream over the events fixture: one " +
    "AvailableNow pass ≡ batch for tumbling / session / dedup (B36-B40 " +
    "end-to-end, not just MemoryStream)") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    // the real fixture through the real file source: schema from a batch
    // footer read (streaming requires an explicit schema), ts normalized
    // exactly as graft.Tables.events does for both fixture encodings
    // the file source streams a DIRECTORY; the fixture is a single
    // parquet file — expose it through a symlink dir under target/
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    val dir = java.nio.file.Paths.get(
      "/root/repo/target/graft_io/stream_events_" +
        src.getParent.getFileName.toString)
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, src)
    val path = dir.toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchRaw = spark.read.parquet(path)
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    val stream = normalize(
      spark.readStream.schema(batchRaw.schema).parquet(path))
    assert(stream.isStreaming, "file source must produce a streaming frame")
    val batch = normalize(batchRaw)

    def runToSet(name: String, q: org.apache.spark.sql.DataFrame,
        mode: String): Set[String] = {
      val sq = q.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      spark.table(name).collect()
        .map(_.mkString("|")).toSet
    }

    // B36: tumbling counts — complete mode (no watermark: one pass over
    // a finite source; final complete output is the whole aggregate)
    val tumbled = runToSet("fs_tumble",
      Streaming.tumblingCounts(stream)
        .select(col("window.start").cast("long").as("ws"),
          col("event_type"), col("n")), "complete")
    val tumbleBatch = Streaming.tumblingCounts(batch)
      .select(col("window.start").cast("long").as("ws"),
        col("event_type"), col("n"))
      .collect().map(_.mkString("|")).toSet
    assert(tumbled == tumbleBatch,
      s"tumbling stream≠batch: ${tumbled.size} vs ${tumbleBatch.size} rows")
    assert(tumbled.nonEmpty)

    // B38: session windows (30-min gap) per user — same expression both
    // sides; complete mode so no session is left open in state
    val sessions = runToSet("fs_session",
      Streaming.sessionCounts(stream)
        .select(col("session_window.start").cast("long").as("ss"),
          col("user_id"), col("n_events")), "complete")
    val sessionBatch = batch
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").cast("long").as("ss"),
        col("user_id"), col("n_events"))
      .collect().map(_.mkString("|")).toSet
    assert(sessions == sessionBatch,
      s"session stream≠batch: ${sessions.size} vs ${sessionBatch.size} rows")
    assert(sessions.nonEmpty)

    // B40: streaming dedup — append mode emits each first-seen event_id
    val dedup = runToSet("fs_dedup",
      stream.dropDuplicates("event_id").select(col("event_id")), "append")
    assert(dedup.size.toLong == batch.dropDuplicates("event_id").count(),
      "streaming dedup must keep exactly the batch-distinct id count")
  }

  test("batch twin equals streaming final state (B41 oracle linkage)") {
    import spark.implicits._
    // the declared stateful_running_agg query at sf0.001 vs a direct agg
    val declared = SparkEntry.queries("stateful_running_agg")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(declared.keySet == direct.keySet)
    declared.foreach { case (u, (n, s)) =>
      assert(direct(u)._1 == n)
      assert(math.abs(direct(u)._2 - s) < 1e-6, s"user $u: $s vs ${direct(u)._2}")
    }
  }

  test("streaming inference: NB scoring per micro-batch through the " +
    "exactly-once transform sink is bit-equal to batch scoring, and " +
    "a re-delivered batch lands once") {
    // the production scoring pipeline: model trained batch-side
    // (text_nb_train), a document stream scored per micro-batch in
    // foreachBatch against the static model frames, predictions landed
    // under the per-batch-dir + ledger commit discipline. Chunking must
    // not change a single bit of any score: each doc's argmax depends
    // only on its own tokens plus the model.
    import graft.queries.Text
    val base = java.nio.file.Files
      .createTempDirectory("graft_nbstream").toString
    val (src, target, ledger) = (s"$base/src", s"$base/out", s"$base/led")
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0 && col("text").isNotNull)
      .select("doc_id", "lang", "text")
    // three appended single-file chunks + maxFilesPerTrigger=1 force
    // at least three micro-batches
    for (i <- 0 until 3)
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(src)
    val model = Text.nbModel(spark, sf)
    val expected = Text.nbScore(docs, model).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDecimal(3))).toSet
    assert(expected.nonEmpty)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = Streaming.sink(stream)(Streaming.transformSinkBatch(_, _,
        b => Text.nbScore(b, model), target, ledger))
      .option("checkpointLocation", s"$base/ck").start()
    try q.processAllAvailable() finally q.stop()
    val committed = spark.read.parquet(ledger)
      .collect().map(_.getLong(0)).sorted
    assert(committed.length >= 3,
      s"expected >=3 micro-batches, got ${committed.toSeq}")
    val outSchema = Text.nbScore(docs, model).schema
    def got = Streaming.gatedSplitRead(spark, target, ledger, outSchema)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDecimal(3)))
    assert(got.toSet == expected && got.length == expected.size,
      "streamed predictions differ from batch scoring")
    // at-least-once delivery: replaying a committed batch id (with
    // whatever rows the source re-delivers) must be a no-op
    Streaming.transformSinkBatch(docs.limit(3), committed.head,
      b => Text.nbScore(b, model), target, ledger)
    assert(got.length == expected.size,
      "re-delivered committed batch landed twice")
  }

  test("stream_psi_monitor twin: a streaming windowed count state plus " +
    "a batch alerter pass over it reproduces the declared monitor " +
    "bit-for-bit") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
      TimestampNTZType}
    // the production split: the STREAM maintains only per-(day, bucket)
    // counts (a streaming-legal windowed aggregate, model-sized state);
    // the ALERTER computes PSI vs the first day's reference off that
    // state. Their composition must equal the declared batch-twin
    // query exactly — counts are integers and the PSI arithmetic is
    // the identical decimal-term expression, so equality is bitwise.
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    val dir = java.nio.file.Paths.get(
      "/root/repo/target/graft_io/stream_events_" +
        src.getParent.getFileName.toString)
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, src)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchRaw = spark.read.parquet(dir.toString)
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    val stream = normalize(
      spark.readStream.schema(batchRaw.schema).parquet(dir.toString))
    val sq = stream
      .select(window(col("ts"), "1 day").as("w"),
        coalesce(floor(col("value") / 50).cast(LongType), lit(-1L))
          .as("bucket"))
      .groupBy("w", "bucket").agg(count(lit(1)).as("n"))
      .select(col("w.start").cast(LongType).as("day_s"),
        col("bucket"), col("n"))
      .writeStream.format("memory").queryName("fs_psi_state")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    // alerter pass (plain batch over the streamed state)
    val state = spark.table("fs_psi_state")
      .select((col("day_s") / 86400).cast(LongType).as("day"),
        col("bucket"), col("n"))
    val d0 = state.agg(min("day")).head().getLong(0)
    val ref = state.filter(col("day") === d0)
      .select(col("bucket"), col("n").as("nref"))
      .localCheckpoint(false) // grid + join reuse — sever the lineage
    val nrV = ref.agg(sum("nref")).head().getLong(0)
    val cur = state.filter(col("day") > d0)
      .select(col("day"), col("bucket"), col("n").as("ncur"))
      .localCheckpoint(false)
    val ct = cur.groupBy("day").agg(sum("ncur").as("nc"))
    val hb = cur.select("day", "bucket")
      .unionByName(ct.select(col("day")).crossJoin(ref.select("bucket")))
      .distinct()
    val p = (col("nref") + 1).cast(DoubleType) / lit(nrV + 12).cast(DoubleType)
    val q = (col("ncur") + 1).cast(DoubleType) /
      (col("nc") + 12).cast(DoubleType)
    val alerted = hb.join(ref, Seq("bucket"), "left")
      .join(cur, Seq("day", "bucket"), "left")
      .na.fill(0L, Seq("nref", "ncur"))
      .join(ct, "day")
      .select(col("day"), col("ncur"),
        ((p - q) * log(p / q)).cast(DecimalType(20, 9)).as("term"))
      .groupBy("day")
      .agg(sum("ncur").as("n_events"),
        sum(col("term")).cast(DoubleType).as("psi9"))
      .select((col("day") * 86400000000L).as("window_us"),
        col("n_events"), col("psi9"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val declared = SparkEntry.queries("stream_psi_monitor")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(alerted.nonEmpty && alerted.length == declared.length,
      s"${alerted.length} windows vs declared ${declared.length}")
    alerted.zip(declared).foreach { case (a, b) =>
      assert(a._1 == b._1 && a._2 == b._2 && a._3 == b._3,
        s"window drifted: streamed $a vs declared $b")
    }
  }

  test("streaming curation pipeline: permissive parse -> quarantine " +
    "route -> NB classify -> temperature-sampled sink under the " +
    "versioned ledger, with an injected first-attempt crash — the " +
    "committed channels equal the declared batch twin exactly") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Dataset, Row}
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.queries.{MlPrep, Text}
    import graft.functions.XHash.sha60
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_curation").toString
    val (kept, dropped, dlq, ledger, ck) = (s"$base/kept", s"$base/dropped",
      s"$base/dlq", s"$base/ledger", s"$base/ck")
    // static model + sampling policy — broadcast-sized frames reused by
    // every micro-batch (the production shape: train once, score the
    // stream)
    val model = Text.nbModel(spark, sf)
    val rates = MlPrep.temperatureRatesPpm(spark, sf)
      .select(col("lang").as("rlang"), col("rate_ppm"))
    def parse(raw: DataFrame): DataFrame = raw
      .select(split(col("value"), "\\|").as("f"))
      .select(
        // try_ forms throughout: ANSI element_at/cast THROW on a
        // short or non-numeric corrupt line — the parse must yield
        // nulls for the gate to route, never kill the task
        expr("try_cast(try_element_at(f, 1) AS BIGINT)").as("doc_id"),
        expr("try_element_at(f, 2)").as("lang"),
        expr("CASE WHEN size(f) = 3 THEN try_element_at(f, 3) END")
          .as("text"))
    val okGate = col("doc_id").isNotNull && col("text").isNotNull
    def score(df: DataFrame): DataFrame =
      Text.nbScore(df.select(col("doc_id"), col("lang"), col("text")), model)
        .join(broadcast(rates), col("pred_lang") === col("rlang"))
    val keepGate =
      sha60(col("doc_id").cast(StringType)) % 1000000 < col("rate_ppm")
    // the stream_curation universe (the test split) rendered as raw
    // delimited lines: every 10th id corrupted, null payloads short
    val lines: Seq[String] = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"),
        col("text"))
      .collect().toSeq.map { r =>
        val id = r.getLong(0)
        if (id % 10 == 0) s"corrupt_line_$id"
        else if (r.isNullAt(2)) s"$id|${r.getString(1)}"
        else s"$id|${r.getString(1)}|${r.getString(2)}"
      }
    val input = MemoryStream[String]
    @volatile var injected = false
    def startInjecting() = input.toDF().writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val parsed = parse(b.toDF())
        if (id == 1L && !injected) {
          injected = true
          // the crash window: all three channel dirs written, ledger
          // commit never reached, sink attempt reported FAILED
          Streaming.curationVersion(parsed, id, okGate, score _, keepGate,
            kept, dropped, dlq)
          throw new RuntimeException("injected first-attempt crash")
        }
        Streaming.curationBatch(parsed, id, okGate, score _, keepGate,
          kept, dropped, dlq, ledger)
      }
      .start()
    val (a, b) = lines.splitAt(lines.size / 2)
    var q = startInjecting()
    input.addData(a: _*)
    q.processAllAvailable() // batch 0 commits
    input.addData(b: _*)
    intercept[Exception] { q.processAllAvailable() } // batch 1 crashes
    assert(injected, "the injected failure must actually have fired")
    // torn batch-1 dirs exist but are ledger-invisible
    val scoredSchema = score(parse(Seq("0|en|x y z").toDF("value"))
      .filter(okGate)).schema
    val parsedSchema = parse(Seq("x").toDF("value")).schema
    def channel(path: String, sch: org.apache.spark.sql.types.StructType) =
      Streaming.gatedSplitRead(spark, path, ledger, sch)
    val committedMid = channel(kept, scoredSchema).count() +
      channel(dropped, scoredSchema).count() +
      channel(dlq, parsedSchema).count()
    assert(committedMid == a.size.toLong,
      s"torn batch-1 writes leaked into the committed view: $committedMid")
    // operational restart through the PUBLIC wiring, same checkpoint —
    // batch 1 re-delivers with the same id and lands exactly once
    q = Streaming.sink(input.toDF())((b, id) =>
        Streaming.curationBatch(parse(b), id, okGate, score _, keepGate,
          kept, dropped, dlq, ledger))
      .option("checkpointLocation", ck).start()
    q.processAllAvailable()
    q.stop()
    val streamed: Set[(String, String, Long)] =
      channel(kept, scoredSchema).groupBy("pred_lang").count().collect()
        .map(r => ("kept", r.getString(0), r.getLong(1))).toSet ++
      channel(dropped, scoredSchema).groupBy("pred_lang").count().collect()
        .map(r => ("dropped", r.getString(0), r.getLong(1))).toSet ++
      Set(("quarantine", "", channel(dlq, parsedSchema).count()))
    val declared = SparkEntry.queries("stream_curation")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed == declared,
      s"streamed curation summary drifted:\n  streamed $streamed\n  " +
        s"declared $declared")
  }

  test("streaming ANN admission gate: arriving vectors stream " +
    "micro-batch-wise through the versioned transform sink with a " +
    "crash injection — committed verdicts equal the declared batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import graft.queries.Similarity
    implicit val ctx = spark.sqlContext
    val d = sf
    val base = java.nio.file.Files
      .createTempDirectory("graft_anngate").toString
    val (target, ledger, ck) = (s"$base/verdicts", s"$base/ledger",
      s"$base/ck")
    // the declared query's arriving slice, fed as a stream in chunks
    val arrivals: Seq[ArrVec] = spark.read
      .parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") % 10 === 3 && col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => ArrVec(r.getLong(0), r.getSeq[Float](1))).toSeq
    def verdicts(b: org.apache.spark.sql.DataFrame) =
      graft.queries.SimilarityFitted.annAdmissionVerdicts(spark, d, b,
        broadcastArrivals = true)
    val input = MemoryStream[ArrVec]
    @volatile var injected = false
    def start() = input.toDF().writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (id == 1L && !injected) {
          injected = true
          // crash window: verdict dir written, ledger commit missed
          verdicts(b.toDF()).write.mode("overwrite")
            .parquet(s"$target/b$id")
          throw new RuntimeException("injected first-attempt crash")
        }
        Streaming.transformSinkBatch(b.toDF(), id, verdicts _, target,
          ledger)
      }
      .start()
    val (c1, c2) = arrivals.splitAt(arrivals.size / 2)
    var q = start()
    input.addData(c1: _*)
    q.processAllAvailable() // batch 0 commits
    input.addData(c2: _*)
    intercept[Exception] { q.processAllAvailable() } // batch 1 crashes
    assert(injected)
    q = start() // restart from the same checkpoint; batch 1 re-delivers
    q.processAllAvailable()
    q.stop()
    val schema = verdicts(Seq.empty[ArrVec].toDF()).schema
    val streamed = Streaming.gatedSplitRead(spark, target, ledger, schema)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val declared = SparkEntry.queries("dedup_embedding_incremental")(
        spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(streamed == declared,
      s"streamed verdicts drifted from the batch twin: " +
        s"${(streamed diff declared).take(3)} vs " +
        s"${(declared diff streamed).take(3)}")
  }

  test("maintained standing ANN index: two consecutive micro-batches " +
    "under the versioned ledger with a crash injection — batch 2's " +
    "verdict MUST see batch 1's admission (r11 item 6)") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import graft.queries.SimilarityFitted
    implicit val ctx = spark.sqlContext
    val d = sf
    val base = java.nio.file.Files
      .createTempDirectory("graft_annidx").toString
    val (idx, verd, ledger, ck) =
      (s"$base/index", s"$base/verdicts", s"$base/ledger", s"$base/ck")
    // bootstrap: the standing corpus's fitted assignment lands ONCE as
    // the ledger-committed version -1 (idempotent — the second call is
    // a no-op)
    SimilarityFitted.annIndexBootstrap(spark, d, idx, ledger)
    SimilarityFitted.annIndexBootstrap(spark, d, idx, ledger)
    // batch 1 carries an arrival the declared batch twin calls NON-dup
    // (so the gate ADMITS it into the index); batch 2 carries its
    // exact clone under a fresh id — the clone has no 0.35-match in
    // the original standing corpus by construction, so it is flagged
    // dup IFF batch 2's committed view includes batch 1's admission.
    val twin = SparkEntry.queries("dedup_embedding_incremental")(spark, d)
      .collect()
    val nonDupId = twin.filter(!_.getBoolean(3)).map(_.getLong(0)).min
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") === nonDupId)
      .select("embedding").head.getSeq[Float](0)
    val cloneId = 900000000L
    val input = MemoryStream[ArrVec]
    @volatile var injected = false
    def start() = input.toDF().writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (id == 1L && !injected) {
          injected = true
          // crash window: torn per-batch dirs written (ledger-invisible
          // until the commit row), ledger row missed
          b.toDF().write.mode("overwrite").parquet(s"$verd/b$id")
          b.toDF().write.mode("overwrite").parquet(s"$idx/b$id")
          throw new RuntimeException("injected first-attempt crash")
        }
        SimilarityFitted.annIndexBatch(spark, d, b.toDF(), id, idx,
          verd, ledger)
      }
      .start()
    var q = start()
    input.addData(ArrVec(nonDupId, emb))
    q.processAllAvailable() // batch 0 commits: nonDupId admitted
    input.addData(ArrVec(cloneId, emb))
    intercept[Exception] { q.processAllAvailable() } // batch 1 crashes
    assert(injected)
    q = start() // restart; batch 1 re-delivers and commits exactly once
    q.processAllAvailable()
    q.stop()
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_matches",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("match_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("is_dup",
        org.apache.spark.sql.types.BooleanType)))
    val verdicts = Streaming.gatedSplitRead(spark, verd, ledger, vSchema)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(verdicts.size == 2, s"expected exactly-once verdicts for 2 " +
      s"arrivals, got $verdicts")
    assert(verdicts(nonDupId) == ((0L, -1L, false)),
      s"batch-1 arrival must be admitted: ${verdicts(nonDupId)}")
    assert(verdicts(cloneId) == ((1L, nonDupId, true)),
      "batch-2 clone must match EXACTLY its batch-1 admission " +
        s"(the maintained-index proof): ${verdicts(cloneId)}")
    // the committed index carries the admission, never the rejected dup
    val idxIds = Streaming.gatedSplitRead(spark, idx, ledger,
      spark.read.parquet(s"$idx/b-1").schema)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(idxIds.contains(nonDupId), "admission missing from the index")
    assert(!idxIds.contains(cloneId), "rejected dup leaked into the index")
  }

  test("maintained ANN index epochs: ledger-committed compaction (read " +
    "path back to O(1) dirs, crash-safe across the boundary) and the " +
    "occupancy-drift refit, verdicts straddling both (r12 items 4-5)") {
    import spark.implicits._
    import graft.queries.SimilarityFitted
    val d = sf
    val base = java.nio.file.Files
      .createTempDirectory("graft_annepoch").toString
    val (idx, verd, ledger) =
      (s"$base/index", s"$base/verdicts", s"$base/ledger")
    SimilarityFitted.annIndexBootstrap(spark, d, idx, ledger)
    // batch 10 admits a non-dup arrival (the existing witness's setup)
    val twin = SparkEntry.queries("dedup_embedding_incremental")(spark, d)
      .collect()
    val nonDupId = twin.filter(!_.getBoolean(3)).map(_.getLong(0)).min
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") === nonDupId)
      .select("embedding").head.getSeq[Float](0)
    SimilarityFitted.annIndexBatch(spark, d,
      Seq(ArrVec(nonDupId, emb)).toDF(), 10L, idx, verd, ledger)
    val preIds = SimilarityFitted.annIndexView(spark, idx, ledger)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(preIds.contains(nonDupId))
    def fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dirExists(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(p))
    // CRASH WINDOW: epoch dirs staged, commit row missed — readers must
    // keep serving the uncompacted union, bit-identically
    SimilarityFitted.annIndexEpochVersion(spark, d, idx, ledger, 0L,
      refit = false)
    assert(SimilarityFitted.committedEpoch(spark, ledger).isEmpty,
      "torn epoch dirs became visible without the commit row")
    assert(SimilarityFitted.annIndexView(spark, idx, ledger)
      .select("vec_id").collect().map(_.getLong(0)).toSet == preIds,
      "the crash-window read drifted from the committed view")
    // re-run completes the compaction exactly once
    assert(SimilarityFitted.annIndexAdvanceEpoch(spark, d, idx, ledger,
      refit = false).contains(0L))
    assert(SimilarityFitted.committedEpoch(spark, ledger)
      .contains((0L, 10L)))
    // read path is O(1) dirs: the covered batch dirs are retired, the
    // epoch base alone carries the index
    assert(!dirExists(s"$idx/b-1") && !dirExists(s"$idx/b10"),
      "compaction did not retire the covered batch dirs")
    assert(dirExists(s"$idx/e0/base") && dirExists(s"$idx/e0/cents"))
    val postIds = SimilarityFitted.annIndexView(spark, idx, ledger)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(postIds == preIds,
      "compaction changed the committed index content")
    // a batch AFTER the compaction still sees the pre-compaction
    // admission (the cross-boundary exactly-once proof): its clone is
    // flagged dup against exactly that admission
    val clone1 = 910000000L
    SimilarityFitted.annIndexBatch(spark, d,
      Seq(ArrVec(clone1, emb)).toDF(), 11L, idx, verd, ledger)
    val v1 = spark.read.parquet(s"$verd/b11").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(v1(clone1) == ((1L, nonDupId, true)),
      s"post-compaction batch lost the pre-compaction admission: $v1")
    // REFIT trigger, both directions (the statistics rule): at the
    // bootstrap quantizer occupancy sits ~on target, so the 2x default
    // must NOT fire; a pinched factor must fire and commit epoch 1
    assert(!SimilarityFitted.annIndexMaybeRefit(spark, d, idx, ledger),
      "refit fired with occupancy on target — the trigger is broken")
    assert(SimilarityFitted.committedEpoch(spark, ledger)
      .contains((0L, 10L)))
    assert(SimilarityFitted.annIndexMaybeRefit(spark, d, idx, ledger,
      factor = 0.05), "pinched-factor refit did not fire")
    assert(SimilarityFitted.committedEpoch(spark, ledger)
      .contains((1L, 11L)))
    assert(!dirExists(s"$idx/e0") && !dirExists(s"$idx/b11"),
      "refit epoch did not retire the superseded dirs")
    // occupancy is pinned back to ~the IvfOccupancy target: cells were
    // re-seeded on the INDEX rows (stride 32), so n/cells ∈ [16, 64]
    val n = SimilarityFitted.annIndexView(spark, idx, ledger).count()
    val cells = SimilarityFitted.annIndexCents(spark, d, idx, ledger)
      .select(org.apache.spark.sql.functions.size(col("cs")))
      .head.getInt(0)
    val occ = n.toDouble / cells
    info(f"post-refit: n=$n cells=$cells mean occupancy $occ%.1f")
    assert(occ >= 16 && occ <= 64,
      f"post-refit occupancy $occ%.1f is off the ~32 target")
    // the reassigned base agrees with the persisted quantizer: every
    // cell id is one of the epoch's centroid ids
    val cids = SimilarityFitted.annIndexCents(spark, d, idx, ledger)
      .select(explode(col("cs.cid")).as("cid"))
      .collect().map(_.getLong(0)).toSet
    val badCells = SimilarityFitted.annIndexView(spark, idx, ledger)
      .select("cell").distinct().collect().map(_.getLong(0))
      .filterNot(cids)
    assert(badCells.isEmpty,
      s"index cells not in the epoch quantizer: ${badCells.take(5)}")
    // verdicts STRADDLE the refit: a fresh clone after the refit still
    // matches the (re-assigned) admission, exactly once
    val clone2 = 920000000L
    SimilarityFitted.annIndexBatch(spark, d,
      Seq(ArrVec(clone2, emb)).toDF(), 12L, idx, verd, ledger)
    val v2 = spark.read.parquet(s"$verd/b12").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(v2(clone2) == ((1L, nonDupId, true)),
      s"post-refit batch lost the admission under the new quantizer: $v2")
  }

  test("maintained-index MAINTENANCE POLICY over a 20-batch horizon " +
    "(r13 item 2): automatic compactions keep the read path bounded, " +
    "the drift alert fires a refit mid-run with NO manual calls, the " +
    "monitor recalibrates and quiets after the repair, and verdicts " +
    "stay exactly-once across a crash plus both epoch kinds") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import graft.queries.{Similarity, SimilarityFitted}
    implicit val ctx = spark.sqlContext
    // clustered standing corpus (the EmbeddingDriftSpec geometry):
    // 2000 rows on centers 0–5. In-distribution arrivals are REJECTED
    // by the 0.35 admission gate (they match the standing corpus), so
    // drift enters the index exactly the way production sees it —
    // through the gate, as admissions from an unseen cluster (6).
    val d = Catalog.scratch(sf, "maint_policy")
    Catalog.once(spark, sf, "maint_policy") {
      val rnd = new scala.util.Random(55L)
      (0 until 2000).map { id =>
        val c = Similarity.ivfCentroids(id % 6)
        (id.toLong, c.map(v => (v + rnd.nextGaussian() * 0.06).toFloat),
          s"l${id % 4}")
      }.toDF("vec_id", "embedding", "label").coalesce(1)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    }
    val base = java.nio.file.Files
      .createTempDirectory("graft_maintpol").toString
    val (idx, verd, ledger, ck) =
      (s"$base/index", s"$base/verdicts", s"$base/ledger", s"$base/ck")
    SimilarityFitted.annIndexBootstrap(spark, d, idx, ledger)
    // horizon: 0–9 in-distribution (200 rows, centers 0–5); 10–11 the
    // drift regime (300 rows, ALL center 6 — 10 admits, 11 re-sees its
    // own cluster and is rejected as dup of 10's admissions but still
    // SCORES as drifted); 12–19 the post-regime mix (centers 0–6 at
    // ~1/7 — matching what the repaired index now believes), so the
    // recalibrated monitor must go quiet. Batch sizes track the
    // calibration slice size (calSlices=10 → ~190–230-row slices):
    // PSI is n_cur-dependent, matched sizes keep 2.5x honest.
    val rnd2 = new scala.util.Random(91L)
    def draw(n: Int, id0: Long, center: Int => Int): Seq[ArrVec] =
      (0 until n).map { i =>
        ArrVec(id0 + i.toLong, Similarity.ivfCentroids(center(i))
          .map(v => (v + rnd2.nextGaussian() * 0.06).toFloat))
      }
    def batchOf(id: Int): Seq[ArrVec] = {
      val id0 = 1000000L + id.toLong * 10000L
      if (id < 10) draw(200, id0, _ % 6)
      else if (id <= 11) draw(300, id0, _ => 6)
      else draw(200, id0, _ % 7)
    }
    val ticks =
      scala.collection.mutable.ArrayBuffer[SimilarityFitted.MaintenanceTick]()
    @volatile var injected = false
    val input = MemoryStream[ArrVec]
    def start() = input.toDF().writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (id == 14L && !injected) {
          injected = true
          // crash window on a NON-tick batch: torn verdict dir written,
          // ledger row missed — the restart must commit exactly once
          b.toDF().write.mode("overwrite").parquet(s"$verd/b$id")
          throw new RuntimeException("injected crash")
        }
        SimilarityFitted.annIndexMaintainedBatch(spark, d, b.toDF(), id,
          idx, verd, ledger, every = 2, maxDirs = 4, calSlices = 10)
          .foreach(t => ticks.synchronized { ticks += t })
      }
      .start()
    var q = start()
    (0 until 20).foreach { i =>
      input.addData(batchOf(i): _*)
      if (i == 14) {
        intercept[Exception] { q.processAllAvailable() }
        assert(injected)
        q = start()
      }
      q.processAllAvailable()
    }
    q.stop()
    val byId = ticks.synchronized { ticks.toSeq }.map(t => t.batchId -> t)
      .toMap
    ticks.foreach(t => info(f"tick b${t.batchId}: psi ${t.psi}%.3f " +
      f"(null ${t.nullLevel}%.3f) alert=${t.alert} refit=${t.refitted} " +
      f"compact=${t.compacted}"))
    // the policy ticked every 2nd batch, nothing more, nothing less
    assert(byId.keySet == (1L to 19L by 2).toSet,
      s"ticks fired at ${byId.keySet.toSeq.sorted}")
    // ALERT → REPAIR, automatically and exactly once: the only refit
    // is the drift tick's, and it was alert-driven (the occupancy
    // volume trigger stays silent at these sizes)
    val refits = ticks.filter(_.refitted)
    assert(refits.map(_.batchId) == Seq(11L),
      s"expected exactly one alert-refit at b11, got " +
        s"${refits.map(_.batchId)}")
    assert(refits.head.alert && refits.head.psi >
      2.5 * refits.head.nullLevel,
      s"the b11 refit was not alert-driven: ${refits.head}")
    // no false alarms: every other tick — pre-drift AND post-repair
    // (the recalibrated monitor against the re-fit quantizer) — stays
    // under its alert line
    ticks.filterNot(_.batchId == 11L).foreach(t =>
      assert(!t.alert, s"false alarm at b${t.batchId}: $t"))
    // compactions fired automatically on BOTH sides of the refit, and
    // the read path stayed bounded over the whole horizon
    assert(ticks.exists(t => t.batchId < 10 && t.compacted),
      "no automatic compaction before the drift phase")
    assert(ticks.exists(t => t.batchId > 11 && t.compacted),
      "no automatic compaction after the refit")
    val live = SimilarityFitted.annIndexLiveDirs(spark, ledger)
    assert(live <= 6,
      s"read path grew to $live dirs — compaction is not holding O(1)")
    // exactly-once verdicts across the crash, the compactions and the
    // refit: one verdict row per distinct arrival, no dups, no gaps
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_matches",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("match_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("is_dup",
        org.apache.spark.sql.types.BooleanType)))
    val verdicts = Streaming.gatedSplitRead(spark, verd, ledger, vSchema)
      .localCheckpoint()
    val total = (0 until 20).map(batchOf(_).size).sum
    assert(verdicts.count() == total,
      s"expected $total exactly-once verdicts, got ${verdicts.count()}")
    assert(verdicts.select("vec_id").distinct().count() == total,
      "duplicate verdicts for one arrival — exactly-once broke")
    // the drift arc in the verdicts: b10's unseen-cluster rows were
    // ADMITTED (that is how the drift got in), b11's were rejected as
    // dups OF b10's admissions — across the refit boundary. A ~1-row
    // tail tolerance on the 300-row batches: an occasional draw
    // grazing the 0.35 band against some standing vector is the
    // data's Gaussian tail, not the gate (the EmbeddingDriftSpec
    // note) — the verdict↔index COHERENCE below stays exact.
    val b10ids = batchOf(10).map(_.vec_id).toSet
    val b11ids = batchOf(11).map(_.vec_id).toSet
    val v10 = verdicts.filter(col("vec_id").isInCollection(b10ids))
    assert(v10.filter(!col("is_dup")).count() >= 295,
      "b10's unseen-cluster arrivals were not (almost all) admitted")
    val v11 = verdicts.filter(col("vec_id").isInCollection(b11ids))
    assert(v11.filter(col("is_dup") &&
      col("match_id").isInCollection(b10ids)).count() >= 295,
      "b11's re-sighting of the drift cluster was not flagged dup " +
        "against b10's admissions")
    // verdict↔index coherence, EXACT: a row lives in the committed
    // index iff its verdict admitted it
    val idxIds = SimilarityFitted.annIndexView(spark, idx, ledger)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val admitted10 = v10.filter(!col("is_dup")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted10.subsetOf(idxIds) &&
      (b10ids -- admitted10).forall(!idxIds.contains(_)),
      "b10 index membership diverged from its admission verdicts")
    val admitted11 = v11.filter(!col("is_dup")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted11.subsetOf(idxIds) &&
      (b11ids -- admitted11).forall(!idxIds.contains(_)),
      "b11 index membership diverged from its admission verdicts")
  }
}
