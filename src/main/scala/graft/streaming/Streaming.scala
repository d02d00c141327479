package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  ValueState}
import org.apache.spark.sql.types.StructType

/** Streaming surface (SURVEY.md §2 rows B39-B41). The reference (dask)
  * is batch-only — this tier is the engine's capability uplift, designed
  * batch-first: every transform here takes a plain DataFrame and runs
  * identically under `readStream` (StreamingSpec drives them through
  * MemoryStream micro-batches and asserts batch ≡ streaming).
  *
  * Scale: all stateful ops key their state by user/event id — state
  * stores shard with the shuffle partitioning; watermarks bound state
  * retention so a 100 TB/day stream does not accumulate unbounded state.
  */
object Streaming {

  /** B36-twin used by StreamingSpec: tumbling 1h counts by type —
    * identical expression batch or stream. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** B39: watermarked windowed aggregate — on a stream, rows later than
    * `delay` behind the max event time are dropped from open windows. */
  def watermarkedCounts(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** B40: exactly-once event dedup bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming twin of the `time_ohlc` query: open/close via
    * min_by/max_by on the total (ts, event_id) key — the batch query's
    * row_number formulation is window-function-based (not allowed on
    * streams), but min_by over a total order picks the SAME row, so
    * batch ≡ streaming row-for-row (StreamingSpec asserts it). All
    * five candle aggregates ride one windowed hash aggregation whose
    * state the watermark evicts. */
  def ohlcCandles(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n"))

  /** Stream-stream interval join: each click joined to the same user's
    * errors within the following `window`. Watermarks on BOTH sides plus
    * the two-sided time-range predicate are what let Spark evict join
    * state — without them a stream-stream join buffers both streams
    * forever (the 100 TB/day failure mode). The batch twin is the
    * `join_range` query shape; StreamingSpec asserts stream ≡ batch. */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame,
      delay: String = "10 minutes", window: String = "5 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", delay).alias("c")
    val e = errors.withWatermark("ts", delay).alias("e")
    c.join(e, expr(
      s"""c.user_id = e.user_id AND
         |e.ts >= c.ts AND e.ts <= c.ts + interval $window""".stripMargin))
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"),
        col("e.event_id").as("error_id"))
  }

  /** Stream-stream LEFT OUTER interval join — [[clickErrorJoin]] with
    * null-emission semantics: every click emits; matched clicks emit
    * per matching error as they arrive, and an UNMATCHED click emits
    * exactly once with a NULL error_id — but only after the watermark
    * passes the end of its join window (click.ts + window + delay),
    * because until then a matching error could still arrive. That
    * deferred null emission IS the state-eviction moment: the click
    * row leaves the join state store and the null row rides out in the
    * same micro-batch, which is what bounds left-side state on a
    * 100 TB/day stream (StreamingSpec witnesses both the deferral and
    * the exactly-once emission). */
  def clickErrorLeftJoin(clicks: DataFrame, errors: DataFrame,
      delay: String = "10 minutes", window: String = "5 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", delay).alias("c")
    val e = errors.withWatermark("ts", delay).alias("e")
    c.join(e, expr(
      s"""c.user_id = e.user_id AND
         |e.ts >= c.ts AND e.ts <= c.ts + interval $window""".stripMargin),
      "left_outer")
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"),
        col("e.event_id").as("error_id"))
  }

  /** B38 streaming twin: session windows (30-min inactivity gap) per
    * user. On a stream the watermark is what closes a session — a
    * session stays open state until event time passes its end + delay;
    * Spark merges adjacent in-gap windows inside the state store
    * without replaying a user's history. Identical expression to the
    * batch `time_session` shape, so StreamingSpec asserts batch ≡
    * final streamed sessions. */
  def sessionCounts(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Stream ⋈ static enrichment — the dimension-lookup shape: the
    * static side is re-planned per micro-batch and no join state
    * accumulates — unlike stream-stream joins this needs no watermark
    * at all. NO broadcast hint: the dimension is sf-proportional
    * (customer), so the strategy must stay size-driven — the planner
    * broadcasts it at test scale on its own and demotes to a shuffle
    * join when the dim outgrows the threshold at 100 TB. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(dim, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("segment"), lit("unknown")).as("segment"))

  final case class UserEvent(user_id: Long, ts_us: Long, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** The one B41 running-aggregate step, shared by all three flavors
    * below: a user's batch of events, in (ts_us, value) order, folded
    * onto its previous running row (zero before the first batch). */
  private def foldRunning(key: Long, prev: Option[UserRunning],
      rows: Iterator[UserEvent]): UserRunning =
    rows.toSeq.sortBy(e => (e.ts_us, e.value))
      .foldLeft(prev.getOrElse(UserRunning(key, 0L, 0.0)))((acc, e) =>
        UserRunning(key, acc.n_events + 1, acc.sum_value + e.value))

  /** B41 (new API): the same running aggregate as a Spark 4
    * `StatefulProcessor` for `transformWithState` — typed ValueState,
    * richer lifecycle (init/timers/close) than flatMapGroupsWithState.
    * Requires the RocksDB state store provider (StreamingSpec arms it). */
  class RunningUserProcessor
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserRunning] = {
      val next =
        foldRunning(key, Option.when(state.exists())(state.get()), rows)
      state.update(next)
      Iterator(next)
    }
  }

  final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp,
      value: Double)
  final case class UserFlush(user_id: Long, n_events: Long,
      sum_value: Double, flushed_at_ms: Long)

  /** B41 lifecycle depth: EVENT-TIME TIMERS. Per user, accumulate a
    * running aggregate and keep one idle timer armed at
    * (last event time + gap); when the WATERMARK passes that instant
    * the timer fires — `handleExpiredTimer` emits the flush row once
    * and clears both state slots, so idle users cost zero state after
    * their gap. This is the custom-session-window shape (the built-in
    * `session_window` is its declarative cousin) and the part of the
    * transformWithState lifecycle the running-agg processor doesn't
    * touch: timer registration, re-arming (delete + register on every
    * new event), and expiry-driven eviction. StreamingSpec witnesses
    * deferral (no flush while the gap is open), exactly-once flush on
    * watermark passage, and that a post-flush event starts a FRESH
    * aggregate. */
  class IdleFlushProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, UserFlush] {
    @transient private var agg: ValueState[UserRunning] = _
    /** The armed timer's expiry, so re-arming can delete the old one —
      * timers are not implicitly replaced per key. */
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[UserRunning]("agg",
        Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed",
        Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[UserFlush] = {
      val prev = if (agg.exists()) agg.get() else UserRunning(key, 0L, 0.0)
      // recover last-seen from the armed expiry so late-but-in-gap
      // events never move the timer BACKWARDS
      var maxMs = if (armed.exists()) armed.get() - gapMs else Long.MinValue
      val next = rows.foldLeft(prev) { (acc, e) =>
        maxMs = math.max(maxMs, e.ts.getTime)
        UserRunning(key, acc.n_events + 1, acc.sum_value + e.value)
      }
      agg.update(next)
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      val expiry = maxMs + gapMs
      getHandle.registerTimer(expiry)
      armed.update(expiry)
      Iterator.empty // emission is timer-driven only
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[UserFlush] = {
      val out =
        if (agg.exists()) {
          val s = agg.get()
          Iterator(UserFlush(key, s.n_events, s.sum_value,
            expiredTimerInfo.getExpiryTimeInMs))
        } else Iterator.empty
      agg.clear()
      armed.clear()
      out
    }
  }

  final case class TypedEvent(user_id: Long, event_type: String,
      value: Double)
  final case class TypeCount(user_id: Long, event_type: String, n: Long,
      last3_sum: Double)

  /** B41 state-primitive coverage beyond ValueState: MAP state (one
    * running count per event_type inside each user's state row — the
    * per-key sub-keyed layout that would otherwise force (user, type)
    * into the GROUPING key and multiply shuffle keys) and LIST state
    * (the last-3 values window per user, appended and trimmed in
    * place). Emits the updated (type, n) pairs of each batch plus the
    * rolling 3-value sum — StreamingSpec pins accumulation across
    * micro-batches for both primitives. */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[
      String, Long] = _
    @transient private var recent: org.apache.spark.sql.streaming.ListState[
      Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      recent = getHandle.getListState[Double]("recent",
        Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      // deterministic in-batch order (MemoryStream batches preserve
      // addData order; a production source would sort on event time)
      rows.foreach { e =>
        val prev =
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else 0L
        counts.updateValue(e.event_type, prev + 1L)
        recent.appendValue(e.value)
        touched += e.event_type
      }
      val kept = recent.get().toSeq.takeRight(3)
      recent.put(kept.toArray) // trim in place — bounded list state
      val l3 = kept.sum
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t), l3))
    }
  }

  /** Wire [[TypeCountsProcessor]] (no timers — processing-time none). */
  def typeCounts(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Wire [[IdleFlushProcessor]] under event-time mode: watermark on
    * `ts` (what advances the timers), grouped by user. */
  def idleFlush(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
      delay: String = "10 minutes"): Dataset[UserFlush] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", delay)
      .selectExpr("user_id", "ts", "value")
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new IdleFlushProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** transformWithState flavor of [[runningUserAgg]]. */
  def runningUserAggTws(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** WARM-START variant: [[RunningUserProcessor]] extended with
    * `handleInitialState` — the streaming job boots with per-user
    * aggregates computed OFFLINE (a warehouse backfill), then streams
    * increments on top. This is the batch→streaming hand-off every
    * lambda-architecture replacement needs: without initial state the
    * stream would re-count history or start from zero. The initial
    * rows arrive once, keyed like the stream, before the first batch's
    * data for that key. */
  class RunningUserWarmProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, UserEvent, UserRunning, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: UserRunning,
        timerValues: TimerValues): Unit =
      state.update(initial)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserRunning] = {
      val next =
        foldRunning(key, Option.when(state.exists())(state.get()), rows)
      state.update(next)
      Iterator(next)
    }
  }

  /** [[runningUserAggTws]] seeded from a batch frame of prior state. */
  def runningUserAggWarm(events: Dataset[UserEvent],
      initial: Dataset[UserRunning]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserWarmProcessor,
        TimeMode.None(), OutputMode.Append(),
        initial.groupByKey(_.user_id))
  }

  /** B41: per-user running aggregate with explicit custom state —
    * `flatMapGroupsWithState`, the custom-state primitive. Emits the
    * updated running row on every input batch.
    *
    * `withTimeout` arms a processing-time timeout that flushes+evicts
    * idle users' state (the production state-bounding knob). Note: an
    * armed timeout makes Spark schedule no-data micro-batches forever,
    * so `processAllAvailable()`-style synchronous tests must use the
    * default NoTimeout form. */
  def runningUserAgg(events: Dataset[UserEvent],
      withTimeout: Boolean = false): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    val timeout =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, timeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
            state.remove()
            out.iterator
          } else {
            val next = foldRunning(uid, state.getOption, rows)
            state.update(next)
            if (withTimeout) state.setTimeoutDuration("1 hour")
            Iterator(next)
          }
      }
  }

  /** Exactly-once ADDITIVE upsert of one micro-batch into a parquet
    * target — the `foreachBatch` streaming→warehouse bridge, committed
    * under the [[Ledger]] protocol. An additive merge (here: per-user
    * running sum/count) is exactly what a replay would double-count, so
    * the merge writes a fresh VERSION DIRECTORY `target/v<batchId>`
    * computed from the last COMMITTED version, never from its own
    * output: a replay through the crash window recomputes the same dir
    * from the same base. (A merge in place would read its own torn
    * write back and double-count; old versions accumulate until
    * [[vacuumVersions]] retires them.)
    *
    * Readers go through [[additiveUpsertRead]] (committed version
    * only). Scale: the merge is a key-partitioned groupBy of
    * committed ∪ delta — no driver state beyond the ledger's ids;
    * StreamingSpec witnesses the crash window with an injected
    * first-attempt failure between the two writes. */
  def additiveUpsertBatch(batch: DataFrame, batchId: Long,
      target: String, ledger: String): Unit =
    Ledger.once(batch.sparkSession, ledger, batchId)(
      additiveUpsertVersion(batch, batchId, target, ledger))

  /** The merge + version-dir write WITHOUT the ledger commit — the
    * first half of [[additiveUpsertBatch]], exposed so StreamingSpec
    * can stage a crash landing exactly between the two writes. */
  def additiveUpsertVersion(batch: DataFrame, batchId: Long,
      target: String, ledger: String): Unit = {
    val spark = batch.sparkSession
    val delta = batch.groupBy("user_id")
      .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("n_events"))
    additiveUpsertRead(spark, target, ledger).unionByName(delta)
      .groupBy("user_id")
      .agg(sum(col("sum_value")).as("sum_value"),
        sum(col("n_events")).as("n_events"))
      .write.mode("overwrite").parquet(s"$target/v$batchId")
  }

  /** Committed view of the upsert target: the version directory of the
    * highest LEDGER-COMMITTED batch id (a version dir without its
    * ledger row is an uncommitted torn write and is never read). Empty
    * typed frame before the first commit. */
  def additiveUpsertRead(spark: SparkSession, target: String,
      ledger: String): DataFrame = {
    import spark.implicits._
    Ledger.committed(spark, ledger).lastOption match {
      case Some(v) => spark.read.parquet(s"$target/v$v")
      case None => Seq.empty[(Long, Double, Long)]
        .toDF("user_id", "sum_value", "n_events")
    }
  }

  /** Retention vacuum for [[additiveUpsertBatch]]'s version
    * directories — the piece a transactional format would add: delete
    * `v<id>` snapshots older than the newest committed version,
    * retaining the last `keep` committed ones. Never touches dirs
    * at-or-above the newest committed id (a dir there is an in-flight
    * or torn write that its own replay deterministically overwrites)
    * and never the ledger (the append-only commit log is the atomicity
    * anchor; compacting it needs a write-then-swap protocol — a real
    * table format's job, documented not imitated). Safe at any point
    * between batches: readers resolve through the ledger max, which
    * `keep >= 1` preserves by construction. Returns the deleted version
    * ids. */
  def vacuumVersions(spark: SparkSession, target: String, ledger: String,
      keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "must retain at least the newest committed version")
    val committed = Ledger.committed(spark, ledger)
    if (committed.isEmpty) return Nil
    val retained = committed.takeRight(keep).toSet
    val newest = committed.last
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = Ledger.fs(spark, target)
    if (!fs.exists(p)) return Nil
    // a sub-cutoff dir is either a superseded committed snapshot or an
    // abandoned torn write whose id later recommitted into the same
    // path — both are dead weight
    val dead = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v"))
          n.drop(1).toLongOption.map(id => id -> st.getPath)
        else None
      }
      .filter { case (id, _) => id < newest && !retained(id) }
    dead.foreach { case (_, dir) => fs.delete(dir, true) }
    dead.map(_._1).sorted
  }

  /** STREAMING DEAD-LETTER channel — the quarantine surface under a
    * stream: each micro-batch splits on a row-level gate, passing rows
    * append to the main channel and failing rows to the dead-letter
    * channel, exactly once on BOTH channels — both splits write
    * per-batch directories (`b<batchId>`) committed under the
    * [[Ledger]] protocol, and readers ([[gatedSplitRead]]) union only
    * ledger-committed batch dirs. At 100 TB/day this is how one poison
    * record costs one dead-letter row instead of the stream (the batch
    * analogue is dq_expectations_route / scan_quarantine). */
  def gatedSplitBatch(batch: DataFrame, batchId: Long, gate: Column,
      okPath: String, dlqPath: String, ledger: String): Unit =
    Ledger.once(batch.sparkSession, ledger, batchId)(
      gatedSplitVersion(batch, batchId, gate, okPath, dlqPath))

  /** The split writes WITHOUT the ledger commit — exposed so
    * StreamingSpec can stage the crash window. */
  def gatedSplitVersion(batch: DataFrame, batchId: Long, gate: Column,
      okPath: String, dlqPath: String): Unit = {
    // a NULL gate verdict is a failing row — unjudgeable data belongs
    // in the dead letter channel, never silently dropped
    batch.filter(coalesce(gate, lit(false)))
      .write.mode("overwrite").parquet(s"$okPath/b$batchId")
    batch.filter(!coalesce(gate, lit(false)))
      .write.mode("overwrite").parquet(s"$dlqPath/b$batchId")
  }

  /** Committed view of one per-batch channel (`b<id>` dirs under
    * `path`): the union of the ledger-committed batch directories
    * (uncommitted torn writes are invisible). Empty-channel reads need
    * the caller's schema — day-zero streams have no committed batch to
    * infer from. */
  def gatedSplitRead(spark: SparkSession, path: String, ledger: String,
      schema: StructType): DataFrame =
    Ledger.readDirs(spark,
      Ledger.committed(spark, ledger).map(id => s"$path/b$id").toSeq,
      schema)

  /** STREAMING INFERENCE channel — apply an arbitrary batch transform
    * (e.g. scoring a micro-batch against a broadcast model,
    * Text.nbScore) and land the results exactly once: one per-batch
    * directory committed under the [[Ledger]] protocol. Readers union
    * committed dirs via [[gatedSplitRead]]. */
  def transformSinkBatch(batch: DataFrame, batchId: Long,
      transform: DataFrame => DataFrame, target: String,
      ledger: String): Unit =
    Ledger.once(batch.sparkSession, ledger, batchId)(
      transform(batch).write.mode("overwrite").parquet(s"$target/b$batchId"))

  /** END-TO-END STREAMING CURATION commit — the curation pieces
    * (PERMISSIVE-parse quarantine, in-engine model scoring,
    * deterministic sampling policy) composed under ONE exactly-once
    * protocol: each micro-batch splits three ways —
    *   quarantine (the row-gate fails or is null: unjudgeable data),
    *   kept      (scored rows passing the sampling gate),
    *   dropped   (scored rows the sampling policy rejects — persisted,
    *              not discarded: mix policies get re-tuned and a
    *              dropped row is a re-admissible asset)
    * — into per-batch dirs committed by one [[Ledger]] row.
    * `score` runs per micro-batch against static broadcast-sized
    * model frames — per-row scoring is chunking-invariant, so the
    * streamed result is bit-equal to the declared batch twin
    * (stream_curation), which StreamingSpec asserts through an
    * injected first-attempt crash. */
  def curationBatch(batch: DataFrame, batchId: Long, okGate: Column,
      score: DataFrame => DataFrame, keepGate: Column, keptPath: String,
      droppedPath: String, dlqPath: String, ledger: String): Unit =
    Ledger.once(batch.sparkSession, ledger, batchId)(
      curationVersion(batch, batchId, okGate, score, keepGate,
        keptPath, droppedPath, dlqPath))

  /** The three channel writes WITHOUT the ledger commit — exposed so
    * StreamingSpec can stage a crash landing inside the window. */
  def curationVersion(batch: DataFrame, batchId: Long, okGate: Column,
      score: DataFrame => DataFrame, keepGate: Column, keptPath: String,
      droppedPath: String, dlqPath: String): Unit = {
    val ok = batch.filter(coalesce(okGate, lit(false)))
    batch.filter(!coalesce(okGate, lit(false)))
      .write.mode("overwrite").parquet(s"$dlqPath/b$batchId")
    val scored = score(ok).localCheckpoint(false) // feeds both splits once
    scored.filter(coalesce(keepGate, lit(false)))
      .write.mode("overwrite").parquet(s"$keptPath/b$batchId")
    scored.filter(!coalesce(keepGate, lit(false)))
      .write.mode("overwrite").parquet(s"$droppedPath/b$batchId")
  }

  /** Wire a per-batch sink under a streaming query: `foreachBatch` hands
    * `perBatch` each micro-batch with its id — e.g.
    * `sink(events)(gatedSplitBatch(_, _, gate, ok, dlq, ledger))`. */
  def sink(events: DataFrame)(perBatch: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    events.writeStream.foreachBatch(
      (b: Dataset[Row], id: Long) => perBatch(b.toDF(), id))
}
