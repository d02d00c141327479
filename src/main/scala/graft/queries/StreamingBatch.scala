package graft.queries

import graft.{Decl, Det, Tables}
import graft.streaming.Streaming.{UserEvent, UserRunning}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Batch twins of the streaming tier (B39-B41) for the oracle gate —
  * the same semantics the streaming forms in graft.streaming implement
  * incrementally, expressed as finite-input queries DuckDB can replay.
  * StreamingSpec proves the streaming forms converge to these answers.
  */
object StreamingBatch {

  import Det._

  def decls: Seq[Decl] = Seq(

    // B39 batch analogue: a 10-minute watermark at end-of-input drops
    // rows more than 10 min behind the global max event time.
    Decl("watermark_late",
      """WITH m AS (SELECT max(ts) AS mx FROM events)
        |SELECT COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN ts >= mx - INTERVAL 10 MINUTE
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
        |  CAST(SUM(CASE WHEN ts < mx - INTERVAL 10 MINUTE
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |FROM events CROSS JOIN m""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val mx = broadcast(ev.agg(max(col("ts")).as("mx")))
      ev.crossJoin(mx).agg(
        count(lit(1)).as("n_total"),
        sum(when(col("ts") >= col("mx") - expr("INTERVAL 10 MINUTE"), 1L)
          .otherwise(0L)).as("n_within"),
        sum(when(col("ts") < col("mx") - expr("INTERVAL 10 MINUTE"), 1L)
          .otherwise(0L)).as("n_late"))
    },

    // B40 batch analogue: exactly-once dedup by event id.
    Decl("streaming_dedup",
      """SELECT COUNT(*) AS n_total, COUNT(DISTINCT event_id) AS n_unique
        |FROM events""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val uniq = ev.dropDuplicates("event_id")
      ev.agg(count(lit(1)).as("n_total"))
        .crossJoin(uniq.agg(count(lit(1)).as("n_unique")))
    },

    // B41 batch analogue: the per-user running aggregate's final state,
    // computed through the same typed groupByKey path the streaming form
    // uses (imperative per-group fold, executor-local). The in-group sum
    // quantizes each value to scale 6 (BigDecimal) — the exact analogue
    // of Det.dsum, so the fold order cannot perturb the oracle match.
    Decl("stateful_running_agg",
      // null measurements are dropped before the typed fold (the
      // UserEvent value field is a primitive Double); the oracle's
      // COUNT must see the same filtered stream
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  ${sqlSum("value")} AS sum_value
         |FROM events WHERE value IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .as[UserEvent]
      ev.groupByKey(_.user_id)
        .mapGroups { (uid, rows) =>
          var n = 0L
          var acc = JBigDecimal.ZERO
          rows.foreach { e =>
            n += 1
            acc = acc.add(
              JBigDecimal.valueOf(e.value).setScale(6, RoundingMode.HALF_UP))
          }
          UserRunning(uid, n, acc.doubleValue())
        }(Encoders.product[UserRunning])
        .toDF("user_id", "n_events", "sum_value")
        .orderBy("user_id")
    },

    // The streaming OHLC formulation under the oracle gate: min_by /
    // max_by over the total (ts, event_id) key — the ONLY argmin form
    // allowed on a stream (time_ohlc's row_number needs a finite
    // window). Total order ⇒ it picks the same rows as the window
    // form, so the oracle states it with row_number; StreamingSpec
    // additionally proves micro-batched ≡ batch.
    Decl("stream_ohlc",
      """WITH b AS (SELECT event_type, value,
        |    epoch_us(date_trunc('hour', ts)) AS h_us,
        |    row_number() OVER (PARTITION BY event_type,
        |        date_trunc('hour', ts) ORDER BY ts, event_id) AS rno,
        |    row_number() OVER (PARTITION BY event_type,
        |        date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rnc
        |  FROM events)
        |SELECT event_type, h_us,
        |  MAX(CASE WHEN rno = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rnc = 1 THEN value END) AS close,
        |  COUNT(*) AS n
        |FROM b GROUP BY event_type, h_us
        |ORDER BY event_type, h_us""".stripMargin) { (s, d) =>
      graft.streaming.Streaming.ohlcCandles(Tables.events(s, d))
        .select(col("event_type"),
          unix_micros(col("window.start")).as("h_us"),
          col("open"), col("high"), col("low"), col("close"), col("n"))
        .orderBy("event_type", "h_us")
    },

    // Stream-stream interval join, batch-replayed through the SAME
    // library function the streaming form uses (Streaming.clickErrorJoin;
    // withWatermark is a no-op on a batch frame): each click joined to
    // the same user's errors in the following 5 minutes. StreamingSpec
    // proves the MemoryStream run converges to this answer; this Decl
    // value-oracles it. Scale: equi-key on user_id carries the shuffle,
    // the time-range predicate is a post-join filter per user — and on
    // a real stream the two-sided watermark is what bounds join state.
    Decl("stream_join",
      """SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
        |FROM events c JOIN events e ON c.user_id = e.user_id
        |  AND c.event_type = 'click' AND e.event_type = 'error'
        |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE
        |ORDER BY click_id, error_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      graft.streaming.Streaming.clickErrorJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "error"))
        .orderBy("click_id", "error_id")
    },

    // Streaming INFERENCE with the in-engine-trained model: the
    // prediction-distribution monitor of a scoring stream. The NB
    // model (text_nb_train) is trained batch-side; Text.nbScore scores
    // documents against it per micro-batch under foreachBatch
    // (StreamingSpec drives the chunked/exactly-once form through
    // Streaming.transformSinkBatch and proves chunked ≡ batch bit-exactly —
    // each doc's score depends only on its own tokens plus the static
    // model). This batch twin is the converged monitor: predictions
    // per class + the exact decimal sum of their scores, which is what
    // a production scoring stream alerts on (prediction-drift = class
    // mix shifting against the training distribution). Scale: model
    // frames broadcast; scoring is one (doc, class)-keyed partial+final
    // aggregate per batch; the monitor is |classes| rows.
    Decl("stream_nb_classify",
      s"""${Text.nbSqlRanked}
         |SELECT r.clang AS pred_lang, COUNT(*) AS n,
         |  CAST(CAST(SUM(r.sc) AS VARCHAR) AS DOUBLE) AS sum_score9
         |FROM ranked r WHERE r.rn = 1
         |GROUP BY r.clang ORDER BY pred_lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val test = Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 0 && col("text").isNotNull)
      Text.nbScore(test, Text.nbModel(s, d))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n"),
          sum(col("sc").cast(DecimalType(30, 9))).cast(DoubleType)
            .as("sum_score9"))
        .orderBy("pred_lang")
    },

    // END-TO-END CURATION pipeline, batch twin (the streaming form is
    // Streaming.curationBatch, proven bit-equal by StreamingSpec under
    // an injected first-attempt crash): the test-split corpus arrives
    // as raw delimited lines; rows failing the parse/quarantine gate
    // (every 10th id corrupted, or a null payload) route to the
    // dead-letter channel; survivors are language-classified by the
    // in-engine NB model; the mix_temperature policy — realized as
    // per-language ppm keep rates — then routes each prediction
    // kept/dropped via the deterministic sha60 row gate. Every stage
    // is an already-oracled primitive, so the composed summary
    // replays exactly in DuckDB. Scale: model + rates are broadcast
    // frames; the data pass is one classify + one gated aggregate.
    Decl("stream_curation",
      s"""${Text.nbSqlRanked},
         |${MlPrep.sqlTemperatureRates},
         |sel AS (SELECT r.doc_id, r.clang FROM ranked r
         |        WHERE r.rn = 1 AND r.doc_id % 10 != 0),
         |routed AS (SELECT
         |    CASE WHEN ${graft.functions.XHash.sqlSha60(
                  "CAST(s.doc_id AS VARCHAR)")} % 1000000
         |         < rt.rate_ppm THEN 'kept' ELSE 'dropped' END AS route,
         |    s.clang AS pred_lang
         |  FROM sel s JOIN trates rt ON rt.lang = s.clang)
         |SELECT route, pred_lang, COUNT(*) AS n FROM routed
         |GROUP BY route, pred_lang
         |UNION ALL
         |SELECT 'quarantine', '', COUNT(*)
         |FROM documents WHERE doc_id % 5 = 0
         |  AND (doc_id % 10 = 0 OR text IS NULL)
         |ORDER BY route, pred_lang""".stripMargin) { (s, d) =>
      import graft.functions.XHash.sha60
      import org.apache.spark.sql.types.StringType
      val test = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      val quarantine = test
        .filter(col("doc_id") % 10 === 0 || col("text").isNull)
        .agg(count(lit(1)).as("n"))
        .select(lit("quarantine").as("route"),
          lit("").as("pred_lang"), col("n"))
      val scored = Text.nbScore(
        test.filter(col("doc_id") % 10 =!= 0 && col("text").isNotNull),
        Text.nbModel(s, d))
      val routed = scored
        .join(broadcast(MlPrep.temperatureRatesPpm(s, d)
          .select(col("lang").as("rlang"), col("rate_ppm"))),
          col("pred_lang") === col("rlang"))
        .select(when(sha60(col("doc_id").cast(StringType)) % 1000000 <
            col("rate_ppm"), "kept").otherwise("dropped").as("route"),
          col("pred_lang"))
        .groupBy("route", "pred_lang").agg(count(lit(1)).as("n"))
      routed.unionByName(quarantine).orderBy("route", "pred_lang")
    },

    // Stream ⋈ static enrichment through the SAME library function the
    // MemoryStream spec drives (Streaming.enrichWithDim): every event
    // tagged with its user's market segment from the customer
    // dimension (events.user_id lives inside the c_custkey domain).
    // The static side broadcasts and is re-planned per micro-batch on
    // a real stream — no join state, no watermark needed; unmatched
    // users fall back to 'unknown' (exercised by the left join).
    Decl("stream_enrich",
      """SELECT e.event_id, e.user_id,
        |  COALESCE(c.c_mktsegment, 'unknown') AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      graft.streaming.Streaming.enrichWithDim(Tables.events(s, d), dim)
        .orderBy("event_id")
    }
  )
}
