package graft.queries

import graft.{Catalog, Decl, Det, Tables}
import graft.functions.XHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse-maintenance and event-analytics operators — the mutation
  * and product-analytics surface a user of the reference's tables runs
  * on top of the relational core: MERGE-style upsert, SCD2 history
  * reconstruction, funnel and cohort-retention analyses, data-layout
  * clustering (Z-order), bucketed co-located joins, deterministic
  * reservoir-style sampling, and iterative graph connected components.
  *
  * Scale notes (100 TB):
  *  - upsert is ONE full-outer shuffle join on the key — the minimal
  *    dataflow for merge semantics (Delta/Iceberg MERGE lowers to the
  *    same plan shape plus file rewrite bookkeeping);
  *  - SCD2/funnel/cohort all shuffle once on their entity key and stay
  *    partial+final from there;
  *  - Z-order is a map-side integer expression + one range-partitioned
  *    sort — exactly how table-format OPTIMIZE ZORDER lays out files so
  *    min/max pruning works on BOTH clustered columns;
  *  - the bucketed join pre-shuffles both fact tables ONCE at write
  *    time (bucketBy on the join key); every later join on that key
  *    reads co-located buckets with NO exchange — the amortize-the-
  *    shuffle pattern that matters most at 100 TB;
  *  - connected components is O(diameter) rounds of join + min-agg —
  *    label propagation (Dedup.componentsFromEdges), each round
  *    shuffle-parallel on the node key; the driver sees one count of
  *    changed labels every second round.
  */
object Warehouse {

  import Det._

  private val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val sqlRev = "l_extendedprice * (1.0 - l_discount)"

  /** Morton (Z-order) interleave of two 8-bit ints — identical integer
    * expression tree in Spark and DuckDB. */
  private def morton(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { k =>
      shiftright(x, k).bitwiseAND(lit(1L)) * lit(1L << (2 * k)) +
        shiftright(y, k).bitwiseAND(lit(1L)) * lit(1L << (2 * k + 1))
    }.reduce(_ + _)

  private def sqlMorton(x: String, y: String): String =
    (0 until 8).map { k =>
      s"((($x) >> $k) & 1) * ${1L << (2 * k)} + " +
        s"((($y) >> $k) & 1) * ${1L << (2 * k + 1)}"
    }.mkString("(", " + ", ")")

  /** part projected onto the 8-bit (x, y) grid with its Morton key —
    * the frame both the z-ordered scratch layout and its oracle
    * recompute share. x scales p_size (1..50) by 5; y spreads the
    * price's varying decimals (FLOOR(price·10) mod 256 — one IEEE
    * multiply of identical operands, floor replays cross-engine, and
    * the mapping stays spread at every SF's price range). */
  private[graft] def zorderedPart(s: SparkSession, d: String)
      : DataFrame =
    Tables.part(s, d).select(col("p_partkey"),
      ((col("p_size") * 5) % 256).cast(LongType).as("x"),
      (floor(col("p_retailprice") * 10.0).cast(LongType) % 256).as("y"))
    .withColumn("zval", morton(col("x"), col("y")))

  /** Memoized z-ordered layout of [[zorderedPart]]: range-partitioned
    * on the Morton key, sorted within files — 16 files each covering a
    * compact z-interval, i.e. a tight (x, y) stats box. */
  private[graft] def zorderedPartPath(s: SparkSession, d: String)
      : String = {
    val path = Catalog.scratch(d, "part_zorder")
    Catalog.once(s, d, path) {
      zorderedPart(s, d)
        .repartitionByRange(16, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  def decls: Seq[Decl] = Seq(

    // MERGE-style upsert: apply a change set (updates keyed to existing
    // rows + inserts with fresh keys) to the orders snapshot in one
    // full-outer join — WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED
    // THEN INSERT, with unmatched snapshot rows carried through.
    // Insert keys are max(o_orderkey) + 1 + o_orderkey — provably above
    // the key domain at EVERY scale factor (a fixed +10M offset would
    // collide with real keys once SF ≳ 1.7, silently turning inserts
    // into matches; the +1 covers o_orderkey = 0, whose insert key
    // would otherwise BE the max); the 1-row max broadcasts, no extra
    // fact shuffle.
    Decl("merge_upsert",
      """WITH mx AS (SELECT max(o_orderkey) + 1 AS mxk FROM orders),
        |chg AS (
        |  SELECT o_orderkey AS k, o_totalprice + 500.0 AS p, 'U' AS st
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + mxk AS k, o_totalprice AS p, 'I' AS st
        |  FROM orders, mx WHERE o_orderkey % 7 = 0)
        |SELECT COALESCE(k, o_orderkey) AS o_orderkey,
        |  COALESCE(st, o_orderstatus) AS status,
        |  COALESCE(p, o_totalprice) AS totalprice
        |FROM orders FULL JOIN chg ON o_orderkey = k
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val mx = broadcast(o.agg((max(col("o_orderkey")) + 1).as("mxk")))
      val chg = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + 500.0).as("p"), lit("U").as("st"))
        .unionAll(o.filter(col("o_orderkey") % 7 === 0).crossJoin(mx)
          .select((col("o_orderkey") + col("mxk")).as("k"),
            col("o_totalprice").as("p"), lit("I").as("st")))
      o.join(chg, col("o_orderkey") === col("k"), "full_outer")
        .select(coalesce(col("k"), col("o_orderkey")).as("o_orderkey"),
          coalesce(col("st"), col("o_orderstatus")).as("status"),
          coalesce(col("p"), col("o_totalprice")).as("totalprice"))
        .orderBy("o_orderkey")
    },

    // SCD2 history: collapse each user's event stream to type-CHANGE
    // versions with [valid_from, valid_to) intervals and a current flag
    // — two window passes over one (user) shuffle.
    Decl("scd2_history",
      """WITH ordered AS (SELECT user_id, event_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |chg AS (SELECT user_id, event_id, event_type, ts FROM ordered
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS valid_from,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) AS valid_to,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL) AS is_current
        |FROM chg ORDER BY user_id, valid_from, event_id""".stripMargin) { (s, d) =>
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val chg = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
        .filter(col("prev_type").isNull
          || col("prev_type") =!= col("event_type"))
      chg.select(col("user_id"), col("event_id"), col("event_type"),
          epochUs(col("ts")).as("valid_from"),
          epochUs(lead(col("ts"), 1).over(wOrd)).as("valid_to"),
          lead(col("ts"), 1).over(wOrd).isNull.as("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    },

    // Funnel analysis: signup → view → click → purchase, each stage's
    // timestamp strictly after the previous stage's (per user). ONE
    // shuffle on user_id + a per-user linear walk (mapGroups), then a
    // global sum of stage flags — the scalable funnel shape (a join
    // per stage would re-shuffle the event log once per stage). The
    // oracle states the same semantics as chained min-aggregations:
    // min(ts WHERE type=s AND ts > prev) IS the first qualifying event
    // in (ts, event_id) order.
    Decl("event_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |    WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
        |    JOIN s1 ON e.user_id = s1.user_id
        |    WHERE event_type = 'view' AND ts > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
        |    JOIN s2 ON e.user_id = s2.user_id
        |    WHERE event_type = 'click' AND ts > t2 GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e
        |    JOIN s3 ON e.user_id = s3.user_id
        |    WHERE event_type = 'purchase' AND ts > t3 GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        |  (SELECT count(*) FROM s2) AS n_view,
        |  (SELECT count(*) FROM s3) AS n_click,
        |  (SELECT count(*) FROM s4) AS n_purchase""".stripMargin) { (s, d) =>
      import s.implicits._
      val stages = Seq("signup", "view", "click", "purchase")
      Tables.events(s, d)
        .filter(col("event_type").isin(stages: _*))
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (_, it) =>
          // sorted walk: per-user event counts are human-bounded, so
          // the in-memory sort is O(user activity), never corpus-sized
          val evs = it.toArray.sortBy(e => (e._2, e._3))
          var depth = 0
          var lastT = Long.MinValue
          evs.foreach { case (_, t, _, tpe) =>
            if (depth < 4 && tpe == stages(depth)
                && (depth == 0 || t > lastT)) { depth += 1; lastT = t }
          }
          (if (depth >= 1) 1L else 0L, if (depth >= 2) 1L else 0L,
            if (depth >= 3) 1L else 0L, if (depth >= 4) 1L else 0L)
        }
        .toDF("r1", "r2", "r3", "r4")
        .agg(sum("r1").as("n_signup"), sum("r2").as("n_view"),
          sum("r3").as("n_click"), sum("r4").as("n_purchase"))
    },

    // Cohort retention: users bucketed by first-seen day; matrix of
    // (cohort_day, day offset) → distinct active users. One shuffle to
    // find cohorts, one distinct-agg on the matrix key.
    Decl("retention_cohort",
      """WITH first_seen AS (SELECT user_id,
        |    CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id),
        |activity AS (SELECT DISTINCT e.user_id, f.cohort,
        |    CAST(date_diff('day', f.cohort,
        |      CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS offset_day
        |  FROM events e JOIN first_seen f ON e.user_id = f.user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  offset_day, count(*) AS n_users
        |FROM activity GROUP BY cohort, offset_day
        |ORDER BY cohort_day, offset_day""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val firsts = ev.groupBy("user_id")
        .agg(date_trunc("day", min(col("ts"))).cast(DateType).as("cohort"))
      ev.join(firsts.withColumnRenamed("user_id", "fu"),
          col("user_id") === col("fu"))
        .select(col("user_id"), col("cohort"),
          datediff(date_trunc("day", col("ts")).cast(DateType),
            col("cohort")).as("offset_day"))
        .distinct()
        .groupBy(dateStr(col("cohort")).as("cohort_day"), col("offset_day"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "offset_day")
    },

    // Z-order (Morton) clustering of part on (p_size, price bucket):
    // interleaved-bit sort key, then a range-partitioned sort — the
    // layout that makes file-level min/max pruning effective on both
    // dimensions at once.
    Decl("zorder_cluster",
      s"""SELECT p_partkey, x, y,
         |  CAST(${sqlMorton("x", "y")} AS BIGINT) AS zval FROM (
         |  SELECT p_partkey, CAST(p_size % 256 AS BIGINT) AS x,
         |    CAST(FLOOR(p_retailprice / 8.0) AS BIGINT) % 256 AS y
         |  FROM part)
         |ORDER BY zval, p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          (col("p_size") % 256).cast(LongType).as("x"),
          (floor(col("p_retailprice") / 8.0).cast(LongType) % 256).as("y"))
        .withColumn("zval", morton(col("x"), col("y")))
        .orderBy("zval", "p_partkey")
    },

    // The z-order PAYOFF: a 2-D box query over the part table laid out
    // as a range-partitioned sort on the Morton key (the physical form
    // OPTIMIZE ZORDER produces). Because a z-sorted file covers a
    // compact z-interval, its per-column min/max stats describe a tight
    // (x, y) box, so the parquet reader's row-group stats skip most of
    // the table for a box predicate on EITHER dimension — the reason
    // this layout exists at 100 TB. The oracle recomputes the box
    // relationally from the source (layout must never change results);
    // WarehouseSpec measures the skipping itself: scan-output rows on
    // the z-ordered layout vs a key-ordered twin of the same bytes.
    // x/y here are genuine attributes scaled onto the 8-bit grids the
    // morton key interleaves (p_size 1..50 → ×5; the price's varying
    // decimals via FLOOR(price·10) mod 256) and the box is an aligned
    // 64×64 tile — one contiguous z-interval, the clustered case's
    // best shape.
    Decl("zorder_prune",
      """SELECT COUNT(*) AS n, CAST(SUM(p_partkey) AS BIGINT) AS sum_key
        |FROM (SELECT p_partkey, (p_size * 5) % 256 AS x,
        |    CAST(FLOOR(p_retailprice * 10.0) AS BIGINT) % 256 AS y
        |  FROM part)
        |WHERE x BETWEEN 64 AND 127 AND y BETWEEN 64 AND 127""".stripMargin) {
      (s, d) =>
      val z = zorderedPart(s, d)
      s.read.schema(z.schema).parquet(zorderedPartPath(s, d))
        .filter(col("x").between(64, 127) && col("y").between(64, 127))
        .agg(count(lit(1)).as("n"),
          sum(col("p_partkey")).cast(LongType).as("sum_key"))
    },

    // Bucketed co-located join: orders and lineitem written ONCE as
    // bucketed tables (8 buckets on the join key, sorted within
    // buckets); the join then reads co-located buckets with no shuffle
    // exchange on either side (asserted in WarehouseSpec). Oracle
    // recomputes from the raw tables — bucketing must not change
    // results, only the plan.
    Decl("bucketed_join",
      s"""SELECT o_orderpriority, ${sqlSum(sqlRev)} AS revenue,
         |  COUNT(*) AS n
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      bucketedOrdersLineitem(s, d) match { case (ot, lt) =>
        s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(dsum(rev).as("revenue"), count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      }
    },

    // Incremental view maintenance: the materialized aggregate state
    // (events before the split) is merged with a delta batch (events
    // after) WITHOUT rescanning the base — partial sums stay decimal
    // until after the merge, so merge-then-cast is bit-identical to
    // the full recompute the oracle runs. This commutative-merge shape
    // is Spark's own partial+final aggregation, materialized across
    // batches — the batch twin of streaming state stores.
    Decl("incremental_agg",
      s"""SELECT event_type, COUNT(*) AS n, ${sqlSum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val split = lit("2024-01-15").cast(TimestampType)
      def part(f: org.apache.spark.sql.Column) =
        Tables.events(s, d).filter(f)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(30, 6))).as("s"))
      part(col("ts") < split).unionAll(part(col("ts") >= split))
        .groupBy("event_type")
        .agg(sum(col("n")).as("n"),
          sum(col("s")).cast(DoubleType).as("total"))
        .orderBy("event_type")
    },

    // CDC log compaction: the event stream read as a change log —
    // latest op per user wins (total (ts, event_id) order), purchase
    // acting as the delete marker — reconstructing the live snapshot.
    // dedup_latest's newest-wins shuffle plus delete semantics: the
    // core of every CDC-fed table maintenance job.
    Decl("cdc_snapshot",
      """WITH latest AS (SELECT * FROM (
        |    SELECT user_id, event_id, event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT user_id, event_id AS last_event, event_type AS last_op,
        |  value AS live_value
        |FROM latest WHERE event_type <> 'purchase'
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_id").as("last_event"),
          col("event_type").as("last_op"), col("value").as("live_value"))
        .orderBy("user_id")
    },

    // Deterministic reservoir-style k-sample: rank every row by a
    // seeded cross-engine hash of its key and keep the k smallest —
    // a uniform without-replacement sample that is reproducible across
    // engines, partitionings and runs. TakeOrderedAndProject: each
    // partition keeps a k-heap; no global sort.
    Decl("sample_reservoir",
      s"""SELECT o_orderkey, h FROM (
         |  SELECT o_orderkey,
         |    ${XHash.sqlSha60("'smp1:' || CAST(o_orderkey AS VARCHAR)")} AS h
         |  FROM orders ORDER BY h, o_orderkey LIMIT 100)
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          XHash.sha60(concat(lit("smp1:"),
            col("o_orderkey").cast(StringType))).as("h"))
        .orderBy("h", "o_orderkey").limit(100)
        .orderBy("o_orderkey")
    },

    // WEIGHTED sample without replacement — priority sampling
    // (Duffield–Lund–Thorup, JACM '07): priority = w/u with u uniform,
    // keep the k largest; inclusion odds scale with weight and the
    // sample supports unbiased subset-sum estimation. Cross-engine
    // exactness: w is the exact cent value (decimal-cast before ×100 —
    // casting the double product would truncate vs round differently
    // per engine), u is the shared sha60 hash, and w/u is one
    // correctly-rounded IEEE divide of two integer-valued doubles —
    // bit-identical in both engines. Same TakeOrderedAndProject shape
    // as sample_reservoir: per-partition k-heaps, no global sort.
    Decl("sample_weighted",
      s"""SELECT o_orderkey, w, priority FROM (
         |  SELECT o_orderkey, w,
         |    CAST(w AS DOUBLE) / CAST(u AS DOUBLE) AS priority
         |  FROM (SELECT o_orderkey,
         |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |        AS w,
         |      ${XHash.sqlSha60("'wsmp:' || CAST(o_orderkey AS VARCHAR)")}
         |        + 1 AS u
         |    FROM orders)
         |  ORDER BY priority DESC, o_orderkey LIMIT 200)
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("w"),
          (XHash.sha60(concat(lit("wsmp:"),
            col("o_orderkey").cast(StringType))) + 1).as("u"))
        .select(col("o_orderkey"), col("w"),
          (col("w").cast(DoubleType) / col("u").cast(DoubleType))
            .as("priority"))
        .orderBy(col("priority").desc, col("o_orderkey")).limit(200)
        .orderBy("o_orderkey")
    },

    // Connected components over the supplier co-order graph (suppliers
    // linked when they serve the same order; edge set sparsified to a
    // deterministic 2% of orders). Spark side: Dedup.componentsFromEdges,
    // the engine's one min-label propagation loop — O(diameter) rounds
    // of join + min-agg, each round fully shuffle-parallel, a
    // converge-or-throw check every second round. Oracle: recursive
    // transitive closure.
    Decl("graph_components",
      s"""WITH RECURSIVE pe AS (
        |  $sqlSupplierEdges),
        |ed AS (SELECT x, y FROM pe UNION SELECT y, x FROM pe),
        |reach(n, m) AS (
        |  SELECT x, y FROM ed
        |  UNION
        |  SELECT r.n, e.y FROM reach r JOIN ed e ON r.m = e.x),
        |comp AS (SELECT n AS node, LEAST(n, MIN(m)) AS comp
        |  FROM reach GROUP BY n)
        |SELECT node, comp, count(*) OVER (PARTITION BY comp)
        |  AS comp_size
        |FROM comp ORDER BY node""".stripMargin) { (s, d) =>
      // one direction per undirected edge (supplierEdges holds both):
      // componentsFromEdges adds the reverse itself
      val ed = supplierEdges(s, d).filter(col("x") < col("y"))
        .localCheckpoint(true)
      val vertices = ed.select(col("x").as("doc_id"))
        .union(ed.select(col("y").as("doc_id"))).distinct()
      val labels = Dedup.componentsFromEdges(vertices,
          ed.select(col("x").as("d1"), col("y").as("d2")))
        .select(col("doc_id").as("node"), col("label").as("comp"))
      val w = Window.partitionBy("comp")
      labels.withColumn("comp_size", count(lit(1)).over(w))
        .orderBy("node")
    },

    // PageRank over the same supplier co-order graph, made CROSS-ENGINE
    // EXACT by running the whole iteration in integer arithmetic: ranks
    // start at 10^12, damping 0.85 is the rational 17/20, and each
    // edge's contribution is (r·17) DIV (20·outdeg) — integer floor
    // division, so partial sums are order-independent (long addition is
    // associative) and both engines produce bit-identical BIGINTs. The
    // per-iteration floor loss is < outdeg ulps of 10^-12 per node —
    // quantified and asserted in WarehouseSpec's mass-conservation
    // test. Fixed 3 iterations (unrolled CTEs in the oracle). Scale:
    // each iteration is one shuffle join on the node key + one
    // partial+final sum — the textbook Pregel round as dataflow; the
    // edge⋈degree frame is pinned once (localCheckpoint) so the three
    // rounds re-read a materialized frame instead of re-running the
    // co-order self-join per round.
    Decl("graph_pagerank",
      s"""WITH pe AS (
        |  $sqlSupplierEdges),
        |deg AS (SELECT x, COUNT(*) AS dg FROM pe GROUP BY x),
        |r0 AS (SELECT x AS node, CAST(1000000000000 AS BIGINT) AS r
        |       FROM deg),
        |r1 AS (SELECT e.y AS node,
        |         CAST(150000000000 + SUM((r.r * 17) // (20 * d.dg))
        |           AS BIGINT) AS r
        |       FROM pe e JOIN r0 r ON e.x = r.node
        |         JOIN deg d ON d.x = e.x GROUP BY e.y),
        |r2 AS (SELECT e.y AS node,
        |         CAST(150000000000 + SUM((r.r * 17) // (20 * d.dg))
        |           AS BIGINT) AS r
        |       FROM pe e JOIN r1 r ON e.x = r.node
        |         JOIN deg d ON d.x = e.x GROUP BY e.y),
        |r3 AS (SELECT e.y AS node,
        |         CAST(150000000000 + SUM((r.r * 17) // (20 * d.dg))
        |           AS BIGINT) AS r
        |       FROM pe e JOIN r2 r ON e.x = r.node
        |         JOIN deg d ON d.x = e.x GROUP BY e.y)
        |SELECT node, r AS pagerank FROM r3 ORDER BY node""".stripMargin) {
      (s, d) =>
      // pin the edge set FIRST: deg, ed2 AND the rank init all read it,
      // and without the pin each consumer re-runs the lineitem
      // co-order self-join (three corpus scans instead of one)
      val edges = supplierEdges(s, d).localCheckpoint(true)
      val deg = edges.groupBy("x").agg(count(lit(1)).as("dg"))
      // edge ⋈ degree pinned once; every round re-reads this frame
      val ed2 = edges.join(deg, "x").localCheckpoint(true)
      var ranks = deg.select(col("x").as("node"),
        lit(1000000000000L).as("r"))
      for (_ <- 1 to 3) {
        ranks = ed2.join(ranks, col("x") === col("node"))
          .groupBy(col("y"))
          .agg(sum(expr("(r * 17) DIV (20 * dg)")).as("m"))
          .select(col("y").as("node"),
            (lit(150000000000L) + col("m")).as("r"))
      }
      ranks.select(col("node"), col("r").as("pagerank")).orderBy("node")
    },

    // Per-node triangle participation counts on the supplier co-order
    // graph, computed with DEGREE-ORDERED ORIENTATION — the 100 TB
    // formulation: every undirected edge is kept once, directed from
    // its lower-(degree, id) endpoint, and wedges expand ONLY from a
    // node's outgoing (higher-ordered) edges. Out-degree under this
    // orientation is bounded by O(sqrt(|E|)) on any graph (arboricity
    // bound), so a skewed hub with degree d contributes O(|E|) wedge
    // candidates instead of the symmetric formulation's d² explosion —
    // the wedge space shrinks from Σ deg² to Σ outdeg² ≤ |E|·sqrt(|E|)
    // worst-case, and far less on real graphs. Each triangle is found
    // exactly once (at its minimum-ordered vertex, as the wedge
    // (u→v, u→w) closed by v→w), then exploded to its three corners
    // for the per-node participation counts. All arithmetic is exact
    // integers, and the ORACLE keeps the definitional symmetric a<b<c
    // form — same counts, so the orientation rewrite is verified
    // value-for-value against the naive formulation at every SF. The
    // oriented frame is pinned (localCheckpoint) because the wedge
    // join reads it twice and the closing join a third time.
    Decl("graph_triangles",
      s"""WITH pe AS (
        |  $sqlSupplierEdges)
        |SELECT e1.x AS node, COUNT(*) AS triangles
        |FROM pe e1
        |JOIN pe e2 ON e2.x = e1.x AND e1.y < e2.y
        |JOIN pe e3 ON e3.x = e1.y AND e3.y = e2.y
        |GROUP BY e1.x ORDER BY node""".stripMargin) { (s, d) =>
      val ed = supplierEdges(s, d).localCheckpoint(true)
      val deg = ed.groupBy("x").agg(count(lit(1)).as("dg"))
      // orient: keep (u→v) iff (deg(u), u) < (deg(v), v) — a total
      // order, so each undirected edge survives exactly once; carry
      // v's (deg, id) so the wedge comparator needs no further join
      val oriented = ed
        .join(deg.select(col("x"), col("dg").as("du")), "x")
        .join(deg.select(col("x").as("y"), col("dg").as("dv")), "y")
        .filter(col("du") < col("dv")
          || (col("du") === col("dv") && col("x") < col("y")))
        .select(col("x").as("u"), col("y").as("v"), col("dv"))
        .localCheckpoint(true)
      // wedge (u→v, u→w) with ord(v) < ord(w); the closing edge {v,w}
      // — if it exists — is stored oriented v→w by transitivity of the
      // total order, so one equi-join probe closes the triangle.
      // r17 (§2.4): the wedge SELF-join on u becomes a per-u
      // out-neighbor array sorted by (dv, v) — the SAME comparator as
      // the orientation's total order — expanded by Dedup.pairsWithin,
      // so its pairs are exactly ord(v) < ord(w) (see its scaladoc).
      // Same wedge multiset ⇒ identical triangles; only the
      // closing-edge equi-join remains. Per-u adjacency memory is
      // out-degree-bounded, which the degree orientation itself caps
      // at O(√E).
      val closing = oriented.select(col("u").as("cv"), col("v").as("cw"))
      val tri = Dedup.pairsWithin(oriented.groupBy("u")
          .agg(sort_array(collect_list(struct(col("dv"), col("v"))))
            .as("ns")), "ns", "u")
        .select(col("u"), col("p1.v").as("v"), col("p2.v").as("w"))
        .join(closing, col("v") === col("cv") && col("w") === col("cw"))
      // one row per triangle → three per-node participation rows
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy("node")
        .agg(count(lit(1)).as("triangles"))
        .orderBy("node")
    },

    // Jaccard node similarity on the supplier co-order graph — the
    // link-prediction / entity-matching primitive: for every pair with
    // at least one shared neighbor, |N(a)∩N(b)| / |N(a)∪N(b)|. The
    // wedge self-join enumerates only co-neighbor pairs (never all
    // pairs); the threshold is integer cross-multiplication
    // (10·common ≥ union ⇔ J ≥ 0.1 — the repo-wide exactness rule), so
    // every emitted number is an exact integer. Scale: wedge count is
    // Σ deg², the triangle-counting bound; degree-cap or sampling
    // guards apply exactly as in graph_triangles.
    Decl("graph_jaccard",
      s"""WITH pe AS (
        |  $sqlSupplierEdges),
        |deg AS (SELECT x, COUNT(*) AS dg FROM pe GROUP BY x),
        |com AS (SELECT e1.x AS a, e2.x AS b, COUNT(*) AS common
        |  FROM pe e1 JOIN pe e2 ON e1.y = e2.y AND e1.x < e2.x
        |  GROUP BY e1.x, e2.x)
        |SELECT a, b, common, da.dg AS deg_a, db.dg AS deg_b,
        |  da.dg + db.dg - common AS unions
        |FROM com JOIN deg da ON da.x = a JOIN deg db ON db.x = b
        |WHERE 10 * common >= da.dg + db.dg - common
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      val ed = supplierEdges(s, d).localCheckpoint(true)
      // attach each node's degree to its edges ONCE, before the wedge
      // enumeration — degrees ride along and the post-aggregation
      // joins disappear (2 fewer shuffles than the join-back
      // formulation); deg_a/deg_b are constant per node, so first()
      // under the pair groupBy is deterministic. r17 (§2.4): the
      // degree is a count() OVER (PARTITION BY x) instead of a
      // groupBy+join-back, and the wedge SELF-join on y becomes a per-y
      // adjacency array expanded MAP-SIDE by Dedup.pairsWithin (edges
      // are distinct ⇒ per-y x values are distinct ⇒ its pairs are
      // exactly a < b — see its scaladoc). Same wedge multiset ⇒
      // identical common/deg/unions; the join and two exchanges are
      // gone (graph_jaccard_{before,after}.txt). Per-y adjacency
      // memory is max-degree-bounded — the standard adjacency-list
      // layout.
      val edN = ed.withColumn("dg",
        count(lit(1)).over(Window.partitionBy("x")))
      val com = Dedup.pairsWithin(edN.groupBy("y")
          .agg(sort_array(collect_list(struct(col("x"), col("dg"))))
            .as("ns")), "ns")
        .select(col("p1.x").as("a"), col("p1.dg").as("deg_a"),
          col("p2.x").as("b"), col("p2.dg").as("deg_b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("common"), first("deg_a").as("deg_a"),
          first("deg_b").as("deg_b"))
      com
        .withColumn("unions", col("deg_a") + col("deg_b") - col("common"))
        .filter(lit(10) * col("common") >= col("unions"))
        .select("a", "b", "common", "deg_a", "deg_b", "unions")
        .orderBy("a", "b")
    },

    // 2-D skyline (Pareto frontier): suppliers not dominated on
    // (lineitem count, max single-item price) — both maximized, the
    // price in exact cents so every comparison is integer (the two
    // metrics trade off, so the frontier grows with scale instead of
    // collapsing to the one volume champion). The oracle is the
    // definitional NOT EXISTS anti-join (quadratic in the point set);
    // the Spark side is the scalable sort-based formulation: collapse
    // to one (n, best mx) point per n, then a strictly-preceding
    // running max over n DESC keeps exactly the points whose mx
    // exceeds every higher-n point's best — provably the same set
    // (equal points don't dominate each other, so duplicates of a
    // frontier point all survive the value join-back). The unpartitioned
    // window runs over the n-DOMAIN point set (distinct lineitem
    // counts — hundreds of rows at any scale), never the corpus; the
    // corpus passes are the two partial+final aggregates.
    Decl("skyline_2d",
      """WITH p AS (SELECT l_suppkey, COUNT(*) AS n,
        |    CAST(MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS mx
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT a.l_suppkey, a.n, a.mx FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.n >= a.n AND b.mx >= a.mx
        |    AND (b.n > a.n OR b.mx > a.mx))
        |ORDER BY a.n, a.l_suppkey""".stripMargin) { (s, d) =>
      val cents = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      val p = Tables.lineitem(s, d).groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), max(cents).as("mx"))
        .localCheckpoint(true) // both the domain agg and the join-back read it
      val byN = p.groupBy("n").agg(max("mx").as("mxmax"))
      val w = Window.orderBy(col("n").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = byN.withColumn("rm", max("mxmax").over(w))
        .filter(col("rm").isNull || col("mxmax") > col("rm"))
        .select(col("n").as("fn"), col("mxmax"))
      p.join(frontier, col("n") === col("fn") && col("mx") === col("mxmax"))
        .select(col("l_suppkey"), col("n"), col("mx"))
        .orderBy("n", "l_suppkey")
    },

    // First-order Markov transition matrix over each user's event
    // sequence — the sequence-mining primitive behind next-action
    // prediction and funnel discovery. Counts are exact integers on
    // ONE user-key shuffle (lead() inside the user window), and each
    // transition probability is a single IEEE divide of two
    // bit-identical longs — no float accumulation anywhere. The
    // per-source normalizer rides a window over the aggregated
    // src×dst matrix (event-type-domain cardinality, not corpus).
    Decl("event_transitions",
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type AS src, nxt AS dst, COUNT(*) AS n,
        |  CAST(COUNT(*) AS DOUBLE) /
        |    SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p
        |FROM s WHERE nxt IS NOT NULL
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wSrc = Window.partitionBy("src")
      Tables.events(s, d)
        .select(col("event_type"), lead("event_type", 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast(DoubleType) / sum("n").over(wSrc))
        .orderBy("src", "dst")
    }
  )

  /** Symmetric, deduplicated supplier co-order edge set (suppliers
    * linked when they serve the same order; sparsified to the
    * deterministic 2% of orders) — the shared input of the four graph
    * operators. The self-join emits both (a,b) and (b,a), so the
    * result is symmetric without an explicit union. */
  private[graft] def supplierEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .select("l_orderkey", "l_suppkey")
    li.select(col("l_orderkey"), col("l_suppkey").as("x"))
      .join(li.select(col("l_orderkey"), col("l_suppkey").as("y")),
        "l_orderkey")
      .filter(col("x") =!= col("y"))
      .select("x", "y").distinct()
  }

  /** DuckDB twin of [[supplierEdges]]: the `pe` CTE body every graph
    * oracle interpolates. A def, not a val: the Decl list above reads
    * it during object initialization. */
  private def sqlSupplierEdges: String =
    """SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 50 = 0""".stripMargin

  /** Write orders + lineitem as bucketed/sorted tables once per
    * (session, sf dir); returns the two table names. Bucket count 8 on
    * the join key both sides → co-located, exchange-free equi-joins. */
  private def bucketedOrdersLineitem(
      s: SparkSession, d: String): (String, String) = {
    val base = Catalog.scratch(d, "bucketed")
    // table names must be unique per data root within the shared
    // session catalog — reuse the scratch dir's fingerprint suffix
    val fp = base.replaceAll(".*/([^/]+)/[^/]+$", "$1").replaceAll("[^a-z0-9]", "_")
    val ot = s"graft_bkt_orders_$fp"
    val lt = s"graft_bkt_lineitem_$fp"
    Catalog.once(s, d, "bucketed_tables") {
      // repartition on the bucket key first: each task then writes ONE
      // bucket file instead of every task writing a sliver of all 8
      // (8 files per table, not tasks×8 — and the in-task sort is over
      // one bucket's rows, not a mixed bag). Only the join/agg columns
      // are materialized — bucketed side tables are projections, not
      // table copies (half the write volume here; far more at width).
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(ot)
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(lt)
    }
    (ot, lt)
  }
}
