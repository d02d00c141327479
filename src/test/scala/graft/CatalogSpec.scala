package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tier-A over a real Hive metastore (SURVEY.md §5.2 item 4): embedded
  * Derby catalog, external + partitioned external tables, SHOW PARTITIONS
  * round-trip, metastore-backed partition pruning. This is the authentic
  * analogue of the reference's Thrift `get_table`/`get_partitions_by_
  * filter` path. Owns its SparkSession (hive catalog must be fixed at
  * session creation) and restores a clean slate for the other suites.
  */
class CatalogSpec extends AnyFunSuite {

  test("derby metastore: external tables, partitions, pruning (A1-A3, A7-A8)") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val base = "/root/repo/target/hive"
    val spark = HiveTables.session(appName = "graft-catalog-spec",
      metastoreUris = None, master = "local[2]", localBase = base)
    spark.conf.set("spark.sql.cbo.enabled", "true") // surface ANALYZE stats
    try {
      val sf = "/root/testdata/sf0.001"
      // partitioned parquet layout to hang the external table over
      val part = s"$base/orders_by_year"
      Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(part)

      spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      spark.sql("DROP TABLE IF EXISTS graft_db.orders_part")
      spark.sql(
        s"""CREATE EXTERNAL TABLE graft_db.orders_part (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           |  o_totalprice DOUBLE, o_orderdate TIMESTAMP,
           |  o_orderpriority STRING)
           |PARTITIONED BY (o_year INT)
           |STORED AS PARQUET LOCATION '$part'""".stripMargin)
      spark.sql("MSCK REPAIR TABLE graft_db.orders_part")

      // A1/A2: catalog listing through the metastore
      assert(spark.catalog.listDatabases().collect()
        .exists(_.name == "graft_db"))
      assert(spark.catalog.listTables("graft_db").collect()
        .exists(_.name == "orders_part"))

      // A3: schema round-trip
      val cols = spark.catalog.listColumns("graft_db.orders_part")
        .collect().map(c => c.name -> c.dataType).toMap
      assert(cols("o_totalprice") == "double")
      assert(cols("o_year") == "int")

      // A7: partition enumeration via the metastore
      val parts = spark.sql("SHOW PARTITIONS graft_db.orders_part")
        .collect().map(_.getString(0)).sorted
      val years = Tables.orders(spark, sf)
        .select(year(col("o_orderdate"))).distinct()
        .collect().map(r => s"o_year=${r.getInt(0)}").sorted
      assert(parts.toSeq == years.toSeq)

      // A8+A9: pruned read matches source-side filter; partition key
      // column is injected from directory metadata
      val pruned = spark.table("graft_db.orders_part")
        .filter(col("o_year") === 1996)
      val expected = Tables.orders(spark, sf)
        .filter(year(col("o_orderdate")) === 1996).count()
      assert(pruned.count() == expected)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("1996"), plan)
      // CBO: table + column statistics through the metastore — the
      // optimizer input for join reordering (ANALYZE ≡ the reference's
      // metastore-side table metadata, upgraded with real stats).
      spark.sql("ANALYZE TABLE graft_db.orders_part COMPUTE STATISTICS")
      spark.sql("ANALYZE TABLE graft_db.orders_part COMPUTE STATISTICS " +
        "FOR COLUMNS o_custkey, o_totalprice")
      val stats = spark.table("graft_db.orders_part")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong > 0),
        s"expected row count from ANALYZE, got $stats")

      // The table_to_dask-analogue facade: catalog resolution + pushed
      // partition filter through the public entry point.
      val viaFacade = HiveTables.table(spark, "graft_db", "orders_part",
        Seq(col("o_year") === 1996))
      assert(viaFacade.count() ==
        Tables.orders(spark, sf).filter(year(col("o_orderdate")) === 1996).count())
      assert(HiveTables.tables(spark, "graft_db").contains("orders_part"))
      assert(HiveTables.databases(spark).contains("graft_db"))
      val pSpecs = HiveTables.partitions(spark, "graft_db", "orders_part")
      assert(pSpecs.nonEmpty && pSpecs.forall(_.startsWith("o_year=")), pSpecs)
      val facadePlan = viaFacade.queryExecution.executedPlan.toString
      assert(facadePlan.contains("1996"), facadePlan)

      // Bucketed co-located join: both sides bucketed by the join key →
      // SortMergeJoin with NO Exchange on either side. At 100 TB this is
      // the difference between a metadata-only join and shuffling both
      // fact tables.
      spark.sql("DROP TABLE IF EXISTS graft_db.orders_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_db.cust_bkt")
      Tables.orders(spark, sf)
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .format("parquet").saveAsTable("graft_db.orders_bkt")
      Tables.customer(spark, sf)
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .format("parquet").saveAsTable("graft_db.cust_bkt")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val joined = spark.table("graft_db.orders_bkt")
          .join(spark.table("graft_db.cust_bkt"),
            col("o_custkey") === col("c_custkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n$plan")
        assert(joined.count() ==
          Tables.orders(spark, sf).join(Tables.customer(spark, sf),
            col("o_custkey") === col("c_custkey")).count())
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("serde dispatch table: class + params → reader format + options") {
    // the pure dispatch — the reference's reader branching — without a
    // metastore in the loop
    val pq = HiveTables.serdeDispatch(
      "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe", Map())
    assert(pq == ("parquet", Map()))
    assert(HiveTables.serdeDispatch(
      "org.apache.hadoop.hive.ql.io.orc.OrcSerde", Map())._1 == "orc")
    assert(HiveTables.serdeDispatch(
      "org.apache.hive.hcatalog.data.JsonSerDe", Map())._1 == "json")
    val lazySimple = HiveTables.serdeDispatch(
      "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
      Map("field.delim" -> "|"))
    assert(lazySimple._1 == "csv" && lazySimple._2("sep") == "|")
    // Hive's default text delimiter is ^A, not comma
    assert(HiveTables.serdeDispatch(
      "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
      Map())._2("sep") == "\u0001")
    val open = HiveTables.serdeDispatch(
      "org.apache.hadoop.hive.serde2.OpenCSVSerde",
      Map("separatorChar" -> ";", "quoteChar" -> "'"))
    assert(open._1 == "csv" && open._2("sep") == ";"
      && open._2("quote") == "'")
    intercept[IllegalArgumentException] {
      HiveTables.serdeDispatch("com.example.AvroSerDe", Map())
    }
  }

  test("metastore entry point: uris-configurable session, serde-driven " +
      "reads, catalog-side partition pruning (A1 remote path)") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val base = "/root/repo/target/hive2"
    // The public entry point: HIVE_METASTORE_URIS unset here, so this
    // takes the embedded-Derby branch — the SAME HiveExternalCatalog
    // code path a `thrift://host:9083` uris value would drive (only the
    // connection conf differs), which is what the sandbox can pin.
    val spark = HiveTables.session(appName = "graft-catalog-spec",
      metastoreUris = None, master = "local[2]", localBase = base)
    try {
      assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
      val sf = "/root/testdata/sf0.001"
      spark.sql("CREATE DATABASE IF NOT EXISTS serde_db")

      // SerDe-driven dispatch: a pipe-delimited text table registered
      // with ROW FORMAT DELIMITED (LazySimpleSerDe + field.delim in the
      // serde properties — exactly what a Thrift StorageDescriptor
      // carries); readViaSerde must pick the csv reader and the '|'.
      val csvDir = s"$base/nation_psv"
      Tables.nation(spark, sf)
        .select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1).write.mode("overwrite")
        .option("sep", "|").csv(csvDir)
      spark.sql("DROP TABLE IF EXISTS serde_db.nation_psv")
      spark.sql(
        s"""CREATE EXTERNAL TABLE serde_db.nation_psv (
           |  n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
           |ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'
           |STORED AS TEXTFILE LOCATION '$csvDir'""".stripMargin)
      val t = spark.sharedState.externalCatalog
        .getTable("serde_db", "nation_psv")
      assert(t.storage.serde.exists(_.contains("LazySimpleSerDe")), t.storage)
      assert(t.storage.properties.get("field.delim").contains("|"))
      val viaSerde = HiveTables.readViaSerde(spark, "serde_db", "nation_psv")
      val expected = Tables.nation(spark, sf).count()
      assert(viaSerde.count() == expected)
      assert(viaSerde.filter(col("n_name") === "NATION_3").count() == 1)
      // and a parquet table routes to the parquet reader via its serde
      val pqDir = s"$base/region_pq"
      Tables.region(spark, sf).write.mode("overwrite").parquet(pqDir)
      spark.sql("DROP TABLE IF EXISTS serde_db.region_pq")
      spark.sql(
        s"""CREATE EXTERNAL TABLE serde_db.region_pq (
           |  r_regionkey BIGINT, r_name STRING)
           |STORED AS PARQUET LOCATION '$pqDir'""".stripMargin)
      assert(HiveTables.readViaSerde(spark, "serde_db", "region_pq")
        .count() == Tables.region(spark, sf).count())

      // Metastore-side partition-filter pushdown: the catalog API the
      // reference's get_partitions_by_filter maps to. Register a
      // partitioned external table, then assert (a) the external
      // catalog's listPartitionsByFilter returns ONLY the matching
      // partition and (b) the executed scan enumerates only it.
      val partDir = s"$base/orders_by_year"
      Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(partDir)
      spark.sql("DROP TABLE IF EXISTS serde_db.orders_part")
      spark.sql(
        s"""CREATE EXTERNAL TABLE serde_db.orders_part (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
           |  o_orderdate TIMESTAMP)
           |PARTITIONED BY (o_year INT)
           |STORED AS PARQUET LOCATION '$partDir'""".stripMargin)
      spark.sql("MSCK REPAIR TABLE serde_db.orders_part")
      val nParts = spark.sql("SHOW PARTITIONS serde_db.orders_part").count()
      assert(nParts > 1, s"need >1 partition to prove pruning, got $nParts")

      import org.apache.spark.sql.catalyst.expressions.{
        AttributeReference, EqualTo, Literal}
      import org.apache.spark.sql.types.IntegerType
      val byFilter = spark.sharedState.externalCatalog
        .listPartitionsByFilter("serde_db", "orders_part",
          Seq(EqualTo(AttributeReference("o_year", IntegerType)(),
            Literal(1996))),
          "UTC")
      assert(byFilter.length == 1
        && byFilter.head.spec == Map("o_year" -> "1996"),
        s"catalog-side pruning returned ${byFilter.map(_.spec)}")

      // plan-level: the scan's partition enumeration reflects the prune
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scan = spark.table("serde_db.orders_part")
        .filter(col("o_year") === 1996)
        .queryExecution.sparkPlan
        .collect { case f: FileSourceScanExec => f }
      assert(scan.nonEmpty, "expected a FileSourceScanExec")
      assert(scan.head.selectedPartitions.partitionCount == 1,
        s"scan enumerates ${scan.head.selectedPartitions.partitionCount}" +
          " partitions")
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("recoverPartitions discovers directories added behind the " +
    "catalog's back (MSCK REPAIR)") {
    // the operational reality of external partitioned tables: upstream
    // jobs drop new partition directories directly on storage; the
    // catalog only sees them after repair
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = HiveTables.session(appName = "graft-msck-spec",
      metastoreUris = None, master = "local[2]",
      localBase = "/root/repo/target/hive_msck")
    try {
      import spark.implicits._
      val base = java.nio.file.Files
        .createTempDirectory("graft_msck").toString
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$base/p=1")
      spark.sql("CREATE DATABASE IF NOT EXISTS msck_db")
      // the Derby metastore under target/ persists across JVM runs —
      // drop any previous run's table so the spec is idempotent
      spark.sql("DROP TABLE IF EXISTS msck_db.t")
      spark.sql(s"""CREATE TABLE msck_db.t (id BIGINT, v STRING)
        |USING parquet PARTITIONED BY (p INT) LOCATION '$base'""".stripMargin)
      spark.sql("ALTER TABLE msck_db.t ADD PARTITION (p=1)")
      assert(spark.table("msck_db.t").count() == 1)
      // a new partition directory lands on storage, catalog unaware
      Seq((2L, "b"), (3L, "c")).toDF("id", "v")
        .write.parquet(s"$base/p=2")
      assert(spark.table("msck_db.t").count() == 1,
        "catalog must not see the unregistered partition yet")
      spark.catalog.recoverPartitions("msck_db.t")
      assert(spark.table("msck_db.t").count() == 3)
      assert(spark.sql("SHOW PARTITIONS msck_db.t").count() == 2)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("fitted ANN index persisted + served through the Hive catalog: " +
    "managed base/cents tables round-trip, and catalog-served top-k " +
    "EQUALS the in-memory fitted path (r13 verdict item 5)") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = HiveTables.session(appName = "graft-annidx-spec",
      metastoreUris = None, master = "local[2]",
      localBase = "/root/repo/target/hive_annidx")
    try {
      import graft.queries.SimilarityFitted
      val sf = "/root/testdata/sf0.001"
      spark.sql("CREATE DATABASE IF NOT EXISTS ann_db")
      SimilarityFitted.annIndexSaveToCatalog(spark, sf, "ann_db", "idx")
      // round-trip: both tables registered, base carries one row per
      // non-null corpus vector with its persisted cell, cents is the
      // one-row centroid array
      assert(HiveTables.tables(spark, "ann_db").toSet
        .intersect(Set("idx_base", "idx_cents")).size == 2)
      val n = Tables.embeddings(spark, sf)
        .filter(col("embedding").isNotNull).count()
      val base = HiveTables.table(spark, "ann_db", "idx_base")
      assert(base.count() == n, "base table must cover the corpus")
      assert(base.columns.toSet ==
        Set("vec_id", "embedding", "n2", "cell"))
      assert(HiveTables.table(spark, "ann_db", "idx_cents").count() == 1)
      // equality witness: serving FROM the catalog (persisted cells
      // gate the scan; no refit, no reassignment in the query) must
      // equal the in-memory fitted path row for row — same query, same
      // k, same (sim DESC, vec_id) order
      val served = SimilarityFitted
        .annTopKFromCatalog(spark, "ann_db", "idx", qid = 0L, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val inMem = SimilarityFitted.fittedTopKWith(
        Tables.embeddings(spark, sf).filter(col("embedding").isNotNull),
        SimilarityFitted.fittedCsFull(spark, sf), qid = 0L, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == inMem,
        s"catalog-served top-k diverged from the fitted path:\n" +
          s"  served: $served\n  in-mem: $inMem")
      // the fitted declared query rides the same machinery, so the
      // served result IS the declared sim_ann_ivf_fitted output
      assert(served.map(_._1) ==
        SparkEntry.queries("sim_ann_ivf_fitted")(spark, sf)
          .collect().map(_.getLong(0)).toSeq)
      // r15: serving must BUCKET-PRUNE — the base table is bucketed by
      // cell and the query gates the scan with a literal probe-cell IN
      // list, so the planned scan selects only the probe cells'
      // buckets (at 100 TB this is the difference between reading
      // ~nProbe/64 of the index and reading all of it)
      val servedDf = SimilarityFitted
        .annTopKFromCatalog(spark, "ann_db", "idx", qid = 0L, k = 10)
      servedDf.collect() // AQE finalizes; bucketed-scan choice is made
      val servedPlan = servedDf.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(servedPlan)
      assert(sel.nonEmpty,
        s"served scan is not bucket-pruned:\n${servedPlan.take(1500)}")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"bucket pruning selected every bucket: ${sel.get.matched}")
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("write side of the catalog bridge: managed partitioned table, " +
    "dynamic-partition overwrite, MSCK via the facade") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = HiveTables.session(appName = "graft-write-spec",
      metastoreUris = None, master = "local[2]",
      localBase = "/root/repo/target/hive_write")
    try {
      val sf = "/root/testdata/sf0.001"
      spark.sql("CREATE DATABASE IF NOT EXISTS w_db")
      spark.sql("DROP TABLE IF EXISTS w_db.orders_m")
      val byYear = Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))

      // managed partitioned table through the facade: registered,
      // partition-enumerated, round-trips
      HiveTables.writeManaged(spark, "w_db", "orders_m", byYear,
        Seq("o_year"))
      assert(HiveTables.tables(spark, "w_db").contains("orders_m"))
      val years = HiveTables.partitions(spark, "w_db", "orders_m")
      assert(years.nonEmpty && years.forall(_.startsWith("o_year=")), years)
      assert(spark.table("w_db.orders_m").count() == byYear.count())

      // dynamic-partition overwrite: replace ONE year with a subset —
      // that partition shrinks, every other partition is untouched
      val y = byYear.select(min(col("o_year"))).head.getInt(0)
      val others = spark.table("w_db.orders_m")
        .filter(col("o_year") =!= y).count()
      val replacement = byYear.filter(col("o_year") === y)
        .filter(col("o_orderkey") % 2 === 0)
      val nRepl = replacement.count()
      HiveTables.insertDynamic(spark, "w_db", "orders_m", replacement)
      assert(spark.table("w_db.orders_m")
        .filter(col("o_year") === y).count() == nRepl,
        "the touched partition must hold exactly the replacement rows")
      assert(spark.table("w_db.orders_m")
        .filter(col("o_year") =!= y).count() == others,
        "untouched partitions must keep their data (dynamic, not static)")
      // and the conf scoped inside insertDynamic did not leak
      assert(spark.conf.getOption(
        "spark.sql.sources.partitionOverwriteMode").forall(_ != "dynamic"))

      // a partition directory landed behind the metastore's back is
      // invisible until repairTable syncs it
      val loc = spark.sharedState.externalCatalog
        .getTable("w_db", "orders_m").storage.locationUri.get.getPath
      byYear.filter(col("o_year") === y).drop("o_year")
        .limit(5).write.mode("overwrite").parquet(s"$loc/o_year=2099")
      val before = spark.table("w_db.orders_m").count()
      HiveTables.repairTable(spark, "w_db", "orders_m")
      assert(spark.table("w_db.orders_m").count() == before + 5)
      assert(HiveTables.partitions(spark, "w_db", "orders_m")
        .contains("o_year=2099"))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("facade listings equal the catalog API and SHOW PARTITIONS, " +
    "errors included; insertDynamic leaves the session's overwrite " +
    "mode alone while its tasks run") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = HiveTables.session(appName = "graft-facade-spec",
      metastoreUris = None, master = "local[2]",
      localBase = "target/hive_facade")
    try {
      val sf = new SparkSuite {}.sf // the shared fixture root
      val db = "f_db"
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"CREATE DATABASE $db")
      val byYear = Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))
      HiveTables.writeManaged(spark, db, "orders_m", byYear, Seq("o_year"))
      HiveTables.writeManaged(spark, db, "orders_s",
        byYear.withColumn("o_status", col("o_orderstatus")),
        Seq("o_year", "o_status"))
      HiveTables.writeManaged(spark, db, "cust", Tables.customer(spark, sf))
      spark.sql(s"CREATE VIEW $db.cust_v AS SELECT * FROM $db.cust")
      Tables.nation(spark, sf).createOrReplaceTempView("tv_nation")

      // same names in the same order, the temp view included
      val api = spark.catalog.listTables(db).collect().map(_.name).toSeq
      assert(HiveTables.tables(spark, db) == api)
      assert(api.contains("tv_nation") && api.contains("cust_v"), api)
      for (t <- Seq("orders_m", "orders_s")) {
        val sql = spark.sql(s"SHOW PARTITIONS $db.$t")
          .collect().map(_.getString(0)).toSeq
        assert(sql.nonEmpty && HiveTables.partitions(spark, db, t) == sql)
      }
      // and the same errors: a missing database, a missing, view or
      // unpartitioned table
      def err(f: => Any): (Class[_], String, Any) =
        intercept[Exception](f) match {
          case e: org.apache.spark.sql.AnalysisException =>
            // the message embeds the statement's plan, whose expression
            // ids differ per run
            (e.getClass, e.getCondition, e.getMessageParameters)
          case e => (e.getClass, e.getMessage, null)
        }
      assert(err(HiveTables.tables(spark, "no_db")) ==
        err(spark.catalog.listTables("no_db").collect()))
      for (t <- Seq("missing", "cust", "cust_v", "tv_nation"))
        assert(err(HiveTables.partitions(spark, db, t)) ==
          err(spark.sql(s"SHOW PARTITIONS $db.$t").collect()), t)

      // insertDynamic's dynamic mode is scoped to its write: the
      // session conf read while the write's tasks run is the session's
      // own value
      val key = "spark.sql.sources.partitionOverwriteMode"
      spark.conf.set(key, "static")
      OverwriteModeProbe.session = spark
      OverwriteModeProbe.seen.clear()
      val probe = udf { (_: Long) =>
        OverwriteModeProbe.seen.add(
          OverwriteModeProbe.session.conf.get(key).toLowerCase)
        true
      }
      val y = byYear.select(min(col("o_year"))).head.getInt(0)
      val others = spark.table(s"$db.orders_m")
        .filter(col("o_year") =!= y).count()
      HiveTables.insertDynamic(spark, db, "orders_m",
        byYear.filter(col("o_year") === y).filter(probe(col("o_orderkey"))))
      import scala.jdk.CollectionConverters._
      assert(OverwriteModeProbe.seen.asScala.toSet == Set("static"))
      assert(spark.table(s"$db.orders_m")
        .filter(col("o_year") =!= y).count() == others,
        "untouched partitions must keep their data (dynamic, not static)")
    } finally {
      OverwriteModeProbe.session = null
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("catalog serving never mutates the caller's session (r15 verdict " +
    "item 3): a bucketed_join planned AFTER a serve in the same root " +
    "session still consumes bucketed scans; degenerate serve inputs " +
    "(qid miss, rows < buckets, single-cell corpus) return, not throw") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = HiveTables.session(appName = "graft-annserve-spec",
      metastoreUris = None, master = "local[2]",
      localBase = "/root/repo/target/hive_annserve")
    try {
      import graft.queries.SimilarityFitted
      val sf = "/root/testdata/sf0.001"
      spark.sql("CREATE DATABASE IF NOT EXISTS srv_db")
      SimilarityFitted.annIndexSaveToCatalog(spark, sf, "srv_db", "idx")

      // serve once — r15 set autoBucketedScan=false on the ROOT session
      // as a side effect here; r16 scopes it to a child serving session
      val served = SimilarityFitted
        .annTopKFromCatalog(spark, "srv_db", "idx", qid = 0L, k = 10)
      assert(served.collect().length == 10)
      assert(spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled") == "true",
        "serving must not flip the root session's autoBucketedScan conf")
      // and the serving session still bucket-prunes (the reason the
      // conf exists at all)
      assert(served.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount"))

      // the sticky-conf interaction pinned as a plan, not prose: a
      // bucketed join planned in the SAME root session after the serve
      // must still be exchange-free on bucketed scans
      spark.sql("DROP TABLE IF EXISTS srv_db.orders_bkt")
      spark.sql("DROP TABLE IF EXISTS srv_db.cust_bkt")
      Tables.orders(spark, sf)
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .format("parquet").saveAsTable("srv_db.orders_bkt")
      Tables.customer(spark, sf)
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .format("parquet").saveAsTable("srv_db.cust_bkt")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val joined = spark.table("srv_db.orders_bkt")
          .join(spark.table("srv_db.cust_bkt"),
            col("o_custkey") === col("c_custkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"),
          s"post-serve bucketed join must not shuffle:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"post-serve join must consume BUCKETED scans:\n$plan")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      }

      // degenerate serve inputs (r15 verdict item 7) — the adjacent
      // cases to EmptyInputSpec's zero-row corpus, same contract: a
      // lookup miss or a pathological layout degrades, never throws
      // (a) qid absent from a NON-empty corpus → the empty k-shape
      val miss = SimilarityFitted
        .annTopKFromCatalog(spark, "srv_db", "idx", qid = 9999999L, k = 10)
      assert(miss.columns.toSeq == Seq("vec_id", "sim"))
      assert(miss.count() == 0)
      // (b) rows < buckets: a 40-row corpus under the 64-bucket spec —
      // most buckets empty, serve must still match the in-memory path
      val deg = new java.io.File("target/ann_degenerate").getAbsolutePath
      spark.read.parquet(s"$sf/embeddings.parquet").limit(40)
        .write.mode("overwrite").parquet(s"$deg/tiny/embeddings.parquet")
      spark.sql("CREATE DATABASE IF NOT EXISTS srv_tiny")
      SimilarityFitted.annIndexSaveToCatalog(
        spark, s"$deg/tiny", "srv_tiny", "idx")
      val tinyServed = SimilarityFitted
        .annTopKFromCatalog(spark, "srv_tiny", "idx", qid = 0L, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val tinyInMem = SimilarityFitted.fittedTopKWith(
        Tables.embeddings(spark, s"$deg/tiny")
          .filter(col("embedding").isNotNull),
        SimilarityFitted.fittedCsFull(spark, s"$deg/tiny"),
        qid = 0L, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(tinyServed.nonEmpty && tinyServed == tinyInMem,
        s"rows<buckets serve diverged: $tinyServed vs $tinyInMem")
      // (c) every vector in ONE cell (identical embeddings): the fit
      // collapses to a single centroid, all candidates share its
      // bucket — serve returns the full top-k, sims all 1.0
      val one = spark.read.parquet(s"$sf/embeddings.parquet").limit(40)
        .select(col("vec_id"),
          first(col("embedding")).over(
            org.apache.spark.sql.expressions.Window
              .orderBy("vec_id").rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow))
            .as("embedding"))
      one.write.mode("overwrite").parquet(s"$deg/one/embeddings.parquet")
      spark.sql("CREATE DATABASE IF NOT EXISTS srv_one")
      SimilarityFitted.annIndexSaveToCatalog(
        spark, s"$deg/one", "srv_one", "idx")
      val oneServed = SimilarityFitted
        .annTopKFromCatalog(spark, "srv_one", "idx", qid = 0L, k = 10)
        .collect()
      assert(oneServed.length == 10, "single-cell corpus must serve k")
      assert(oneServed.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("co-bucketed two-index serving (r15 verdict missing item 1): " +
    "arrivals and standing index persisted under the IDENTICAL bucket " +
    "spec join with ZERO shuffle Exchange on the join key") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = HiveTables.session(appName = "graft-cobkt-spec",
      metastoreUris = None, master = "local[2]",
      localBase = "/root/repo/target/hive_cobkt")
    try {
      import graft.queries.SimilarityFitted
      val sf = "/root/testdata/sf0.001"
      val db = SimilarityFitted.annCatalogEnsureArr(spark, sf)
      // both tables carry the identical 64-bucket spec on `cell`
      Seq("idx_base", "idx_arr").foreach { t =>
        val bspec = spark.sharedState.externalCatalog
          .getTable(db, t).bucketSpec
        assert(bspec.exists(b => b.numBuckets == 64 &&
          b.bucketColumnNames == Seq("cell")),
          s"$t bucket spec: $bspec")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val cand = SimilarityFitted.annCobucketedCandidates(spark, db)
        val rows = cand.collect()
        assert(rows.nonEmpty, "sf0.001 arrivals must yield candidates")
        // the candidate JOIN consumes the co-bucketed distribution:
        // no ShuffleExchange anywhere BELOW the SortMergeJoin — the
        // only exchanges in the whole plan serve the output-bounded
        // per-arrival aggregate and the final sort
        val exec = cand.queryExecution.executedPlan
        val smjs = exec.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }
        assert(smjs.nonEmpty,
          s"expected a sort-merge join:\n${exec.toString.take(1500)}")
        val exchBelowJoin = smjs.flatMap(_.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        })
        assert(exchBelowJoin.isEmpty,
          s"co-bucketed join must not shuffle its inputs:\n$exec")
        assert(exec.toString.contains("Bucketed: true"),
          s"join must consume BUCKETED scans:\n${exec.toString.take(1500)}")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("catalog ANN save survives a dead context's on-disk leftovers " +
    "(r16: LOCATION_ALREADY_EXISTS repair — Catalog.once is per-appId, " +
    "scratch dirs are per-process)") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = HiveTables.session(appName = "graft-annwipe-spec",
      metastoreUris = None, master = "local[2]",
      localBase = "/root/repo/target/hive_annwipe")
    try {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import scala.jdk.CollectionConverters._
      // a COPY of sf0.001 gives this scenario its own data root → its
      // own db name, scratch location and untouched Catalog.once keys
      val src = Paths.get("/root/testdata/sf0.001")
      val root = Files.createTempDirectory("graft_annwipe")
      val d = root.resolve("sf0.001")
      Files.walk(src).iterator().asScala.foreach { p =>
        val t = d.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
      // simulate the failing state the suite sweeps hit: a STOPPED
      // same-process context already wrote the managed tables, so the
      // dirs exist on disk while THIS catalog knows nothing of the db
      val loc = Catalog.scratch(d.toString, "ann_catalog")
      Files.createDirectories(Paths.get(s"$loc/idx_cents"))
      Files.writeString(Paths.get(s"$loc/idx_cents/leftover"), "junk")
      // pre-fix this threw LOCATION_ALREADY_EXISTS from the managed CTAS
      val db = graft.queries.SimilarityFitted
        .annCatalogEnsure(spark, d.toString)
      assert(HiveTables.tables(spark, db).toSet
        .intersect(Set("idx_base", "idx_cents")).size == 2)
      // arr leg: the db now exists, so plant an orphan dir for idx_arr
      // alone — the table-level repair must fire
      Files.createDirectories(Paths.get(s"$loc/idx_arr"))
      Files.writeString(Paths.get(s"$loc/idx_arr/leftover"), "junk")
      val db2 = graft.queries.SimilarityFitted
        .annCatalogEnsureArr(spark, d.toString)
      assert(db2 == db)
      assert(HiveTables.tables(spark, db).contains("idx_arr"))
      // and the served query over the repaired save still answers
      assert(graft.queries.SimilarityFitted
        .annTopKFromCatalog(spark, db, "idx", qid = 0L, k = 5)
        .count() == 5)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

}

/** What a write's tasks read from the session conf — see the facade
  * test's insertDynamic probe. */
object OverwriteModeProbe {
  @volatile var session: SparkSession = _
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
