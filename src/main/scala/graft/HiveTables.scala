package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.execution.command.DDLUtils

/** User-facing facade — the engine's analogue of the reference's single
  * public entry point `table_to_dask(database, table, filters)`:
  *
  *  1. resolve the table through the session catalog (a real Hive
  *     metastore when the session has `enableHiveSupport`, the in-memory
  *     catalog otherwise) — the analyzer's metastore lookup replaces the
  *     reference's Thrift `get_table` round-trip;
  *  2. apply partition-key filters — Catalyst's
  *     PruneFileSourcePartitions / PruneHiveTablePartitions pushes them
  *     into partition enumeration, replacing `get_partitions_by_filter`
  *     (metastore-side pruning, the reference's one optimization);
  *  3. return a lazy DataFrame — SerDe dispatch (parquet/ORC/CSV/JSON
  *     readers) already happened at table-registration time, so unlike
  *     the reference there is no per-call reader branching.
  *
  * A reference user's
  * `table_to_dask("sales", "orders", [("year", "=", 1996)])` becomes
  * `HiveTables.table(spark, "sales", "orders", Seq(col("year") === 1996))`.
  */
object HiveTables {

  // backtick-quote identifiers: the reference passes raw strings to the
  // metastore client, so a dotted or spaced name must not be re-parsed
  // as a multi-part reference here (dask_hivemetastore core.py)
  private def q(id: String) = "`" + id.replace("`", "``") + "`"

  /** Build a Hive-catalog SparkSession. With `metastoreUris` set (e.g.
    * `thrift://hms-host:9083`) the session talks to that EXTERNAL Hive
    * metastore — the reference's `HiveMetastoreClient(host, port)`
    * constructor; unset, it falls back to an embedded Derby metastore
    * under `localBase` (self-contained dev/test mode). Both modes run
    * the identical HiveExternalCatalog code path — only the
    * `hive.metastore.uris` conf differs — so the Derby-backed
    * CatalogSpec exercises exactly what a remote HMS would serve.
    * Default uris come from `HIVE_METASTORE_URIS` in the environment,
    * the deployment-friendly knob. The rest of the conf is
    * [[GraftSession]]'s, with one shuffle partition per `local[n]`
    * thread (per available core for any other master). */
  def session(appName: String = "graft",
      metastoreUris: Option[String] = sys.env.get("HIVE_METASTORE_URIS"),
      master: String = "local[*]",
      localBase: String = "spark-warehouse-hive"): SparkSession = {
    val cpus = (master match {
      case s"local[$n]" => n.toIntOption
      case _ => None
    }).getOrElse(Runtime.getRuntime.availableProcessors)
    val b = GraftSession.builder(cpus).appName(appName).master(master)
      .config("spark.sql.warehouse.dir", s"$localBase/warehouse")
    val withCatalog = metastoreUris match {
      case Some(uris) => b.config("hive.metastore.uris", uris)
      case None => b.config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$localBase/metastore_db;create=true")
    }
    withCatalog.enableHiveSupport().getOrCreate()
  }

  /** SerDe-class → (Spark reader format, reader options): the
    * reference's core dispatch — the table's serialization library
    * plus its serde parameters decide which reader runs and how it is
    * configured (dask_hivemetastore reads `field.delim` etc. from the
    * StorageDescriptor). Pure function so the full dispatch table is
    * unit-testable without a metastore. */
  private[graft] def serdeDispatch(serde: String,
      props: Map[String, String]): (String, Map[String, String]) = {
    val s = serde.toLowerCase
    if (s.contains("parquet")) ("parquet", Map.empty)
    else if (s.contains("orc")) ("orc", Map.empty)
    else if (s.contains("json")) ("json", Map.empty)
    else if (s.contains("opencsv"))
      // OpenCSVSerde: quoting-aware, its own property names
      ("csv", Map(
        "sep" -> props.getOrElse("separatorChar", ","),
        "quote" -> props.getOrElse("quoteChar", "\""),
        "escape" -> props.getOrElse("escapeChar", "\\")))
    else if (s.contains("lazysimple") || s.isEmpty)
      // LazySimpleSerDe (ROW FORMAT DELIMITED): delimiter from serde
      // params, Hive's default being ^A (), not comma
      ("csv", Map(
        "sep" -> props.getOrElse("field.delim", "\u0001"),
        "nullValue" -> props.getOrElse("serialization.null.format", "\\N")))
    else throw new IllegalArgumentException(
      s"no reader dispatch for SerDe class '$serde'")
  }

  /** Read a catalog table by inspecting its SerDe class and serde
    * properties — the reference's per-call reader branching
    * (`table_to_dask` chooses parquet vs delimited-text readers from
    * the Thrift StorageDescriptor). `spark.table` already performs
    * this dispatch internally for registered tables; this entry point
    * makes the mechanism explicit and configurable, and is the one a
    * reference user migrating SerDe-heavy tables would reach for.
    * Unpartitioned external tables only (partitioned tables resolve
    * per-partition storage — use [[table]], where Catalyst handles
    * partition-key injection and pruning). */
  def readViaSerde(spark: SparkSession, database: String,
      name: String): DataFrame = {
    val t = spark.sharedState.externalCatalog.getTable(database, name)
    require(t.partitionColumnNames.isEmpty,
      s"$database.$name is partitioned — read it via table(); " +
        "per-partition SerDe dispatch is the catalog's job")
    val (format, opts) = serdeDispatch(t.storage.serde.getOrElse(""),
      t.storage.properties)
    val location = t.storage.locationUri.map(_.toString).getOrElse(
      throw new IllegalArgumentException(
        s"$database.$name has no storage location"))
    spark.read.format(format).options(opts)
      .schema(t.dataSchema).load(location)
  }

  /** Load a catalog table as a lazy DataFrame, with optional filters
    * (partition-key predicates prune at the metastore/file-index level;
    * other predicates push down to the scan). */
  def table(spark: SparkSession, database: String, name: String,
      filters: Seq[Column] = Nil): DataFrame =
    filters.foldLeft(spark.table(s"${q(database)}.${q(name)}"))(
      (df, f) => df.filter(f))

  /** Register an external table over existing files from a FieldSchema-
    * shaped (column name, Hive type string) list — the write direction
    * of the reference's metastore model (its StorageDescriptor carries
    * exactly these strings; graft.HiveTypes is the §1.2 type map). */
  def createExternal(spark: SparkSession, database: String, name: String,
      cols: Seq[(String, String)], location: String,
      format: String = "parquet"): DataFrame =
    spark.catalog.createTable(s"${q(database)}.${q(name)}", source = format,
      schema = HiveTypes.schemaOf(cols), options = Map("path" -> location))

  /** Write a DataFrame as a MANAGED catalog table (metastore-registered
    * parquet, optionally Hive-partitioned) — the write direction of the
    * catalog bridge: downstream readers find it by name through the
    * same `get_table` path the reference serves. Overwrite replaces
    * the whole table definition + data (the full-refresh contract). */
  def writeManaged(spark: SparkSession, database: String, name: String,
      df: DataFrame, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(s"${q(database)}.${q(name)}")
  }

  /** [[writeManaged]] with Spark-native BUCKETING on `bucketCol`: the
    * serving-index layout — an equality or IN predicate on the bucket
    * column prunes whole buckets at scan planning (FileSourceStrategy's
    * bucket set), and two tables bucketed the same way co-locate their
    * join without an exchange. The frame is repartitioned by the
    * bucket column first so each bucket lands as ONE file (a bucketed
    * write without clustering emits tasks × buckets files — the
    * small-files failure mode); that one clustering shuffle is paid at
    * write time, the write-once/read-many trade. */
  def writeManagedBucketed(spark: SparkSession, database: String,
      name: String, df: DataFrame, buckets: Int,
      bucketCol: String): Unit =
    df.repartition(buckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(s"${q(database)}.${q(name)}")

  /** Dynamic-partition overwrite INSERT: only the partitions present
    * in `df` are replaced; all others keep their data — the
    * incremental-load contract (a daily job rewrites yesterday's
    * partition without touching history). Spark's default overwrite
    * mode is STATIC (drops every partition first — catastrophic for an
    * incremental loader), so the write runs in a session clone that
    * carries the dynamic mode — never in the caller's conf, where
    * concurrent writers would race on it — and the caller's view of
    * the table is refreshed after. (The `partitionOverwriteMode` write
    * option cannot carry it: insertInto drops writer options.) Column
    * order follows the TABLE schema (insertInto is positional),
    * partition columns last. */
  def insertDynamic(spark: SparkSession, database: String, name: String,
      df: DataFrame): Unit = {
    val table = s"${q(database)}.${q(name)}"
    org.apache.spark.sql.graftbridge.SessionBridge.withConf(df,
      Map("spark.sql.sources.partitionOverwriteMode" -> "dynamic"))
      .write.mode("overwrite").insertInto(table)
    df.sparkSession.catalog.refreshTable(table)
  }

  /** Sync the metastore with partition directories added behind its
    * back (files landed by an external writer): MSCK REPAIR — the
    * reference's world model (partitions ARE metastore rows) made
    * consistent with the filesystem truth. */
  def repairTable(spark: SparkSession, database: String,
      name: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE ${q(database)}.${q(name)}")

  /** List a database's tables (the reference's `get_all_tables`) as
    * `spark.catalog.listTables` does, temp views included, but by name
    * from the session catalog without loading each table's metadata;
    * any other namespace (qualified, global temp, missing) takes
    * `listTables` itself, its result or error. */
  def tables(spark: SparkSession, database: String): Seq[String] = {
    val catalog = spark.sessionState.catalog
    if (catalog.databaseExists(database))
      catalog.listTables(database).map(_.table)
    else spark.catalog.listTables(database).collect().map(_.name).toSeq
  }

  /** List databases (the reference's `get_all_databases`). */
  def databases(spark: SparkSession): Seq[String] =
    spark.catalog.listDatabases().collect().map(_.name).toSeq

  /** List a partitioned table's partition specs (the reference's
    * `get_partitions`): rows like `o_year=1996`, straight from the
    * catalog's partition enumeration (metastore-backed under Hive) as
    * `SHOW PARTITIONS` lists them, without planning the statement; a
    * missing, view or unpartitioned table runs it for its error. */
  def partitions(spark: SparkSession, database: String,
      name: String): Seq[String] = {
    val catalog = spark.sessionState.catalog
    val id = TableIdentifier(name, Some(database))
    val t = if (catalog.tableExists(id)) Some(catalog.getTableMetadata(id))
      else None
    if (t.exists(t => t.tableType != CatalogTableType.VIEW &&
        t.partitionColumnNames.nonEmpty)) {
      DDLUtils.verifyPartitionProviderIsHive(spark, t.get, "SHOW PARTITIONS")
      catalog.listPartitionNames(id)
    } else spark.sql(s"SHOW PARTITIONS ${q(database)}.${q(name)}")
      .collect().map(_.getString(0)).toSeq
  }
}
