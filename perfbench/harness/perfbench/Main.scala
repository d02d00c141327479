package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark JVM. It runs the operations listed in `--ops` against
  * the generated tables in `--data`, and writes one JSON line per
  * operation plus a closing summary line to `--out`:
  *
  *   java ... perfbench.Main --workload hive_catalog_rw --data DIR --work DIR
  *     --ops FILE --out FILE --passes 6 --warm 3 --trace 0
  *     [--oracle-dir DIR]
  *
  * An operation is one call into a builder (a registry `Decl.fn` or a
  * `graft.HiveTables` function) followed by one action that folds every
  * output row into an order-independent digest: the row count and the
  * exact sum of `xxhash64` over all columns. The list first runs `--warm`
  * times untimed (with `--warm 0`, `graft.Bench`'s synthetic warm-up runs
  * instead); then it runs `--passes` times, timed. With `--trace 1` the
  * scheduler and query-execution listeners record spans and counters;
  * without it none is registered.
  * `--oracle-dir` holds DuckDB results (`<key>.parquet`) whose digests
  * are computed after all timing ends, under the same column order and
  * types, so that the caller can compare them with the operations'.
  */
object Main {

  final case class Op(id: Int, kind: String, key: String, args: Seq[String])

  /** Same session conf as `graft.Bench`, kept in the checkout's work dir. */
  def conf(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val data = new File(a("data")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val passes = a("passes").toInt
    val traced = a.get("trace").contains("1")
    val warmPasses = a.getOrElse("warm", "0").toInt
    val ops = Files.readAllLines(Paths.get(a("ops"))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t").toSeq
        Op(f(0).toInt, f(1), f(2), f.drop(3))
      }
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val out = new PrintWriter(a("out"), "UTF-8")

    val hive = workload == "hive_catalog_rw"
    // spark.* system properties seed every SparkConf, including the one
    // HiveTables.session builds; the session's own settings win over them
    conf(cpus, work).foreach { case (k, v) => System.setProperty(k, v) }
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val spark =
      if (hive) graft.HiveTables.session(appName = "perfbench", metastoreUris = None,
        master = s"local[$cpus]", localBase = s"$work/hive")
      else SparkSession.builder().appName("perfbench").getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tracer = new Tracer
    if (traced) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    // a cold workload starts where graft.Bench starts its first query
    if (warmPasses == 0) warmUp(spark, work)

    // catalog layer: register every generated table as a session view,
    // or, for the Hive workload, create its tables in the metastore
    tracer.begin(-1)
    val r0 = System.currentTimeMillis()
    val hiveState = if (hive) Some(new HiveState(spark, data, work)) else {
      graft.Catalog.registerAll(spark, data)
      None
    }
    val r1 = System.currentTimeMillis()
    org.apache.spark.perfbench.Bus.drain(sc)
    val regCounts = tracer.end()
    line(out, Map("kind" -> "catalog", "register_ms" -> (r1 - r0),
      "schema_jobs" -> regCounts.getOrElse("sched.jobs", 0.0)))
    val module = moduleOf
    val registry = graft.SparkEntry.queries
    val built = mutable.Set.empty[String]
    val schemas = mutable.Map.empty[String, StructType]

    /** The builder call of `op`, and the clean-up that restores the
      * catalog afterwards (untimed). */
    def builder(op: Op): (() => DataFrame, () => Unit) = op.kind match {
      case "query" => (() => registry(op.key)(spark, data), () => ())
      case _ => hiveState.get.builder(op)
    }

    var seq = 0
    def runOp(op: Op, pass: Int, timed: Boolean): Unit = {
      seq += 1
      val (build, cleanup) = builder(op)
      sc.setJobGroup(s"op${op.id}", op.key, interruptOnCancel = false)
      if (traced) tracer.begin(seq)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val wsc0 = WholeStageCodegenExec.codeGenTime
      val gc0 = gcMs
      val cpu0 = cpuNs
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val result = scala.util.Try {
        val df = build()
        t1 = System.nanoTime()
        schemas(op.key) = df.schema
        digest(df)
      }
      val t2 = System.nanoTime()
      val w2 = System.currentTimeMillis()
      val cpu = cpuNs - cpu0
      val counts = mutable.LinkedHashMap.empty[String, Double]
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        counts ++= tracer.end()
        val w1 = w0 + (t1 - t0) / 1000000L
        tracer.span(Span(seq, "op", op.key, w0, w2))
        tracer.span(Span(seq, "build", op.kind, w0, w1))
        counts("codegen.compiles") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble
        counts("codegen.wsc_ms") = (WholeStageCodegenExec.codeGenTime - wsc0) / 1e6
        counts("jvm.gc_ms") = (gcMs - gc0).toDouble
        hiveState.foreach { h =>
          counts ++= h.partitionTotals(op)
          h.drainCalls().foreach { case (name, s, e) =>
            tracer.span(Span(seq, "hive", name, s, e))
            counts(s"hive.${name}_ms") = counts.getOrElse(s"hive.${name}_ms", 0.0) + (e - s)
          }
        }
      }
      scala.util.Try(cleanup())
      sc.clearJobGroup()
      val repeat = !built.add(op.key)
      val fields = mutable.LinkedHashMap[String, Any](
        "kind" -> "op", "id" -> op.id, "seq" -> seq, "op" -> op.kind, "key" -> op.key,
        "module" -> module.getOrElse(op.key, "HiveTables"), "pass" -> pass,
        "timed" -> timed, "repeat" -> repeat, "write" -> isWrite(op.kind),
        "ms" -> (t2 - t0) / 1e6, "build_ms" -> (t1 - t0) / 1e6,
        "cpu_ms" -> cpu / 1e6, "start_ms" -> w0, "end_ms" -> w2)
      result match {
        case scala.util.Success((n, d)) => fields ++= Seq("rows" -> n, "digest" -> d)
        case scala.util.Failure(e) =>
          fields ++= Seq("error" -> String.valueOf(e.getMessage).take(300))
      }
      if (traced) fields("counts") = counts
      line(out, fields)
    }

    for (_ <- 1 to warmPasses) ops.foreach(op => runOp(op, 0, timed = false))
    val firstTimedMs = System.currentTimeMillis()
    for (pass <- 1 to passes) {
      val c0 = cpuNs
      val p0 = System.nanoTime()
      ops.foreach(op => runOp(op, pass, timed = true))
      line(out, Map("kind" -> "pass", "pass" -> pass,
        "ms" -> (System.nanoTime() - p0) / 1e6, "cpu_ms" -> (cpuNs - c0) / 1e6))
    }

    // Oracle digests: after timing, so they count in no metric.
    a.get("oracle-dir").foreach { dir =>
      ops.map(_.key).distinct.foreach { key =>
        val f = new File(dir, s"$key.parquet")
        schemas.get(key).filter(_ => f.exists).foreach { s =>
          val res = scala.util.Try {
            val got = spark.read.parquet(f.getPath)
            digest(got.select(s.fields.toSeq.map(x => col(x.name).cast(x.dataType).as(x.name)): _*))
          }
          line(out, res match {
            case scala.util.Success((n, d)) =>
              Map("kind" -> "oracle", "key" -> key, "rows" -> n, "digest" -> d)
            case scala.util.Failure(e) =>
              Map("kind" -> "oracle", "key" -> key, "error" -> String.valueOf(e.getMessage).take(300))
          })
        }
      }
    }

    if (traced) writeSpans(tracer.spans.toSeq, a("out") + ".spans.jsonl")
    line(out, Map("kind" -> "jvm", "first_timed_ms" -> firstTimedMs, "rss_mb" -> vmHwmMb,
      "cpus" -> cpus, "conf" -> conf(cpus, work).toMap.filterNot(_._1.contains("dir"))))
    out.close()
    spark.stop()
  }

  def isWrite(kind: String): Boolean =
    Set("write_managed", "insert_dynamic", "repair", "create_external")(kind)

  /** Order-independent digest of every output row: (row count, exact sum
    * of xxhash64 over all columns in name order). Maps hash as their
    * sorted entries, so the digest does not depend on map order. */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.toSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"c$i")))
        case _ => col(s"c$i")
      }
    }
    val r = renamed.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Query name → the registry module that declares it. */
  def moduleOf: Map[String, String] = {
    val mods = Seq(
      "Relational" -> graft.queries.Relational.decls,
      "Warehouse" -> graft.queries.Warehouse.decls,
      "TpcH" -> graft.queries.TpcH.decls,
      "Stats" -> graft.queries.Stats.decls,
      "MlPrep" -> graft.queries.MlPrep.decls,
      "Windows" -> graft.queries.Windows.decls,
      "TimeWindows" -> graft.queries.TimeWindows.decls,
      "Scalars" -> graft.queries.Scalars.decls,
      "AsofRange" -> graft.queries.AsofRange.decls,
      "Udx" -> graft.queries.Udx.decls,
      "Similarity" -> graft.queries.Similarity.decls,
      "Text" -> graft.queries.Text.decls,
      "Dedup" -> graft.queries.Dedup.decls,
      "Curation" -> graft.queries.Curation.decls,
      "Sketches" -> graft.queries.Sketches.decls,
      "CatalogIO" -> graft.queries.CatalogIO.decls,
      "Dq" -> graft.queries.Dq.decls,
      "Multimodal" -> graft.multimodal.Multimodal.decls,
      "StreamingBatch" -> graft.queries.StreamingBatch.decls)
    // SimilarityFitted keeps its list package-private: it is the rest
    val named = mods.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap
    graft.SparkEntry.allDecls.map(d => d.name -> named.getOrElse(d.name, "SimilarityFitted")).toMap
  }

  /** `graft.Bench`'s synthetic warm-up, on a fifth of its rows: JIT,
    * codegen, shuffle, window, join and parquet round-trip paths,
    * touching no generated table. */
  def warmUp(spark: SparkSession, work: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = spark.range(200000).select(col("id"), (col("id") % 97).as("k"),
      (col("id") % 1000).cast("double").as("v"), concat(lit("w"), col("id") % 100).as("t"))
    w.groupBy("k").count().join(broadcast(spark.range(97).select(col("id").as("k"))), "k")
      .orderBy(col("count").desc).limit(5).count()
    val win = Window.partitionBy("k").orderBy(col("v"), col("id"))
    w.select(col("k"), col("v"), row_number().over(win).as("rn"),
        sum(col("v").cast("decimal(30,6)")).over(win.rowsBetween(Window.unboundedPreceding, 0)).as("cs"),
        avg(col("v")).over(win.rowsBetween(-2, 0)).as("ma"),
        regexp_extract(col("t"), "([0-9]+)", 1).as("d"))
      .filter(col("rn") <= 3).count()
    w.join(w.select(col("id"), col("v").as("v2")), "id").groupBy("k").agg(count(lit(1))).count()
    val tmp = s"$work/warm"
    w.limit(20000).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).filter(col("v") > 1.0).count()
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set size of this JVM (`VmHWM`), in MB. */
  def vmHwmMb: Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }

  def line(out: PrintWriter, m: scala.collection.Map[String, Any]): Unit = {
    out.println(json(m)); out.flush()
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    spans.foreach(s => w.println(json(Map("op" -> s.op, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    w.close()
  }
}

/** The Hive-catalog workload's state: a fresh embedded-Derby metastore
  * holding `bench.orders_p` (managed, partitioned by `o_year`, the read
  * and insert target), `bench.orders_w` (managed, partitioned, the
  * overwrite target) and `bench.customer_psv` (an external pipe-delimited
  * text table, read through its SerDe). Writes put back the rows that
  * were there, and landed partitions and external tables are dropped
  * after each operation, so every read sees the same rows all run. */
final class HiveState(spark: SparkSession, data: String, work: String) {
  import graft.HiveTables

  private val db = "bench"
  val source: DataFrame = graft.Tables.orders(spark, data).select(
    col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
    col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"),
    year(col("o_orderdate")).as("o_year"))
  private val customerCols = Seq("c_custkey" -> "bigint", "c_name" -> "string",
    "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string")

  spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
  HiveTables.writeManaged(spark, db, "orders_p", source, Seq("o_year"))
  HiveTables.writeManaged(spark, db, "orders_w", source, Seq("o_year"))
  private val psv = s"$work/customer_psv"
  graft.Tables.customer(spark, data).coalesce(1).write.mode("overwrite")
    .option("sep", "|").csv(psv)
  spark.sql(s"""CREATE EXTERNAL TABLE $db.customer_psv (
    |  c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,
    |  c_mktsegment STRING)
    |ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'
    |STORED AS TEXTFILE LOCATION '$psv'""".stripMargin)
  private val partsLoc = new File(spark.sharedState.externalCatalog
    .getTable(db, "orders_p").storage.locationUri.get.getPath)
  val nParts: Int = HiveTables.partitions(spark, db, "orders_p").size

  /** (name, start ms, end ms) of each HiveTables call of the operation in progress. */
  private val calls = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private def call[T](name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally calls += ((name, t0, System.currentTimeMillis()))
  }
  def drainCalls(): Seq[(String, Long, Long)] = { val c = calls.toSeq; calls.clear(); c }

  private def years(s: String): Seq[Int] = s.split(",").toSeq.map(_.toInt)
  private def ofYears(ys: Seq[Int]): Column = col("o_year").isin(ys: _*)
  private def none(): Unit = ()

  def partitionTotals(op: Main.Op): Map[String, Double] = op.kind match {
    case "read" | "insert_dynamic" => Map("hive.partitions_total" -> nParts.toDouble)
    case _ => Map.empty
  }

  def builder(op: Main.Op): (() => DataFrame, () => Unit) = {
    import spark.implicits._
    op.kind match {
      case "read" =>
        (() => call("table")(HiveTables.table(spark, db, "orders_p", Seq(ofYears(years(op.args.head))))), none)
      case "serde" => (() => call("read_serde")(HiveTables.readViaSerde(spark, db, "customer_psv")), none)
      case "partitions" => (() => call("partitions")(HiveTables.partitions(spark, db, "orders_p")).toDF("partition"), none)
      case "tables" => (() => HiveTables.tables(spark, db).toDF("name"), none)
      case "write_managed" =>
        (() => {
          call("write_managed")(HiveTables.writeManaged(spark, db, "orders_w",
            source.filter(ofYears(years(op.args.head))), Seq("o_year")))
          spark.table(s"$db.orders_w")
        }, none)
      case "insert_dynamic" =>
        val ys = years(op.args.head)
        (() => {
          call("insert_dynamic")(HiveTables.insertDynamic(spark, db, "orders_p", source.filter(ofYears(ys))))
          HiveTables.table(spark, db, "orders_p", Seq(ofYears(ys)))
        }, none)
      case "repair" =>
        val y = op.args.head.toInt
        val landed = y + 1000
        val dir = new File(partsLoc, s"o_year=$landed").toPath
        (() => {
          copyTree(new File(partsLoc, s"o_year=$y").toPath, dir)
          call("repair")(HiveTables.repairTable(spark, db, "orders_p"))
          HiveTables.table(spark, db, "orders_p", Seq(col("o_year") === landed)).drop("o_year")
        }, () => {
          spark.sql(s"ALTER TABLE $db.orders_p DROP IF EXISTS PARTITION (o_year=$landed)")
          deleteTree(dir)
        })
      case "create_external" =>
        val name = s"ext_${op.id}"
        val dir = Paths.get(work, name)
        (() => {
          Files.createDirectories(dir)
          Files.copy(Paths.get(data, "customer.parquet"), dir.resolve("part-0.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
          call("create_external")(HiveTables.createExternal(spark, db, name, customerCols, dir.toString))
          spark.table(s"$db.$name")
        }, () => {
          spark.sql(s"DROP TABLE IF EXISTS $db.$name")
          deleteTree(dir)
        })
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    scala.util.Using.resource(Files.list(from)) { files =>
      files.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .foreach(p => Files.copy(p, to.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    scala.util.Using.resource(Files.walk(p)) { paths =>
      paths.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
  }
}

/** Prints `graft.SparkEntry.oracleSql` as one JSON object, for the DuckDB
  * replays that check the benchmark's digests. */
object Oracles {
  def main(args: Array[String]): Unit = println(Main.json(graft.SparkEntry.oracleSql))
}
