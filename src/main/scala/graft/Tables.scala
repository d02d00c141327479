package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading layer — the Spark-native analogue of the reference's
  * Hive-table → DataFrame bridge (`dask_hivemetastore` `table_to_dask`:
  * metastore lookup → SerDe dispatch → lazy dataframe). Here the "catalog"
  * for the driver harness is the parquet directory layout under a
  * scale-factor dir; `Catalog.scala` provides the real metastore-backed
  * path (SURVEY.md §2 tier A).
  *
  * Scale note (100 TB): all loaders are pure `spark.read.parquet` — the
  * scan parallelism, column pruning and row-group predicate pushdown come
  * from the file source V2 path; nothing here materializes on the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema memo, keyed by (table path, "schema") in a [[SessionMemo]]:
    * the first touch of a table infers its schema from the parquet
    * footer (a small driver job); every later `t()` passes the cached
    * schema explicitly, so ResolveDataSource never schedules another
    * inference job. Measured: schema re-inference was the single
    * largest Catalyst cost in the dedup family's first-touch profile
    * (1.7 s of ResolveDataSource across re-created sources at sf0.1),
    * and every one of the 250 queries re-created its sources per call.
    * The fixtures are immutable per run, but immutability is enforced
    * rather than assumed: each entry stores the path's content
    * fingerprint next to the schema and re-infers on mismatch, so a
    * fixture rewritten in-app with a different schema gets a fresh
    * inference instead of a silently-stale memo entry — and a rewrite
    * REPLACES the entry (keyed by path alone) instead of minting a new
    * key, so long-lived apps that rewrite fixtures don't grow the map
    * unboundedly. The memo declares no tables, so [[invalidate]] drops
    * an entry for its exact table path. (Scratch-dir rewrites bypass
    * this memo entirely — CatalogIO reads its own materializations
    * directly.) */
  private val schemaMemo =
    new SessionMemo[(String, org.apache.spark.sql.types.StructType, Long)]()

  /** Staleness-check TTL: within this window a memo hit trusts its
    * cached fingerprint without touching the filesystem, so the hot
    * path (hundreds of t() calls per run) stays O(1) instead of paying
    * a directory listing per call; past it the next hit re-stats. A
    * schema-changing in-app rewrite is therefore visible within at
    * most this many ms — far tighter than any rewrite-then-reread
    * cycle in practice (a Spark write alone takes longer). */
  private val FpTtlMs = 2000L

  /** Content fingerprint: a plain file's (mtime, length); a DIRECTORY's
    * File.length() is just its inode size (constant), so fold the
    * children's (name, mtime, length) instead — RECURSIVELY, because a
    * partitioned layout (key=… subdirectories) rewritten in place can
    * change only files two levels down while every top-level entry
    * keeps its (name, size) and, on coarse-mtime filesystems, its
    * mtime tick. The walk is one stat per file of a table the caller
    * is about to scan anyway, and it runs at most once per TTL window. */
  private def fingerprint(f: java.io.File): String =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .sortBy(_.getName)
        .map(c => s"${c.getName}:${c.lastModified}:${c.length}" +
          (if (c.isDirectory) s"{${fingerprint(c)}}" else ""))
        .mkString(";")
    else s"${f.lastModified}:${f.length}"

  /** Explicit invalidation for in-app rewrites: drops every
    * [[SessionMemo]] entry that `path` makes stale, in all sessions —
    * this path's schema, so the next [[t]] re-infers immediately
    * instead of trusting the TTL window, and the family pipelines'
    * CHECKPOINTED derived frames (Dedup's candidate frames, the PCA
    * axes, fitted centroids, curation stages), which a schema refresh
    * alone would leave serving. The deterministic companion to the
    * fingerprint check for code that KNOWS it just rewrote a table
    * (same-size same-tick rewrites are invisible to any stat-based
    * check). See [[SessionMemo]] for which entries a path covers. */
  def invalidate(path: String): Unit = SessionMemo.invalidate(path)

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val memo = schemaMemo.at(s)
    val key = SessionMemo.Key(path, "schema")
    val now = System.currentTimeMillis()
    val cached = memo.get(key)
    val sch =
      if (cached != null && now - cached._3 < FpTtlMs) cached._2
      else {
        val fp = fingerprint(new java.io.File(path))
        if (cached != null && cached._1 == fp) {
          // unchanged — refresh the check timestamp only
          memo.put(key, (fp, cached._2, now))
          cached._2
        } else {
          // racing threads may both infer — benign, same value wins.
          // r17: the fixture tables are single parquet files, so the
          // footer is read and converted ON THE DRIVER (SchemaBridge —
          // Spark's own converter under the session's SQLConf flags)
          // instead of scheduling the distributed footer-merge job
          // (~0.2–0.4 s of scheduler round-trip per table per process).
          // Any layout where single-footer inference isn't equivalent
          // (multi-file, partitioned, empty) falls back to the job.
          val inferred = org.apache.spark.sql.graftbridge.SchemaBridge
            .inferSingleFooter(s, path)
            .getOrElse(s.read.parquet(path).schema)
          memo.put(key, (fp, inferred, now))
          inferred
        }
      }
    s.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Scale-adaptive read parallelism for CPU-heavy per-row pipelines
    * (MinHash signatures, shingle hashing, n×cells centroid
    * assignment): a test-scale table is a single small parquet file —
    * one row group, hence ONE scan task no matter how small
    * `maxPartitionBytes` goes — which serializes the kernel map on a
    * single core. A production table spans many files/row groups, so
    * the guard below is false there and NO exchange is added; under
    * it, the round-robin repartition moves only the rows the pass
    * must read anyway (guide §2.5 input skew: "one huge unsplittable
    * file … repartition immediately after the read"). Keyless
    * repartition is retry-deterministic (sortBeforeRepartition stays
    * on), and callers are restricted to order-independent consumers
    * (exact decimal aggregates, distinct, min/max-keyed groupings).
    * NOT applied to serving/scan-shaped queries whose zero-exchange
    * plans are pinned — this is for the heavy derivation pipelines
    * only. */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= want) df.repartition(want) else df
  }

  /** [[spread]] for a single-LONG-column id frame feeding per-id
    * SYNTHESIS (the multimodal codec family): when the under-parallel
    * ids turn out to be one dense integer range — the common shape of
    * a key column — re-emit them as `spark.range(min, max+1)` at full
    * parallelism instead of repartitioning, which costs ZERO shuffle
    * bytes where the keyless repartition ships every id (row-linear:
    * ScaleSpec pins multimodal_pca_fit's shuffle as model-bounded, and
    * the id exchange broke that at 10x rows). The guard scalars
    * (count / non-null count / distinct count / min / max) are a tiny
    * probe over the 8-byte column; non-dense, duplicate-bearing or
    * null-bearing ids fall back to the plain spread, and the id SET
    * (as a multiset) is provably identical either way, so
    * order-independent consumers (the spread contract above) see the
    * same rows. */
  def spreadIds(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 > want) return df
    val field = df.schema.fields.head
    // the range re-emission only reproduces a SINGLE long column; any
    // carried payload column (e.g. phash's (doc_id, seed)) must take
    // the plain repartition, which preserves all columns
    if (df.schema.fields.length != 1 ||
        field.dataType != org.apache.spark.sql.types.LongType)
      return spread(df)
    val idCol = field.name
    // Duplicate-freeness closes the duplicate-multiset hole: ids
    // [1,2,2,4] give count=4 and span=4, but re-emitting the range
    // would return [1,2,3,4] — a DIFFERENT id set. The certificate is
    // computed with ZERO shuffle bytes (a countDistinct here would
    // ship every distinct id — row-linear, which broke the pca_fit
    // model-bounded ScaleSpec pin): one map-only pass emits per-task
    // (count, non-null count, min, max, in-partition-dup?) tuples to
    // the driver (partition-count rows — metadata-scale), and ids are
    // certified globally unique iff no partition saw an in-partition
    // duplicate AND the partitions' [min,max] ranges are pairwise
    // disjoint. Disjointness is sufficient, not necessary — a frame
    // whose partitions interleave ids falls back to the plain spread
    // (conservative: the helper's guard means the common case is ONE
    // partition, where disjointness is trivial). The per-task dup set
    // is capped: past 4M ids the partition reports "uncertain" and the
    // fallback path is taken rather than growing task memory.
    val stats = df.select(col(idCol)).queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L; var nn = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var dup = false; var uncertain = false
        val seen = new java.util.HashSet[java.lang.Long]()
        while (it.hasNext) {
          val r = it.next(); n += 1
          if (!r.isNullAt(0)) {
            nn += 1; val v = r.getLong(0)
            if (v < mn) mn = v
            if (v > mx) mx = v
            if (!uncertain) {
              if (seen.size >= 4000000) { uncertain = true; seen.clear() }
              else if (!seen.add(v)) dup = true
            }
          }
        }
        Iterator.single((n, nn, mn, mx, dup, uncertain))
      }.collect()
    val total = stats.map(_._1).sum
    val nonNull = stats.map(_._2).sum
    if (total == 0) return df
    val nonEmpty = stats.filter(_._2 > 0).sortBy(_._3)
    val disjoint = nonEmpty.iterator.sliding(2).withPartial(false)
      .forall { case Seq(a, b) => a._4 < b._3 }
    val uniqueCertified = nonEmpty.forall(p => !p._5 && !p._6) && disjoint
    if (total == nonNull && uniqueCertified && nonEmpty.nonEmpty && {
        val (mn, mx) = (nonEmpty.head._3, nonEmpty.map(_._4).max)
        mx - mn + 1 == total
      })
      df.sparkSession
        .range(nonEmpty.head._3, nonEmpty.map(_._4).max + 1, 1, want)
        .toDF(idCol)
    else df.repartition(want)
  }

  /** `events.ts` has shipped in two parquet encodings across fixture
    * generations, so the loader normalizes both to a session-tz
    * `TimestampType` column (all downstream queries and the DuckDB
    * oracles assume µs-precision epoch semantics, session tz = UTC):
    *
    *  - INT64 TIMESTAMP(NANOS): Spark 4 refuses it by default
    *    (PARQUET_TYPE_ILLEGAL) and DuckDB silently truncates to µs.
    *    Recipe (SURVEY.md §1.4): read nanos as long, integer-divide by
    *    1000 (`DIV`, exact on int64 — a double division would lose
    *    precision above 2^53) and rebuild a µs timestamp — bit-identical
    *    to DuckDB's truncation.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
    *    TIMESTAMP_NTZ; cast to TimestampType (session tz is UTC
    *    everywhere in this repo) so `unix_micros`/`window()` work and
    *    epoch values match DuckDB's `epoch_us` on the naive timestamp.
    *
    * `ts_ns` is nanos-EXACT only for the INT64 NANOS encoding; in the
    * other branches it is reconstructed as micros×1000 (those encodings
    * carry only micros, so no precision exists to lose).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case _ => // already session-tz TimestampType
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
}
