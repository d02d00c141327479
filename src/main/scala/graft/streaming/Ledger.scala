package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The batch LEDGER — the one commit rule behind every exactly-once sink
  * (the [[Streaming]] sinks and the maintained ANN index in
  * `SimilarityFitted`). The paper's rule, applied to micro-batches: data
  * becomes visible only when the catalog records it.
  *
  * Layout: a ledger is an append-only parquet dir with one LONG column
  * `batch_id`. A micro-batch writes its output dirs FIRST (per-batch
  * `b<id>`/`v<id>`/`e<id>` dirs, each written with overwrite), then
  * appends ONE `batch_id` row — that row is the commit point.
  *
  *  - Replays: `foreachBatch` is at-least-once; after a crash the last
  *    batch is re-delivered with the SAME id. An id already in the
  *    ledger is a no-op ([[once]]).
  *  - Torn writes: a crash between the dir writes and the ledger row
  *    leaves dirs that no reader sees (readers resolve through
  *    [[committed]]), and the replay overwrites the same dirs
  *    deterministically — so at-least-once delivery becomes
  *    exactly-once output.
  *  - Duplicate rows (an append replayed after it landed) are harmless:
  *    [[committed]] is distinct.
  *
  * A transactional table format's snapshot+commit is what production
  * swaps in; this is its poor-man's form, and the ledger grows
  * O(#batches). All paths go through the Hadoop FS API, so a ledger may
  * live on HDFS or an object store, not just local disk. */
object Ledger {

  /** The Hadoop filesystem holding `path`. */
  def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sessionState.newHadoopConf())

  def exists(s: SparkSession, path: String): Boolean =
    fs(s, path).exists(new Path(path))

  /** The committed batch ids, sorted and distinct; empty before the
    * first commit. */
  def committed(s: SparkSession, ledger: String): Array[Long] =
    if (!exists(s, ledger)) Array.empty[Long]
    else s.read.parquet(ledger)
      .select("batch_id").collect().map(_.getLong(0)).distinct.sorted

  /** Run `write` (the batch's dir writes) and then commit `batchId` —
    * unless it is already committed, in which case do nothing. */
  def once(s: SparkSession, ledger: String, batchId: Long)(
      write: => Unit): Unit =
    if (!committed(s, ledger).contains(batchId)) {
      write
      import s.implicits._
      Seq(batchId).toDF("batch_id").write.mode("append").parquet(ledger)
    }

  /** The union of those `dirs` that exist, read under `schema`; an empty
    * frame of `schema` when none does (a day-zero reader has nothing to
    * infer from). */
  def readDirs(s: SparkSession, dirs: Seq[String],
      schema: StructType): DataFrame = {
    val live = dirs.filter(exists(s, _))
    if (live.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else s.read.schema(schema).parquet(live: _*)
  }
}
