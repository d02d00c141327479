package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Per-SparkContext memo of derived values — the one container behind
  * the family memos (checkpointed frames and stage bundles of Dedup,
  * Similarity, SimilarityFitted, Curation, Multimodal), the schema memo
  * of [[Tables.t]] and the [[Catalog.once]] guards.
  *
  * Why an outer per-context layer (r15 ADVICE): a flat JVM-wide map
  * retains every STOPPED context's entries (and through each DataFrame
  * its whole SessionState). Scoping by [[SparkContext]] gives the
  * sharing rule directly — sibling `newSession()`s of one context share
  * entries, two contexts never do — and the stopped-context sweep in
  * [[at]] makes a dead context's entries collectible.
  *
  * Key and invalidation: an entry is keyed by [[SessionMemo.Key]]
  * (data dir, stage), so two stages over one dir never share an entry.
  * A memo declares the `tables` its stages read, and
  * [[Tables.invalidate]]`(path)` drops, in every memo and live context,
  * each entry whose dir IS `path` or whose dir holds a declared table
  * that `path` names — its `.parquet` file or anything under it. A
  * sibling table's rewrite keeps the entry; a memo that declares no
  * tables is dropped by its own dir only.
  *
  * Conf capture (r15 ADVICE): a memoized frame is materialized under
  * the FIRST caller's session conf and handed to every later
  * same-context caller of the key (ScaleSpec's 512 KB
  * maxPartitionBytes, say). Values must be DETERMINISTIC results; conf
  * knobs that change only HOW they materialize are acceptable to
  * capture, and callers that need conf-pristine frames use a fresh
  * context or an unmemoized builder. */
final class SessionMemo[V](tables: String*) {
  import SessionMemo.Key

  private val outer = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, ConcurrentHashMap[Key, V]]())

  /** Deterministic eviction of dead contexts' entries. The weak keys
    * alone CANNOT collect them: a memoized DataFrame references its
    * SparkSession, which references the SparkContext — the value chain
    * strongly reaches the key, the documented WeakHashMap self-pinning
    * case. Explicitly dropping stopped contexts' inner maps breaks
    * that chain, after which everything is ordinarily collectible.
    * Called on every lookup — the outer map holds a handful of
    * contexts at most, so the sweep is O(contexts), not O(entries). */
  private def sweepStopped(): Unit = outer.synchronized {
    val it = outer.keySet.iterator()
    while (it.hasNext) if (it.next().isStopped) it.remove()
  }

  /** The entry map of `s`'s live context: [[getOrCompute]]'s, and the
    * one callers whose update is not computeIfAbsent (a fingerprint
    * refresh, a growth guard) use directly, under the same scoping and
    * invalidation. */
  private[graft] def at(s: SparkSession): ConcurrentHashMap[Key, V] =
    outer.synchronized {
      sweepStopped()
      outer.computeIfAbsent(s.sparkContext, _ => new ConcurrentHashMap())
    }

  /** Memoized `f` per (live context of `s`, `dir`, `stage`) — atomic
    * per key, recorded only if `f` succeeds (computeIfAbsent's
    * contract). */
  def getOrCompute(s: SparkSession, dir: String, stage: String)(f: => V): V =
    at(s).computeIfAbsent(Key(dir, stage), _ => f)

  private def stale(k: Key, path: String): Boolean =
    path == k.dir || tables.exists { t =>
      val file = s"${k.dir}/$t.parquet"
      path == file || path.startsWith(file + "/")
    }

  private def invalidate(path: String): Unit = outer.synchronized {
    outer.values.forEach(_.keySet.removeIf(stale(_, path)))
  }

  SessionMemo.all.add(this)
}

object SessionMemo {
  final case class Key(dir: String, stage: String)

  private val all = new java.util.concurrent.CopyOnWriteArrayList[
    SessionMemo[_]]()

  /** Drop every memo's entries that `path` makes stale — the body of
    * [[Tables.invalidate]]. */
  private[graft] def invalidate(path: String): Unit =
    all.forEach(_.invalidate(path))
}
