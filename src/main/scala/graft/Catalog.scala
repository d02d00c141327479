package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog layer (SURVEY.md §2 tier A) — the Spark-native analogue of the
  * reference's metastore client: where `dask_hivemetastore` issues Thrift
  * `get_table` / `get_partitions[_by_filter]` calls and dispatches on the
  * SerDe, we register tables in the session catalog and let the analyzer
  * + `PruneFileSourcePartitions` do lookup and pruning.
  *
  * Two catalog backends:
  *  - session temp views over the driver's parquet dirs (used by the
  *    tier-A queries — works inside the harness's plain session);
  *  - a real embedded-Derby Hive metastore (`enableHiveSupport`), with
  *    external tables + `SHOW PARTITIONS` + metastore-side pruning,
  *    exercised in CatalogSpec where we own the session builder.
  */
object Catalog {

  private val onceMemo = new SessionMemo[java.lang.Boolean]()
  private val viewsDir = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Run `write` once per (SparkContext, input dir, key): queries that
    * materialize a side copy (csv/json/orc/partitioned parquet) re-use
    * it for the rest of the context's life instead of rewriting
    * identical bytes per call. The key carries the full input dir —
    * [[scratch]] paths embed only the sf basename, and two data roots
    * with the same basename must not share a materialization.
    * computeIfAbsent makes the guard atomic (no concurrent
    * double-write) and records the key only if the write SUCCEEDS — a
    * failed write must not poison later calls into reading a
    * half-written copy. */
  def once(s: SparkSession, dir: String, key: String)(write: => Unit): Unit =
    onceMemo.getOrCompute(s, dir, key) { write; java.lang.Boolean.TRUE }

  /** Register every test table as a temp view of THIS session (temp
    * views are session-scoped — a memo keyed app-wide would silently
    * skip sibling `newSession()`s). Skipped when the session's views
    * already point at `dir` (re-reading ten parquet footers per catalog
    * query is pure waste); re-run whenever the dir changes so tests can
    * hop between scale factors; recorded only after all ten registered. */
  def registerAll(s: SparkSession, dir: String): Unit =
    if (viewsDir.get(s) != dir) {
      Tables.names.foreach { n =>
        val df = if (n == "events") Tables.events(s, dir) else Tables.t(s, dir, n)
        df.createOrReplaceTempView(n)
      }
      viewsDir.put(s, dir)
    }

  /** Scratch dir for materialized formats (csv/json/partitioned parquet),
    * keyed by scale-factor name so sfs don't clobber each other, and by
    * PROCESS so two concurrently-running harnesses (a verify dump and a
    * test suite, say) never overwrite each other's materializations —
    * the one interleaving the in-JVM once() guard cannot serialize: one
    * JVM's mode("overwrite") delete window is another JVM's footer
    * read. Each JVM rewrites its scratch on first touch anyway (the
    * memo is per-appId), so per-process paths cost nothing extra. */
  private val procTag = java.lang.ProcessHandle.current().pid().toString

  /** Single source of truth for the scratch tree — [[scratch]] builds
    * paths under it and [[reapOrphans]] sweeps it; sharing the constant
    * means a future template change cannot leave the reaper pointed at
    * a stale root (silently reaping nothing). */
  private val ScratchRoot = "/root/repo/target/graft_io"

  /** One-shot reap of sibling p<pid> scratch trees whose owner process
    * is gone: per-process paths protect live concurrent harnesses from
    * each other's overwrite windows, but without this the orphaned
    * trees of every finished run would accumulate unbounded under
    * target/graft_io. Deleting only dead-pid dirs keeps the
    * live-concurrency guarantee intact (a recycled pid at worst SPARES
    * a dir — never deletes a live one). Failures are swallowed: reaping
    * is hygiene, not correctness.
    *
    * Caveat: ProcessHandle.of only sees pids in THIS process's pid
    * namespace. A sibling harness running in a different namespace
    * (container) sharing this filesystem would look dead and lose its
    * live tree — acceptable here because the repo's harnesses all run
    * in one namespace, but a multi-container deployment should gate
    * reaping on a same-namespace marker instead. */
  private lazy val reapOrphans: Unit = {
    val root = new java.io.File(ScratchRoot)
    val kids = Option(root.listFiles()).getOrElse(Array.empty)
    kids.iterator
      .filter(f => f.isDirectory && f.getName.startsWith("p"))
      .filter(_.getName != s"p$procTag")
      .foreach { f =>
        // forall: an unparseable name (not ours) is left alone too
        val alive: Boolean = f.getName.drop(1).toLongOption.forall { pid =>
          scala.util.Try {
            val h = java.lang.ProcessHandle.of(pid)
            h.isPresent && h.get.isAlive
          }.getOrElse(true) // unsure ⇒ assume alive, never delete
        }
        if (!alive) scala.util.Try {
          import java.nio.file._
          import scala.jdk.CollectionConverters._
          Files.walk(f.toPath).iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
        }
      }
  }

  def scratch(dir: String, kind: String): String = {
    reapOrphans
    // basename for readability PLUS a full-dir fingerprint: two data
    // roots with the same basename must get distinct on-disk paths,
    // or the once() memo could serve one root's materialization for
    // the other's queries
    val sf = dir.replaceAll(".*/", "")
    val fp = f"${dir.hashCode & 0xffffff}%06x"
    s"$ScratchRoot/p$procTag/$sf-$fp/$kind"
  }
}
