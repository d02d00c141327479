package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The explicit in-app invalidation path (r10 verdict item 8 + ADVICE):
  * `Tables.invalidate(path)` must (a) serve the rewritten schema on the
  * very next read — no TTL wait — and (b) reach every [[SessionMemo]]
  * that caches CHECKPOINTED frames derived from the table (Dedup,
  * Multimodal PCA, Similarity's bitext sides, Curation's stages), which
  * the schema memo alone cannot refresh. */
class TablesInvalidateSpec extends AnyFunSuite with SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_inval").toFile.getAbsolutePath

  /** A fresh data root holding copies of the named sf0.001 tables. */
  private def copyOf(tables: String*): String = {
    val dir = tmpRoot()
    tables.foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    dir
  }

  test("invalidate serves a same-tick rewrite's schema with no sleep") {
    val dir = tmpRoot()
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    assert(Tables.t(spark, dir, "tbl").schema.fieldNames.toSeq ==
      Seq("id", "v"))
    val memoAt = System.currentTimeMillis()
    Seq((1L, "a", 0.5)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    // within the TTL window an uninvalidated reader trusts the memo —
    // that staleness is the documented trade-off invalidate() resolves.
    // Only assert it when we're provably still inside the window, so a
    // slow box can't flake the test.
    val widthNoInval = Tables.t(spark, dir, "tbl").schema.size
    if (System.currentTimeMillis() - memoAt < 1500)
      assert(widthNoInval == 2,
        "TTL semantics changed: expected the memoized schema inside the window")
    Tables.invalidate(s"$dir/tbl.parquet")
    assert(Tables.t(spark, dir, "tbl").schema.fieldNames.toSeq ==
      Seq("id", "v", "w"), "stale schema served after explicit invalidate")
  }

  test("invalidate drops Dedup's memoized frames for the rewritten dir") {
    val dir = tmpRoot()
    spark.read.parquet(s"$sf/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    val f1 = graft.queries.Dedup.candidatePairsFor(spark, dir)
    assert(graft.queries.Dedup.candidatePairsFor(spark, dir) eq f1,
      "memo miss on an unchanged dir")
    Tables.invalidate(s"$dir/documents.parquet")
    assert(!(graft.queries.Dedup.candidatePairsFor(spark, dir) eq f1),
      "stale dedup candidate frame served after invalidate")
    // an invalidation for an unrelated root must NOT drop the rebuilt
    // frame (the memo scopes invalidation per data dir)
    val f2 = graft.queries.Dedup.candidatePairsFor(spark, dir)
    Tables.invalidate(s"${tmpRoot()}/documents.parquet")
    assert(graft.queries.Dedup.candidatePairsFor(spark, dir) eq f2,
      "unrelated invalidate dropped another dir's frames")
    // a SIBLING table rewrite in the same dir must not evict frames
    // derived solely from documents.parquet (r11 ADVICE: the fan-out is
    // table-scoped, not dir-scoped)
    Tables.invalidate(s"$dir/embeddings.parquet")
    assert(graft.queries.Dedup.candidatePairsFor(spark, dir) eq f2,
      "sibling-table invalidate evicted documents-derived frames")
    // but the whole-dir form still evicts everything under it
    Tables.invalidate(dir)
    assert(!(graft.queries.Dedup.candidatePairsFor(spark, dir) eq f2),
      "whole-dir invalidate no longer reaches the family memo")
  }

  test("invalidate drops Multimodal's PCA frames: rewritten corpus " +
      "changes the fitted axis") {
    val dir = tmpRoot()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.where("doc_id % 7 = 0").limit(40)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fit = SparkEntry.queries("multimodal_pca_fit")
    val before = fit(spark, dir).collect().toSeq
    // rewrite with a different corpus; without the pcaMemo invalidation the
    // memoized covariance/axis frames would keep serving the old fit
    docs.where("doc_id % 7 = 3").limit(60)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.invalidate(s"$dir/documents.parquet")
    val after = fit(spark, dir).collect().toSeq
    assert(before.nonEmpty && after.nonEmpty)
    assert(before != after,
      "PCA fit unchanged after the corpus was rewritten + invalidated")
  }

  test("invalidate drops Similarity's memoized bitext side frame " +
      "for an embeddings rewrite") {
    val dir = copyOf("embeddings")
    // the side frames filter the memoized checkpoint: its plan is the
    // side frame's child
    def side() = graft.queries.Similarity
      .bitextSidesAndCandidates(spark, dir)._1.queryExecution.logical
      .children.head
    val e1 = side()
    assert(side() eq e1, "memo miss on an unchanged dir")
    Tables.invalidate(s"$dir/documents.parquet")
    assert(side() eq e1, "sibling-table invalidate evicted the side frame")
    Tables.invalidate(s"$dir/embeddings.parquet")
    assert(!(side() eq e1), "stale bitext side frame served after invalidate")
  }

  test("invalidate rebuilds Curation's memoized stages for a documents " +
      "rewrite") {
    val dir = copyOf("documents")
    val st = graft.queries.Curation.stages(spark, dir)
    assert(graft.queries.Curation.stages(spark, dir) eq st,
      "memo miss on an unchanged dir")
    Tables.invalidate(s"$dir/embeddings.parquet")
    assert(graft.queries.Curation.stages(spark, dir) eq st,
      "sibling-table invalidate evicted the curation stages")
    Tables.invalidate(s"$dir/documents.parquet")
    assert(!(graft.queries.Curation.stages(spark, dir) eq st),
      "stale curation stages served after invalidate")
  }

  test("SessionMemo: sibling sessions of one context share entries, " +
    "invalidation is dir- and table-scoped, failed computes don't poison") {
    val m = new SessionMemo[String]("documents")
    val (dir, other) = (tmpRoot(), tmpRoot())
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    assert(m.getOrCompute(spark, dir, "a")(build("v1")) == "v1")
    // same context, same key: memoized (a sibling newSession shares —
    // the Dedup.frameMemo contract: checkpoint blocks are app-wide)
    val sibling = spark.newSession()
    assert(m.getOrCompute(sibling, dir, "a")(build("OTHER")) == "v1")
    assert(builds == 1)
    // the key is (dir, stage): another stage or another dir is its own
    // entry
    assert(m.getOrCompute(spark, dir, "b")(build("v2")) == "v2")
    assert(m.getOrCompute(spark, other, "a")(build("w1")) == "w1")
    // a table the memo does not declare leaves its entries alone
    Tables.invalidate(s"$dir/embeddings.parquet")
    assert(m.getOrCompute(spark, dir, "a")(build("OTHER")) == "v1",
      "an undeclared table's invalidate dropped the entry")
    // anything under a declared table drops every stage of that dir,
    // and only that dir
    Tables.invalidate(s"$dir/documents.parquet/lang=en")
    assert(m.getOrCompute(spark, other, "a")(build("OTHER")) == "w1",
      "another dir's entry must survive the invalidate")
    assert(m.getOrCompute(spark, dir, "a")(build("v1b")) == "v1b",
      "a declared table's invalidate must drop the entry")
    assert(m.getOrCompute(spark, dir, "b")(build("v2b")) == "v2b",
      "a declared table's invalidate must drop every stage of the dir")
    // the whole-dir form drops the dir's entries whatever they read
    Tables.invalidate(other)
    assert(m.getOrCompute(spark, other, "a")(build("w1b")) == "w1b",
      "whole-dir invalidate must drop the entry")
    // computeIfAbsent contract: a THROWING compute records nothing,
    // the next call retries (the Catalog.once poisoning rule)
    intercept[RuntimeException] {
      m.getOrCompute(spark, dir, "c")(throw new RuntimeException("boom"))
    }
    assert(m.getOrCompute(spark, dir, "c")(build("v3")) == "v3",
      "a failed compute must not poison the key")
  }

  test("SchemaBridge footer probe equals Spark's job-based inference " +
      "on every fixture table at every SF (r17)") {
    // the driver-direct probe (single footer + Spark's own converter
    // under the session SQLConf) must be indistinguishable from
    // spark.read.parquet(path).schema — including nullability and
    // field metadata — or explicit-schema reads could change plans.
    // events needs the same conf Tables.events sets before inference.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for {
      sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
      name <- Tables.names
    } {
      val path = s"$sfDir/$name.parquet"
      val bridge = org.apache.spark.sql.graftbridge.SchemaBridge
        .inferSingleFooter(spark, path)
      assert(bridge.isDefined,
        s"$path: single-footer probe unexpectedly fell back")
      val inferred = spark.read.parquet(path).schema
      assert(bridge.get == inferred,
        s"$path: bridge schema != job-based inference\n" +
          s"bridge:   ${bridge.get.toDDL}\ninferred: ${inferred.toDDL}")
    }
    // layouts the probe must REFUSE (fall back to the job): multi-file
    // and partitioned dirs
    val dir = tmpRoot()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/multi.parquet")
    assert(org.apache.spark.sql.graftbridge.SchemaBridge
      .inferSingleFooter(spark, s"$dir/multi.parquet").isEmpty,
      "multi-file layout must fall back to job-based inference")
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "k")
      .write.mode("overwrite").partitionBy("k")
      .parquet(s"$dir/part.parquet")
    assert(org.apache.spark.sql.graftbridge.SchemaBridge
      .inferSingleFooter(spark, s"$dir/part.parquet").isEmpty,
      "partitioned layout must fall back (inference injects key columns)")
    // one x.parquet beside a summary file (inference reads the summary
    // first) or beside an extensionless file (Spark reads it as data)
    val one = new java.io.File(s"$dir/multi.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    def oneFileDir(name: String, extra: String): String = {
      val d = Files.createDirectory(java.nio.file.Paths.get(dir, name))
      Files.copy(one, d.resolve("x.parquet"))
      Files.copy(one, d.resolve(extra))
      d.toString
    }
    for ((name, extra) <- Seq("summary" -> "_metadata",
        "common" -> "_common_metadata", "noext" -> "part-00001")) {
      assert(org.apache.spark.sql.graftbridge.SchemaBridge
        .inferSingleFooter(spark, oneFileDir(name, extra)).isEmpty,
        s"x.parquet beside $extra must fall back to job-based inference")
    }
  }
}
