package graft

import graft.queries.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MinHash/LSH and exact-dedup properties (SURVEY.md §5.2 item 3). The
  * test corpus has no exact duplicates (FIXTURES.md), so duplicates are
  * injected here. */
class DedupSpec extends AnyFunSuite with SparkSuite {

  private def docsWithDup = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark query engines ok"),
      (3L, "the quick brown fox jumps over the lazy dog again and MUTATED"))
      .toDF("doc_id", "text")
  }

  test("identical docs get identical minhash signatures; distinct docs don't") {
    val sigs = Dedup.signatures(docsWithDup).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigs(0L) == sigs(1L), "exact dup must have equal signature")
    assert(sigs(0L) != sigs(2L), "unrelated docs should differ")
  }

  test("LSH bands surface the duplicate pair as a candidate") {
    val b = Dedup.bands(Dedup.sigArray(docsWithDup))
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 1L)), s"candidates were $cand")
  }

  test("near-identical doc (one token changed) is also caught") {
    val b = Dedup.bands(Dedup.sigArray(docsWithDup))
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 3L)) || cand.contains((1L, 3L)),
      s"near-dup should collide in ≥1 of 16 bands; got $cand")
  }

  test("dedup_ngram/containment blocking is content-based: " +
      "distant-id near-dups are found") {
    // An id-window block (|d2-d1| < k) would miss this pair by
    // construction: a true near-dup whose ids are ~10^9 apart. The LSH
    // band blocking keys on content, so it must surface in BOTH the
    // trigram-Jaccard and containment scorers.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contentblock").toString
    val base = "the quick brown fox jumps over the lazy dog " +
      "again and again in the bright morning sunshine today"
    Seq(
      (0L, base),
      (987654321L, base + " epilogue"),
      (500L, "a completely different document about spark query engines ok"),
      (1000L, "yet another unrelated text with many plain boring words here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val jac = SparkEntry.queries("dedup_ngram")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac.get((0L, 987654321L)).exists(_ >= 0.5),
      s"distant-id near-dup must be blocked by content; pairs: $jac")
    val cont = SparkEntry.queries("dedup_containment")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // d1's bigrams are a strict subset of d2's → containment 1.0 exactly
    assert(cont.get((0L, 987654321L)).contains(1.0),
      s"sub-document duplication must score containment 1.0; got $cont")
  }

  test("dedup_incremental: batch doc matching the corpus is flagged " +
      "with its corpus representative; clean batch doc passes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("incdedup").toString
    val dupText = "the quick brown fox jumps over the lazy dog " +
      "again and again in the bright morning sunshine today"
    // ids ≡ 7 (mod 10) form the incoming batch; the rest are corpus
    Seq(
      (1L, dupText),                       // corpus: the original
      (2L, "a completely different corpus document about spark " +
        "engines and their query plans"),
      (7L, dupText + " epilogue"),         // batch: near-dup of 1
      (17L, "entirely fresh batch content with many new words " +
        "nobody wrote before today"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dedup_incremental")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("is_dup")), r.getLong(2))).toMap
    assert(out.keySet == Set(7L, 17L), s"every batch doc reported: $out")
    assert(out(7L) == (true, 1L),
      s"batch near-dup must match corpus doc 1: $out")
    assert(out(17L) == (false, -1L), s"clean batch doc flagged: $out")
  }

  test("contamination_check flags an eval doc copied from train, " +
      "clears an unrelated one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contam").toString
    val leaked = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu"
    // ids ≡ 0 (mod 20) land in the eval split, everything else trains
    Seq(
      (1L, leaked),                       // train: the source document
      (20L, leaked + " nu xi"),           // eval: quotes all of train's 8-grams
      (40L, "one two three four five six seven eight nine ten " +
        "eleven twelve"),                 // eval: clean
      (3L, "unrelated training text about spark plans and shuffles " +
        "goes here today"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("contamination_check")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getBoolean(r.fieldIndex("contaminated")))).toMap
    assert(out(20L)._2 && out(20L)._1 >= 5,
      s"copied eval doc must be contaminated: $out")
    assert(!out(40L)._2 && out(40L)._1 == 0,
      s"clean eval doc must not be flagged: $out")
  }

  test("near-dup components are TRANSITIVE (A~B~C chains into one cluster)") {
    import spark.implicits._
    // 0≡1 exactly, 3 is a one-token mutation of them, 2 is unrelated —
    // 0~1 and (0|1)~3 are direct near-dup edges, so {0,1,3} must close
    // into ONE component under min-label propagation even though the
    // pair set never lists all three together
    val labels = Dedup.nearDupComponents(docsWithDup)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(0L) == 0L && labels(1L) == 0L && labels(3L) == 0L,
      s"chain must collapse to min id: $labels")
    assert(labels(2L) == 2L, s"unrelated doc must stay its own: $labels")
  }

  test("nearDupComponentsFor memo is keyed per data root (no cross-sf " +
    "leak) and returns the identical cached frame on a repeat call") {
    val a = Dedup.nearDupComponentsFor(spark, "/root/testdata/sf0.001")
    // sf0.1 (5000 docs) vs sf0.001 (500 docs): the corpora differ in
    // cardinality, so a leaked memo is visible as an equal row count
    // (sf0.01 also has 500 docs — unusable as the discriminator here)
    val b = Dedup.nearDupComponentsFor(spark, "/root/testdata/sf0.1")
    assert(a.count() != b.count(),
      s"memo leaked across data roots: both ${a.count()} rows")
    assert(a.count() ==
      Tables.documents(spark, "/root/testdata/sf0.001").count())
    // repeat call must be the SAME cached object — reference equality is
    // the whole point (one label-propagation run per (app, dir))
    assert(Dedup.nearDupComponentsFor(spark, "/root/testdata/sf0.001") eq a)
    // and the memoized frame agrees with a fresh unmemoized computation
    val fresh = Dedup.nearDupComponents(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(a.orderBy("doc_id").collect().toSeq
      == fresh.orderBy("doc_id").collect().toSeq)
  }

  test("split_leakage_safe: clusters are split-pure (zero cluster-gate " +
      "leaks), the naive doc gate DOES leak on this corpus, and every " +
      "component member shares its cluster's split") {
    val d = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("split_leakage_safe")(spark, d).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq
      == Seq("test", "train", "valid"))
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs == Tables.documents(spark, d).count(),
      s"split must cover every document, got $nDocs")
    assert(rows.map(_.getLong(3)).sum == 0L,
      "cluster-gate split leaked a near-dup edge across splits")
    // the hazard is real: the per-doc gate (split_train_test's
    // assignment) separates near-dup pairs on this very corpus —
    // without that, this operator would be indistinguishable from it
    assert(rows.map(_.getLong(4)).sum > 0L,
      "fixture has no naive-split leaks — the op's premise is untestable")
    // cluster accounting: clusters ≤ docs per split, and the global
    // cluster count equals the component-label cardinality over the
    // full corpus (no cluster counted under two splits — a cluster's
    // split is a function of its label, so the per-split distinct
    // counts must partition the global one)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    val globalClusters = Dedup.nearDupComponentsFor(spark, d)
      .select("label").distinct().count() +
      (nDocs - Dedup.nearDupComponentsFor(spark, d).count()) // null-text singletons
    assert(rows.map(_.getLong(2)).sum == globalClusters,
      s"per-split cluster counts ${rows.map(_.getLong(2)).sum} do not " +
        s"partition the $globalClusters global components")
  }

  test("mix_dedup_weights conserves training mass: every cluster's " +
      "weights sum to 1, the corpus total equals the unique-content " +
      "count, and weights partition the corpus") {
    val d = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("mix_dedup_weights")(spark, d).collect()
    assert(rows.length == Tables.documents(spark, d).count(),
      "every document must get a weight")
    // per-cluster mass: cs copies of 1/cs — exact up to float addition
    rows.groupBy(_.getLong(1)).foreach { case (label, members) =>
      val mass = members.map(_.getDouble(3)).sum
      assert(math.abs(mass - 1.0) < 1e-9,
        s"cluster $label carries mass $mass, not 1")
      assert(members.map(_.getLong(2)).distinct.length == 1 &&
        members.head.getLong(2) == members.length,
        s"cluster $label: cluster_size disagrees with its member count")
    }
    // total mass == number of distinct contents (the dedup-aware
    // premise: a 1000-copy crawl artifact trains like one document)
    val total = rows.map(_.getDouble(3)).sum
    val uniq = rows.map(_.getLong(1)).distinct.length
    assert(math.abs(total - uniq) < 1e-6,
      s"total mass $total != $uniq unique contents")
    // duplicates exist on this fixture, so the weighting is exercised
    assert(rows.exists(_.getLong(2) > 1),
      "fixture has no near-dup cluster — the op's premise is untestable")
  }

  test("text_span_scrub: the rebuilt documents match an independent " +
      "reconstruction (sha-exact) and the drop counts equal " +
      "dedup_span's detection") {
    val d = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("text_span_scrub")(spark, d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // independent reconstruction in plain Scala
    val docs = Tables.documents(spark, d).filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val spanOf = docs.map { case (id, t) =>
      id -> t.split(" ", -1).grouped(3).map(_.mkString(" ")).toVector
    }.toMap
    val dupSet = spanOf.values.flatten
      .groupBy(identity)
      .collect { case (s, _) if spanOf.count(_._2.contains(s)) >= 2 => s }
      .toSet
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case (id, (nSpans, nDropped, ntok, sha)) =>
      val sp = spanOf(id)
      val kept = sp.filterNot(dupSet)
      assert(nSpans == sp.length, s"doc $id: span count")
      assert(nDropped == (sp.length - kept.length), s"doc $id: drop count")
      val clean = kept.mkString(" ")
      val expTok = if (clean.isEmpty) 0 else clean.split(" ", -1).length
      assert(ntok == expTok, s"doc $id: token count $ntok vs $expTok")
      md.reset()
      val exp = md.digest(clean.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(sha == exp, s"doc $id: rebuilt text drifted (sha mismatch)")
    }
    // detection/action consistency: n_dropped == dedup_span's
    // n_dup_spans row-for-row
    val det = SparkEntry.queries("dedup_span")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { case (id, (_, nDropped, _, _)) =>
      assert(det(id) == nDropped,
        s"doc $id: scrub dropped $nDropped but detection saw ${det(id)}")
    }
    // the fixture must actually exercise the scrub
    assert(rows.values.map(_._2).sum > 0, "no spans dropped — vacuous")
  }

  test("signatures are invariant under repartitioning") {
    def sigOf(np: Int) =
      Dedup.signatures(docsWithDup.repartition(np)).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigOf(1) == sigOf(7))
  }

  test("exact dedup is idempotent") {
    val docs = Tables.documents(spark, sf)
    val once = docs.dropDuplicates("text")
    val twice = once.dropDuplicates("text")
    assert(once.count() == twice.count())
  }

  test("dedup_exact consistency: n_docs - n_dups == n_distinct") {
    SparkEntry.queries("dedup_exact")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_docs") - r.getAs[Long]("n_dups")
        == r.getAs[Long]("n_distinct"))
    }
  }

  test("oversized LSH buckets route to the self-join path, same pairs") {
    import spark.implicits._
    // BucketCap+10 exact copies: every band bucket of the dup set is
    // oversized, so the grouped-expansion path must see none of them —
    // and the self-join path must still emit the exact clique.
    val n = Dedup.BucketCap + 10
    val docs = ((0L until n.toLong).map(i =>
        (i, "dup dup dup common text payload here")) :+
        (900L, "another unrelated doc entirely different words"))
      .toDF("doc_id", "text")
    val (small, big) =
      Dedup.splitBuckets(Dedup.bands(Dedup.sigArray(docs)), Seq("band", "bhash"))
    assert(big.count() == n.toLong * 16,
      "every dup-bucket row must route to the oversized side")
    assert(small.count() == 16L,
      "only the unrelated doc's 16 band rows stay on the grouped side")
    val pairs = Dedup.nearDupPairs(docs).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clique = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong
    } yield (a, b)).toSet
    assert(pairs == clique, s"expected full clique of ${clique.size} pairs")
  }

  test("skewed corpus engages BOTH split branches and completes: " +
    "2048 replicas of one doc over the real corpus") {
    import spark.implicits._
    // the degenerate-corpus shape BucketCap exists for: one document
    // replicated far past the cap, mixed into the real fixture corpus.
    // All replica band rows must route to the self-join branch (16
    // bands × n rows), the untouched corpus must stay on the grouped
    // branch, and candidate generation must complete with the exact
    // clique count — n*(n-1)/2 replica pairs plus the corpus's own
    // candidates — rather than concentrating an O(n²) expansion in one
    // collect_list row. (The timed 10^4-replica run at sf0.1 is
    // recorded in BASELINE.md.)
    val n = 2048
    val rep = spark.range(n).select(
      (col("id") + 1000000L).as("doc_id"),
      lit("skew skew skew the same payload replicated many times over")
        .as("text"))
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val docs = corpus.unionByName(rep)
    val (small, big) = Dedup.splitBuckets(
      Dedup.bands(Dedup.sigArray(docs.filter(col("text").isNotNull))),
      Seq("band", "bhash"))
    val bigN = big.count()
    val smallN = small.count()
    assert(bigN == n.toLong * 16,
      s"all ${n * 16} replica band rows must route oversized; got $bigN")
    assert(smallN > 0, "corpus rows must stay on the grouped branch")
    val corpusPairs = Dedup.candidatePairs(
      corpus.filter(col("text").isNotNull)).count()
    val total = Dedup.candidatePairs(docs.filter(col("text").isNotNull)).count()
    assert(total == corpusPairs + n.toLong * (n - 1) / 2,
      "skewed run must add exactly the replica clique")
  }

  test("saltedSelfPairs equals the naive bucket self-join: pair set, " +
    "payload orientation, no self/duplicate pairs") {
    import spark.implicits._
    // ids chosen so chunk order (xxhash64 % 16) frequently DISAGREES
    // with id order — the case a plain d1<d2 filter after the salted
    // join would silently drop; three buckets of mixed sizes
    val rows = (0L until 40L).map(i =>
      (i % 3, s"b${i % 3}", i * 37 + 11, (i * 37 + 11) * 10)) ++
      Seq((0L, "b0", 5L, 50L), (1L, "b1", 7L, 70L))
    val big = rows.toDF("band", "bhash", "doc_id", "payload")
    val salted = Dedup.saltedSelfPairs(
        big, Seq("band", "bhash"), Seq("doc_id", "payload"))
      .collect()
    val saltedPairs = salted
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every pair ordered by doc_id, payload follows its doc
    saltedPairs.foreach { case (d1, p1, d2, p2) =>
      assert(d1 < d2, s"unordered pair ($d1, $d2)")
      assert(p1 == d1 * 10 && p2 == d2 * 10,
        s"payload must ride with its doc: ($d1,$p1) ($d2,$p2)")
    }
    val naive = big.select(col("band"), col("bhash"), col("doc_id").as("da"))
      .join(big.select(col("band"), col("bhash"), col("doc_id").as("db")),
        Seq("band", "bhash"))
      .filter(col("da") < col("db"))
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val saltedSet = saltedPairs.map(p => (p._1, p._3)).toSeq
    assert(saltedSet.sorted == naive.sorted,
      s"salted (${saltedSet.length}) != naive (${naive.length}) pair bag")

    // bucketPairs end to end over buckets of 1, 2 and 3 rows (the
    // pairsWithin slice bounds at i = size - 1) and on both sides of
    // BucketCap (grouped vs salted path); docs 2 and 5 share a 2-row
    // and a 3-row bucket, so their pair must come out once. Ids are
    // scrambled so insertion order disagrees with id order.
    val sizes = Seq(1, 2, 3, Dedup.BucketCap, Dedup.BucketCap + 1)
    val edge = sizes.zipWithIndex.flatMap { case (n, b) =>
      (0 until n).map(i => (b.toLong, s"e$b", (i * 7919L + 13L * b) % 100003L))
    } ++ Seq((5L, "s5", 5L), (5L, "s5", 2L),
      (6L, "s6", 9L), (6L, "s6", 5L), (6L, "s6", 2L))
    val edgeDf = edge.toDF("band", "bhash", "doc_id")
      .withColumn("payload", col("doc_id") * 10)
    val got = Dedup.bucketPairs(edgeDf, Seq("band", "bhash"),
        Seq("doc_id", "payload"))
      .select("doc_id_1", "payload_1", "doc_id_2", "payload_2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val want = edgeDf.select(col("band"), col("bhash"), col("doc_id").as("da"),
        col("payload").as("pa"))
      .join(edgeDf.select(col("band"), col("bhash"), col("doc_id").as("db"),
        col("payload").as("pb")), Seq("band", "bhash"))
      .filter(col("da") < col("db"))
      .select("da", "pa", "db", "pb").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(want.contains((2L, 20L, 5L, 50L)), "shared pair must be present")
    assert(want.length == sizes.map(n => n * (n - 1) / 2).sum + 1 + 3 - 1,
      s"naive pair count ${want.length}")
    assert(got.sorted == want.sorted,
      s"bucketPairs (${got.length}) != naive (${want.length}) pair set")
  }

  test("componentsFromEdges converges to min-id labels within its round " +
    "cap, throws past it, and is direction-agnostic") {
    import spark.implicits._
    def path(n: Int) = (0L until n - 1L).map(i => (i, i + 1)).toDF("d1", "d2")
    def ids(n: Int) = spark.range(n).select(col("id").as("doc_id"))
    def labelsOf(v: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame) =
      Dedup.componentsFromEdges(v, e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // label 0 needs n - 1 propagation rounds to reach the far end of an
    // n-node path: 60 nodes are past the 50-round cap, 40 are within it
    val e = intercept[IllegalArgumentException](labelsOf(ids(60), path(60)))
    assert(e.getMessage.contains("did not converge in 50 rounds"),
      e.getMessage)
    val within = labelsOf(ids(40), path(40))
    assert(within == (0L until 40L).map(_ -> 0L).toMap, within)
    // a forest with singletons; each edge given once vs in both
    // directions (graph_components feeds one, symmetric edge sets two)
    val forest = Seq((3L, 1L), (1L, 7L), (9L, 8L), (12L, 10L), (10L, 11L),
      (11L, 12L)).toDF("d1", "d2")
    val both = forest.unionByName(
      forest.select(col("d2").as("d1"), col("d1").as("d2")))
    val verts = spark.range(14).select(col("id").as("doc_id"))
    val one = labelsOf(verts, forest)
    assert(one == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 1L, 8L -> 8L, 9L -> 8L, 10L -> 10L,
      11L -> 10L, 12L -> 10L, 13L -> 13L), one)
    assert(labelsOf(verts, both) == one)
  }

  test("jaccard of injected dup pair is 1.0 through the verify stage") {
    val sh = Dedup.withShingles(docsWithDup).select("doc_id", "sh")
    val j = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) < 0.2)
  }

  test("simjoin_prefix is LOSSLESS: equals brute-force all-pairs Jaccard " +
    ">= 0.8 at sf0.001 (the prefix-filter completeness guarantee)") {
    val dir = "/root/testdata/sf0.001"
    val filtered = SparkEntry.queries("simjoin_prefix")(spark, dir)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.prefixShingles(graft.Tables.documents(spark, dir))
    val inter = size(array_intersect(col("a.s"), col("b.s")))
    val uni = size(col("a.s")) + size(col("b.s")) - inter
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(lit(5) * inter >= lit(4) * uni)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain at least one near-dup pair")
    assert(filtered == brute,
      s"prefix filter dropped ${(brute -- filtered).size} true pairs / " +
        s"invented ${(filtered -- brute).size}")
  }

  test("simjoin_prefix is invariant under input repartitioning " +
    "(sorted-struct regroup kills collect_list shuffle-order dependence)") {
    val dir = "/root/testdata/sf0.001"
    val base = SparkEntry.queries("simjoin_prefix")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val again = Dedup.prefixSimjoin(
        graft.Tables.documents(spark, dir).repartition(13))
      .collect().map(_.toSeq).toSeq
    assert(base == again)
  }

  test("simjoin_prefix finds a true near-dup pair with DISTANT doc ids") {
    val dir = "/root/testdata/sf0.001"
    val pairs = SparkEntry.queries("simjoin_prefix")(spark, dir)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.exists { case (a, b) => b - a > 50 },
      s"all ${pairs.length} pairs are id-adjacent — blocking is content-" +
        "keyed, so distant planted dups must surface")
  }

  test("dedup_cluster_rep: representative is the longest doc in its " +
    "cluster (tie: lowest id), clusters are ≥2 and reps distinct") {
    val dir = "/root/testdata/sf0.001"
    val reps = SparkEntry.queries("dedup_cluster_rep")(spark, dir).collect()
    assert(reps.nonEmpty, "fixture corpus has near-dup clusters at sf0.001")
    assert(reps.map(_.getLong(2)).distinct.length == reps.length)
    // recompute cluster membership and check each rep dominates it
    val labels = Dedup.nearDupComponents(
      Tables.documents(spark, dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nChars = Tables.documents(spark, dir)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    reps.foreach { r =>
      val (label, size, repId, repChars) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val members = labels.filter(_._2 == label).keys.toSeq
      assert(members.size == size && size >= 2)
      assert(labels(repId) == label)
      assert(members.forall(m => nChars(m) < repChars ||
        (nChars(m) == repChars && m >= repId)),
        s"rep $repId is not the (n_chars DESC, doc_id ASC) max of $label")
    }
  }

  test("dedup_span: duplicated-span fraction is sound (injected " +
    "cross-doc span is counted on both docs)") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("dedup_span")(spark, dir).collect()
    rows.foreach { r =>
      val (n, dup, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dup >= 0 && dup <= n)
      assert(math.abs(frac - dup.toDouble / n) < 1e-12)
    }
    // corpus-level: some cross-doc duplication exists in the fixtures
    assert(rows.map(_.getLong(2)).sum > 0,
      "3-token spans over a ~40-word vocabulary must collide across docs")
  }

  test("simjoin prefix-token pipeline plans join-free on one token " +
      "shuffle (r17)") {
    // the document frequency is a count() OVER (PARTITION BY tok), not
    // a groupBy(tok)-and-join-back: the pipeline must plan with NO join
    // and exactly two shuffles (the tok window's, the doc_id regroup's).
    // The declared query's dumped plan only shows the localCheckpoint
    // scans, so the shape is pinned here on the pipeline frame itself.
    val sh = queries.Dedup.prefixShingles(
      Tables.documents(spark, sf))
    val pt = queries.Dedup.prefixTokens(sh)
    pt.write.format("noop").mode("overwrite").save()
    val plan = pt.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"prefix-token pipeline must not join the freq table back:\n$plan")
    assert(plan.contains("Window"),
      s"expected the tok-partitioned count window:\n$plan")
    val shuffles =
      "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2,
      s"expected exactly 2 hash exchanges (tok, doc_id), got $shuffles:\n$plan")
  }
}
