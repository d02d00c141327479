package graft.queries

import graft.{Decl, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family for training-data pipelines (SURVEY.md §2 rows
  * C1-C2 + the mandated SimHash / n-gram-Jaccard / embedding-cosine
  * variants). All candidate generation is hash-partitioned (group-by or
  * equi-join on computed keys) — nothing here ever compares all pairs
  * globally, which is the only shape that survives 100 TB:
  *
  *  - exact:   content hash → hash-partitioned group (one shuffle);
  *  - MinHash: doc → 64-hash signature (per-row map, no shuffle) →
  *             16 LSH bands → equi-join on (band, hash) → Jaccard verify
  *             on the candidate pairs only (Broder's scheme);
  *  - SimHash: 60-bit sign-of-bit-sums (per-row fused kernel) →
  *             4×15-bit band buckets → Hamming ≤ 8 verify via
  *             bit_count(xor);
  *  - n-gram:  char-trigram set Jaccard on blocked probe pairs;
  *  - cosine near-dup lives in Similarity.sim_join (label-blocked).
  *
  * The MinHash family is a fixed-seed affine family over a single
  * cross-engine base hash (graft.functions.XHash.sha60 — see
  * [[signatures]]), so signatures are deterministic across runs and
  * partitionings AND reproducible in DuckDB: the near-dup and SimHash
  * pipelines are fully oracled, not just property-tested.
  */
object Dedup {

  import graft.functions.XHash._

  /** Fixed affine family constants (non-negative so the DuckDB HUGEINT
    * twin needs no sign plumbing; odd multiplier keeps the map a
    * bijection mod 2^64). */
  private val rndSeed = new scala.util.Random(20260812L)
  private val affA = Array.fill(64)((rndSeed.nextLong() >>> 3) | 1L)
  private val affB = Array.fill(64)(rndSeed.nextLong() >>> 3)

  private[graft] val toks = split(col("text"), " ")

  /** 3-token shingles over a pre-tokenized `tks` column, distinct.
    * Tokenization must happen once in a prior projection: `split()`
    * inside a lambda body is re-evaluated per index (no common-
    * subexpression elimination across higher-order-function calls). */
  private[graft] val shinglesOfTks = array_distinct(expr(
    """transform(sequence(1, greatest(size(tks) - 2, 1)),
      | i -> concat_ws(' ', element_at(tks, i),
      |   element_at(tks, least(i + 1, size(tks))),
      |   element_at(tks, least(i + 2, size(tks)))))""".stripMargin))

  /** 3-token shingles straight from `text` (convenience for tests /
    * small inputs — tokenizes once via a nested projection). */
  private[graft] def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("tks", toks).withColumn("sh", shinglesOfTks).drop("tks")

  private val NumHashes = 64
  private val BandRows = 4
  private val NumBands = NumHashes / BandRows // 16

  /** (doc_id, sig array<long>[64]), computed entirely per-row: the
    * fused ShingleBases kernel tokenizes, shingles and sha60-hashes in
    * one expression (one sha60 base per distinct shingle *string* —
    * kernel ≡ the declarative [[shinglesOfTks]] chain, pinned in
    * HashSigSpec), then all 64 affine variants (a_i·h + b_i over
    * Z/2^64 — built-in arithmetic can't wrap under ANSI mode) reduce
    * to their minima in the fused MinHashSig loop
    * (graft.functions.HashSig) instead of 64 transform+array_min
    * passes. No explode, no shuffle — at 100 TB the signature stage is
    * a pure map, and only the narrow (doc_id, bands) rows ever hit the
    * wire. (Alternatives measured at sf0.1: 64 min-aggregates over an
    * exploded shingle table = 9.2s; 64 transform+array_min passes =
    * 6.2s; fused = see BENCH. The two-node plan also collapses the
    * higher-order-function tree every analyzer pass previously
    * re-walked — the dominant driver cost of the dedup family's first
    * touch.) */
  private[graft] def sigArray(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.HashSig.minhashSig(
        graft.functions.HashSig.shingleBases(col("text")), affA, affB)
        .as("sig"))

  /** [[sigArray]] widened to (doc_id, h0..h63) columns — the
    * spec-friendly view DedupSpec asserts against. */
  private[graft] def signatures(docs: DataFrame): DataFrame =
    sigArray(docs).select(col("doc_id") +:
      (0 until NumHashes).map(i => col("sig").getItem(i).as(s"h$i")): _*)

  /** (doc_id, band, bhash) — one row per LSH band; the band key
    * compresses the band's 4 min-hashes through sha60 of their joined
    * decimal rendering (cross-engine, keeps the shuffled row at two
    * longs instead of five), all 16 keys in one fused pass
    * (LshBandKeys; equivalence to the declarative sha60(concat_ws)
    * pinned in HashSigSpec). */
  private[graft] def bands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(graft.functions.HashSig.lshBandKeys(col("sig"), BandRows)))
      .toDF("doc_id", "band", "bhash")

  /** DuckDB twins of [[signatures]]/[[bands]], assembled into CTEs for
    * the dedup_near oracle. Token shingling mirrors [[shinglesOfTks]]
    * exactly (including the least()-clamped short-doc behavior). */
  private def sqlSignatureCtes: String = {
    val sigCols = (0 until NumHashes).map(i =>
      s"    list_min(list_transform(bases, h -> " +
        s"${sqlWrapAffine("h", affA(i), affB(i))})) AS h$i").mkString(",\n")
    val bandArms = (0 until NumBands).map { b =>
      val hs = (0 until BandRows).map(r => s"h${b * BandRows + r}").mkString(", ")
      s"    WHEN $b THEN ${sqlSha60(s"concat_ws('_', $b, $hs)")}"
    }.mkString("\n")
    s"""docs AS (SELECT doc_id, string_split(text, ' ') AS tks
       |  FROM documents WHERE text IS NOT NULL),
       |sh AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, greatest(len(tks) - 2, 1) + 1),
       |    i -> concat_ws(' ', tks[i], tks[least(i + 1, len(tks))],
       |                   tks[least(i + 2, len(tks))]))) AS sh
       |  FROM docs),
       |bases AS (SELECT doc_id,
       |  list_transform(sh, s -> ${sqlSha60("s")}) AS bases FROM sh),
       |sigs AS (SELECT doc_id,
       |$sigCols
       |  FROM bases),
       |bands AS (SELECT doc_id, band, CASE band
       |$bandArms
       |  END AS bhash FROM sigs, UNNEST(range(0, $NumBands)) AS u(band))""".stripMargin
  }

  /** [[sqlSignatureCtes]] extended with the LSH candidate-pair CTE —
    * the content-based blocking shared by every pairwise dedup scorer
    * (near/ngram/containment): docs sharing ≥1 (band, bhash) key. */
  private def sqlCandCtes: String =
    s"""$sqlSignatureCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bhash = b.bhash
       |    AND a.doc_id < b.doc_id)""".stripMargin

  /** [[sqlCandCtes]] extended with the shingle-Jaccard verify CTE —
    * the full near-dup detection pipeline as DuckDB CTE text, shared
    * by the dedup_near and dedup_near_keep oracles. */
  // private[queries]: the composed curation_pipeline_e2e oracle chains
  // this exact pipeline text as its near-dedup stage
  private[queries] def sqlNearDupCtes: String =
    s"""$sqlCandCtes,
       |jac AS (SELECT d1, d2,
       |    CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |      len(list_distinct(list_concat(s1.sh, s2.sh))) AS jaccard
       |  FROM cand JOIN sh s1 ON s1.doc_id = d1
       |            JOIN sh s2 ON s2.doc_id = d2)""".stripMargin

  /** Oversized-bucket cap for in-bucket pair expansion. A degenerate
    * LSH bucket (the common case in a real corpus: thousands of exact
    * duplicates share every band key) would concentrate an O(bucket²)
    * expansion in a single collect_list row/task and defeat AQE skew
    * handling. Buckets above the cap are routed through a plain
    * self-join on the bucket key instead — same pairs, but shuffle-
    * parallel and AQE-skew-splittable. */
  private[graft] val BucketCap = 256

  /** Every index pair i < j of the array column `arr`, one row each:
    * the `carry` columns plus `p1` = arr[i] and `p2` = arr[j]. The
    * caller sorts `arr` (sort_array), so for distinct elements the
    * index order IS the element order: each unordered pair comes out
    * exactly once, already oriented p1 < p2 — no least/greatest
    * normalization, and no dependence on the order collect_list saw
    * the rows in. Two map-side Generates: posexplode gives (i, p1),
    * then explode(slice(arr, i + 2, size - i - 1)) gives the elements
    * after it (slice is 1-based, so i + 2 is 0-based index i + 1; the
    * length is 0 at i = size − 1, and a one-element array yields no
    * pair). Per-row memory is the group's own array, O(group): the
    * O(group²) pair array is never materialized, unlike a
    * transform-of-slices + flatten, which builds it whole per group.
    * The group size is bounded only by the caller — [[BucketCap]] on
    * the bucket paths ([[bucketPairs]]); the vocabulary or the max
    * degree in cooccur_pmi and graph_jaccard. */
  private[graft] def pairsWithin(grouped: DataFrame, arr: String,
      carry: String*): DataFrame = {
    val a = col(arr)
    grouped.select(carry.map(col) ++
        Seq(posexplode(a).as(Seq("i", "p1")), a): _*)
      .select(carry.map(col) ++ Seq(col("p1"),
        explode(slice(a, col("i") + 2, size(a) - col("i") - 1)).as("p2")): _*)
  }

  /** Split banded rows into (small-bucket rows, oversized-bucket rows)
    * by bucket cardinality over `keys`. The input is localCheckpoint'd
    * first so the signature pipeline is computed once, not once per
    * branch (and not twice more for the self-join's two sides). The
    * oversized key set is usually tiny (only degenerate buckets), but
    * its size is DATA-DEPENDENT — a corpus where duplication is the
    * norm can push it past executor memory, so no broadcast hint: AQE
    * converts these anti/semi joins to broadcast at runtime whenever
    * the key set actually is small. */
  private[graft] def splitBuckets(
      banded: DataFrame, keys: Seq[String]): (DataFrame, DataFrame) = {
    // EAGER on purpose: the banded frame is referenced FOUR times in
    // the candidate plan (size agg, anti side, inner side, salted
    // sides) — a lazy checkpoint materializes only as its first job
    // runs, and within that one job every reference recomputes the
    // full signature pipeline independently (lineage truncation only
    // helps the NEXT job). One eager pass is strictly cheaper than
    // 4× the sig pipeline. Loop-step frames (single reference per
    // round job) are the place lazy checkpoints win — see
    // nearDupComponentsFrom.
    val ck = banded.localCheckpoint()
    val kcols = keys.map(col)
    val big = ck.groupBy(kcols: _*).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > BucketCap)
    // the big side carries `bsz` (inner join instead of semi — same
    // rows, same exchange count) so saltedSelfPairs can derive its
    // per-bucket chunk count without re-aggregating bucket sizes
    (ck.join(big.select(kcols: _*), keys, "left_anti"),
      ck.join(big, keys))
  }

  /** All distinct in-bucket pairs of the OVERSIZED bucket rows via a
    * salted self-join: each row gets a chunk id (hash of doc_id — NOT
    * doc_id mod C, which degenerates when ids share a stride), the
    * left side is replicated to chunk keys (ck, cb ≥ ck), the right to
    * (ca ≤ ck, ck), and the join key becomes (bucket, ca, cb) — so one
    * degenerate bucket fans out to C(C+1)/2 independent tasks that AQE
    * can schedule wide (pre-salting, parallelism was capped at the
    * band count whatever the cluster width — max/mean task time 2.5
    * measured at local[4]; BASELINE.md round-7 has the 10^4-replica
    * run, DedupSpec's "2048 replicas of one doc" test the pin).
    *
    * The chunk count is ADAPTIVE per bucket: C = ⌈√(bsz/BucketCap)⌉
    * clamped to [4, 256], which pins per-task pair work at roughly
    * bsz × BucketCap comparisons regardless of how degenerate the
    * bucket is — a fixed C would under-split a 10⁶-row bucket and
    * over-split a barely-oversized one. Replication cost is ≤ C+1 per
    * oversized row (bounded by the clamp). Beyond ~10⁶ identical rows
    * exact all-pairs is intrinsically quadratic in ANY formulation —
    * the right upstream answer is exact-dup pre-collapse
    * (dedup_exact_keep) before MinHash, which a real 100 TB pipeline
    * runs first; the clamp keeps this path correct (never wrong, just
    * honest about the quadratic) in the meantime.
    *
    * Each unordered pair {x, y} lands on exactly one
    * chunk key: (cx, cy) ordered; same-chunk keys see both orientations
    * plus self-pairs, dropped by the id filter; cross-chunk keys see
    * one arbitrary orientation, normalized via least/greatest (a plain
    * d1 < d2 filter would LOSE pairs whose chunk order disagrees with
    * their id order). `payload` columns ride along, emitted as
    * `<p>_1`/`<p>_2` ordered by doc_id. */
  private[graft] def saltedSelfPairs(big: DataFrame, keys: Seq[String],
      payload: Seq[String]): DataFrame = {
    val kcols = keys.map(col)
    // per-bucket cardinality → chunk count. splitBuckets feeds `bsz`
    // through on the big side, so no re-aggregation appears in the
    // plan there (PlanAuditSpec exchange caps); standalone inputs
    // (tests, direct callers) get sizes computed here.
    val sized =
      if (big.columns.contains("bsz")) big
      else big.join(
        big.groupBy(kcols: _*).agg(count(lit(1)).as("bsz")), keys)
    val base = sized.select((keys ++ payload :+ "bsz").map(col): _*)
      .withColumn("nc", least(greatest(
        ceil(sqrt(col("bsz") / lit(BucketCap.toDouble))).cast("int"),
        lit(4)), lit(256)))
      .withColumn("ck",
        pmod(xxhash64(col("doc_id")), col("nc").cast("long")).cast("int"))
    val la = base.withColumn("cb", explode(expr("sequence(ck, nc - 1)")))
      .select(kcols ++ Seq(col("ck").as("ca"), col("cb")) ++
        payload.map(p => col(p).as(p + "_a")): _*)
    val rb = base.withColumn("ca", explode(expr("sequence(0, ck)")))
      .select(kcols ++ Seq(col("ca"), col("ck").as("cb")) ++
        payload.map(p => col(p).as(p + "_b")): _*)
    val aFirst = col("doc_id_a") < col("doc_id_b")
    la.join(rb, keys ++ Seq("ca", "cb"))
      .filter(col("ca") =!= col("cb") || aFirst)
      .select(payload.map(p =>
        when(aFirst, col(p + "_a")).otherwise(col(p + "_b")).as(p + "_1")) ++
        payload.map(p =>
          when(aFirst, col(p + "_b")).otherwise(col(p + "_a")).as(p + "_2")): _*)
  }

  /** All distinct in-bucket pairs of `banded`, bucketed by `keys` —
    * the blocking protocol shared by the MinHash and SimHash
    * candidate stages. Bucket-grouping instead of a band self-join —
    * one shuffle on the bucket key, the signature pipeline computed
    * exactly once (a self-join re-evaluates it per side; no
    * ReusedExchange for differently-aliased subplans), in-bucket pair
    * expansion bounded by [[BucketCap]]: small buckets expand through
    * [[pairsWithin]] over their doc_id-sorted rows, oversized ones
    * take [[saltedSelfPairs]] (see [[splitBuckets]]). `payload` must
    * start with `doc_id`; each pair comes out once as `<p>_1`/`<p>_2`
    * ordered by doc_id on both paths, whatever order collect_list saw
    * the rows in. */
  private[graft] def bucketPairs(banded: DataFrame, keys: Seq[String],
      payload: Seq[String]): DataFrame = {
    val (small, big) = splitBuckets(banded, keys)
    val grouped = small.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(payload.map(col): _*))).as("xs"))
    val smallPairs = pairsWithin(grouped, "xs")
      .select(payload.map(p => col(s"p1.$p").as(p + "_1")) ++
        payload.map(p => col(s"p2.$p").as(p + "_2")): _*)
    smallPairs.unionByName(saltedSelfPairs(big, keys, payload)).distinct()
  }

  /** LSH candidate pairs (d1 < d2), distinct — the content-based
    * blocking stage shared by every pairwise dedup scorer:
    * [[bucketPairs]] over the (band, bhash) buckets. Returned frame is
    * localCheckpoint'd: every caller reads it at least twice (candIds +
    * the verify join). */
  private[graft] def candidatePairs(docs: DataFrame): DataFrame =
    // EAGER: the verify stage references this frame up to four times
    // inside one job (candIds union × 2 + both join sides' pruning) —
    // see the splitBuckets note for why lazy loses there
    bucketPairs(bands(sigArray(docs)), Seq("band", "bhash"), Seq("doc_id"))
      .select(col("doc_id_1").as("d1"), col("doc_id_2").as("d2"))
      .localCheckpoint()

  /** Candidate near-dup pairs with exact shingle Jaccard:
    * (d1 < d2, jaccard) over [[candidatePairs]]. */
  private[graft] def nearDupPairs(docsIn: DataFrame): DataFrame = {
    // explicit NULL-text exclusion, mirrored in the oracle's docs CTE:
    // a null text nulls the whole signature chain anyway (dropped at
    // posexplode), but concat_ws in the DuckDB twin would instead give
    // every NULL-text doc IDENTICAL band keys — so both engines filter
    val docs = docsIn.filter(col("text").isNotNull)
    nearDupPairsFrom(docs, candidatePairs(docs))
  }

  /** The Jaccard verify stage over a precomputed candidate frame —
    * split from [[nearDupPairs]] so the memoized accessors can feed a
    * shared candidate checkpoint instead of rebuilding the signature
    * pipeline per consumer. */
  private[graft] def nearDupPairsFrom(
      docs: DataFrame, cand: DataFrame): DataFrame = {
    // the verify stage only needs shingles for docs that appear in a
    // candidate pair — semi-join the corpus down FIRST (candidates ≪
    // corpus on a real dataset), materialize just that slice, and feed
    // both join sides from it. Without this, each differently-aliased
    // join side re-tokenizes and re-shingles the whole corpus.
    val candIds = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
    val sh = withShingles(docs).select("doc_id", "sh")
      .join(candIds, Seq("doc_id"), "left_semi")
      .localCheckpoint() // eager: both join sides read it in one job
    cand
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast(DoubleType) /
          size(array_union(col("sh1"), col("sh2"))))
      .select("d1", "d2", "jaccard")
  }

  /** (doc_id, simhash, band, bval): 60-bit SimHash signature computed
    * per-row by the fused SimHash60 kernel, expanded to its 4 15-bit
    * band buckets. Factored out so PlanShapeSpec can audit the
    * signature stage (the checkpoint inside the candidate stage
    * truncates lineage and hides it from the whole-query plan). */
  private[graft] def simhashBanded(docs: DataFrame): DataFrame = {
    val sig = docs
      .withColumn("ths",
        transform(array_distinct(split(col("text"), " ")), t => sha60(t)))
      .select(col("doc_id"),
        graft.functions.HashSig.simhash60(col("ths")).as("simhash"))
    sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${15 * b}) & 32767").as("bval"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
  }

  /** One min-label-propagation round, message-passing style: every
    * vertex sends its label along its edges, then takes the min over
    * {own label} ∪ {received labels} — one equi-join plus one
    * aggregation per round. `old_label` rides along (the `own` row is
    * unique per vertex) so convergence is a filter, not a join.
    * Factored out so PlanShapeSpec can audit the per-round plan — the
    * checkpointing in [[nearDupComponents]] truncates lineage, which
    * would hide this shape from the whole-query plan audit. */
  private[graft] def propagateStep(
      labels: DataFrame, bidir: DataFrame): DataFrame = {
    val own = labels.select(col("doc_id"), col("label"), lit(1).as("own"))
    val msgs = bidir.join(labels, bidir("d1") === labels("doc_id"))
      .select(col("d2").as("doc_id"), col("label"), lit(0).as("own"))
    own.unionByName(msgs)
      .groupBy("doc_id")
      .agg(min(col("label")).as("label"),
        max(when(col("own") === 1, col("label"))).as("old_label"))
  }

  /** Connected components over the verified near-dup graph:
    * (doc_id, label) with label = min doc_id of the component.
    * Iterative min-label propagation run to CONVERGENCE (rounds
    * bounded by component diameter; localCheckpoint truncates lineage
    * between rounds). Hitting the round cap without converging THROWS —
    * silently returning under-merged labels would under-deduplicate
    * the corpus. DedupSpec pins transitivity on an injected chain; the
    * dedup_near_keep oracle checks the full closure against a
    * recursive CTE. Superseded per-round checkpoint blocks are
    * released by Spark's ContextCleaner once this method drops its
    * references (only the final round's checkpoint stays reachable
    * through the returned frame). */
  private[graft] def nearDupComponents(
      docsIn: DataFrame, threshold: Double = 0.3): DataFrame = {
    val docs = docsIn.filter(col("text").isNotNull)
    nearDupComponentsFrom(docs, nearDupPairs(docs), threshold)
  }

  /** Label propagation over a precomputed (d1, d2, jaccard) frame —
    * split from [[nearDupComponents]] for the same memo-sharing reason
    * as [[nearDupPairsFrom]]. */
  private[graft] def nearDupComponentsFrom(docs: DataFrame,
      pairs: DataFrame, threshold: Double = 0.3): DataFrame =
    componentsFromEdges(docs.select(col("doc_id")),
      pairs.filter(col("jaccard") >= threshold).select(col("d1"), col("d2")))

  /** The propagation loop over an ARBITRARY verified edge frame
    * (d1, d2) and vertex universe (doc_id) — the caller has already
    * applied its similarity threshold. Factored out so other graphs
    * (the embedding-ANN keep action in SimilarityFitted, Warehouse's
    * graph_components) reuse the exact converge-or-throw loop instead
    * of reimplementing it. The loop adds each edge's reverse itself:
    * one direction per edge suffices, and passing both only doubles
    * the edge frame every round re-reads (same labels — DedupSpec). */
  private[graft] def componentsFromEdges(vertices: DataFrame,
      edges: DataFrame): DataFrame = {
    val bidir = edges.unionByName(
        edges.select(col("d2").as("d1"), col("d1").as("d2")))
      .localCheckpoint(false)
    // Only EDGE ENDPOINTS ride the propagation loop: a doc with no
    // near-dup edge keeps label = doc_id by definition, so hauling the
    // whole corpus through every round is pure waste (on a real corpus
    // near-dup clusters are a small fraction of documents; here it
    // also cuts the per-round row count ~10×). Singletons rejoin via
    // the coalesce below — identical output, pinned by DedupSpec's
    // transitivity/closure checks.
    var labels = bidir.select(col("d1").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint(false)
    var converged = false
    var rounds = 0
    val maxRounds = 50
    // TWO propagation rounds per materialization+convergence job: the
    // per-round frames are edge-endpoint-sized, so the loop's wall cost
    // is Spark job latency, not data (r7 item 6 cut it to one job per
    // round; r11 item 4 measured ~70 % of dedup_embedding_ann_keep's
    // take-min wall still in these jobs). Checking every second round
    // is exact, not heuristic: min-label propagation is monotone and
    // idempotent at its fixpoint, so "round 2k+2 changed nothing"
    // certifies the fixpoint regardless of whether round 2k+1 was the
    // converging round. The fixpoint itself is unique (min label per
    // component), so outputs are bit-identical to the every-round form —
    // DedupSpec's transitivity and the recursive-CTE closure oracles pin
    // that. Round accounting stays per-PROPAGATION (2 per iteration) so
    // the diameter cap means what it says.
    while (!converged && rounds < maxRounds) {
      val mid = propagateStep(labels, bidir).select("doc_id", "label")
      val step = propagateStep(mid, bidir).localCheckpoint(false)
      converged =
        step.filter(col("label") =!= col("old_label")).count() == 0L
      labels = step.select("doc_id", "label")
      rounds += 2
    }
    require(converged,
      s"label propagation did not converge in $maxRounds rounds — " +
        "component diameter exceeds the cap; raise maxRounds")
    // singletons (no edges) rejoin with their self-label
    vertices
      .join(labels.withColumnRenamed("doc_id", "vid"),
        col("doc_id") === col("vid"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("label"))
  }

  /** Session-scoped memo of the shared dedup pipeline stages over the
    * documents table. Six queries consume the same intermediate frames
    * — `dedup_near`/`dedup_near_keep`/`dedup_cluster_rep` the verified
    * pair list, `dedup_incremental`/`dedup_containment`/`dedup_ngram`
    * the LSH candidate blocking — and each recomputed the stage per
    * call (round-6 verdict: ~6-8 s of cross-query waste per JVM at
    * sf0.1). Keyed by (SparkContext, data dir, stage) — the same
    * keying rule as `Catalog.once` — so sibling sessions of one app
    * share (the frames are checkpoint-backed RDD blocks, app-wide),
    * while two data roots can never serve each other's frames
    * (DedupSpec pins this). The map holds strong references, keeping
    * the checkpoints' blocks alive for the context's life; every
    * memoized frame is candidate/label-cardinality (≪ corpus — tens of
    * KB at sf0.1), never corpus text. The unkeyed builders ([[candidatePairs]],
    * [[nearDupPairs]], [[nearDupComponents]]) stay unmemoized for
    * tests and custom-threshold callers. */
  // r16: graft.SessionMemo — weak per-context outer layer (r15 ADVICE),
  // same sibling-session sharing as before, but a stopped context's
  // frames become collectible with it. Every memoized stage here reads
  // documents.parquet only, so Tables.invalidate drops these frames for
  // a documents rewrite (r10 ADVICE) but keeps them when a sibling
  // table in the same dir is rewritten (r11 ADVICE).
  private val frameMemo = new graft.SessionMemo[DataFrame]("documents")
  private def memoFrame(s: org.apache.spark.sql.SparkSession, d: String,
      stage: String)(build: => DataFrame): DataFrame =
    frameMemo.getOrCompute(s, d, stage)(build)

  // NOT Tables.spread here (r16, measured): parallelizing the
  // single-file scan helps the crypto-heavy signature map, but this
  // chain is ~60 SHORT stages and the added exchange + 32-way task
  // launches per stage cost more than the one serialized map —
  // curation_by_lang's isolated cold run read 11.4 s → 17.6 s wall
  // (task-sec 7 → 110) with the spread in place. The embedding-family
  // fits keep it (few stages, n×cells kernel dominates).
  private def docsOf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).filter(col("text").isNotNull)

  /** Memoized [[candidatePairs]] over the documents table (already
    * localCheckpoint'd by the builder). */
  private[graft] def candidatePairsFor(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoFrame(s, d, "candidatePairs")(candidatePairs(docsOf(s, d)))

  /** Memoized [[nearDupPairs]] over the documents table; checkpointed
    * here (the builder doesn't) so the Jaccard verify join runs once
    * per JVM, not once per consuming query. The candidate dependency
    * is resolved BEFORE entering the memo update: a nested
    * computeIfAbsent on one ConcurrentHashMap throws "Recursive
    * update" whenever the two keys share a bin (surfaced by the full
    * test suite, where the map is populated enough to collide). */
  private[graft] def nearDupPairsFor(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val cand = candidatePairsFor(s, d)
    memoFrame(s, d, "nearDupPairs")(
      nearDupPairsFrom(docsOf(s, d), cand).localCheckpoint(false))
  }

  /** Memoized [[nearDupComponents]] over the documents table.
    * Dependency resolved outside the memo update — see
    * [[nearDupPairsFor]]. */
  private[graft] def nearDupComponentsFor(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val pairs = nearDupPairsFor(s, d)
    memoFrame(s, d, "components")(
      nearDupComponentsFrom(docsOf(s, d), pairs))
  }

  def decls: Seq[Decl] = Seq(

    // C1: exact dedup via content hash (sha-256), counted per language.
    Decl("dedup_exact",
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT sha256(text)) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_dups
        |FROM documents GROUP BY lang
        |ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("h", sha2(col("text"), 256))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))
        .orderBy("lang")
    },

    // C1b: the dedup *action* — keep the min doc_id per content hash.
    Decl("dedup_exact_keep",
      """SELECT COUNT(*) AS n_kept FROM (
        |  SELECT min(doc_id) FROM documents GROUP BY sha256(text))""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("keep_id"))
        .agg(count(lit(1)).as("n_kept"))
    },

    // C2: MinHash + LSH near-duplicate detection. The sha60 base hash
    // and HUGEINT affine twins make the whole pipeline — signatures,
    // band keys, candidate pairs, Jaccard verify — reproducible in
    // DuckDB, so this is a full value-level oracle, not a rows-only
    // check. DedupSpec additionally proves exact-dup pairs collide in
    // all bands and that the pipeline is partitioning-invariant.
    Decl("dedup_near",
      s"""WITH $sqlNearDupCtes
         |SELECT COUNT(*) AS n_candidates,
         |  COALESCE(CAST(SUM(CASE WHEN jaccard >= 0.3 THEN 1 ELSE 0 END)
         |    AS BIGINT), 0) AS n_near_dups,
         |  COALESCE(MAX(jaccard), 0.0) AS max_jaccard
         |FROM jac""".stripMargin) { (s, d) =>
      nearDupPairsFor(s, d).agg(
        count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("jaccard") >= 0.3, 1L).otherwise(0L)), lit(0L))
          .as("n_near_dups"),
        coalesce(max(col("jaccard")), lit(0.0)).as("max_jaccard"))
    },

    // C2-incremental: dedup an INCOMING BATCH against the existing
    // corpus — the daily-ingest shape, where re-pairing corpus×corpus
    // for every delivery would be quadratic over time. The batch is the
    // deterministic doc_id residue (10%); candidates come from the same
    // skew-guarded LSH machinery ([[candidatePairs]]) filtered to
    // cross-split pairs, so only new×old buckets are verified (new×new
    // dedup is the batch's own dedup_near pass, scoped out here). Every
    // batch doc is reported; match_id is the smallest matching corpus
    // doc (deterministic representative).
    Decl("dedup_incremental",
      s"""WITH $sqlCandCtes,
         |nc AS (SELECT CASE WHEN d1 % 10 = 7 THEN d1 ELSE d2 END AS dn,
         |    CASE WHEN d1 % 10 = 7 THEN d2 ELSE d1 END AS d_old
         |  FROM cand WHERE (d1 % 10 = 7) <> (d2 % 10 = 7)),
         |jx AS (SELECT dn, d_old,
         |    CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
         |      len(list_distinct(list_concat(s1.sh, s2.sh))) AS j
         |  FROM nc JOIN sh s1 ON s1.doc_id = dn
         |          JOIN sh s2 ON s2.doc_id = d_old),
         |m AS (SELECT dn, COUNT(*) AS n_matches, MIN(d_old) AS match_id
         |  FROM jx WHERE j >= 0.3 GROUP BY dn)
         |SELECT doc_id, COALESCE(n_matches, 0) AS n_matches,
         |  COALESCE(match_id, -1) AS match_id,
         |  n_matches IS NOT NULL AS is_dup
         |FROM docs LEFT JOIN m ON dn = doc_id
         |WHERE doc_id % 10 = 7
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val isNew = (c: Column) => c % 10 === 7
      val nc = candidatePairsFor(s, d)
        .filter(isNew(col("d1")) =!= isNew(col("d2")))
        .select(when(isNew(col("d1")), col("d1")).otherwise(col("d2"))
            .as("dn"),
          when(isNew(col("d1")), col("d2")).otherwise(col("d1"))
            .as("d_old"))
      val candIds = nc.select(col("dn").as("doc_id"))
        .unionByName(nc.select(col("d_old").as("doc_id"))).distinct()
      val sh = withShingles(docs).select("doc_id", "sh")
        .join(candIds, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val m = nc
        .join(sh.select(col("doc_id").as("dn"), col("sh").as("sh1")), "dn")
        .join(sh.select(col("doc_id").as("d_old"), col("sh").as("sh2")),
          "d_old")
        .filter(size(array_intersect(col("sh1"), col("sh2")))
          .cast(DoubleType) /
          size(array_union(col("sh1"), col("sh2"))) >= 0.3)
        .groupBy("dn")
        .agg(count(lit(1)).as("n_matches"), min(col("d_old")).as("match_id"))
      docs.filter(isNew(col("doc_id"))).select("doc_id")
        .join(m, col("dn") === col("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("match_id"), lit(-1L)).as("match_id"),
          col("n_matches").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    },

    // C2-action: near-dup REMOVAL — connect the verified pairs into
    // clusters and keep one representative per cluster. Components via
    // iterative min-label propagation (see nearDupComponents: one join
    // + one aggregation per round, run to convergence, throwing if the
    // round cap is hit). The oracle computes the true transitive
    // closure with a recursive CTE, so convergence — not an
    // iteration-count guess — is what's checked.
    Decl("dedup_near_keep",
      s"""WITH RECURSIVE $sqlNearDupCtes,
         |edges AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.3),
         |bidir AS (SELECT d1, d2 FROM edges
         |          UNION SELECT d2, d1 FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT r.src, b.d2 FROM reach r JOIN bidir b ON r.dst = b.d1),
         |comp AS (SELECT src AS doc_id, MIN(dst) AS label
         |         FROM reach GROUP BY src),
         |sizes AS (SELECT label, COUNT(*) AS cs FROM comp GROUP BY label)
         |SELECT COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_kept,
         |  COUNT(*) - COUNT(DISTINCT label) AS n_removed,
         |  (SELECT MAX(cs) FROM sizes) AS max_cluster
         |FROM comp""".stripMargin) { (s, d) =>
      val labels = nearDupComponentsFor(s, d)
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("cs"))
      labels.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("label")).as("n_kept"),
        (count(lit(1)) - countDistinct(col("label"))).as("n_removed"))
        .crossJoin(broadcast(sizes.agg(max(col("cs")).as("max_cluster"))))
    },

    // Quality-ranked cluster representatives — the dedup policy real
    // LLM pipelines actually want: within each near-dup cluster keep
    // the BEST document (here: longest, ties to the smallest id), not
    // the arbitrary first-seen one. Reuses the same label-propagation
    // components as dedup_near_keep; the representative pick is one
    // row_number window over the label key (cluster-cardinality data,
    // tiny next to the corpus). Oracle re-derives the full closure via
    // the recursive CTE and picks identically.
    Decl("dedup_cluster_rep",
      s"""WITH RECURSIVE $sqlNearDupCtes,
         |edges AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.3),
         |bidir AS (SELECT d1, d2 FROM edges
         |          UNION SELECT d2, d1 FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT r.src, b.d2 FROM reach r JOIN bidir b ON r.dst = b.d1),
         |comp AS (SELECT src AS doc_id, MIN(dst) AS label
         |         FROM reach GROUP BY src),
         |ranked AS (SELECT c.label, c.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY c.label
         |      ORDER BY d.n_chars DESC, c.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY c.label) AS cluster_size
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
         |SELECT label, cluster_size, doc_id AS rep_doc_id,
         |  n_chars AS rep_n_chars
         |FROM ranked WHERE rn = 1 AND cluster_size >= 2
         |ORDER BY label""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val labels = nearDupComponentsFor(s, d)
      val w = Window.partitionBy("label")
        .orderBy(col("n_chars").desc, col("doc_id"))
      labels.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("label")))
        .filter(col("rn") === 1 && col("cluster_size") >= 2)
        .select(col("label"), col("cluster_size"),
          col("doc_id").as("rep_doc_id"), col("n_chars").as("rep_n_chars"))
        .orderBy("label")
    },

    // Leakage-safe train/valid/test split — the eval-hygiene twin of
    // split_train_test: a per-DOC hash split lets near-duplicates
    // straddle train and test (the benchmark-inflation trap), so the
    // split gate is applied to the near-dup CLUSTER label instead —
    // every member of a component lands in the same split BY
    // CONSTRUCTION. The output proves it: per split, doc and cluster
    // counts plus the count of verified near-dup edges (jaccard ≥ 0.3,
    // keyed by d1's split) crossing split boundaries under the
    // cluster gate (always 0) and under the naive doc gate (the
    // hazard, nonzero on this corpus — DedupSpec pins both). Same
    // sha-60 'split' residue as split_train_test, so the naive column
    // IS that operator's assignment. Scale: rides the memoized
    // candidate/component frames (label-cardinality, never corpus
    // text); the split gate is a per-row map; the leak audit joins the
    // edge list (candidates ≪ corpus) against the label frame twice.
    Decl("split_leakage_safe", {
      def gate(x: String) =
        s"(CAST(('0x' || substr(sha256('split' || CAST($x AS VARCHAR)), " +
          "1, 15)) AS BIGINT) % 100)"
      def splitOf(x: String) =
        s"CASE WHEN ${gate(x)} < 80 THEN 'train' " +
          s"WHEN ${gate(x)} < 90 THEN 'valid' ELSE 'test' END"
      s"""WITH RECURSIVE $sqlNearDupCtes,
         |edges AS MATERIALIZED (SELECT d1, d2 FROM jac
         |         WHERE jaccard >= 0.3),
         |bidir AS (SELECT d1, d2 FROM edges
         |          UNION SELECT d2, d1 FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT r.src, b.d2 FROM reach r JOIN bidir b ON r.dst = b.d1),
         |comp AS MATERIALIZED (SELECT src AS doc_id, MIN(dst) AS label
         |         FROM reach GROUP BY src),
         |asg AS (SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS label
         |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |g AS MATERIALIZED (SELECT doc_id, label,
         |        ${splitOf("label")} AS sc,
         |        ${splitOf("doc_id")} AS sn
         |      FROM asg),
         |d0 AS (SELECT sc AS split, COUNT(*) AS n_docs,
         |         COUNT(DISTINCT label) AS n_clusters
         |       FROM g GROUP BY 1),
         |pj AS MATERIALIZED (SELECT g1.sc AS s1c, g2.sc AS s2c,
         |         g1.sn AS s1n, g2.sn AS s2n
         |       FROM edges e JOIN g g1 ON g1.doc_id = e.d1
         |                    JOIN g g2 ON g2.doc_id = e.d2),
         |lc AS (SELECT s1c AS split, COUNT(*) AS lk FROM pj
         |       WHERE s1c <> s2c GROUP BY 1),
         |ln_ AS (SELECT s1n AS split, COUNT(*) AS lk FROM pj
         |        WHERE s1n <> s2n GROUP BY 1)
         |SELECT d0.split, n_docs, n_clusters,
         |  COALESCE(lc.lk, 0) AS leaked_cluster,
         |  COALESCE(ln_.lk, 0) AS leaked_naive
         |FROM d0 LEFT JOIN lc ON lc.split = d0.split
         |        LEFT JOIN ln_ ON ln_.split = d0.split
         |ORDER BY d0.split""".stripMargin
    }) { (s, d) =>
      import graft.functions.XHash.sha60
      def splitOf(c: org.apache.spark.sql.Column) = {
        val g = sha60(concat(lit("split"), c.cast(StringType))) % 100
        when(g < 80, "train").when(g < 90, "valid").otherwise("test")
      }
      val labels = nearDupComponentsFor(s, d)
      // all documents get a split — null-text docs are singletons by
      // definition (they carry no shingles, hence no edges)
      val asg = Tables.documents(s, d).select(col("doc_id"))
        .join(labels.withColumnRenamed("doc_id", "vid"),
          col("doc_id") === col("vid"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("label"))
        .withColumn("sc", splitOf(col("label")))
        .withColumn("sn", splitOf(col("doc_id")))
        .localCheckpoint(false) // feeds the doc agg + both leak joins
      val d0 = asg.groupBy(col("sc").as("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("label")).as("n_clusters"))
      val edges = nearDupPairsFor(s, d)
        .filter(col("jaccard") >= 0.3).select("d1", "d2")
      val pj = edges
        .join(asg.select(col("doc_id").as("d1"), col("sc").as("s1c"),
          col("sn").as("s1n")), "d1")
        .join(asg.select(col("doc_id").as("d2"), col("sc").as("s2c"),
          col("sn").as("s2n")), "d2")
        .localCheckpoint(false) // candidate-cardinality; two consumers
      val lc = pj.filter(col("s1c") =!= col("s2c"))
        .groupBy(col("s1c").as("split")).agg(count(lit(1)).as("lkc"))
      val ln = pj.filter(col("s1n") =!= col("s2n"))
        .groupBy(col("s1n").as("split")).agg(count(lit(1)).as("lkn"))
      d0.join(lc, Seq("split"), "left").join(ln, Seq("split"), "left")
        .select(col("split"), col("n_docs"), col("n_clusters"),
          coalesce(col("lkc"), lit(0L)).as("leaked_cluster"),
          coalesce(col("lkn"), lit(0L)).as("leaked_naive"))
        .orderBy("split")
    },

    // Dedup-AWARE training-mix weights — the sampling policy that
    // follows from the published deduplication results (Lee et al.
    // 2021, "Deduplicating Training Data Makes Language Models
    // Better"): rather than dropping near-duplicates outright, weight
    // every document by 1/|its near-dup cluster| so each distinct
    // CONTENT contributes one unit of training mass no matter how many
    // copies crawled in. Each cluster's weights sum to exactly 1 by
    // construction, so the corpus' total sampling mass equals its
    // unique-content count (DedupSpec pins both). Singletons —
    // including null-text docs, which carry no shingles hence no
    // edges — weight 1. Scale: rides the memoized component frame
    // (label-cardinality propagation done once, shared with
    // dedup_near_keep / dedup_cluster_rep / split_leakage_safe);
    // sizes is one label-keyed count, and the join back to the
    // assignment keys on the label — never corpus text.
    Decl("mix_dedup_weights",
      s"""WITH RECURSIVE $sqlNearDupCtes,
         |edges AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.3),
         |bidir AS (SELECT d1, d2 FROM edges
         |          UNION SELECT d2, d1 FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT r.src, b.d2 FROM reach r JOIN bidir b ON r.dst = b.d1),
         |comp AS (SELECT src AS doc_id, MIN(dst) AS label
         |         FROM reach GROUP BY src),
         |asg AS (SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS label
         |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |sizes AS (SELECT label, COUNT(*) AS cluster_size
         |          FROM asg GROUP BY label)
         |SELECT a.doc_id, a.label, s.cluster_size,
         |  CAST(1.0 AS DOUBLE) / CAST(s.cluster_size AS DOUBLE) AS weight
         |FROM asg a JOIN sizes s ON s.label = a.label
         |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val labels = nearDupComponentsFor(s, d)
      val asg = Tables.documents(s, d).select(col("doc_id"))
        .join(labels.withColumnRenamed("doc_id", "vid"),
          col("doc_id") === col("vid"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("label"))
      val sizes = asg.groupBy("label")
        .agg(count(lit(1)).as("cluster_size"))
      asg.join(sizes, "label")
        .select(col("doc_id"), col("label"), col("cluster_size"),
          (lit(1.0) / col("cluster_size").cast(DoubleType)).as("weight"))
        .orderBy("doc_id")
    },

    // Recency dedup — keep the NEWEST event per (user, hour): the
    // snapshot-compaction primitive (CDC upserts, profile updates,
    // "latest state wins" feeds). One shuffle on the composite key;
    // at scale this is the window flavor of dedup_exact_keep.
    Decl("dedup_latest",
      """SELECT user_id, bucket_us, event_id FROM (
        |  SELECT user_id,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
        |    event_id,
        |    row_number() OVER (
        |      PARTITION BY user_id, epoch_us(ts) // 3600000000
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, bucket_us""".stripMargin) { (s, d) =>
      val HourUs = 3600000000L
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr(s"(unix_micros(ts) DIV $HourUs)").as("bucket"))
      val w = Window.partitionBy("user_id", "bucket")
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), (col("bucket") * HourUs).as("bucket_us"),
          col("event_id"))
        .orderBy("user_id", "bucket_us")
    },

    // SimHash near-dup: 60-bit signature = sign of per-bit token-hash
    // sums; candidates from 4×15-bit band equality; Hamming ≤ 8 verify.
    // Computed entirely PER ROW (a document's tokens are already
    // colocated — the explode + 64-aggregate formulation shuffles the
    // whole token table for nothing), and sha60-based so the oracle
    // replays it exactly.
    Decl("dedup_simhash",
      """WITH t AS (SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      s -> CAST(('0x' || substr(sha256(s), 1, 15)) AS BIGINT)) AS ths
        |  FROM documents WHERE text IS NOT NULL),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 60), j ->
        |      CASE WHEN 2 * len(list_filter(ths, h -> ((h >> j) & 1) = 1))
        |                > len(ths)
        |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)
        |      AS simhash
        |  FROM t),
        |banded AS (SELECT doc_id, simhash, band,
        |    (simhash >> (15 * band)) & 32767 AS bval
        |  FROM sig, UNNEST(range(0, 4)) AS u(band)),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |    bit_count(xor(a.simhash, b.simhash)) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT COUNT(*) AS n_candidates,
        |  COALESCE(CAST(SUM(CASE WHEN hamming <= 8 THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS n_near_dups,
        |  COALESCE(MIN(hamming), -1) AS min_hamming
        |FROM cand""".stripMargin) { (s, d) =>
      // NULL-text exclusion on BOTH engines: Spark's groupBy would put
      // all null-signature docs in one bucket and emit pairs among
      // them, while the oracle's equi-join drops NULL keys — mirror
      // dedup_near's explicit filter (see its docs CTE).
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val cand = bucketPairs(simhashBanded(docs), Seq("band", "bval"),
          Seq("doc_id", "simhash"))
        .select(expr("bit_count(simhash_1 ^ simhash_2)").as("hamming"))
      cand.agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("hamming") <= 8, 1L).otherwise(0L)), lit(0L))
          .as("n_near_dups"),
        coalesce(min(col("hamming")), lit(-1)).as("min_hamming"))
    },

    // Embedding-cosine near-dup: label-blocked pairs above a high cosine
    // threshold — the semantic-dedup flavor (same blocking discipline as
    // the other families; the cosine kernel is the deterministic
    // VectorOps one, so this is oracle-checkable).
    Decl("dedup_embedding",
      s"""WITH probe AS (SELECT * FROM embeddings WHERE vec_id % 20 = 0),
         |cand AS (SELECT p.vec_id AS v1, e.vec_id AS v2, p.label,
         |           unnest(p.embedding) AS x, unnest(e.embedding) AS y
         |         FROM probe p JOIN embeddings e
         |           ON p.label = e.label AND p.vec_id < e.vec_id),
         |sims AS (SELECT v1, v2, label,
         |           ${graft.functions.VectorOps.sqlDot("x", "y")} AS dot,
         |           ${graft.functions.VectorOps.sqlDot("x", "x")} AS nx,
         |           ${graft.functions.VectorOps.sqlDot("y", "y")} AS ny
         |         FROM cand GROUP BY ALL)
         |SELECT label, COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN dot / (sqrt(nx) * sqrt(ny)) >= 0.5
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups
         |FROM sims GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      import graft.functions.VectorOps.{cosineWithNorms, norm2}
      val e = Tables.embeddings(s, d)
        .withColumn("n2", norm2(col("embedding")))
      val probe = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("v1"), col("label"),
          col("embedding").as("emb1"), col("n2").as("n2a"))
      probe.join(e.select(col("vec_id").as("v2"), col("label").as("l2"),
          col("embedding").as("emb2"), col("n2").as("n2b")),
        col("label") === col("l2") && col("v1") < col("v2"))
        .select(col("label"),
          cosineWithNorms(col("emb1"), col("emb2"), col("n2a"), col("n2b"))
            .as("sim"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sim") >= 0.5, 1L).otherwise(0L)).as("n_near_dups"))
        .orderBy("label")
    },

    // n-gram Jaccard dedup: char-trigram set similarity, candidates
    // blocked by the shared MinHash-LSH bands ([[candidatePairs]]) — a
    // CONTENT signal, so recall does not depend on duplicates having
    // adjacent ids (an id-window block would find ~zero dups in a real
    // shuffled corpus). Candidate count stays linear via the LSH bucket
    // structure + BucketCap skew guard; exact trigram sets are engine-
    // neutral so the verify stage *is* oracled.
    Decl("dedup_ngram",
      s"""WITH $sqlCandCtes,
         |g AS (SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(text) - 1),
         |      i -> substr(text, i, 3))) AS g
         |  FROM documents WHERE len(text) >= 3)
         |SELECT d1, d2,
         |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
         |    (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
         |    AS jaccard
         |FROM cand JOIN g a ON a.doc_id = d1 JOIN g b ON b.doc_id = d2
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      // len >= 3 on the scoring side (and mirrored in the oracle):
      // Spark's sequence(1, len - 2) turns DESCENDING for len < 3 and
      // substr would index out of range, where DuckDB's range() is just
      // empty. The inner join back to candidates drops short docs.
      val grams = array_distinct(expr(
        "transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))"))
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val cand = candidatePairsFor(s, d)
      val g = docs.filter(length(col("text")) >= 3)
        .select(col("doc_id"), grams.as("g"))
      cand
        .join(g.select(col("doc_id").as("d1"), col("g").as("g1")), "d1")
        .join(g.select(col("doc_id").as("d2"), col("g").as("g2")), "d2")
        .select(col("d1"), col("d2"),
          (size(array_intersect(col("g1"), col("g2"))).cast(DoubleType) /
            (size(col("g1")) + size(col("g2"))
              - size(array_intersect(col("g1"), col("g2"))))).as("jaccard"))
        .orderBy("d1", "d2")
    },

    // Containment similarity |A∩B| / |A| over word-bigram shingles —
    // the ASYMMETRIC dedup score that catches sub-document duplication
    // (doc A fully quoted inside a longer B scores 1.0 while Jaccard
    // dilutes with |B|). Same LSH-band blocking as dedup_near/ngram:
    // content-keyed candidates, linear, never O(n²).
    Decl("dedup_containment",
      s"""WITH $sqlCandCtes,
         |g AS (SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(tks)),
         |      i -> tks[i] || ' ' || tks[i + 1])) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tks
         |        FROM documents
         |        WHERE len(string_split(text, ' ')) >= 2))
         |SELECT d1, d2,
         |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g)
         |    AS containment
         |FROM cand JOIN g a ON a.doc_id = d1 JOIN g b ON b.doc_id = d2
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      // bigram shingles: sequence(1, n-1) mirrors range(1, len) — both
      // empty below 2 tokens, but the n >= 2 guard keeps sequence()
      // from turning descending (same hazard dedup_ngram documents).
      // Tokenize ONCE in a prior projection: split() inside the lambda
      // body would re-run per element (no CSE across higher-order
      // functions — the shinglesOfTks trap, measured 4.6s → ~1s here).
      val grams = array_distinct(expr(
        "transform(sequence(1, size(tks) - 1), " +
          "i -> concat(element_at(tks, i), ' ', element_at(tks, i + 1)))"))
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val cand = candidatePairsFor(s, d)
      val g = docs.select(col("doc_id"), split(col("text"), " ").as("tks"))
        .filter(size(col("tks")) >= 2)
        .select(col("doc_id"), grams.as("g"))
      cand
        .join(g.select(col("doc_id").as("d1"), col("g").as("g1")), "d1")
        .join(g.select(col("doc_id").as("d2"), col("g").as("g2")), "d2")
        .select(col("d1"), col("d2"),
          (size(array_intersect(col("g1"), col("g2"))).cast(DoubleType) /
            size(col("g1"))).as("containment"))
        .orderBy("d1", "d2")
    },

    // Prefix-filtered set-similarity join (AllPairs/PPJoin family:
    // Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
    // Xiao et al., PPJoin, WWW'08): the EXACT Jaccard >= 0.8 join over
    // word-trigram shingle sets, without LSH's false-negative risk and
    // without all-pairs. Guarantee: if J(A,B) >= t, A and B must share
    // at least one token among each one's (n - ceil(t*n) + 1) RAREST
    // tokens under a global document-frequency order — so candidates =
    // pairs sharing a prefix token (plus the |A| >= t|B| length filter),
    // and the verify stage makes the result exact. All integer
    // arithmetic at the boundaries (prefix length via DIV, threshold via
    // 5*inter >= 4*union) so no float rounding can diverge engines.
    // Scale shape: one token-frequency agg, one regroup to rebuild the
    // frequency-sorted shingle list, one equi-join on prefix tokens —
    // all linear in corpus token count; candidate volume is governed by
    // rare-token selectivity (Zipf vocab => near-linear; this toy
    // 31-word corpus needs trigram shingles for the same effect).
    // SimjoinSpec proves losslessness vs the brute-force join at
    // sf0.001.
    Decl("simjoin_prefix",
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS tks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(tks) - 1),
        |    i -> tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2])) AS s
        |  FROM tk),
        |ex AS (SELECT doc_id, unnest(s) AS tok FROM sh),
        |f AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
        |ord AS (SELECT e.doc_id, list(e.tok ORDER BY f.c, e.tok) AS os,
        |          count(*) AS n
        |        FROM ex e JOIN f ON e.tok = f.tok GROUP BY e.doc_id),
        |pref AS (SELECT doc_id, n,
        |    unnest(os[1 : n - ((4*n + 4) // 5) + 1]) AS tok FROM ord),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM pref a JOIN pref b ON a.tok = b.tok
        |           AND a.doc_id < b.doc_id
        |           AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n))
        |SELECT d1, d2,
        |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
        |    (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        |    AS jaccard
        |FROM cand JOIN sh sa ON sa.doc_id = d1 JOIN sh sb ON sb.doc_id = d2
        |WHERE 5 * len(list_intersect(sa.s, sb.s)) >=
        |  4 * (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      prefixSimjoin(Tables.documents(s, d))
    },

    // Canonical-URL dedup — the web-crawl pipeline's cheapest and
    // highest-yield dedup stage: normalize each document's source URL
    // (lowercase the host, drop the query string and its tracking
    // params) and collapse documents sharing a canonical (host, path),
    // keeping the smallest doc_id. URLs are synthesized from doc_id
    // the same way url_normalize's are (no URL column in the fixture;
    // doc_id mod 7 hosts × mod 23 paths make real collision groups —
    // the raw URLs still differ per doc through their ?id= query, which
    // is exactly what canonicalization must erase). One map-side regex
    // pass + one partial+final group on the canonical key: at 100 TB
    // this is a single shuffle at (host,path) cardinality, and the
    // min/count aggregates combine map-side so the shuffle carries one
    // row per canonical key per partition, not per document.
    Decl("dedup_url",
      """WITH u AS (SELECT doc_id,
        |    'https://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.com/articles/' || CAST(doc_id % 23 AS VARCHAR) ||
        |    '?id=' || CAST(doc_id AS VARCHAR) ||
        |    '&utm_source=feed' AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    lower(regexp_extract(url, 'https://([^/]+)/', 1)) AS host,
        |    regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path
        |  FROM u)
        |SELECT host, path, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM c GROUP BY host, path ORDER BY host, path""".stripMargin) {
      (s, d) =>
      val url = concat(lit("https://WWW.Example"),
        (col("doc_id") % 7).cast(StringType), lit(".com/articles/"),
        (col("doc_id") % 23).cast(StringType), lit("?id="),
        col("doc_id").cast(StringType), lit("&utm_source=feed"))
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          lower(regexp_extract(col("url"), "https://([^/]+)/", 1))
            .as("host"),
          regexp_extract(col("url"), "https://[^/]+(/[^?]*)", 1)
            .as("path"))
        .groupBy("host", "path")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_dups"))
        .orderBy("host", "path")
    },

    // Edit-distance fuzzy join (entity resolution / OCR-noise dedup) —
    // the metric the token-set dedups can't express: levenshtein over
    // the 6-token document prefix, candidates CONTENT-blocked on the
    // first two tokens (never id-adjacency — the r4 lesson). Both
    // engines share one edit-distance definition (unit-cost
    // insert/delete/substitute), so pairs are value-level oracled.
    // Scale: block key cardinality is vocab², block size is corpus/
    // vocab² — the quadratic-inside-block cost is bounded by blocking
    // granularity, the standard ER knob; skewed blocks would route
    // through the same BucketCap guard the LSH pipeline uses.
    Decl("join_fuzzy",
      """WITH p AS (SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:6], ' ') AS pre,
        |    array_to_string(string_split(text, ' ')[1:2], ' ') AS blk
        |  FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  levenshtein(a.pre, b.pre) AS lev
        |FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.pre, b.pre) <= 10
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      val p = Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 6), " ").as("pre"),
          array_join(slice(split(col("text"), " "), 1, 2), " ").as("blk"))
      p.as("a")
        .join(p.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          levenshtein(col("a.pre"), col("b.pre")).as("lev"))
        .filter(col("lev") <= 10)
        .orderBy("d1", "d2")
    },

    // Cross-document duplicated-SPAN audit — the C4/CCNet exact
    // sub-document dedup signal: chunk every doc into consecutive
    // fixed-length token spans, find spans occurring in >= 2 DISTINCT
    // docs corpus-wide, and report each doc's duplicated-span fraction
    // (the "remove spans seen elsewhere" decision input). Span length 3
    // here because the fixture vocabulary is ~40 words (real pipelines
    // use 50-100-token spans; the dataflow is identical).
    // Scale shape: chunking is map-side (one explode), the dup-span set
    // is ONE hash aggregate on the span key, and the verdict re-joins
    // spans to that set on the same key — two shuffles total, all keys
    // content-derived, never O(n²). At 100 TB the span string would be
    // xxhash64-compressed before the shuffle (halves shuffle bytes);
    // kept as the raw string here so the DuckDB oracle shares the key.
    Decl("dedup_span",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |spans AS (SELECT doc_id,
        |    array_to_string(list_slice(tks, i * 3 + 1, i * 3 + 3), ' ')
        |      AS span
        |  FROM toks,
        |    UNNEST(range(0, CAST(ceil(n / 3.0) AS BIGINT))) AS u(i)),
        |dup AS (SELECT span FROM spans GROUP BY span
        |        HAVING COUNT(DISTINCT doc_id) >= 2)
        |SELECT s.doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_spans,
        |  CAST(SUM(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS dup_frac
        |FROM spans s LEFT JOIN dup d ON s.span = d.span
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val SpanTok = 3
      val spans = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
        .withColumn("n", size(col("tks")))
        .select(col("doc_id"), col("tks"),
          // greatest(0, ...) guard: split() always yields >= 1 token so
          // n >= 1 today, but sequence(0, -1) would DESCEND ([0, -1] —
          // two spurious spans) where DuckDB's range(0, 0) is empty;
          // pin the agreement by construction, not by fixture shape
          explode(sequence(lit(0L), greatest(lit(0L),
            ceil(col("n") / lit(SpanTok.toDouble)).cast(LongType) - 1)))
            .as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("tks"),
            (col("i") * SpanTok + 1).cast(IntegerType), lit(SpanTok)))
            .as("span"))
      // materialize: spans feeds BOTH the dup-set agg and the verdict
      // join; without it Spark re-runs the chunking scan per side.
      val sp = spans.localCheckpoint()
      val dup = sp.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("span"), lit(1).as("is_dup"))
      sp.join(dup, Seq("span"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(coalesce(col("is_dup"), lit(0)).cast(LongType))
            .as("n_dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          (col("n_dup_spans").cast(DoubleType) / col("n_spans"))
            .as("dup_frac"))
        .orderBy("doc_id")
    },

    // The span-dedup ACTION (dedup_span detects, this one REWRITES) —
    // the exact-substring scrub of the train-data-dedup literature
    // (Lee et al. 2022) and C4's repeated-span removal: every 3-token
    // span occurring in ≥2 distinct documents is dropped, and each
    // document is REBUILT from its surviving spans in order. The
    // cleaned text is oracled EXACTLY via sha-256 (engines agree on
    // the reconstruction byte-for-byte or the hash misses), alongside
    // span/drop/token accounting. Reconstruction is deterministic in
    // the face of unordered aggregation: spans carry their index, the
    // collected list is sorted on it before joining (DuckDB twin:
    // string_agg ... ORDER BY i). Scale: span table + dup-set agg +
    // verdict join are dedup_span's shapes; the rebuild adds one
    // (doc)-keyed aggregate whose payload is the document itself —
    // input-linear, the cost of any rewrite pass.
    Decl("text_span_scrub",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |spans AS (SELECT doc_id, i,
        |    array_to_string(list_slice(tks, i * 3 + 1, i * 3 + 3), ' ')
        |      AS span
        |  FROM toks,
        |    UNNEST(range(0, CAST(ceil(n / 3.0) AS BIGINT))) AS u(i)),
        |dup AS MATERIALIZED (SELECT span FROM spans GROUP BY span
        |      HAVING COUNT(DISTINCT doc_id) >= 2),
        |k AS (SELECT s.doc_id, s.i, s.span,
        |        d.span IS NOT NULL AS isdup
        |      FROM spans s LEFT JOIN dup d ON d.span = s.span),
        |c AS (SELECT doc_id, COUNT(*) AS n_spans,
        |        SUM(CASE WHEN isdup THEN 1 ELSE 0 END) AS n_dropped,
        |        COALESCE(string_agg(CASE WHEN NOT isdup THEN span END,
        |          ' ' ORDER BY i), '') AS clean
        |      FROM k GROUP BY doc_id)
        |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
        |  CAST(n_dropped AS BIGINT) AS n_dropped,
        |  CAST(CASE WHEN clean = '' THEN 0
        |       ELSE len(string_split(clean, ' ')) END AS BIGINT)
        |    AS clean_ntok,
        |  sha256(clean) AS clean_sha
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val SpanTok = 3
      val spans = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
        .withColumn("n", size(col("tks")))
        .select(col("doc_id"), col("tks"),
          explode(sequence(lit(0L), greatest(lit(0L),
            ceil(col("n") / lit(SpanTok.toDouble)).cast(LongType) - 1)))
            .as("i"))
        .select(col("doc_id"), col("i"),
          concat_ws(" ", slice(col("tks"),
            (col("i") * SpanTok + 1).cast(IntegerType), lit(SpanTok)))
            .as("span"))
        .localCheckpoint() // dup-set agg + verdict join share the scan
      val dup = spans.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("span"), lit(1).as("is_dup"))
      // collect_list drops the nulls the `when` leaves for dup spans;
      // array_sort on (i, span) structs restores document order before
      // the join — the unordered-agg determinism idiom
      val clean = array_join(transform(
        array_sort(collect_list(when(coalesce(col("is_dup"), lit(0)) === 0,
          struct(col("i"), col("span"))))),
        x => x.getField("span")), " ")
      spans.join(dup, Seq("span"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(coalesce(col("is_dup"), lit(0)).cast(LongType))
            .as("n_dropped"),
          clean.as("clean"))
        .select(col("doc_id"), col("n_spans"), col("n_dropped"),
          when(col("clean") === "", 0L)
            .otherwise(size(split(col("clean"), " ")).cast(LongType))
            .as("clean_ntok"),
          sha2(col("clean"), 256).as("clean_sha"))
        .orderBy("doc_id")
    }
  )

  /** The simjoin_prefix pipeline body, callable on any documents frame
    * (DedupSpec drives it on repartitioned input to pin shuffle-order
    * invariance). Both derived frames feed SELF-joins (pref⋈pref
    * candidates, sh⋈sh verify): without materialization Spark
    * re-executes the whole scan→shingle→freq→regroup pipeline once per
    * join side (no ReusedExchange across differently-aliased subtrees —
    * measured 14.9 s → 6.2 s at sf0.1, DuckDB parity). Same pattern as
    * splitBuckets: compute the corpus pipeline once, join the
    * materialized result. */
  private[graft] def prefixSimjoin(docs: DataFrame): DataFrame = {
    // r16 measured: LAZY checkpoints here are a wash (ABAB take-min
    // medians 2.93 vs 2.88 s) — the cost is the chain's real compute
    // plus its exchange-bounded stage latency, not the eager
    // materialization jobs. Kept eager (the measured-at-introduction
    // form).
    val sh = prefixShingles(docs).localCheckpoint()
    val pref = prefixTokens(sh).localCheckpoint()
    val cand = pref.select(col("doc_id").as("d1"), col("n").as("n1"),
        col("tok"))
      .join(pref.select(col("doc_id").as("d2"), col("n").as("n2"),
        col("tok")), Seq("tok"))
      .filter(col("d1") < col("d2") &&
        lit(5) * least(col("n1"), col("n2")) >=
          lit(4) * greatest(col("n1"), col("n2")))
      .select("d1", "d2").distinct()
    val inter = size(array_intersect(col("s1"), col("s2")))
    val uni = size(col("s1")) + size(col("s2")) - inter
    cand
      .join(sh.select(col("doc_id").as("d1"), col("s").as("s1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("s").as("s2")), "d2")
      .filter(lit(5) * inter >= lit(4) * uni)
      .select(col("d1"), col("d2"),
        (inter.cast(DoubleType) / uni).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Distinct word-trigram shingle sets per document (docs with < 3
    * tokens have no trigram and drop out, mirrored by the oracle's
    * len >= 3 guard — and the guard also keeps `sequence()` ascending,
    * the same hazard dedup_ngram documents). */
  private[graft] def prefixShingles(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("tks"))
      .filter(size(col("tks")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, size(tks) - 2), i -> concat(" +
          "element_at(tks, i), ' ', element_at(tks, i + 1), ' ', " +
          "element_at(tks, i + 2)))")).as("s"))

  /** Per-doc prefix tokens under the global rarest-first order: explode
    * shingles, count document frequency, regroup sorting each doc's
    * shingles by (freq, token) — the sort_array-of-structs makes the
    * collect_list order-independent — and keep the first
    * n - ceil(0.8·n) + 1 (integer form: n - (4n+4) DIV 5 + 1). */
  private[graft] def prefixTokens(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("s")).as("tok"))
    // r17 (§2.4 — two operations keyed the same way share one
    // exchange): the document frequency used to be a groupBy(tok)
    // aggregate JOINED back onto the token stream — the SMJ sorted the
    // full stream by tok anyway, so the pipeline paid exchange+agg+join
    // where a count() OVER (PARTITION BY tok) pays exactly one
    // exchange+sort and emits (doc_id, tok, c) directly. Same exact
    // integer count per token ⇒ identical prefix ordering and oracle
    // hashes (pinned tri-scale). The declared query's dumped plan only
    // shows the checkpoint scans, so the shape is pinned where it
    // lives: DedupSpec asserts this pipeline plans join-free with
    // exactly two shuffles (tok window, doc_id regroup).
    ex.withColumn("c", count(lit(1)).over(Window.partitionBy("tok")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("c"), col("tok")))).as("st"))
      .select(col("doc_id"), expr("transform(st, x -> x.tok)").as("os"),
        size(col("st")).as("n"))
      .select(col("doc_id"), col("n"),
        explode(expr("slice(os, 1, n - ((4*n + 4) div 5) + 1)")).as("tok"))
  }
}
