package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession

/** Shuffle-volume weak-scaling audit — the measured answer to "is there
  * a shuffle here that becomes the bottleneck at 100 TB?".
  *
  * For each audited query it runs the SAME plan at sf0.01 and sf0.1
  * (10× the rows) and tallies the bytes/records every task writes to
  * shuffle. Unlike wall-clock, shuffle volume does not care about box
  * load, codegen warm-up, or run order, so the growth RATIO is a
  * fingerprint of the operator's scale shape. Record counts are the
  * stable quantity; bytes also move with spill and heap (how much the
  * map-side partials combined before spilling), so two runs over the
  * same records can differ in bytes:
  *
  *   ~0×   the operator never shuffles (TakeOrdered top-k);
  *   ~1×   the shuffle is output-bounded (sketches: registers/bottom-k
  *         partials are fixed-size regardless of input);
  *   ~10×  the shuffle is input-linear (joins, windows, token aggs) —
  *         acceptable when the shuffled payload is the data itself;
  *   ≫10×  superlinear — a pair blowup or replication bug. None allowed.
  *
  * ScaleSpec pins the classes; this main prints the table and writes
  * SCALING.md for review. Run with the usual classes + spark-jars
  * classpath: `java -cp ... graft.ScaleAudit [outFile]`.
  */
object ScaleAudit {

  /** Run `name` on `dir` and return (shuffleBytes, shuffleRecords).
    * Materializes through the `noop` sink, NOT `.count()`: under count
    * Catalyst prunes every column the count doesn't need — e.g.
    * profile_columns' whole multi-distinct Expand shuffle vanished and
    * the audit measured 46 bytes for a plan that really shuffles
    * ~218 KB. noop executes the declared plan in full, sink-less. */
  def measure(spark: SparkSession, name: String, dir: String): (Long, Long) = {
    val tally = new TaskTally
    spark.sparkContext.addSparkListener(tally)
    try {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000)
      val s = tally.snap
      (s.shuffleBytes, s.shuffleRecords)
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  /** (query, expected scale shape) — one representative per class, now
    * covering every query family (relational, sketch, profiler exact +
    * approx, window, join, text, dedup, ANN, multimodal, warehouse,
    * graph, asof). */
  val audited: Seq[(String, String)] = Seq(
    "topk" -> "no-shuffle: TakeOrderedAndProject per-partition heaps",
    "sketch_hll_registers" -> "output-bounded: 256-register partials",
    "sketch_kmv" -> "output-bounded: KmvAgg ships <=k longs per partition",
    "agg_hash" -> "output-bounded: map-side combine ships group partials",
    "agg_mad_approx" -> "output-bounded: percentile-sketch partials",
    "profile_columns" -> "NDV-linear: multi-distinct Expand partials",
    "profile_columns_approx" -> "output-bounded: fixed HLL sketch per column",
    "window_rank" -> "input-linear: one hash exchange of the fact table",
    "join_multi" -> "input-linear: fact-side shuffle join",
    "text_tfidf" -> "input-linear: per-(doc,token) weight rows",
    "dedup_near" -> "input-linear: LSH band keys, bucketed candidates",
    "sim_ann_ivf" -> "shuffle-free probe: broadcast centroids + TakeOrdered",
    "sim_topk_pq" -> ("shuffle-free ADC: broadcast query table + " +
      "two nested TakeOrdereds (approx candidates, exact re-rank)"),
    "sim_ann_ivfpq" -> ("shuffle-free cell-pruned ADC: broadcast probe " +
      "frame gates the scan to ~nProbe/nCells of the corpus"),
    "sim_ann_ivfpq_residual" -> ("shuffle-free residual IVFADC: same " +
      "probe gate, residual codes via per-cell bias constants"),
    "pq_fit_codebooks" -> ("output-bounded: <=1024 (sub, code, dim) " +
      "keys after map-side partials — the distributed PQ-fit shape"),
    "multimodal_phash" -> "output-bounded: 2-long hash-cluster partials",
    "scd2_history" -> "input-linear: one key exchange for the change windows",
    "graph_pagerank" -> ("edge-linear x fixed iterations: shuffle tracks " +
      "|E|, which itself grows 39.5x/13.3x across these hops (the " +
      "DISTINCT co-order pair space saturates slowly at tiny sf) — " +
      "measure against edges, not raw rows"),
    "join_asof" -> "input-linear: union + per-key ordering exchange",
    "graph_triangles" -> ("edge-linear wedges: degree-ordered " +
      "orientation caps out-degree at O(sqrt(E)), so the wedge space " +
      "is Σ outdeg² — measure against |E| like pagerank"),
    "dq_expectations" -> ("NDV-linear BY DECLARED INTENT: the " +
      "uniqueness expectation is an exact distinct (the honest check); " +
      "every other expectation is an output-bounded conditional agg"),
    "dq_expectations_approx" -> ("output-bounded: the uniqueness check " +
      "ships a fixed HLL sketch instead of the exact distinct's Expand"),
    "multimodal_pca_fit" -> ("model-bounded: power sums over <=110 " +
      "(i, j) keys after map-side partials; each power-iteration " +
      "round joins a 100-row covariance frame — never corpus-sized"),
    "text_nb_train" -> ("vocab-bounded: (class x token) count partials " +
      "+ an n_classes-row prior frame — model size, never corpus size"),
    "text_nb_classify" -> ("input-linear scoring: test tokens x " +
      "n_classes terms into a (doc, class) partial+final aggregate; " +
      "the model side is the vocab-bounded count table"),
    "text_bpe_learn" -> ("vocab-linear x 4 rounds: pair counts shuffle " +
      "over the DISTINCT word table (the corpus-sized rollup happens " +
      "once up front), best pair rides a broadcast 1-row frame"),
    "dq_psi" -> "output-bounded: <=12 bucket rows per partition partial",
    "multimodal_pca_project" -> ("input-linear scoring atop a " +
      "model-bounded fit: means + final iterate ride broadcast frames, " +
      "scoring is one (doc)-keyed partial+final aggregate"),
    "stream_nb_classify" -> ("class-bounded monitor atop the classify " +
      "scoring shuffle: the final aggregate is n_classes rows"),
    "text_bpe_encode" -> ("vocab-bounded merge folds + one token-keyed " +
      "join fanning symbol counts back to the corpus (input-linear)"),
    "join_dpp" -> ("input-linear on the SURVIVING partitions only: the " +
      "dim filter reaches the partitioned fact scan as a runtime " +
      "pruning subquery before the aggregate's partial+final exchange"),
    "zorder_prune" -> ("amortized input-linear: the fingerprint is the " +
      "ONE-TIME repartitionByRange clustering write (first touch in " +
      "the fresh audit JVM — the same adjudication as bucketed_join); " +
      "every later box query is a pruned scan + one partial+final " +
      "aggregate, no shuffle beyond the 1-row partials"),
    "multimodal_pca_project2" -> ("input-linear scoring atop the " +
      "model-bounded two-component fit: deflation is a map over the " +
      "100-row covariance frame, the second power run joins the same " +
      "broadcast-scale frames — adding a component adds zero " +
      "corpus-sized shuffles"),
    "sim_hard_negatives" -> ("candidate-bounded mining on the FITTED " +
      "occupancy-scaled index (r13 — the fixed 8-cell gate retired): " +
      "label-blocked positives + fitted-probe-cell negatives into " +
      "anchor-keyed struct-max argmax AGGREGATES (map-side partials; " +
      "a row_number window would ship every candidate pair). The " +
      "shuffled payload is the corpus side of the two joins (input-" +
      "linear) + anchor-bounded partials + the shared one-time fit. " +
      "NOTE the r2 hop here reads ~17x from a JOIN-PLAN SWITCH, not a " +
      "scaling law: at sf0.01 the planner broadcasts the join legs " +
      "(near-zero shuffle writes), at sf0.1 the corpus side pays its " +
      "input-linear shuffle — a near-zero base inflates any ratio. " +
      "ScaleSpec's bounded-class third hop holds BOTH points in the " +
      "shuffle regime and measures 11.1x at 10x rows"),
    "knn_classify_ann" -> ("probe-bounded classification on the FITTED " +
      "occupancy-scaled index (r13 — the fixed sign-LSH bucket gate " +
      "retired): candidates per probe are KnnFittedNProbe x occupancy " +
      "~512 rows at any corpus size; the vote is a probe-keyed window " +
      "+ count agg over that bounded frame, plus the shared one-time " +
      "fit partials"),
    "mix_importance_weights" -> ("model-bounded fit + input-linear " +
      "scoring: one conditional-aggregate corpus pass into 1024 " +
      "bucket partials, a broadcast lambda table, then a (doc)-keyed " +
      "partial+final exact-decimal sum and a TakeOrdered resample"),
    "split_leakage_safe" -> ("component-bounded: rides the memoized " +
      "candidate/component frames (label cardinality); the split gate " +
      "is a per-row map and the leak audit joins the edge list " +
      "(candidates << corpus) against it twice"),
    "sim_bitext_mine" -> ("cross-side candidates gated by the FITTED " +
      "occupancy-scaled union index (r13 — the last fixed-cell gate " +
      "retired, r12 verdict item 1): candidates are |side| x nProbe x " +
      "occupancy, input-LINEAR; margins and both best-picks are " +
      "windows over that candidate-cardinality frame. The fixture " +
      "hops sit in the gate's SMALL-n cap regime (sides of 96-381 " +
      "rows give 3-13 fitted cells, nProbe=8 covers most of them, " +
      "candidates saturate at ~the full cross below ~nProbe x " +
      "occupancy = 256 rows/side) — yet the r2 hop already reads ~9x " +
      "at 4x rows where the retired fixed 8-cell gate measured 13.5x; " +
      "the LINEAR-regime witness is ScaleSpec's TWO synthetic decade " +
      "hops (10->100 and 30->300 copies on the r14 signed-permutation " +
      "generator — the r13 flip-only copies left same-base cross-copy " +
      "pairs axis-correlated, which read as gate curvature), both " +
      "pinned < 16x; the kernel-bearing side frame is checkpointed " +
      "once (r14) instead of re-evaluated per candidate/cosine leg"),
    "mix_temperature" -> ("domain-bounded: one lang-keyed count " +
      "aggregate (map-side partials) + a broadcast 1-row normalizer — " +
      "the whole model is |langs| rows"),
    "text_bigram_nll" -> ("model-bounded fit + input-linear scoring: " +
      "the bigram count table is bigram-TYPE-bounded (vocab^2, " +
      "Zipf-truncated in practice); scoring joins test bigrams " +
      "against it on token keys"),
    "stream_psi_monitor" -> ("monitor-state-bounded: one corpus scan " +
      "into (window x bucket) count partials; reference counts and " +
      "both totals ride broadcast frames — the PSI assembly never " +
      "touches corpus-sized data again"),
    "multimodal_audio_decode" -> ("per-row codec fold: the WAV payload " +
      "dies inside the partition decode, only the 6-long feature row " +
      "reaches the output-sort exchange (input-linear in rows, " +
      "payload-size-free)"),
    "dedup_embedding_ann" -> ("input-linear fitted ANN dedup (r12: the " +
      "occupancy rule ENACTED): cells = n/32 via stride seeds + one " +
      "Lloyd round, so candidates stay probes x nProbe x occupancy; " +
      "assignment/probing are map-only against the broadcast fitted " +
      "centroid array; the remaining exchanges are the fit's 64-per-" +
      "vector mean partials (input-linear) and the candidate-" +
      "cardinality distinct + verify re-joins. ScaleSpec pins a " +
      "synthetic 10x third hop linear"),
    "stream_curation" -> ("model-bounded curation atop input-linear " +
      "classify scoring: NB model + ppm rate table ride broadcast " +
      "frames, the data pass is one gated classify + one " +
      "(route, lang)-keyed aggregate of domain cardinality"),
    "dedup_embedding_ann_keep" -> ("candidate-bounded clustering on the " +
      "occupancy-scaled fitted gate (r12): the input-linear candidate " +
      "space feeds the verify + the label-propagation loop, whose " +
      "per-round frames are edge-endpoint-sized; the singleton rejoin " +
      "is the one corpus-keyed exchange"),
    "dedup_embedding_incremental" -> ("probe-bounded admission gate on " +
      "the STANDING-fitted occupancy-scaled index (r12): arriving x " +
      "standing candidates are ~nProbe x occupancy per arrival; the " +
      "arriving-side broadcast is SIZE-GATED (one count decides — " +
      "forced for a known-tiny batch, AQE's shuffle join above the " +
      "ceiling, because AQE's runtime broadcast conversion lands " +
      "after both legs' map-side shuffle writes); verdicts aggregate " +
      "on the arrival key"),
    "sim_ann_ivf_fitted" -> ("fitted-index retrieval: the one-time " +
      "Lloyd fit ships input-linear 64-per-vector mean partials; the " +
      "probe query itself is a broadcast 8-row frame gating a " +
      "map-only-assigned corpus scan into TakeOrdered"),
    "curation_pipeline_e2e" -> ("composed stage pipeline (r14): every " +
      "exchange is a declared stage's own — the Gopher token " +
      "aggregate, LSH band keys, the sha60 gram-hash join, the pack " +
      "window (all input-linear, none ships corpus text past its " +
      "stage) and the label-bounded component propagation (memoized, " +
      "shared with the dedup family); the report assembly is nine " +
      "single-row broadcast crosses — expect ~input-linear totals"),
    "sim_ann_batch" -> ("batched-probe retrieval (r14): a FIXED 25-" +
      "probe batch served against the fitted index — corpus cell " +
      "assignment is map-only against the broadcast centroid array, " +
      "the exploded probe frame (25 x nProbe rows) broadcasts into " +
      "the cell equi-join, and the only exchange is the per-probe " +
      "rank window over probes x nProbe x occupancy candidate rows — " +
      "~flat as the corpus grows (occupancy ~32 under the fitted cell " +
      "rule; ScaleSpec pins the warm-fit marginal <=2x at 10x rows); " +
      "the one-time shared Lloyd fit's input-linear partials are the " +
      "fittedCsFull memo, identical to the dedup family's"),
    "sim_topk_pq_fitted" -> ("refit-ADC retrieval: the one-time PQ " +
      "Lloyd fit ships <=1024 (sub, code, dim) mean partials " +
      "(pq_fit_codebooks' shape); the scan itself is map-only code " +
      "assignment against the broadcast refit books into two nested " +
      "TakeOrdereds"),
    "sim_ann_ivfpq_fitted" -> ("fully-fitted IVFADC: both one-time " +
      "Lloyd fits (input-linear cell-mean partials + <=1024 PQ " +
      "partials) feed a map-only assigned/coded corpus scan gated by " +
      "the broadcast 8-row probe frame into two nested TakeOrdereds"),
    "text_decontaminate" -> ("key-only gram join: both splits ship " +
      "sha60 gram HASHES (one distinct each), contamination is a left " +
      "join on the hash key + a doc-keyed count — gram text never " +
      "shuffles"),
    "text_pii_scrub" -> ("map-only redaction: plant + scrub + hash per " +
      "row; the only exchange is the output order"),
    "dq_embedding_drift" -> ("cell-bounded embedding-space monitor " +
      "(r13): assignment of every vector to its fitted cell is " +
      "map-only against the broadcast centroid array, so the data " +
      "pass ships one (cell, side) count partial per cell — " +
      "|cells| = n/32 rows, a 1/32-constant input-linear shuffle of " +
      "(cell, n_ref, n_cur) BIGINT triples (~24 payload bytes/row " +
      "before encoding); the dominant exchange is the one-time shared " +
      "Lloyd fit's input-linear 64-per-vector mean partials (the " +
      "fittedCsStanding memo, identical to the admission gate's)"),
    "sim_ann_catalog_served" -> ("catalog-served retrieval (r15): " +
      "the once-guarded save clusters the base table into its cell " +
      "BUCKETS (one input-linear repartition — write-once, paid here " +
      "because the audit's first touch per dir IS the save); serving " +
      "itself is a bucket-PRUNED scan (literal probe-cell IN list, " +
      "~nProbe/64 of the index read) joined by the broadcast " +
      "single-row query probe into TakeOrdered — the per-query " +
      "marginal is ~zero shuffle at any corpus size"),
    "sim_ann_cobucketed_candidates" -> ("co-bucketed two-index join " +
      "serving (r16): the once-guarded saves cluster BOTH tables " +
      "(standing index + arrivals) into the identical 64-bucket cell " +
      "spec — two input-linear write-time repartitions, paid here " +
      "because the audit's first touch per dir IS the save; the " +
      "candidate join itself consumes the co-bucketed distribution " +
      "with ZERO exchange on the join key (CatalogSpec pins the " +
      "executed plan), so the per-batch marginal is the per-arrival " +
      "aggregate (narrow count/max partials with map-side combine, " +
      "arrival-linear rows) + the output sort"),
    "curation_by_lang" -> ("per-language curation slice (r15): four " +
      "doc_id-keyed survivor joins over the memoized lineage-cut " +
      "stage frames + ONE lang-bounded count aggregate + the stack " +
      "unpivot — the stage frames' own exchanges are charged to the " +
      "e2e pipeline's audit row (shared memo); this query's marginal " +
      "shuffle is the ID joins + a |langs|-row aggregate, " +
      "input-linear in IDs, output-bounded in the report"))

  /** The three driver scale factors — two 10× hops. The ratio PAIR
    * separates shapes mechanically: input-linear shows (~10×, ~10×);
    * output-bounded flattens on BOTH hops once the sketch saturates;
    * NDV-linear tracks distinct-value growth (typically high on both
    * hops for id-like columns, flattening only for saturating
    * low-cardinality columns) — curvature, not a single point. */
  val dirs: Seq[String] = Seq("/root/testdata/sf0.001",
    "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/SCALING.md")
    val spark = GraftSession.builder(GraftSession.mainCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def ratio(a: Long, b: Long): String =
      if (a == 0) (if (b == 0) "0→0" else "0→>0")
      else f"${b.toDouble / a}%.1f×"
    val sb = new StringBuilder
    sb ++= "# SCALING — measured shuffle-volume growth, sf0.001 → sf0.01 → sf0.1\n\n"
    sb ++= "Generated by `graft.ScaleAudit`. Shuffle write bytes per query at\n"
    sb ++= "the three driver scale factors (two 10×-rows hops) and both growth\n"
    sb ++= "ratios. Volume ignores load and warm-up, but bytes also move with\n"
    sb ++= "spill and heap (how far map-side partials combined before\n"
    sb ++= "spilling), so two runs over the same records can differ in bytes;\n"
    sb ++= "record counts are the stable quantity. The ratio pair is the\n"
    sb ++= "operator's scale fingerprint — curvature, not a\n"
    sb ++= "single point: ~0/~1× on both hops = shuffle-free or output-bounded\n"
    sb ++= "(sketch partials saturate), ~10×/~10× = input-linear (the shuffled\n"
    sb ++= "payload is the data), NDV-linear tracks distinct-value growth\n"
    sb ++= "(high while id-like NDV grows, flattening only if cardinality\n"
    sb ++= "saturates), ≫10× = superlinear blowup (none allowed; ScaleSpec\n"
    sb ++= "pins each class at both hops).\n\n"
    sb ++= "| query | shape | b(0.001) | b(0.01) | b(0.1) | r1 | r2 | records sf0.1 |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    audited.foreach { case (name, shape) =>
      val m = dirs.map(d => measure(spark, name, d))
      val Seq(b1, b2, b3) = m.map(_._1)
      val r = m.last._2
      sb ++= f"| `$name` | $shape | ${b1}%,d | ${b2}%,d | ${b3}%,d " +
        f"| ${ratio(b1, b2)} | ${ratio(b2, b3)} | ${r}%,d |\n"
      println(f"$name%-24s $b1%,13d -> $b2%,13d -> $b3%,13d  " +
        f"(${ratio(b1, b2)}, ${ratio(b2, b3)})")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
