package graft

import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: the formatted physical plans of the headline
  * queries — the human-readable evidence that each operator's plan is
  * the one a 1000-executor deployment needs (filters pushed to the
  * scan, dimensions broadcast, top-k as TakeOrdered, co-located
  * bucketed joins, whole-stage codegen spans). PlanAuditSpec asserts
  * these shapes continuously; this artifact makes them reviewable.
  * Each plan is the EXECUTED one (count() first, so AQE finalizes).
  * An optional comma-separated query list replaces the headline set,
  * for per-query before/after evidence of an optimization.
  *
  * Usage: java -cp ... graft.PlanDump [sfDir] [outFile] [q1,q2,...]
  */
object PlanDump {

  private val headline = Seq(
    "agg_hash" -> "partial+final hash aggregate, no extra exchange",
    "proj_filter" -> "predicate + projection pushed into the parquet scan",
    "tpch_q6" -> "triple filter pushdown, 4-column pruned read",
    "tpch_q3" -> "selective dimension broadcast, top-10 TakeOrdered",
    "join_5way" -> "every dimension broadcast; single fact-side shuffle join",
    "tpch_q21" -> "decorrelated EXISTS/NOT EXISTS as left-semi + left-anti",
    "topk" -> "TakeOrderedAndProject (per-partition heaps, no global sort)",
    "dedup_near" -> "MinHash kernel map-side, one bucket-key shuffle",
    "sim_topk_cosine" -> "broadcast query vector, scan + TakeOrdered",
    "time_ohlc" -> "one (type, hour) shuffle shared by window and aggregate",
    "window_rolling_corr" -> "five power sums over ONE window spec",
    "bucketed_join" -> "co-located bucket scan, no exchange on either side",
    "merge_upsert" -> "single full-outer shuffle join (the MERGE dataflow)",
    "graph_components" -> ("vertex rejoin over checkpointed labels + " +
      "comp_size window (the rounds sit behind localCheckpoint)"),
    "time_autocorr" -> "hourly count series + lag window + exact power sums",
    "window_streak" -> "gaps-and-islands: three windows, one shuffle",
    "join_asof_tolerance" -> "union-tag as-of window with gap gate",
    "event_funnel" -> "one user-key shuffle + mapGroups funnel walk",
    "join_inner" -> ("NO broadcast hint — size-driven strategy (AQE at " +
      "scale would demote an outgrown dim to shuffle)"),
    "tpch_q9" -> ("partsupp synthesized in-plan (per-row sha60 map), " +
      "six-table profit join"),
    "sim_ann_lsh" -> ("multi-probe: broadcast probe-bucket explosion, " +
      "one equi-join on the bucket key"),
    "sketch_bloom" -> ("bitset bounded at 2^16 rows regardless of data " +
      "size; probe joins a broadcast of the bitset, never the key set"),
    "feature_hash" -> ("vocabulary-free: two map-side hashes + " +
      "partial+final aggregates, no dictionary broadcast anywhere"),
    "graph_jaccard" -> ("degrees attached to edges pre-wedge-join — " +
      "no post-aggregation join-back shuffles"),
    "dedup_span" -> ("span chunking map-side; dup-set agg and verdict " +
      "join both keyed by span content — two shuffles, never O(n²)"),
    "sketch_hll_merge" -> ("per-group sketches merged by register-wise " +
      "MAX — a 2^p-row shuffle replaces a re-scan of the union"),
    "stream_join" -> ("stream-stream interval join in batch: one " +
      "user_id equi-shuffle, time-range as post-join filter"),
    "dedup_cluster_rep" -> ("memoized candidate checkpoint feeds label " +
      "propagation; rep pick is one window over cluster-sized data"),
    "multimodal_decode_png" -> ("real javax.imageio decode inside " +
      "mapPartitions; binary column pruned after feature extraction"),
    "sketch_kmv" -> ("bottom-k as TakeOrderedAndProject (per-partition " +
      "heaps); rank window runs over the 64 surviving rows only"),
    "embed_project" -> ("JL projection is 16 ConstDot kernels in ONE " +
      "map stage — zero exchanges, fuses into the scan's codegen"),
    "profile_columns" -> ("7-column profile in one pass: multi-distinct " +
      "via a single Expand + aggregate, constant-size unpivot after"),
    "multimodal_phash" -> ("PNG decode + average-hash per partition; " +
      "only (id, 2 longs) reaches the duplicate-cluster shuffle"),
    "sim_topk_projected" -> ("two-stage retrieval: 16-dim projected " +
      "scoring over the corpus, exact 64-dim cosine on 50 candidates"),
    "multimodal_phash_near" -> ("Hamming-banded near-dup: band " +
      "equi-join over DISTINCT hash clusters, never the corpus"),
    "profile_columns_approx" -> ("NDV via fixed-size HLL sketch " +
      "partials — no Expand; the shuffle is output-bounded"),
    "agg_mad_approx" -> ("two bounded-state percentile-sketch " +
      "aggregates, broadcast med join — no window sort anywhere"),
    "knn_classify_ann" -> ("fitted-cell equi-join feeds the vote " +
      "(r13: KnnFittedNProbe=16 probed cells of the occupancy-scaled " +
      "index, ~512 candidates per probe at any corpus size) — never " +
      "the corpus cross. r15 multi-eval audit: the candidate subtree " +
      "feeds knnVote's linear window->vote chain exactly once; the " +
      "only repeated reference is the bare corpus scan — no " +
      "re-evaluated kernel, nothing to checkpoint"),
    "dq_expectations" -> ("five expectations in ONE conditional " +
      "aggregate over one scan + a hint-free anti-join FK check"),
    "dq_psi" -> ("one scan + one bucket groupBy; midpoint and side " +
      "totals ride broadcast single-row frames"),
    "dq_expectations_approx" -> ("uniqueness as a fixed-size HLL " +
      "sketch partial — the every-drop gate's shuffle is " +
      "output-bounded, no distinct Expand"),
    "multimodal_frames" -> ("real GIF sequence decode inside " +
      "mapPartitions; the binary column dies at the flatMap, only " +
      "(id, frame features) flow on"),
    "graph_triangles" -> ("degree-ordered orientation: wedge join " +
      "over out-edges only (Σ outdeg²), one equi-join closes each " +
      "triangle, found once and exploded to its corners"),
    "sim_topk_pq" -> ("PQ/ADC retrieval: broadcast 8×16 distance " +
      "table, 8 lookups per row, two nested TakeOrdereds — zero " +
      "exchanges end to end"),
    "multimodal_frame_delta" -> ("GIF decode + per-pixel SAD in one " +
      "mapPartitions pass; keyframe gate is integer arithmetic, only " +
      "frame features reach the sort"),
    "sim_ann_ivfpq" -> ("IVFADC: broadcast 5-row probe frame gates a " +
      "BroadcastHashJoin on the cell key — ADC scans ~5/8 of the " +
      "corpus, zero exchanges, two nested TakeOrdereds"),
    "pq_fit_codebooks" -> ("distributed PQ fit: one explode to (sub, " +
      "code, dim) rows, partial+final decimal means over ≤1024 keys"),
    "text_nb_classify" -> ("NB scoring: checkpointed vocab-bounded " +
      "model table joins the test-token fan-out; (doc, class) score " +
      "agg partial+final; priors ride a broadcast frame"),
    "dq_expectations_route" -> ("row-level gate in one pass: dim left " +
      "join + key window + route split via ONE partitioned write; " +
      "result aggregates the read-back of both routes"),
    "scan_quarantine" -> ("PERMISSIVE parse per row; ok/quarantine " +
      "split is one conditional projection + one partitioned write, " +
      "no second pass"),
    "join_dpp" -> ("dynamic partition pruning: the dim filter reaches " +
      "the partitioned fact scan as a dynamicpruning subquery reusing " +
      "the dim broadcast — 2 of 5 directories read"),
    "zorder_prune" -> ("2-D box over the Morton-clustered layout: " +
      "both range predicates pushed to the parquet scan, whose " +
      "row-group stats skip the off-tile files"),
    "text_bpe_encode" -> ("learned merges applied over the DISTINCT " +
      "word table (vocab-bounded folds between checkpoints); one " +
      "token-keyed join fans symbol counts back to documents"),
    "multimodal_pca_project" -> ("fit → transform in one plan: means " +
      "and the converged iterate ride broadcast frames into a single " +
      "(doc)-keyed partial+final score aggregate"),
    "mix_importance_weights" -> ("DSIR: both hashed-unigram models in " +
      "ONE conditional aggregate pass; the 1024-row λ table joins " +
      "broadcast into a (doc)-keyed score agg; Gumbel-top-k resample " +
      "is a TakeOrderedAndProject"),
    "sim_hard_negatives" -> ("label-blocked positive join + " +
      "FITTED-probe-cell negative join (r13: the shared occupancy-" +
      "scaled index), each into an anchor-partitioned row_number " +
      "argmax — negatives bounded at nProbe × occupancy per anchor. " +
      "r15 multi-eval audit (the bitext ~6x class): both legs DO " +
      "re-read the corpus/anchor assignment frames, but a " +
      "localCheckpoint lineage cut measured 0.85 s -> 7.0 s " +
      "steady-state at sf0.1 — the materialized anchor stats defeat " +
      "the anchor-side broadcast and force a sort-merge join on the " +
      "10-value label key, so lineage stays intact by measurement"),
    "sim_bitext_mine" -> ("cross-side candidates from two FITTED-cell " +
      "equi-joins on the union-side occupancy-scaled index (r13 — " +
      "|side| × nProbe × occupancy, input-linear); checkpointed cosine " +
      "frame feeds both k-NN denominators and both best-pick windows"),
    "sim_ann_batch" -> ("batched-probe serving (r14): map-only corpus " +
      "cell assignment against the broadcast centroid array, the " +
      "25-probe exploded pcell frame broadcasts into the cell " +
      "equi-join, one candidate-bounded rank window — the shuffle " +
      "stays probe-bounded at any corpus size"),
    "curation_pipeline_e2e" -> ("the composed curation pipeline " +
      "(r14): each stage's own plan behind a lineage-cut survivor-ID " +
      "frame (Gopher agg, LSH components via the memoized frames, " +
      "gram-hash decontamination join, map-only scrub, pack window); " +
      "the 9-row report assembles from single-row broadcast crosses"),
    "multimodal_audio_decode" -> ("real javax.sound WAV round-trip " +
      "inside mapPartitions; the payload dies at the decode, only the " +
      "6-long feature row flows — no shuffle before the sort"),
    "stream_psi_monitor" -> ("one scan into (window × bucket) count " +
      "partials; reference counts and both totals ride broadcast " +
      "frames — the monitor state is model-sized"),
    "text_span_scrub" -> ("span table checkpointed once for the " +
      "dup-set agg and the verdict join; the rebuild is one " +
      "(doc)-keyed aggregate whose sorted-struct collect restores " +
      "document order"),
    "dedup_embedding_ann" -> ("label-free ANN dedup on the FITTED " +
      "occupancy-scaled index (cells = n/32, stride seeds + one Lloyd " +
      "round): map-only assignment/probing against the broadcast " +
      "centroid array, probe equi-join on the cell key, pair-distinct " +
      "+ two id re-joins into the exact-cosine verify — input-linear, " +
      "never the cross"),
    "sim_ann_ivf_fitted" -> ("fitted-index retrieval: the declared " +
      "promotion of the sim_ivf_fit witness — broadcast 8-row probe " +
      "frame over fitted cells gates the scan into TakeOrdered"),
    "sim_topk_pq_fitted" -> ("refit-ADC retrieval: the declared " +
      "promotion of pq_fit_codebooks — refit books (empty cells keep " +
      "seeds) drive both code assignment and the broadcast query " +
      "distance tables"),
    "sim_ann_ivfpq_fitted" -> ("fully-fitted IVFADC: occupancy-scaled " +
      "fitted cells gate the scan, refit books supply codes + query " +
      "tables — the production layout with both halves learned " +
      "in-engine"),
    "stream_curation" -> ("quarantine gate + NB classify + ppm " +
      "sampling in one composed plan: model and rate tables ride " +
      "broadcast frames; one classify fan-out + one domain-keyed " +
      "route aggregate"),
    "text_decontaminate" -> ("hashed-gram scrub: each split distincts " +
      "its sha60 grams, one left join on the hash key carries the hit " +
      "marker into the doc-keyed verdict aggregate — keys only, " +
      "never gram text"),
    "text_pii_scrub" -> ("pure per-row pass: plant, redact (two " +
      "regexp_replace), count, sha-256 — one map stage into the " +
      "output sort, no other exchange"),
    "dq_embedding_drift" -> ("embedding-space PSI on the fitted " +
      "quantizer: map-only cell assignment against the broadcast " +
      "centroid array, one |cells|-row count groupBy, smoothing " +
      "scalars ride broadcast single-row frames"),
    "sim_ann_catalog_served" -> ("catalog-served retrieval (r15): " +
      "the base table is BUCKETED by cell and the serve scan is " +
      "gated by a literal probe-cell IN list, so the plan shows " +
      "SelectedBucketsCount 8 out of 64 — the scan reads " +
      "~nProbe/buckets of the index at any corpus size; only the one " +
      "query row probes against the broadcast persisted centroids — " +
      "NO refit or corpus reassignment in the plan, TakeOrdered " +
      "closes it; save is once-guarded (one write-time clustering " +
      "shuffle), serve is read-many"),
    "curation_by_lang" -> ("per-language curation slice (r15): the " +
      "four survivor-ID frames (shared, memoized with the e2e " +
      "pipeline) left-join the corpus on the one doc_id key shape, " +
      "membership flags aggregate in a single lang-bounded groupBy, " +
      "stack() unpivots — rows = stages x langs, output-bounded"),
    "sim_ann_cobucketed_candidates" -> ("co-bucketed two-index join " +
      "serving (r16): arrivals and the standing index are persisted " +
      "under the IDENTICAL 64-bucket cell spec, so the candidate " +
      "join consumes both bucketed scans' hash distribution — no " +
      "exchange on the join key (with broadcast the small arrivals " +
      "side rides a BroadcastHashJoin instead; either way the scans " +
      "shuffle nothing) — and the only exchanges serve the " +
      "per-arrival count/best-cosine aggregate and the output sort"))

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/root/repo/PLANS.md")
    val why = headline.toMap
    val names = args.lift(2).fold(headline.map(_._1))(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = GraftSession.builder(GraftSession.mainCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `graft.PlanDump` on $sf. Evidence for the\n"
    sb ++= "100-TB design claims in COVERAGE.md: pushdown at the scan\n"
    sb ++= "(`PushedFilters`/`ReadSchema`), broadcast dimensions, TakeOrdered\n"
    sb ++= "top-k, bucketed no-exchange joins, whole-stage codegen spans.\n"
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = SparkEntry.queries(name)(spark, sf)
      df.count() // execute so AQE finalizes and metrics-backed nodes appear
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name${why.get(name).fold("")(" — " + _)}\n\n```\n$plan```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
