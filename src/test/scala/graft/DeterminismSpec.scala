package graft

import org.scalatest.funsuite.AnyFunSuite

/** Run-to-run determinism for the queries where nondeterminism can hide
  * (seeded sampling, window tiebreaks, as-of matching, hash families,
  * top-k ties). The DuckDB oracle gate would only catch these flakily —
  * a nondeterministic query can agree with the oracle on one run and
  * diverge on the next. */
class DeterminismSpec extends AnyFunSuite with SparkSuite {

  private val risky = Seq(
    "sample",             // seeded RNG
    "window_rank",        // tiebreak completeness
    "window_frame",       // frame-content stability
    "join_asof",          // per-(key,ts) dedup + tag ordering
    "join_asof_forward",
    "topk",               // boundary ties
    "dedup_near",         // hash family + bucket split/salt routing
    "dedup_simhash",      // hash family + bucket split/salt routing
    "text_fingerprint",   // hash + sliding min
    "sim_ann_lsh",        // bucket assignment
    "sim_ann_ivf",        // cell argmax ties
    "sim_ivf_fit",        // assignment + mean aggregation order
    "pipeline_clean",     // keep-min per content hash
    "knn_classify",       // vote ties
    "agg_string_concat",  // collect_set shuffle order (sorted before join)
    "agg_mode",           // count ties
    "agg_median",         // middle-row picks under window ties
    "agg_percentiles",    // anchor-row picks
    "agg_argmax",         // struct MAX ties
    "window_topk_agg",    // bounded-buffer merge order
    "join_asof_nearest",  // both-direction tie (backward wins)
    "join_bloom_prefilter", // sketch must be seed-stable
    "dedup_latest",       // recency ties (event_id tiebreak)
    "split_train_test",   // hash-gate assignment
    "time_resample_ffill", // grid join + window fill
    "time_resample_interp", // anchor picks + interpolation
    // round 4
    "sample_reservoir",   // hash-gate k-subset + double ordering
    "graph_components",   // iterative convergence across runs
    "time_ohlc",          // open/close picks under (ts, event_id) ties
    "attribution_last_touch", // view dedup + tag ordering
    "window_running_distinct", // first-occurrence flags under ts ties
    "window_rolling_corr", // frame membership under 5-key order
    "scd2_history",       // change-row picks + interval chaining
    "multimodal_embed",   // learned-PCA dims + top-k ties
    "text_bm25",          // score ties at the k boundary
    "heavy_hitters",      // count ties at the share gate
    "merge_upsert",       // full-outer result ordering
    "event_funnel",       // mapGroups walk under sorted ties
    "join_asof_tolerance", // dedup + tag ordering + gap gate
    "sample_group_n",     // hash-ranked per-group pick
    "dedup_incremental",  // LSH buckets + min-representative picks
    "contamination_check", // hash-gram semi-join under repartitioning
    "tpch_q2",            // min-cost window ties across suppliers
    // round 5
    "simjoin_prefix",     // prefix-token candidate set under freq ties
    "sample_weighted",    // priority ties at the k boundary
    "graph_pagerank",     // iterative join+sum rounds (integer-exact)
    "graph_triangles",    // two self-joins of a checkpointed edge set
    "skyline_2d",         // frontier join-back under (n, mx) ties
    // round 7
    "sketch_kmv",         // bounded-buffer insert/merge order
    "sketch_kmv_merge",   // per-group sketch union vs direct
    "sketch_kmv_jaccard", // membership joins over sketch frames
    "sim_topk_projected", // candidate-boundary ties at the 50 cut
    "multimodal_phash_near") // band-candidate dedup + hamming gate

  risky.foreach { name =>
    test(s"$name: two executions yield identical results") {
      val q = SparkEntry.queries(name)
      val a = q(spark, sf).collect().map(_.toSeq).toSeq
      val b = q(spark, sf).collect().map(_.toSeq).toSeq
      assert(a == b, s"$name differs between runs")
    }
  }

  test("join_asof is invariant under input repartitioning") {
    // run the as-of logic over REPARTITIONED SOURCE tables (shuffle-order
    // independence of the union-tag + last(ignoreNulls) window trick) —
    // repartitioning the *output* would only test sort stability
    val base = SparkEntry.queries("join_asof")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val ev = Tables.events(spark, sf).repartition(13)
    val od = Tables.orders(spark, sf).repartition(7)
    val again = queries.AsofRange.asofBackward(ev, od)
      .collect().map(_.toSeq).toSeq
    assert(base == again)
  }
}
