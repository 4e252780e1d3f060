package graft

/** Dev tool (test scope): regenerate PLANS.md — the executed physical
  * plans of the headline queries, the artifact to eyeball for shuffle
  * structure, pushdown, and codegen spans. Run:
  * `Test/runMain graft.DumpPlans [sfDir]` from the repo root. */
object DumpPlans {
  private val Headline = Seq(
    "q1_pricing_summary",   // wide agg + pushed filter
    "q5_region_revenue",    // 6-way broadcast star join
    "q9_latest_order",      // WindowGroupLimit dedup
    "q24_minhash_dedup",    // LSH dedup: compiled signatures, band join
    "q31_ann_ivf",          // persistent IVF index, pruned probe
    "q32_ann_srp",          // single-scan multi-table SRP LSH
    "q54_topk_per_key",     // custom TopKPerKeyExec plan node
    "q66_paragraph_dedup",  // fingerprint election + reassembly
    "q71_range_join",       // bin equi-join (no nested loop)
    "q76_hygiene_pipeline", // full hygiene chain
    "q79_bloom_prefilter",  // compiled bloom probe, scan-side
    "q90_fuzzy_join",       // deletion-neighborhood blocking
    "q92_scd2",             // window chain on one key Exchange
    "q93_pagerank",         // iterative integer rank rounds
    "q96_salted_join",      // salt-replicated broadcast dim
    "q103_anomaly",         // literal-threshold k-sigma: no stats join
    "q104_bpe_encode",      // compiled BPE projection, zero shuffle
    "q105_image_near_dup",  // byte-pigeonhole hamming candidate join
    "q110_bm25",            // semi-join postings cut, all-broadcast scoring
    "q115_kmeans",          // shuffle-free compiled cell assignment
    "q118_bm25_index",      // bucket-pruned inverted-index probe
    "q120_containment",     // df-capped candidates + exact verify joins
    "q119_hybrid_rrf",      // BM25 + PRF dense fusion
    "q132_basket_rules",    // apriori prune + broadcast marginals
    "q134_triangles",       // degree-oriented wedge equi-joins
    "q135_sliding_distinct", // register-table range-window roll
    "q137_power_iteration", // literal-direction matrix-free rounds
    "q143_ewma_chart",      // one-shuffle array-side fold
    "q128_communities",     // rank-keyed packed-argmax label propagation
    "q210_louvain",         // integer-gain argmax rounds, no per-node sort
    "q212_louvain_coarse",  // level-2 contraction + weighted sweep
    "q246_louvain_fixpoint", // multi-level contraction to a fixpoint
    "q213_ann_ivf_balanced", // hot-cell re-split quantizer, pruned probe
    "q250_maxsim",          // late-interaction MaxSim: broadcast q-tokens, 2 hash aggs, TopKPerKey
    "q251_maxsim_refine",   // two-stage MaxSim: pooled pruning, broadcast-semi-join token re-score
    "q252_maxsim_recall_curve", // ONE widened exact-scored candidate set re-ranked per cut
    "q253_maxsim_ann",      // SRP bucket equi-join stage 1 (broadcast query side), shared re-score
    "q254_maxsim_ann_indexed", // persistent (t,bucket)-partitioned SRP layout, pruned probe
    "q255_maxsim_srp_tables",  // tables-knob recall sweep: one collision pass, per-cut re-rank
    "q249_gini",            // range-partitioned spine prefix sum (no global window)
    "q175_hits",            // iteration-bound hub/authority rounds on durable prep
    "q173_hyperanf",        // register-merge rounds, checkpoint-bounded lineage
    "q231_dbscan")          // weighted-collapse 5-probe eps-join, hot-cell shard cap, core-edge CC

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of the headline queries\n\n")
    sb.append(s"Generated by `Test/runMain graft.DumpPlans` against `$dir`.\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` at the scans,\n")
    sb.append("`BroadcastHashJoin` on dimension joins, `WindowGroupLimit` /\n")
    sb.append("`TakeOrderedAndProject` for top-k, `*(n)` whole-stage codegen\n")
    sb.append("spans, and the ABSENCE of CartesianProduct everywhere.\n")
    for (name <- Headline) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize AQE so the printed plan is the executed one
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(12000))
      sb.append("```\n")
    }
    val out = java.nio.file.Paths.get("PLANS.md")
    java.nio.file.Files.write(out, sb.toString.getBytes("UTF-8"))
    println(s"wrote ${out.toAbsolutePath}")
    spark.stop()
  }
}
