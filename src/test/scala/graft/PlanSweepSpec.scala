package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Executable form of PLAN_AUDIT's standing claim, swept over the ENTIRE
  * query inventory instead of the hand-picked ScalePlanSpec set:
  *
  *  1. No registered query's physical plan may contain a CartesianProduct.
  *  2. A BroadcastNestedLoopJoin may appear only in a query named in the
  *     reviewed allowlist below — every entry is the deliberate
  *     `crossJoin(broadcast(x))` idiom where `x` is provably small — AND
  *  3. (mechanical tripwire, applied to allowlisted queries too) the
  *     broadcast side of a BNLJ must never be a bare scan of a corpus
  *     table (events/documents/embeddings/lineitem/orders) with no
  *     Filter/Aggregate/Window/Generate/Limit above it: broadcasting an
  *     unbounded corpus is the one mistake the allowlist must not be able
  *     to hide.
  *
  * Why this matters at 100 TB: a cartesian (or an unbounded nested loop)
  * is the one plan shape no amount of partitioning rescues — O(|L|·|R|)
  * work regardless of cluster size. Every historical scale-killer this
  * project found (r4 geo_overpass_tiles band-join fallback, r7
  * emb_semantic_dedup, r10 geo_convoys) grew a candidate pair side; this
  * sweep pins the plan shape of all queries so a future edit that
  * silently drops an equi-join key fails in `sbt test`, not in a ×100
  * profile three rounds later.
  *
  * The allowlist was reviewed from evidence, not memory: PlanDumpTool
  * (Test/runMain graft.PlanDumpTool) prints every BNLJ's build-side
  * subtree; the four categories below are its output's exact partition.
  *
  * Plans are built against sf0.001 with AQE off (the initial static plan
  * is the shape that matters; AQE only improves it at runtime).
  */
class PlanSweepSpec extends SparkSpecBase {

  /** Build side is a global/grouped aggregate collapsed to a scalar or a
    * bounded summary frame (corpus totals, idf denominators, threshold
    * cutoffs, sweep parameter grids joined to aggregates).
    */
  private val scalarAggBroadcast = Set(
    "doc_collocations", "doc_dsir", "doc_lsh_band_tuning", "doc_lsh_recall",
    "doc_mixture_weights", "doc_ngram_lm_interp", "doc_quality_logreg",
    "doc_tfidf", "doc_token_budget", "doc_unigram_logprob",
    "doc_upsample_plan", "emb_ann_sweep", "emb_cluster_purity",
    "emb_dedup_sweep", "emb_ivf_balance", "emb_ivf_topk", "emb_pca_power",
    "emb_semantic_dedup", "fems_nfdrs_obs", "geo_hotspot_cells",
    "q25_inactive_customers", "q33_important_parts", "q48_basket_lift",
    "ts_crosscorr", "ts_sliding_distinct")

  /** Build side is a fixed probe/anchor set: a corpus scan under a
    * constant-ID filter (vec_id < 10 / < 50 — a bounded query workload,
    * the ANN-evaluation contract), never the full relation.
    */
  private val fixedProbeBroadcast = Set(
    "emb_binary_hash", "emb_cosine_topk", "emb_hard_negatives",
    "emb_jl_sketch", "emb_mrl_recall", "emb_rank_fusion", "emb_recall_at_k")

  /** Build side is a generated bounded lattice (Project over Range — an
    * output raster/grid/angle sweep whose size is a query constant,
    * independent of the corpus), or a bounded sampled curve.
    */
  private val boundedGridBroadcast = Set(
    "doc_drift_kl", "doc_heaps_curve", "geo_dem_bilinear", "geo_fill_nodata",
    "geo_grid_resample", "geo_line_of_sight", "geo_look_angles",
    "geo_orbit_nodes", "geo_overpass", "geo_resample_average",
    "geo_resample_cubic", "geo_resample_lanczos", "geo_resample_max",
    "geo_resample_med", "geo_resample_min", "geo_resample_mode",
    "geo_resample_nearest", "geo_terrain_indices",
    "geo_warp_lcc", "geo_warp_ps", "geo_wind_vector", "geo_zonal_stats",
    "ts_covering_overpass")
    // r12 additions reviewed via PlanDumpTool: geo_resample_lanczos and
    // geo_resample_mode broadcast Project-over-Range lattices (the
    // target-grid / source-raster query constants), same category as the
    // other resample kernels. r13: geo_resample_min/_max/_med share
    // geo_resample_average's exact source lattice (200×300 range cross —
    // a query constant), the same Project-over-Range category.

  /** Build side is a bounded catalog or model frame: the station list
    * (supplier-derived, fixed in production), a trained model's
    * LocalTableScan (LID trigram table), a fence/route/zone catalog, or
    * a small per-camera frame behind its own broadcast hash join.
    */
  private val boundedCatalogBroadcast = Set(
    "doc_char_lid", "doc_lid_confusion", "geo_coverage_gap",
    "geo_fence_crossings", "geo_idw", "geo_nearest", "geo_route_snap",
    "mm_keyframes", "mm_scene_segments", "ts_forecast_cycle")

  private val bnljAllowed: Set[String] =
    scalarAggBroadcast ++ fixedProbeBroadcast ++
      boundedGridBroadcast ++ boundedCatalogBroadcast

  /** Tables whose full contents must never sit under a BNLJ broadcast. */
  private val corpusTables =
    Seq("events.parquet", "documents.parquet", "embeddings.parquet",
      "lineitem.parquet", "orders.parquet")

  /** Operators that genuinely reduce a corpus scan before it is
    * broadcast. A Join is deliberately NOT bounding (an equi-join of two
    * corpus tables is still corpus-sized), and a Filter counts only if it
    * has a real predicate — isnotnull-only Filters (the planner inserts
    * one above most scans) don't reduce anything.
    */
  private def boundingOps(p: SparkPlan): Int = p.collect {
    case n: org.apache.spark.sql.execution.FilterExec
        if n.condition.toString.split(" AND ").exists(c =>
          !c.replaceAll("[()\\s]", "").toLowerCase.startsWith("isnotnull")) =>
      n
    case n if n.nodeName.contains("Aggregate") => n
    case n if n.nodeName.contains("Window") => n
    case n if n.nodeName.contains("Generate") => n
    case n if n.nodeName.contains("Limit") => n
  }.size

  test("no CartesianProduct anywhere; BNLJ only via the reviewed tiny-broadcast idiom; no corpus-scan broadcast") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = Seq.newBuilder[String]
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plan =
          try fn(spark, sf).queryExecution.executedPlan
          catch {
            case e: Throwable =>
              offenders += s"$name: plan build failed: $e"; null
          }
        if (plan != null) {
          val text = plan.toString
          if (text.contains("CartesianProduct"))
            offenders += s"$name: CartesianProduct"
          val bnljs = plan.collect { case b: BroadcastNestedLoopJoinExec => b }
          if (bnljs.nonEmpty && !bnljAllowed(name))
            offenders += s"$name: BroadcastNestedLoopJoin (not in allowlist)"
          bnljs.foreach { b =>
            val build =
              if (b.buildSide.toString.contains("Right")) b.right else b.left
            val scansCorpus = build.collectLeaves().exists(l =>
              corpusTables.exists(l.toString.contains))
            if (scansCorpus && boundingOps(build) == 0)
              offenders += s"$name: BNLJ broadcasts an unbounded corpus scan"
          }
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val bad = offenders.result()
    assert(bad.isEmpty,
      s"${bad.size} plan-shape violations:\n${bad.mkString("\n")}")
  }
}
