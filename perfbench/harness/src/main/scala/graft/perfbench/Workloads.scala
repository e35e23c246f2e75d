package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.{Q, ops, streaming}

/** One benchmark workload: a frozen query list plus the warm phases its
  * set-up runs (name -> call into the library's public warm entry). */
final case class Workload(name: String, ids: Seq[String],
    warm: Seq[(String, (SparkSession, String) => Unit)])

object Workloads {

  /** Registry modules by name, in `SparkEntry`'s registry order. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> ops.Relational.all, "Decode" -> ops.Decode.all,
    "Telescope" -> ops.Telescope.all, "Daq" -> ops.Daq.all,
    "TextOps" -> ops.TextOps.all, "Dedup" -> ops.Dedup.all,
    "Vector" -> ops.Vector.all, "Multimodal" -> ops.Multimodal.all,
    "Extras" -> ops.Extras.all, "Scale" -> ops.Scale.all,
    "More" -> ops.More.all, "Analytics" -> ops.Analytics.all,
    "Curate" -> ops.Curate.all, "Pipeline" -> ops.Pipeline.all,
    "Insights" -> ops.Insights.all, "Corpus" -> ops.Corpus.all,
    "Mart" -> ops.Mart.all, "Series" -> ops.Series.all,
    "Learn" -> ops.Learn.all, "Audit" -> ops.Audit.all,
    "Drift" -> ops.Drift.all, "Biz" -> ops.Biz.all,
    "Refine" -> ops.Refine.all, "GraphScores" -> ops.GraphScores.all,
    "Doremi" -> ops.Doremi.all, "Inference" -> ops.Inference.all,
    "Causal" -> ops.Causal.all, "Privacy" -> ops.Privacy.all,
    "StreamOps" -> streaming.StreamOps.all)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** The 12 shared-fixpoint groups, each warmed through its module's
    * `warmShared` (the list `graft.Bench` warms, in the same order). */
  val fixpointGroups: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "dedup" -> ops.Dedup.warmShared, "graph" -> ops.Insights.warmShared,
    "graph_peels" -> ops.GraphScores.warmShared,
    "day_grid" -> ops.Series.warmShared,
    "anchor_nn" -> ops.Vector.warmShared,
    "landmark_bfs" -> ops.Causal.warmShared,
    "bigram" -> ops.Corpus.warmShared, "mixture" -> ops.Doremi.warmShared,
    "curate" -> ops.TextOps.warmShared, "quality" -> ops.Learn.warmShared,
    "kmeans" -> ops.Pipeline.warmShared,
    "phash" -> ops.Multimodal.warmShared)

  /** `etl_core`: one query per stage of the reference's DAQ pipeline,
    * per relational operator class and per TPC-H shape class, in
    * registry order within each module: 20 queries, so that five sweeps
    * give the run's 100 query executions. Chosen by that rule, not by
    * speed, from the 104 queries of Decode, Telescope, Daq, Relational,
    * Analytics and Mart (one warm sweep over all of them takes ~35 s at
    * sf0.01 on 4 cores, too long to repeat within a run). Floor-bound,
    * per-row materializing work whose cost is driver-side build,
    * Catalyst, scheduling, micro-batch planning and the sink. None of
    * these queries reads a shared fixpoint. */
  val etlCore: Seq[String] = Seq(
    // Decode: 40-bit frame decode, flashing-channel mask
    "q_frame_decode", "q_flashing_mask",
    // Telescope: threshold calibration (scan, set), hit heatmap
    "q_threshold_scan", "q_threshold_set", "q_heatmap",
    // Daq: run ranges, sent-vs-observed reconciliation, partitioned write
    "q_run_range", "q_reconcile", "q_partition_write",
    // StreamOps: reconciliation as a finite AvailableNow drain, and the
    // upsert sink (writes beside reads)
    "q_stream_reconcile", "q_stream_upsert",
    // Relational: scan, join, aggregate, window
    "q_scan_parquet", "q_join_inner", "q_agg_hash", "q_win_rank",
    // TPC-H: 3-way join, 5-way join, single-table aggregate, outer join
    // (Analytics); filtered sum, 8-way join with nation in two roles
    // (Mart). The 6-way join q_tpch_q9 is left out: its output depends
    // on the order rows arrive in (see perfbench/README.md, "Defects"),
    // so it fails the oracle check on about half the seeds.
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q1", "q_tpch_q13",
    "q_tpch_q6", "q_tpch_q8")

  /** The fixpoint groups `curation_session` warms in its set-up: the
    * dedup sketches and pairs (the largest warm cost) and the perceptual
    * hashes. */
  val curationGroups: Set[String] = Set("dedup", "phash")

  /** `curation_session`: LLM-data-tier queries (modules TextOps, Dedup,
    * Vector, Multimodal, Curate, Corpus, Doremi, Learn, Pipeline,
    * Refine) whose optimized plan reads a fixpoint persisted by the
    * warm phase of [[curationGroups]], found once with [[Inspect]] at
    * sf0.01 (seed 1, 4 cores): the six of the 25 such queries with the
    * shortest run at inspection. A speed rule, because a run must give
    * 100 query executions within its time after two set-ups of ~15 s
    * each. */
  val curationSession: Seq[String] = Seq(
    "q_multimodal_phash", "q_dedup_simhash", "q_dedup_near",
    "q_dedup_minhash", "q_split_leakage", "q_dedup_components")

  val all: Seq[Workload] = Seq(
    Workload("etl_core", etlCore, Nil),
    Workload("curation_session", curationSession,
      fixpointGroups.filter(g => curationGroups(g._1))))

  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap

  /** Fixpoint groups some workload warms, in warm order. */
  val warmedGroups: Seq[String] = all.flatMap(_.warm.map(_._1)).distinct

  /** Registry modules of the workloads' queries, in registry order. */
  val measuredModules: Seq[String] = {
    val used = all.flatMap(_.ids).map(moduleOf).toSet
    modules.map(_._1).filter(used)
  }
}
