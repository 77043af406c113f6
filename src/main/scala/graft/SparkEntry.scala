package graft

import graft.queries.{Analytic, Curation, JsonQueries, LlmQueries, Pipeline, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory is assembled from three families:
  *   - [[graft.queries.Relational]] — the relational surface (SURVEY
  *     §2.2): scan/filter/project, joins (broadcast/shuffle/semi/anti/
  *     range), aggregation (hash, distinct, HLL, rollup/cube), window
  *     functions, top-k, set ops, scalar function families;
  *   - [[graft.queries.JsonQueries]] — the reference's own capability
  *     re-expressed (distributed schema inference, shredding,
  *     infer-then-apply) plus JSON scalars and event-time windows;
  *   - [[graft.queries.LlmQueries]] — training-data-pipeline operators
  *     (dedup exact/MinHash/SimHash/Jaccard, similarity search,
  *     text stats, language ID, multimodal metadata).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  private val coalesceFloorKey =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Queries whose post-shuffle stages are compute-dense per BYTE
    * (shingle-set intersections, MinHash lanes, per-token expressions,
    * HLL merges): byte-based AQE coalescing folds their sub-MB stages
    * onto 1–2 tasks while the other cores idle, so these opt in to the
    * 64k coalescing floor (`SPARK_GRAFT_MIN_COALESCE`), r17's
    * cross-cutting win. r18 re-measured the floor per query at
    * VERIFIED 32-way parallelism (VERDICT r17 #1: the session-wide
    * floor was a wash at 32 cpus — ~10s of wins on these queries
    * cancelled by ~10s of losses on lifecycle/small-stage queries,
    * whose many tiny shuffles it shattered into per-task overhead and
    * extra store files). Membership = 64k beat the Spark-default 1m
    * floor by ≥0.08s in back-to-back 32-cpu suite A/Bs
    * (OPTIMIZATION_r18.md has the table); everything else runs at the
    * Spark default. Scale-safety unchanged from r17: at production
    * volumes the coalesce target is bytes/parallelism ≫ 1 MB, so the
    * floor never binds — it is a local-parallelism rescue, not a
    * tuned shuffle-partition constant. */
  private val denseCoalesce: Set[String] = Set(
    "q11_join_multiway", "q15_sql_subquery", "q38_union_agg",
    "q42_math_fns", "q45_infer_apply", "q46_infer_schema",
    "q51_neardup_jaccard", "q52_neardup_minhash",
    "q67_multimodal_resize", "q68_tfidf_top_terms", "q84_view_pipeline",
    "q90_salted_join", "q97_shard_export", "q100_embedding_neardup_ivf",
    "q102_curation_e2e", "q103_dedup_best_quality", "q105_data_card",
    "q124_compaction", "q125_zorder_layout", "q131_index_append",
    "q136_kmeans_refine", "q138_hll_sketch_store", "q142_pagerank",
    "q146_orc_roundtrip", "q149_temperature_mix", "q154_scd2_history",
    "q167_hll_overlap", "q168_communities", "q176_threshold_sweep",
    "q178_pmi_collocations", "q179_score_auc", "q182_vocab_drift",
    "q191_event_paths", "q196_sorted_neighborhood",
    "q197_association_rules", "q202_length_batches",
    "q215_touch_attribution", "q219_decontamination",
    "q226_semantic_decontam", "q235_meta_stats",
    "q251_sql_merge_cdc")

  /** Every query entry pins its own coalescing floor at build time —
    * dense queries the 64k rescue, everything else the deployment's
    * value (the launch conf, else the Spark default) —
    * so the choice travels with the queries map into Bench, Verify,
    * the driver, and the test sessions alike (ADVICE r17: the specs
    * used to validate plans under a different floor than the bench
    * ran). Explicit set on BOTH branches: a runtime conf leaks across
    * queries in a shared session, so each entry must state its floor
    * rather than inherit its predecessor's. Results are unaffected by
    * partition layout (repo discipline; the oracle re-proves it).
    *
    * CONTRACT (build-time set, execution-time read): AQE reads the
    * conf when the returned frame EXECUTES, so a caller that builds
    * several entries' frames before executing any runs them all under
    * the last-built floor. Bench/Verify/the driver/the specs all
    * build-then-execute one entry at a time on a session; keep that
    * pattern (or re-invoke the entry) — the floor is a perf knob
    * only, results are floor-independent either way. */
  private def withCoalesceFloor(
      name: String, fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    // non-dense entries restore the deployment's floor: the session's
    // own launch conf if it set one, else Spark's default
    s.conf.set(coalesceFloorKey,
      if (denseCoalesce(name))
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "64k")
      else s.sparkContext.getConf.getOption(coalesceFloorKey).getOrElse(
        SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.defaultValueString))
    fn(s, d)
  }

  private lazy val rawQueries
      : Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Analytic.queries ++ JsonQueries.queries ++
      LlmQueries.queries ++ Curation.queries ++ Pipeline.queries

  private lazy val wrappedQueries
      : Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (n, f) => n -> withCoalesceFloor(n, f) }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    wrappedQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose semantics are not
    * SQL-expressible (HLL sketches, LSH candidate generation, lattice
    * schema inference) → driver records a rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Analytic.oracle ++ JsonQueries.oracle ++
      LlmQueries.oracle ++ Curation.oracle ++ Pipeline.oracle
}
