package pipebench

/** Metric names and units the benchmark prints. BENCHMARK.json lists the
  * same names; the smoke test checks that they agree. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "query_p50_s" -> "s",
    "query_tail_s" -> "s", "ok_frac" -> "ratio")

  /** The 12 physical omicidx models (11 bronze + the mart). */
  val omicidxPhysical: Seq[String] = Seq("stg_sra_experiments", "stg_sra_runs",
    "stg_sra_samples", "stg_sra_studies", "stg_sra_accessions",
    "stg_geo_samples", "stg_geo_series", "stg_geo_platforms",
    "stg_ncbi_biosample", "stg_ncbi_bioproject", "stg_ebi_biosample",
    "sra_metadata")
  val curationNonRaw: Seq[String] = Seq("doc_quality", "doc_gate",
    "dedup_clusters", "corpus_keepers", "corpus_splits")
  val layers: Seq[String] = Seq("raw", "bronze", "geometadb", "staging", "mart")

  /** Corpus queries in run order: five payer/consumer pairs sharing a
    * cached artifact, then the shuffle-heavy trio. */
  val corpusQueries: Seq[String] = Seq(
    "q26_fingerprint", "q31_ngram_jaccard",
    "q107_winnowing", "q124_winnow_contamination",
    "q119_bm25_topk", "q167_hybrid_rrf",
    "q129_perceptron_classifier", "q138_perceptron_hashed",
    "q145_ann_pq_anisotropic", "q146_ann_scann_stack",
    "q128_tfidf_cosine_pairs", "q139_exact_substr", "q87_bigram_lm")
  val consumers: Set[String] = Set("q31_ngram_jaccard",
    "q124_winnow_contamination", "q167_hybrid_rrf", "q138_perceptron_hashed",
    "q146_ann_scann_stack")
  val shuffleTrio: Seq[String] = Seq("q128_tfidf_cosine_pairs",
    "q139_exact_substr", "q87_bigram_lm")
  def short(q: String): String = q.takeWhile(_ != '_')

  val perLayer: Seq[(String, String)] = Seq(
    "sources.raw_derive_s" -> "s", "sources.scan_mb" -> "MB",
    "sources.scan_rows" -> "count", "sources.rows_read_per_row_written" -> "ratio",
    "core.plan_s" -> "s") ++
    layers.map(l => s"core.model_s.$l" -> "s") ++
    (omicidxPhysical ++ curationNonRaw).map(m => s"core.model_s.$m" -> "s") ++ Seq(
    "core.gap_s" -> "s", "core.audit_s" -> "s", "core.meta_write_s" -> "s",
    "core.models_run" -> "count", "core.models_failed" -> "count",
    "incremental.missing_s" -> "s", "incremental.recount_s" -> "s",
    "incremental.dates_recomputed_frac" -> "ratio",
    "incremental.partitions_written" -> "count",
    "incremental.marker_files" -> "count",
    "export.write_s" -> "s", "export.catalog_s" -> "s", "export.mb" -> "MB",
    "export.files" -> "count", "warehouse.write_mb" -> "MB",
    "warehouse.files" -> "count", "warehouse.write_amp" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.analysis_s" -> "s", "spark.optimization_s" -> "s",
    "spark.planning_s" -> "s", "spark.codegen_compiles" -> "count",
    "spark.codegen_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s") ++
    corpusQueries.map(q => s"queries.${short(q)}_s" -> "s") ++
    shuffleTrio.map(q => s"queries.${short(q)}_shuffle_mb" -> "MB") ++ Seq(
    "queries.trio_shuffle_io_share" -> "ratio",
    "cache.rdds_built" -> "count", "cache.consumer_rdds_built" -> "count",
    "cache.mb" -> "MB", "trace.overhead_s" -> "s", "trace.spans" -> "count",
    "e2e.query_tail_pct" -> "%", "e2e.query_samples" -> "count")

  def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, sample count). Below 11 samples no such
    * percentile exists and the maximum is reported (percentile 100). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val i = if (n >= 11) n - 11 else n - 1
    (s(i), 100.0 * (i + 1) / n, n)
  }
}
