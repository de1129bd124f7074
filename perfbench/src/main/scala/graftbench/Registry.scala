package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** Query sets of the two registry workloads, frozen by name. */
object QuerySets {
  /** The reads among the registry queries that ran under 0.3 s at sf0.1
    * on 8 cores in the committed per-query record `bench_self_c8.json`,
    * ordered by their median latency under this benchmark (sf0.1,
    * local[4]). The order only defines the sampling strata of
    * [[lightSchedule]]; the set is the frozen contract.
    */
  val lightReads: Seq[String] = Seq(
    "docs_zorder", "vector_normalize", "doc_fingerprint", "vector_sql_range",
    "vector_sql_arith", "vector_get", "vector_count", "vector_sql_in",
    "vector_sql_between", "multimodal_frames", "filter_like", "vector_scan",
    "vector_sql_order", "bloom_plan", "embed_text", "meta_filter",
    "vector_sql_global", "vector_sql_offset", "knn_cosine", "q6_forecast",
    "vector_sql_radius", "dedup_simhash", "quality_score", "multimodal_manifest",
    "text_stats", "knn_euclidean", "shard_assign", "sample_stratified_source",
    "knn_manhattan", "embed_linear_search", "knn_dot", "vector_sql_distinct",
    "sample_stratified", "knn_radius", "split_train_val", "knn_filtered", "lsh_plan",
    "embed_norm_hist", "search_text", "ann_lsh_multiprobe", "top_users",
    "dedup_exact", "sample_quota", "shard_consistent", "doclen_hist", "data_checks",
    "tokens_hh_exact", "vector_sql_having", "vector_sql_group", "vector_sql_union",
    "lang_id", "knn_subquery", "sample_weighted", "shard_rebalance",
    "token_fertility", "search_maxsim", "ann_lsh", "docs_chunk", "knn_join",
    "events_lifespan", "json_flatten", "embed_dim_stats", "ngram_topk",
    "dedup_group_sizes", "knn_grouped", "vector_sql_ann_dot_fallback",
    "events_grouping_sets", "search_mmr", "ann_rp_rerank", "ivf_plan",
    "events_window", "pack_efficiency", "events_by_type_salted", "docs_k_anonymity",
    "label_centroids", "q14_promo", "docs_pivot", "corpus_diff",
    "graph_assortativity", "graph_triangles", "incremental_embed", "corr_subquery",
    "q1_agg", "users_activity_gini", "dedup_normalized", "embed_dist_hist",
    "pack_sequences", "events_rollup", "vector_sql_ann", "ann_lsh_tables",
    "events_changepoint", "q19_disjunct", "split_leakage", "embed_centroid_drift",
    "embed_drift", "orders_seasonality", "quality_by_source", "pii_redact",
    "quality_filter", "join_skew_profile", "vector_sql_ann_count", "mine_triplets",
    "events_dispersion", "events_lag_features", "vector_sql_ann_l2",
    "events_props_stats", "vocab_coverage", "q4_priority", "q13_custdist",
    "token_count", "mine_hard_negatives", "events_seasonality", "ann_ivf_filtered",
    "lang_tokens_hh", "skew_join_salted", "eval_matched_sample", "decontaminate",
    "batch_padding_waste", "mix_temperature", "split_temporal", "dedup_embedding",
    "activity_bitmap", "embed_outliers", "table_profile", "search_hybrid",
    "embed_integrity", "ann_knn_join", "events_quantiles", "dedup_quality_cost",
    "events_quantile_sketch", "events_gapfill", "ann_recall", "split_kfold_balance",
    "ann_ivf_static", "search_ndcg", "q22_idle_customers", "simhash_hamming",
    "asof_join", "supplier_balance_outliers", "orders_gap", "interval_join",
    "events_path3", "events_anomaly_mad", "users_hll", "template_prefixes",
    "events_attribution", "mix_budget", "events_zscore", "knn_hubness",
    "events_window_topk", "dedup_jaccard", "q15_top_supplier", "q11_important_parts",
    "sessionize_sql", "events_retention", "tokens_cms", "events_transitions",
    "corpus_zipf", "events_ewma", "top_orders_per_customer", "graph_modularity",
    "orders_cohort_ltv", "events_forecast_backtest", "vocab_heaps",
    "pq_subspace_balance", "events_holt_backtest", "sessionize_state",
    "users_kmv_overlap", "corpus_datasheet", "users_hll_rollup", "source_similarity",
    "events_session_window", "quality_rules", "events_rollup_incremental",
    "tokens_cms_sweep", "nation_supplier_hhi", "events_funnel",
    "orders_tier_migration", "vocab_oov", "search_maxsim_pruned",
    "curriculum_phases", "events_stickiness", "split_ppl_gap", "knn_graph_stats",
    "user_activity_deciles", "ann_ivf_adaptive", "mix_waterfill", "vocab_fof",
    "pq_distortion", "ngram_diversity", "quality_drift", "pipeline_eval_prep",
    "price_qty_regression", "chunks_dedup")

  /** The light queries that write: CRUD and index-maintenance paths. */
  val lightWrites: Seq[String] = Seq("crud_delete", "crud_insert",
    "crud_update", "ivf_append", "vector_sql_ann_dml_update")

  /** Reads per latency stratum of [[lightSample]]. */
  val StratumSize = 8

  /** The light workload's frozen query sample: the middle name of every
    * stratum of [[StratumSize]] consecutive [[lightReads]] (25 reads
    * spanning the whole latency range) plus the five writes. A pass over
    * all 199 takes about two minutes at sf0.1 on 4 cores; a fixed
    * stratified sample keeps every run measuring the same mix.
    */
  val lightSample: Seq[String] =
    lightReads.grouped(StratumSize).map(g => g(g.size / 2)).toSeq ++ lightWrites

  /** One light pass: the sample with each write run twice, so the write
    * percentiles rest on ten samples and a repetition is checked against
    * the first run. Set-up runs every write once first, so the timed
    * writes are a session's repeated writes while every read is its
    * first execution.
    */
  val lightPass: Seq[String] = lightSample ++ lightWrites

  /** Heavy multi-job queries: operator orchestration, shuffles, kernels
    * and stream drains.
    */
  val pipeline: Seq[String] = Seq(
    "knn_graph_nndescent", "knn_graph_search", "knn_graph_search_pq",
    "knn_graph_append", "knn_graph_delete", "streaming_graph_search",
    "ann_ivfpq", "ann_recall_matrix", "dedup_minhash", "dedup_graph_cc",
    "dedup_winnow_matrix", "corpus_yield_report", "pipeline_corpus_neardup",
    "graph_connectivity", "streaming_dedup_native", "streaming_upsert")

  /** The pipeline queries that write (graph maintenance, upsert sink). */
  val pipelineWrites: Set[String] =
    Set("knn_graph_append", "knn_graph_delete", "streaming_upsert")

  /** Registry queries run once at the measured scale during set-up so
    * every per-run at-rest artifact the timed queries read is built
    * before timing starts (the subset of `SparkEntry.atRestWarm` each
    * workload touches; light also runs its writes once).
    */
  val lightAtRest: Seq[String] = Seq("vector_sql_ann", "dedup_edit") ++ lightWrites
  val pipelineAtRest: Seq[String] = Seq("knn_graph_search",
    "knn_graph_search_pq", "knn_graph_append", "knn_graph_delete",
    "dedup_recall")

  /** Seeded permutation (Fisher-Yates over java.util.Random). */
  def permute[A](xs: Seq[A], seed: Long): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    val rnd = new java.util.Random(seed)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Endless schedule of passes over `names`, each pass in a fresh
    * seeded order.
    */
  def passes(names: Seq[String], seed: Long): Iterator[String] = {
    val rnd = new java.util.Random(seed)
    Iterator.continually(permute(names, rnd.nextLong())).flatten
  }
}

/** Runs registry queries by name against a data directory, the way a
  * user consumes them: build the DataFrame, collect every row. The
  * first result of each query is written to `checkDir/<name>` for the
  * DuckDB oracle compare, unless `verified` already holds its verdict
  * key (see [[verdictKey]]); every later repetition must hash equal to
  * the first.
  */
final class RegistryRunner(spark: SparkSession, dataDir: String,
    checkDir: String, writes: Set[String], verified: Set[String] = Set.empty,
    dataStamp: String = "") {
  private val firstHash = mutable.Map[String, String]()

  /** Checked queries and the hash of their checked result. */
  def checked: Map[String, String] = firstHash.toMap

  /** One operation: the latency of building the DataFrame plus
    * `collect()`; ok when it ran and its rows hash equal to the first run.
    */
  def run(name: String, tracer: Option[Tracer]): Op = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val out: Either[Throwable, (Array[Row], org.apache.spark.sql.types.StructType)] =
      try Right(tracer match {
        case Some(t) => t.span(name) {
          val df = t.span("build")(fn(spark, dataDir))
          t.span("plan")(df.queryExecution.executedPlan)
          (t.span("exec")(df.collect()), df.schema)
        }
        case None =>
          val df = fn(spark, dataDir)
          (df.collect(), df.schema)
      }) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val op = out match {
      case Left(e) => Op(name, writes(name), secs, ok = false,
        s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right((rows, schema)) =>
        val h = Rows.hash(rows)
        firstHash.get(name) match {
          case None =>
            firstHash(name) = h
            if (!verified(RegistryRunner.verdictKey(name, h, dataStamp)))
              writeCheck(name, rows, schema)
            Op(name, writes(name), secs, ok = true, "")
          case Some(h0) if h0 == h => Op(name, writes(name), secs, ok = true, "")
          case Some(_) => Op(name, writes(name), secs, ok = false,
            s"$name: repetition hashes differ from the checked run")
        }
    }
    Session.cleanup(spark)
    op
  }

  private def writeCheck(name: String, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")

  /** The oracle SQL of every checked query, as `graft.Verify` writes it. */
  def writeOracles(): Unit = {
    val json = checked.keys.toSeq.sorted
      .flatMap(n => RegistryRunner.oracles.get(n).map(q => Json.str(n) + ":" + Json.str(q)))
      .mkString("{", ",", "}")
    new java.io.File(checkDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"), json)
  }

  /** Run `names` once each at `dir`, untimed; returns the failures. */
  def warm(dir: String, names: Seq[String]): Seq[String] =
    names.flatMap { n =>
      val t0 = System.nanoTime()
      val err = try { SparkEntry.queries(n)(spark, dir).collect(); None }
        catch { case e: Throwable =>
          Some(s"setup $n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      Session.cleanup(spark)
      println(f"setup $n ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      err
    }
}

object RegistryRunner {
  private lazy val oracles: Map[String, String] = SparkEntry.oracleSql

  /** Key of a remembered oracle match: the query, its oracle SQL, the
    * hash of its result and the input generator's stamp.
    */
  def verdictKey(name: String, resultHash: String, dataStamp: String): String = {
    val sql = oracles.getOrElse(name, "")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Seq(name, sql, resultHash, dataStamp).mkString("\u0000").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }
}
