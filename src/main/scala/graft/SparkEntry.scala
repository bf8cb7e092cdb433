package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine itself lives in `graft.operators.*` / `graft.functions.*` /
  * `graft.streaming.*`; this object is the flat name → plan registry the
  * harness drives (SURVEY.md §3 EP2).
  */
object SparkEntry {

  /** All registered capabilities, in registration order. */
  def all: Seq[GraftQuery] =
    operators.RelationalQueries.queries ++
      operators.TimeSeries.queries ++
      operators.TextAnalysis.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      operators.PipelineOps.queries ++
      operators.Stats.queries ++
      operators.Salting.queries ++
      operators.Curation.queries ++
      operators.JoinPruning.queries ++
      operators.Linkage.queries ++
      operators.UnigramLm.queries ++
      operators.WebIngest.queries ++
      operators.TextNormalize.queries ++
      operators.ChatData.queries

  /** Queries whose builder RUNS Spark jobs (connected-components needs
    * per-round convergence checks) — the documented deviations from the
    * GraftQuery pure-plan contract. Tests asserting action-free plan
    * construction exclude exactly this set. A builder whose per-corpus
    * work goes through [[TrainedState]] runs its jobs only on the first
    * build per session and corpus. */
  val actionfulQueries: Set[String] =
    Set("dedup_clusters", "dedup_keep_list", "dedup_keep_best",
      "minhash_clusters", "entity_clusters", "dup_pagerank", "dup_triangles", "dup_reach",
      "ann_trained_topk", "semdedup_trained",
      // the semantic eval-hygiene pair trains the same Lloyd bank
      "semantic_keep_list", "semantic_leak_by_source",
      "quality_classifier",
      "bpe_merges", "bpe_encode",
      "tokenizer_parity", "kcenter_sample", "bitext_margin", "split_repair",
      "unigram_train", "unigram_encode", "tokenizer_compare", "rrf_fusion",
      // video_neardup decodes clips into an eager localCheckpoint (three
      // plan references would re-decode the corpus three times), once per
      // documents corpus through TrainedState
      "video_neardup",
      // web_pipeline collects the bounded eval gram set (≤ EvalMaxDocId
      // docs) and ships it as a sparkContext.broadcast (round 12's leak
      // count) — scan-side leak beats a second WARC walk
      "web_pipeline")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core computation: event-time tumbling windowed agg
    * (SURVEY.md §2 A7-A10) as a batch plan over the events table. */
  def entry(spark: SparkSession): DataFrame =
    all.head.plan(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.plan).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap

  /** SQL-first surface: register every registry query as a temp view named
    * after the query, so `spark.sql` users can consume and COMPOSE engine
    * capabilities the way the reference's ad-hoc surface is raw SQL
    * (api-service/app.py:114-288) — e.g.
    * `spark.sql("SELECT * FROM rrf_fusion JOIN html_text USING (doc_id)")`.
    *
    * Registration is plan registration: a temp view wraps the analyzed
    * plan and nothing executes until the view is queried. The documented
    * actionful builders (SparkEntry.actionfulQueries — driver training
    * loops) still run their training at registration time, exactly as they
    * do when built through [[queries]]. Returns the registered names. */
  def registerAll(spark: SparkSession, dir: String,
      names: Seq[String] = Nil): Seq[String] = {
    val qs = if (names.isEmpty) all else all.filter(q => names.contains(q.name))
    qs.foreach(q => q.plan(spark, dir).createOrReplaceTempView(q.name))
    qs.map(_.name)
  }
}
