package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{AnalyticsOps, ArchiveOps, CorpusOps, CtbOps, ExtraRelational, MiningOps, PipelineOps, Relational, ScaleOps, StatsOps, TemporalOps, TextOps, UdfQueries, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query surface is assembled from the operator packs, each of which
  * pairs every Spark query with its DuckDB oracle SQL:
  *   - [[graft.ops.CtbOps]]      reference ingest semantics (SURVEY §2-A)
  *   - [[graft.ops.Relational]]  joins/aggs/windows/sorts/sets/fns (§2-B)
  *   - [[graft.ops.TextOps]]     text analysis + dedup (LLM-pipeline ops)
  *   - [[graft.ops.VectorOps]]   similarity search over embeddings
  *   - [[graft.ops.UdfQueries]]  UDF/UDAF extension-point parity
  */
object SparkEntry {

  private val packs: Seq[graft.ops.Tables.Pack] =
    Seq(CtbOps, Relational, ExtraRelational, PipelineOps, TemporalOps, MiningOps, AnalyticsOps, CorpusOps, ScaleOps, StatsOps, TextOps, VectorOps, UdfQueries, ArchiveOps)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * pipeline_prep is the engine's composite: quality gate -> exact dedup ->
    * decontamination -> stratified sample -> shard stats as one lazy plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_prep")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Resource contract (the engine-entry convention): a handful of queries
    * `persist()` an intermediate that is consumed more than once inside the
    * returned lazy plan (e.g. dedup_winnowing's fingerprint frame,
    * graph_pagerank/graph_communities' edge list). Those blocks live until
    * the CALLER releases them: run each query through [[QueryRunner]]
    * (as Verify and Bench do) on a session from [[GraftSession.build]];
    * iterative helpers that manage their own lifecycle (DedupClusters,
    * GraphOps) instead guarantee zero residue via their checkpoint-chain
    * handoff.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap
}
