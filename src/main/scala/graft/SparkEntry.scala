package graft

import graft.operators.{Analytics, Change, Corpus, Features, Fit, Geo, Graphs, Llm, LlmScale, Mining, Ops, Promql, PromqlFront, Quality, Relational, Retrieval, Signal, Sketches, Sre, Stats, Survival, TimeSeries, Token, Mix}
import graft.sources.IngestQueries
import graft.streaming.StreamingQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`/`oracleSql` carry the full SURVEY §2.1 operator inventory;
  * each implementation sits in graft.operators.* next to its oracle SQL.
  */
object SparkEntry {

  /** The one entry list: every module's `all`, in catalog order. */
  private[graft] val entries: Seq[Catalog.Entry] =
    Relational.all ++ TimeSeries.all ++ Llm.all ++ Analytics.all ++
      StreamingQueries.all ++ LlmScale.all ++ Sketches.all ++ IngestQueries.all ++ Corpus.all ++ Ops.all ++ Signal.all ++ Graphs.all ++ Retrieval.all ++ Features.all ++ Promql.all ++ PromqlFront.all ++ Sre.all ++ Quality.all ++ Fit.all ++ Mining.all ++ Change.all ++ Stats.all ++ Survival.all ++ Geo.all ++ Token.all ++ Mix.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TimeSeries.qTsTumbling(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap
}
