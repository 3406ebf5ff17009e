package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.engine.Query
import graft.ops._
import graft.iter.{IterQueries, KMeans, Apriori, MrbgPagerank}
import graft.incr.{IncrMerge, MergeInto}
import graft.text.{Dedup, MinHash, SimHash, Similarity, TextStats}
import graft.stream.StreamOps
import graft.multimodal.Multimodal

/** The query registry (SURVEY.md §7).
  * Each §2 operator declares one [[graft.engine.Query]] in its module's
  * `queries`: the row's name, its plan and, for every oracle=SQL row,
  * the DuckDB-dialect oracle written beside the plan. [[all]] is the
  * one list of rows; the maps below derive from it. Column names and
  * aliases match between a plan and its oracle (the oracle check
  * sorts columns by name and hash-compares values). */
object SparkEntry {

  /** Every registry row, one list. A name appears once (RegistryGuardSpec). */
  val all: Seq[Query] =
    Scans.queries ++ Filters.queries ++ Aggs.queries ++ SortsSets.queries ++
      Joins.queries ++ Windows.queries ++ Scalars.queries ++ Events.queries ++
      Sampling.queries ++ TimeSeries.queries ++ GraphStats.queries ++
      Sweep.queries ++ IterQueries.queries ++ KMeans.queries ++
      Apriori.queries ++ MrbgPagerank.queries ++ IncrMerge.queries ++
      MergeInto.queries ++ Dedup.queries ++ MinHash.queries ++
      SimHash.queries ++ Similarity.queries ++ TextStats.queries ++
      Udaf.queries ++ StreamOps.queries ++ Multimodal.queries ++
      Layout.queries ++ Selectors.queries ++ Analytics.queries ++
      Curation.queries ++ HeavyHitters.queries ++ BloomPrune.queries ++
      TpcH.queries

  /** Flagship query (TPC-H Q1 shape, q_agg_basic) on sf0.001; the
    * driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_basic")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.plan).toMap

  /** Registry rows whose FIRST invocation executes a real Structured
    * Streaming run (file source → sink); repeats serve the memoized
    * result. Bench reports their first-sample cost on a dedicated
    * `stream_first` line so regressions in the stream path itself stay
    * visible — the warm median only times the memo serve. */
  val streamingRows: Set[String] = all.filter(_.streaming).map(_.name).toSet

  /** For each row with an oracle, equivalent SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (sketches, float-order-sensitive loops, streaming-only). */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
