package graft

import graft.core.Entry
import graft.operators._
import graft.streaming.StreamingOps

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog contract — see SURVEY.md §7.
  *
  * `queries` is the engine's operator inventory (SURVEY.md §2) and
  * `oracleSql` pairs each of its names with ANSI SQL that the DuckDB
  * oracle gate runs over the same parquet tables. Both are views of one
  * registry, the concatenated per-module `entries`, so every query has
  * exactly one oracle. Hash-valued and nondeterministic operators (MinHash, SimHash,
  * LSH, encryption, streaming) have oracles too: their outputs are reduced
  * to deterministic summaries the SQL can reproduce.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every module's registry; names are unique across it (OperatorsSpec). */
  def entries: Seq[Entry] =
    Relational.entries ++ Scalars.entries ++ EventTime.entries ++
      EtlQueries.entries ++ Dedup.entries ++ Similarity.entries ++
      TextAnalysis.entries ++ Multimodal.entries ++ StreamingOps.entries ++
      Curation.entries ++ Temporal.entries ++ Sampling.entries ++
      Profiling.entries ++ Linkage.entries ++ Skew.entries ++ Cdc.entries ++
      EventAnalytics.entries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  def oracleSql: Map[String, String] =
    entries.map(e => e.name -> e.oracle).toMap
}
