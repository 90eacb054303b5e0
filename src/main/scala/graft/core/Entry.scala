package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, its Spark body `(session, sfDir) => result`,
  * and the ANSI SQL the DuckDB oracle gate runs over the same parquet
  * tables. Each operator module lists its queries as `entries`;
  * `graft.SparkEntry` concatenates them into the catalog contract.
  */
final case class Entry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)
