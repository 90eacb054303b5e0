package graft.etl

import graft.core.Utils
import graft.crypto.CryptoFunctions

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import java.nio.file.{Files, Paths}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/** Per-file ingest options — the non-interactive equivalent of the
  * reference's per-file stdin prompts (/root/reference/pipeline.py:186-193).
  */
final case class IngestOptions(
    anonymize: Boolean = false,
    sensitiveColumns: Seq[String] = Nil,
    header: Boolean = true,
    tableName: Option[String] = None)

/** One ingested file: its input, the qualified table it went to, and
  * `rows`, the number of rows THIS call wrote (counted by the write itself,
  * not by re-reading the table). Under `SaveMode.Overwrite` that is the
  * table's row count; under `Append` it excludes rows already there.
  */
final case class IngestResult(url: String, table: String, rows: Long)

/** CSV → warehouse-table ingest, the reference pipeline's end-to-end job
  * (/root/reference/pipeline.py:196-249) re-expressed Spark-first:
  *
  *  - whole-input schema inference (one pass; fixes the reference's per-chunk
  *    drift, SURVEY.md §0.2-7) instead of pandas' per-1000-row inference;
  *  - chunking/batching (1000-row chunks, 50 MB request packing,
  *    pipeline.py:205,165-183) is subsumed by partitioned scan + columnar
  *    parquet write — no row-at-a-time SQL text is ever materialized;
  *  - the per-chunk CREATE-replay bug (SURVEY.md §0.2-2) becomes a single
  *    `overwrite` (or `append`) managed-table write;
  *  - the SQLite staging + type string-replace (pipeline.py:117-140,212-216)
  *    is gone: types flow schema-level (graft.core.TypeMapping).
  */
object Ingest extends Logging {

  /** Read one file with whole-input schema inference, optionally
    * Fernet-encrypt its sensitive columns, and save it as `source`.`table`.
    *
    * Only the reader depends on the extension. CSV is the reference's
    * actual format; XLSX is claimed in its README (README.md:69) but its
    * code feeds any URL to the CSV parser (pd.read_csv, pipeline.py:205) —
    * SURVEY.md §0.1. Round 7 closes the claim: .xlsx routes to
    * [[Xlsx.read]] (java.util.zip + the Spark 4 XML source over the public
    * OOXML layout — no spreadsheet library). Legacy binary .xls (BIFF)
    * stays unsupported — a different, non-XML format the reference never
    * names.
    */
  def ingestFile(spark: SparkSession, path: String, source: String,
                 options: IngestOptions = IngestOptions(),
                 encryptionKey: Option[String] = None,
                 mode: SaveMode = SaveMode.Overwrite): IngestResult = {
    val lower = path.toLowerCase
    if (lower.endsWith(".xls"))
      throw new UnsupportedOperationException(
        s"legacy binary .xls (BIFF) is not supported — convert to .xlsx: $path")
    val fileName = Paths.get(path).getFileName.toString
    val table = options.tableName.getOrElse(Utils.sanitizeTableName(fileName))
    require(table.nonEmpty, s"Cannot derive a table name from $fileName")

    val raw =
      if (lower.endsWith(".xlsx")) Xlsx.read(spark, path)
      else spark.read
        .option("header", options.header.toString)
        .option("inferSchema", "true") // single pass over the whole input
        .csv(path)

    val anonymize = options.anonymize && options.sensitiveColumns.nonEmpty
    val df =
      if (anonymize) {
        val key = encryptionKey.getOrElse(graft.crypto.Fernet.generateKey())
        CryptoFunctions.encryptColumns(raw, options.sensitiveColumns, key)
      } else raw
    val encrypted = if (anonymize) options.sensitiveColumns.filter(raw.columns.contains) else Nil

    // the write counts its own rows: no second read of the table
    val written = Observation()
    val qualified = saveToWarehouse(spark, df.observe(written, count(lit(1)).as("rows")),
      source, table, mode, encrypted)
    IngestResult(path, qualified, written.get("rows").asInstanceOf[Long])
  }

  /** `CREATE DATABASE IF NOT EXISTS source` + `saveAsTable(source.table)` —
    * the namespace-qualification step the reference does by rewriting SQL
    * text (/root/reference/pipeline.py:235-243), done through the catalog.
    *
    * `encrypted` names the Fernet-token columns. Tokens are unique by
    * construction (random IV), so parquet's dictionary attempt on them is
    * always wasted work; those columns are written without one.
    */
  def saveToWarehouse(spark: SparkSession, df: DataFrame, source: String,
                      table: String, mode: SaveMode,
                      encrypted: Seq[String] = Nil): String = {
    val db = Utils.sanitizeTableName(source + ".x") // sanitize, keep name rules uniform
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    val qualified = s"`$db`.`$table`"
    encrypted.foldLeft(df.write.mode(mode)) { (w, c) =>
      w.option(s"parquet.enable.dictionary#$c", "false")
    }.saveAsTable(qualified)
    s"$db.$table"
  }

  /** Multi-file pipeline run: stage remote files (retrying fetch), then ingest
    * each. File-level parallelism mirrors the reference's 4-thread pool
    * (/root/reference/pipeline.py:252-266) but failures are collected per-file
    * instead of aborting the whole run from inside a worker (SURVEY.md
    * §0.2-8). At cluster scale each ingest is itself a parallel Spark job, so
    * file-level fan-out stays modest by design.
    */
  def run(spark: SparkSession, urls: Seq[String], source: String,
          optionsFor: String => IngestOptions = _ => IngestOptions(),
          encryptionKey: Option[String] = None,
          maxParallelFiles: Int = 4,
          mode: SaveMode = SaveMode.Overwrite): Seq[Try[IngestResult]] = {
    val stage = Files.createTempDirectory("graft-ingest")
    // pool is shut down before returning — non-daemon worker threads would
    // otherwise keep the JVM alive after main() completes
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxParallelFiles)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try {
        val futures = urls.map { url =>
          Future {
            val local =
              if (url.startsWith("http://") || url.startsWith("https://"))
                Fetch.downloadWithRetry(url, stage).toString
              else url // local/FS path: no staging needed
            // report the ORIGINAL input (url), not the staged temp path
            ingestFile(spark, local, source, optionsFor(url), encryptionKey, mode)
              .copy(url = url)
          }
        }
        // a failure's message starts with the input it belongs to
        urls.zip(futures).map { case (url, f) =>
          Try(Await.result(f, Duration.Inf)).recoverWith { case e =>
            Failure(new RuntimeException(s"$url: ${e.getMessage}", e))
          }
        }
      } finally {
        pool.shutdown()
        // staged downloads are only scratch input — the data now lives in the
        // warehouse table — so reclaim the disk before returning
        graft.core.Scratch.deleteRecursively(stage)
      }
    results.foreach {
      case Success(r) => logInfo(s"Ingested ${r.url} -> ${r.table} (${r.rows} rows)")
      case Failure(e) => logError(s"Ingest failed: ${e.getMessage}")
    }
    results
  }
}
