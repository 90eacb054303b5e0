package perfbench

import graft.core.Utils
import graft.crypto.CryptoFunctions
import graft.etl.{Fetch, Ingest, IngestOptions, IngestResult}

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** One file or query of a pass. `seconds` is NaN where the item has no time
  * of its own (files inside an untraced `Ingest.run`). */
final case class Item(name: String, seconds: Double, rows: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

final case class Pass(wall: Double, items: Seq[Item]) {
  def ok: Boolean = items.forall(_.ok)
}

trait Workload {
  /** Untimed first pass: JIT, codegen cache, file listings. */
  def warmUp(): Unit = runPass(0, None)
  /** Per-request latencies of the passes; a failed request is infinitely slow. */
  def latencies(passes: Seq[Pass]): Seq[Double]
  /** Wall time of the pass without its failed items, where they can be
    * taken out (sequential queries), else the pass wall. */
  def wall(pass: Pass): Double
  /** Rows the pass delivered: committed input rows, or result rows. */
  def rows(pass: Pass): Long = pass.items.filter(_.ok).map(_.rows).sum
  def runPass(pass: Int, tracer: Option[Tracer]): Pass
  /** Untimed output checks of the last pass: (item, reason) per mismatch. */
  def check(): Seq[(String, String)]
  def layerMetrics(tracer: Tracer, traced: Pass): Seq[(String, Double)]
  def close(): Unit
}

object Workload {
  val Cores = 4

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; +inf entries sort last. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val (lo, hi) = (s(pos.toInt), s(math.min(s.size - 1, pos.toInt + 1)))
      if (lo.isInfinite || hi.isInfinite) hi else lo + (hi - lo) * (pos - pos.toInt)
    }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
}

/** A CSV input and what the warehouse table made from it must hold. */
final case class FileSpec(name: String, rows: Long, encrypted: Seq[String],
                          sums: Seq[(String, String, Long)]) {
  def table: String = Utils.sanitizeTableName(name)
}

object FileSpec {
  /** Manifest line: name, rows, encrypted columns, column:kind:checksum list. */
  def parse(line: String): FileSpec = {
    val Array(name, rows, enc, sums) = line.split("\t")
    FileSpec(name, rows.toLong, enc.split(",").filterNot(Set("", "-")).toSeq,
      sums.split(";").toSeq.map { s =>
        val Array(c, k, v) = s.split(":")
        (c, k, v.toLong)
      })
  }
}

/** `Ingest.run` over files served from `inputDir` by a loopback server.
  * Each pass writes to its own database; the last one is kept for the
  * checks and dropped by `close`. */
final class IngestWorkload(spark: SparkSession, inputDir: Path, files: Seq[FileSpec],
                           key: String, failing: Set[String] = Set.empty) extends Workload {
  import Workload._
  val server = new FileServer(inputDir, failing)
  private val urls = files.map(f => server.url(f.name))
  private val specOf = urls.zip(files).toMap
  private var lastDb: Option[String] = None
  private var tracedServed = (0L, 0L) // requests and bytes of the traced pass

  private def options(url: String): IngestOptions = {
    val enc = specOf(url).encrypted
    IngestOptions(anonymize = enc.nonEmpty, sensitiveColumns = enc)
  }

  def latencies(passes: Seq[Pass]): Seq[Double] =
    passes.map(p => if (p.ok) p.wall else Double.PositiveInfinity)

  def wall(pass: Pass): Double = pass.wall

  def runPass(pass: Int, tracer: Option[Tracer]): Pass = {
    lastDb.foreach(drop)
    val db = s"perfbench_p$pass"
    lastDb = Some(db)
    val served = (server.requests.get(), server.bytes.get())
    val t0 = System.nanoTime()
    val results = tracer.fold(
      Ingest.run(spark, urls, db, options, Some(key)).map(_.map(_ -> Double.NaN)))(traced(_, db))
    val wall = seconds(t0)
    if (tracer.isDefined)
      tracedServed = (server.requests.get() - served._1, server.bytes.get() - served._2)
    // Ingest.run returns results in URL order without the URL on a failure
    Pass(wall, urls.zip(results).map {
      case (url, Success((r, s))) => Item(url, s, r.rows, None)
      case (url, Failure(e)) => Item(url, Double.NaN, 0, Some(message(e)))
    })
  }

  /** The traced twin of `Ingest.run`: the same 4-thread file pool, staging
    * and calls, with a `fetch` and an `ingest` span per file. */
  private def traced(t: Tracer, db: String): Seq[Try[(IngestResult, Double)]] =
    t.span("run", db, 0, leaf = false) { root =>
      val stage = Files.createTempDirectory("perfbench-stage")
      val pool = Executors.newFixedThreadPool(Cores)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        urls.map { url =>
          Future {
            val t0 = System.nanoTime()
            val r = t.span("file", url, root, leaf = false) { file =>
              val local = t.span("fetch", url, file)(_ => Fetch.downloadWithRetry(url, stage))
              t.span("ingest", url, file)(_ =>
                Ingest.ingestFile(spark, local.toString, db, options(url), Some(key)))
            }
            (r, seconds(t0))
          }
        }.map(f => Try(Await.result(f, Duration.Inf)))
      } finally {
        pool.shutdown()
        graft.core.Scratch.deleteRecursively(stage)
      }
    }

  private def drop(db: String): Unit = spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

  private def checksum(c: String, kind: String): String = kind match {
    case "int" => s"sum(cast(`$c` as bigint))"
    case "money" => s"sum(cast(round(cast(`$c` as double) * 100) as bigint))"
    case "date" => s"sum(crc32(cast(date_format(`$c`, 'yyyy-MM-dd') as binary)))"
    case _ => s"sum(crc32(cast(cast(`$c` as string) as binary)))"
  }

  private var tokens = 0L

  /** Per table, in one aggregate over the decrypted table: the row count,
    * the Fernet tokens in each encrypted column, and a checksum per column.
    * Tables are checked four at a time. */
  def check(): Seq[(String, String)] = {
    val db = lastDb.getOrElse(return Nil)
    val pool = Executors.newFixedThreadPool(Cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results = try urls.zip(files).map { case (url, f) =>
      Future(Try(checkTable(db, f))).map(url -> _)
    }.map(Await.result(_, Duration.Inf)) finally pool.shutdown()
    tokens = results.collect { case (_, Success((tok, _))) => tok }.sum
    results.flatMap {
      case (url, Success((_, problems))) => problems.map(url -> _)
      case (url, Failure(e)) => Seq(url -> s"check failed: ${message(e)}")
    }
  }

  private def checkTable(db: String, f: FileSpec): (Long, Seq[String]) = {
    val table = spark.table(s"`$db`.`${f.table}`")
    val withTokens = table.select(table.columns.toIndexedSeq.map(c => table.col(s"`$c`")) ++
      f.encrypted.map(c => table.col(s"`$c`").as(s"token_$c")): _*)
    val plain = CryptoFunctions.decryptColumns(withTokens, f.encrypted, key)
    val row = plain.selectExpr(Seq("count(*)") ++
      f.encrypted.map(c => s"count_if(startswith(`token_$c`, 'gAAAAA'))") ++
      f.sums.map { case (c, k, _) => checksum(c, k) }: _*).first()
    val n = row.getLong(0)
    val tok = f.encrypted.indices.map(i => row.getLong(1 + i)).sum
    val base = 1 + f.encrypted.size
    val wrong = f.sums.zipWithIndex.collect {
      case ((c, _, want), i) if row.isNullAt(base + i) || row.getLong(base + i) != want => c
    }
    (tok, Seq(
      Option.when(n != f.rows)(s"table has $n rows, input has ${f.rows}"),
      Option.when(tok != f.rows * f.encrypted.size)(
        s"$tok Fernet tokens in ${f.encrypted.mkString(",")}, expected ${f.rows * f.encrypted.size}"),
      Option.when(wrong.nonEmpty)(s"checksum mismatch in ${wrong.mkString(",")}")
    ).flatten)
  }

  def layerMetrics(t: Tracer, traced: Pass): Seq[(String, Double)] = {
    val bySpan = t.jobsBySpan
    // Inside one ingest span: the CSV read's jobs (header, schema inference)
    // are named after `csv`, the table write after `saveAsTable`; what runs
    // after the write started is the recount (its AQE stages run as jobs
    // named after the thread pool that submits them).
    val kinds = t.spansNamed("ingest").flatMap { s =>
      val js = bySpan.getOrElse(s.id, Nil)
      val writeStart = js.filter(_.name.startsWith("saveAsTable")).map(_.start)
        .minOption.getOrElse(Long.MaxValue)
      js.map { j =>
        val kind =
          if (j.name.startsWith("saveAsTable")) "write"
          else if (j.start >= writeStart) "recount"
          else "infer"
        kind -> j
      }
    }
    def jobSeconds(k: String) = kinds.collect { case (`k`, j) => (j.end - j.start) / 1000.0 }.sum
    val (whFiles, whBytes) = warehouseFiles(lastDb.get)
    val inputBytes = files.map(f => Files.size(inputDir.resolve(f.name))).sum
    val (encryptS, cells) = (cryptoProbe(), tokens.toDouble)
    Seq(
      "fetch.s" -> t.spansNamed("fetch").map(_.seconds).sum,
      "fetch.bytes" -> tracedServed._2.toDouble,
      "fetch.requests_per_file" -> tracedServed._1.toDouble / files.size,
      "ingest.infer_s" -> jobSeconds("infer"),
      "ingest.infer_jobs" -> kinds.count(_._1 == "infer").toDouble,
      "ingest.recount_s" -> jobSeconds("recount"),
      "ingest.file_p50_s" -> median(traced.items.filter(_.ok).map(_.seconds)),
      "warehouse.write_s" -> jobSeconds("write"),
      "warehouse.files" -> whFiles.toDouble,
      "warehouse.bytes_per_input_byte" -> whBytes.toDouble / inputBytes,
      "crypto.cells" -> cells,
      "crypto.encrypt_s" -> encryptS,
      "crypto.cells_per_s" -> (if (cells > 0) cells / encryptS else 0.0))
  }

  private def warehouseFiles(db: String): (Long, Long) = {
    val loc = new java.net.URI(spark.sql(s"DESCRIBE DATABASE `$db`")
      .where("info_name = 'Location'").first().getString(1))
    val walk = Files.walk(Path.of(loc))
    try {
      val data = walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
      (data.size.toLong, data.map(Files.size).sum)
    } finally walk.close()
  }

  /** Encryption cost alone: a `noop` write of `encryptColumns(frame)` minus a
    * `noop` write of the same staged frame, for all encrypted files at once
    * on the file pool; median of three. 0 when no column is encrypted. */
  private def cryptoProbe(): Double = {
    val enc = files.filter(_.encrypted.nonEmpty)
    if (enc.isEmpty) return 0.0
    val frames = enc.map { f =>
      val df = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(inputDir.resolve(f.name).toString).localCheckpoint(eager = true)
      (f, df)
    }
    val pool = Executors.newFixedThreadPool(Cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def writeAll(g: (FileSpec, DataFrame) => DataFrame): Double = {
      val t0 = System.nanoTime()
      frames.map { case (f, df) =>
        Future(g(f, df).write.mode("overwrite").format("noop").save())
      }.foreach(Await.result(_, Duration.Inf))
      seconds(t0)
    }
    try {
      val diffs = (1 to 3).map { _ =>
        val plain = writeAll((_, df) => df)
        writeAll((f, df) => CryptoFunctions.encryptColumns(df, f.encrypted, key)) - plain
      }
      median(diffs)
    } finally {
      pool.shutdown()
      frames.foreach(_._2.unpersist())
    }
  }

  def close(): Unit = {
    lastDb.foreach(drop)
    server.stop()
  }
}

/** The query catalog sample: one closed-loop client runs `entries` in order,
  * each forced through a `noop` write. */
final class CatalogWorkload(spark: SparkSession, sfDir: String,
                            entries: Seq[(String, (SparkSession, String) => DataFrame)],
                            resultsDir: Path) extends Workload {
  import Workload._

  def latencies(passes: Seq[Pass]): Seq[Double] =
    passes.flatMap(_.items).map(i => if (i.ok) i.seconds else Double.PositiveInfinity)

  private var resultRows = Map.empty[String, Long]

  def wall(pass: Pass): Double = pass.items.filter(_.ok).map(_.seconds).sum

  def runPass(pass: Int, tracer: Option[Tracer]): Pass = {
    val t0 = System.nanoTime()
    def queries(root: Int) = entries.map { case (name, fn) =>
      val q0 = System.nanoTime()
      val error = Try {
        tracer match {
          case None => fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          case Some(t) => t.span("query", name, root, leaf = false) { q =>
            val df = t.span("construct", name, q)(_ => fn(spark, sfDir))
            t.span("execute", name, q)(_ => df.write.mode("overwrite").format("noop").save())
          }
        }
      }.failed.toOption.map(message)
      val dt = seconds(q0)
      spark.catalog.clearCache()
      Item(name, dt, resultRows.getOrElse(name, 0L), error)
    }
    val items = tracer.fold(queries(0))(_.span("run", s"pass $pass", 0, leaf = false)(queries))
    Pass(seconds(t0), items)
  }

  private var problems = Seq.empty[(String, String)]

  /** The warm-up pass doubles as the output check: it writes each result as
    * parquet under `resultsDir/<name>` for the oracle comparison and flags a
    * query that throws or returns no rows. */
  override def warmUp(): Unit = problems = entries.flatMap { case (name, fn) =>
    Try {
      val out = resultsDir.resolve(name).toString
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out)
      spark.read.parquet(out).count()
    } match {
      case Success(n) =>
        resultRows += name -> n
        if (n == 0) Seq(name -> "returned no rows") else Nil
      case Failure(e) => Seq(name -> s"check failed: ${message(e)}")
    }
  }

  def check(): Seq[(String, String)] = problems

  def layerMetrics(t: Tracer, traced: Pass): Seq[(String, Double)] = {
    val bySpan = t.jobsBySpan
    def jobs(s: Span) = bySpan.getOrElse(s.id, Nil).size
    val construct = t.spansNamed("construct")
    val perQuery = t.spansNamed("query").map { q =>
      t.allSpans.filter(_.parent == q.id).map(jobs).sum.toDouble
    }
    Seq(
      "catalog.construct_s" -> construct.map(_.seconds).sum,
      "catalog.construct_jobs" -> construct.map(jobs).sum.toDouble,
      "catalog.execute_s" -> t.spansNamed("execute").map(_.seconds).sum,
      "catalog.jobs_per_query_p50" -> median(perQuery),
      "catalog.plan_s" -> t.planSeconds)
  }

  def close(): Unit = ()
}
