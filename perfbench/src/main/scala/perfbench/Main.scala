package perfbench

import graft.SparkEntry

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run inside one JVM: session start, a warm-up pass, the
  * measured passes (or one untraced and one traced pass), the output checks
  * and a JSON record written to `--out`. Started by `perfbench/run.py`, which
  * generates the inputs, builds the classpath and turns the record into the
  * result line.
  *
  * {{{
  * Main --workload <ingest_encrypt|ingest_small_files|catalog_sample>
  *      --inputs <dir> --work <dir> --out <file> --seed <n> --seconds <s>
  *      --trace <0|1>
  * }}}
  */
object Main {
  /** Fernet key the ingest workloads encrypt with (32 bytes, base64url). */
  val Key = "cGVyZmJlbmNoLWZpeGVkLWtleS0wMDAwMDAwMDAwMDA="

  /** The catalog sample is every `SampleStep`-th query name: 11 queries, so
    * a cold pass plus the measured passes fit one run's time budget. */
  val SampleStep = 40

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val inputs = Paths.get(opt("inputs"))
    val work = Paths.get(opt("work"))

    val t0 = System.nanoTime()
    val spark = graft.core.SparkConfigs.localSession("perfbench", Workload.Cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Workload.seconds(t0)
    val (w, itemNames) = workload match {
      case "catalog_sample" =>
        val sample = catalogSample(seed)
        (new CatalogWorkload(spark, inputs.toString, sample.map(n => n -> SparkEntry.queries(n)),
          Files.createDirectories(work.resolve("results"))), sample)
      case _ =>
        val files = Files.readAllLines(inputs.resolve("manifest.tsv")).asScala.toSeq
          .filter(_.nonEmpty).map(FileSpec.parse)
        (new IngestWorkload(spark, inputs, files, Key), files.map(_.name))
    }
    val record = try {
      w.warmUp()
      // The pass right after a cold one still runs 10-25% slower on a 4-core
      // host (JIT), and by a varying amount; a second untimed pass absorbs it.
      w.runPass(0, None)
      val setupS = Workload.seconds(t0)
      canary(spark) // untimed: its own JIT and codegen, so start and end compare
      val canaryStart = canary(spark)
      val (passes, layersAfterCheck) =
        if (!trace) (measure(w, opt("seconds").toDouble), () => Nil)
        else traced(spark, w, s"$workload-$seed", work)
      val c0 = System.nanoTime()
      val problems = w.check()
      val checkS = Workload.seconds(c0)
      val layers = layersAfterCheck()
      val canaryEnd = canary(spark)
      runRecord(w, passes, problems, layers) ++ Seq(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "items" -> itemNames,
        "oracle" -> SparkEntry.oracleSql.filter { case (n, _) => itemNames.contains(n) },
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> spark.version,
        "session_s" -> sessionS, "setup_jvm_s" -> setupS, "check_s" -> checkS,
        "canary_start_s" -> canaryStart, "canary_end_s" -> canaryEnd,
        "peak_rss_mb" -> peakRssMb())
    } finally {
      w.close()
      spark.stop()
    }
    Files.writeString(Paths.get(opt("out")), Json.obj(record: _*) + "\n")
  }

  /** Every `SampleStep`-th catalog name in sorted order, in seed-permuted order. */
  def catalogSample(seed: Long): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sample = names.indices.filter(_ % SampleStep == 0).map(names)
    new scala.util.Random(seed).shuffle(sample)
  }

  /** Passes until `seconds` of measured time have elapsed (at least one). */
  def measure(w: Workload, seconds: Double): Seq[Pass] = {
    val t0 = System.nanoTime()
    val passes = Seq.newBuilder[Pass]
    var n = 1
    while (n == 1 || Workload.seconds(t0) < seconds) {
      passes += w.runPass(n, None)
      n += 1
    }
    passes.result()
  }

  /** One traced pass with spans, listeners and codegen counters, then an
    * untraced pass as the baseline of the tracing overhead. Spans and jobs go
    * to `work/spans.json`. Returns the traced pass and the layer metrics,
    * which read the checked outputs and so come after the check. */
  def traced(spark: SparkSession, w: Workload, runId: String, work: Path)
      : (Seq[Pass], () => Seq[(String, Double)]) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val tracer = new Tracer(spark, runId)
    val (compiles0, compileNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
    tracer.start()
    val traced = try w.runPass(1, Some(tracer)) finally tracer.stop()
    val codegen = Seq(
      "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
      "codegen.compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9)
    val after = w.runPass(2, None)
    Files.writeString(work.resolve("spans.json"), tracer.json)
    val overhead = traced.wall - after.wall
    (Seq(traced), () => tracer.sparkMetrics(traced.wall, Workload.Cores) ++ codegen ++
      w.layerMetrics(tracer, traced) :+ ("trace.overhead_s" -> overhead))
  }

  /** Times, rows and failures of the measured passes. A failed item is left
    * out of the wall and rows totals and counts as infinitely slow in the
    * latency percentiles. */
  def runRecord(w: Workload, passes: Seq[Pass], problems: Seq[(String, String)],
                layers: Seq[(String, Double)]): Seq[(String, Any)] = {
    val failed = passes.flatMap(_.items).filterNot(_.ok).map(i => i.name -> i.error.get) ++ problems
    val okWall = passes.map(w.wall)
    val lat = w.latencies(passes)
    Seq(
      "passes" -> passes.map(p => Map("wall_s" -> p.wall, "items" -> p.items.map(i =>
        Map("name" -> i.name, "seconds" -> i.seconds, "rows" -> i.rows, "error" -> i.error)))),
      "failed" -> failed.map { case (n, why) => Map("item" -> n, "reason" -> why) },
      "metrics" -> Map(
        "wall_s" -> Workload.median(okWall),
        "rows_per_s" -> Workload.median(passes.zip(okWall).map { case (p, s) => w.rows(p) / s }),
        "query_p50_s" -> Workload.quantile(lat, 0.5),
        "query_p75_s" -> Workload.quantile(lat, 0.75)),
      "latency_samples" -> lat.size,
      "layers" -> layers.toMap)
  }

  /** Host canary timed at start and end of a run: a constant CPU-bound job
    * and a small shuffle, independent of workload and inputs (the shape
    * `graft.Bench` uses, sized for a 4-core host). */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1, Workload.Cores)
      .selectExpr("sum(xxhash64(id) % 100000) AS s").collect()
    spark.range(0L, 2000000L, 1, Workload.Cores)
      .selectExpr("id % 1024 AS k").groupBy("k").count()
      .selectExpr("sum(count) AS n").collect()
    Workload.seconds(t0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
