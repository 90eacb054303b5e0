package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Each query's
  * output dir is deleted before it runs, and any failure makes the run
  * exit non-zero after naming every failed query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name prefixes (e.g. "q53,q74")
    // — local iteration shortcut; the driver always runs the full set
    val only: Option[Seq[String]] = args.lift(2).map(_.split(",").toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.SparkConfigs.localSession("graft-verify", cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.entries.filter(e => only.forall(_.exists(e.name.startsWith)))
    val failed = selected.flatMap { e =>
      val out = Paths.get(outDir, e.name)
      // an output left by an earlier run must not pass the oracle for a
      // query that throws now
      if (Files.exists(out)) graft.core.Scratch.deleteRecursively(out)
      val ok =
        try { e.run(spark, sfDir).coalesce(1).write.parquet(out.toString); true }
        catch { case t: Throwable =>
          System.err.println(s"[verify] ${e.name} failed: ${t.getMessage}")
          false
        }
      spark.catalog.clearCache() // no query's scratch may outlive it
      if (ok) None else Some(e.name)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${selected.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
