package graft

import graft.etl.{Ingest, IngestOptions}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.concurrent.duration._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

/** End-to-end ingest slice: CSV on disk → inferred schema → (encrypted) →
  * managed warehouse table, the reference pipeline's whole job
  * (/root/reference/pipeline.py:196-249) minus the network.
  */
class IngestSpec extends SparkSuite {

  private def writeCsv(name: String, rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-ingest-test")
    val f = dir.resolve(name)
    Files.write(f, rows.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("csv ingest: whole-file inference, sanitize-derived table name") {
    val path = writeCsv("My Data File.csv", Seq(
      "id,name,score", "1,alice,9.5", "2,bob,8.25", "3,eve,7.0"))
    val res = Ingest.ingestFile(spark, path, "testsrc")
    assert(res.table == "testsrc.My_Data_File")
    assert(res.rows == 3)
    val df = spark.table("testsrc.My_Data_File")
    assert(df.schema("id").dataType.typeName == "integer")
    assert(df.schema("score").dataType.typeName == "double")
    spark.sql("DROP DATABASE testsrc CASCADE")
  }

  test("csv ingest with encryption: sensitive column becomes tokens, decryptable") {
    val key = graft.crypto.Fernet.generateKey()
    val path = writeCsv("people.csv", Seq("name,city", "John,Oslo", "Jane,Lima"))
    val res = Ingest.ingestFile(spark, path, "testsrc2",
      IngestOptions(anonymize = true, sensitiveColumns = Seq("name")),
      encryptionKey = Some(key))
    val df = spark.table(res.table)
    val names = df.select("name").collect().map(_.getString(0))
    assert(names.forall(n => n != "John" && n != "Jane"))
    val f = new graft.crypto.Fernet(key)
    assert(names.map(f.decryptString).sorted.sameElements(Array("Jane", "John")))
    // untouched column intact
    assert(df.select("city").collect().map(_.getString(0)).sorted
      .sameElements(Array("Lima", "Oslo")))
    spark.sql("DROP DATABASE testsrc2 CASCADE")
  }

  test("append mode accumulates (overwrite-then-append, not per-chunk replace)") {
    val p1 = writeCsv("t1.csv", Seq("a,b", "1,x"))
    val p2 = writeCsv("t1.csv", Seq("a,b", "2,y"))
    Ingest.ingestFile(spark, p1, "testsrc3", IngestOptions(tableName = Some("acc")))
    Ingest.ingestFile(spark, p2, "testsrc3", IngestOptions(tableName = Some("acc")),
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table("testsrc3.acc").count() == 2)
    spark.sql("DROP DATABASE testsrc3 CASCADE")
  }

  test("run() honors append mode (the CLI --append path)") {
    val p1 = writeCsv("acc2.csv", Seq("a,b", "1,x"))
    val p2 = writeCsv("acc2.csv", Seq("a,b", "2,y"))
    Ingest.run(spark, Seq(p1), "testsrc5")
    Ingest.run(spark, Seq(p2), "testsrc5",
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table("testsrc5.acc2").count() == 2)
    spark.sql("DROP DATABASE testsrc5 CASCADE")
  }

  test("multi-file run: failures collected per-file, not fatal") {
    val good = writeCsv("ok.csv", Seq("x,y", "1,2"))
    val results = Ingest.run(spark, Seq(good, "/nonexistent/file.csv"), "testsrc4")
    assert(results.count(_.isSuccess) == 1)
    assert(results.count(_.isFailure) == 1)
    // input order is kept, and the failure names its file first
    assert(results(1).failed.get.getMessage.startsWith("/nonexistent/file.csv: "))
    spark.sql("DROP DATABASE IF EXISTS testsrc4 CASCADE")
  }

  test("xlsx ingest: dispatch + round-trip + typing (round 7, README-claim closure)") {
    val dir = Files.createTempDirectory("graft-xlsx-test")
    val path = dir.resolve("Sales Data-2024.xlsx").toString
    graft.etl.Xlsx.write(
      Seq("id", "amount", "city"),
      Seq(Seq[Any](1L, 9.5, "Oslo"),
        Seq[Any](2L, 8.25, "Lima"),
        Seq[Any](3L, 7.0, null)), // omitted cell → NULL
      path)
    // the extension dispatch must route .xlsx through the OOXML reader
    val res = Ingest.ingestFile(spark, path, "xlsxsrc")
    assert(res.table == "xlsxsrc.Sales_Data_2024")
    assert(res.rows == 3)
    val df = spark.table(res.table)
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("amount").dataType.typeName == "double")
    assert(df.schema("city").dataType.typeName == "string")
    val rows = df.orderBy(col("id")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(9.5, 8.25, 7.0))
    assert(rows(0).getString(2) == "Oslo" && rows(2).isNullAt(2))
    spark.sql("DROP DATABASE xlsxsrc CASCADE")
  }

  test("xlsx ingest: colliding and empty header names are uniquified, not ambiguous") {
    val dir = Files.createTempDirectory("graft-xlsx-dup")
    val path = dir.resolve("dup.xlsx").toString
    // "Unit Price" and "Unit-Price" both sanitize to Unit_Price; the third
    // header is empty → falls back to its column ref
    graft.etl.Xlsx.write(
      Seq("Unit Price", "Unit-Price", null),
      Seq(Seq[Any](1L, 2L, "a"), Seq[Any](3L, 4L, "b")),
      path)
    val df = graft.etl.Xlsx.read(spark, path)
    assert(df.columns.toSeq == Seq("Unit_Price", "Unit_Price_2", "col_c"))
    assert(df.count() == 2)
  }

  test("xlsx ingest: legacy .xls still fails fast") {
    val e = intercept[UnsupportedOperationException](
      Ingest.ingestFile(spark, "/tmp/nope.xls", "x"))
    assert(e.getMessage.contains("BIFF"))
  }

  // --- IngestResult.rows is counted by the write itself (no re-read)

  test("rows: an encrypted Overwrite ingest reports the table's row count") {
    val path = writeCsv("enc_rows.csv", Seq("name,city") ++ (1 to 50).map(i => s"n$i,c${i % 3}"))
    val res = Ingest.ingestFile(spark, path, "rowsrc1",
      IngestOptions(anonymize = true, sensitiveColumns = Seq("name")),
      encryptionKey = Some(graft.crypto.Fernet.generateKey()))
    assert(res.rows == 50)
    assert(res.rows == spark.table(res.table).count())
    spark.sql("DROP DATABASE rowsrc1 CASCADE")
  }

  test("rows: in Append the second file reports only its own rows") {
    val p1 = writeCsv("app.csv", Seq("a,b", "1,x"))
    val p2 = writeCsv("app.csv", Seq("a,b", "2,y"))
    val opts = IngestOptions(tableName = Some("app"))
    assert(Ingest.ingestFile(spark, p1, "rowsrc2", opts).rows == 1)
    val second = Ingest.ingestFile(spark, p2, "rowsrc2", opts,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(second.rows == 1)
    assert(spark.table("rowsrc2.app").count() == 2)
    spark.sql("DROP DATABASE rowsrc2 CASCADE")
  }

  test("rows: a header-only CSV reports 0 and does not hang") {
    val path = writeCsv("empty.csv", Seq("a,b"))
    // a row-count observation that never fired would block forever
    val res = Await.result(Future(Ingest.ingestFile(spark, path, "rowsrc3")), 2.minutes)
    assert(res.rows == 0)
    assert(spark.table(res.table).count() == 0)
    spark.sql("DROP DATABASE rowsrc3 CASCADE")
  }

  /** Column path -> whether any of its chunks in the table's parquet files
    * is dictionary-encoded, read from the file footers. */
  private def dictionaryColumns(table: String): Map[String, Boolean] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val files = spark.table(table).inputFiles.toSeq
    assert(files.nonEmpty)
    files.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala).map { c =>
        c.getPath.toDotString -> c.getEncodings.asScala.exists(_.usesDictionary)
      } finally reader.close()
    }.groupMapReduce(_._1)(_._2)(_ || _)
  }

  test("parquet footer: Fernet columns carry no dictionary, a plaintext column does") {
    val path = writeCsv("dict.csv", Seq("name,email,city") ++
      (1 to 500).map(i => s"n$i,e$i@x.org,${Seq("Oslo", "Lima")(i % 2)}"))
    val res = Ingest.ingestFile(spark, path, "dictsrc",
      IngestOptions(anonymize = true, sensitiveColumns = Seq("name", "email")),
      encryptionKey = Some(graft.crypto.Fernet.generateKey()))
    val dict = dictionaryColumns(res.table)
    assert(dict == Map("name" -> false, "email" -> false, "city" -> true))
    // the switch itself: a low-cardinality column named as encrypted is
    // written without a dictionary, while its twin keeps one
    val twins = spark.range(500).selectExpr("if(id % 2 = 0, 'Oslo', 'Lima') as a",
      "if(id % 2 = 0, 'Oslo', 'Lima') as b")
    val t = Ingest.saveToWarehouse(spark, twins, "dictsrc", "twins",
      org.apache.spark.sql.SaveMode.Overwrite, encrypted = Seq("a"))
    assert(dictionaryColumns(t) == Map("a" -> false, "b" -> true))
    spark.sql("DROP DATABASE dictsrc CASCADE")
  }
}
