package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** A query that throws and a URL that always answers 500 must be reported
  * as failed, by name, and must not make a pass look fast. */
class FailureAccountingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.core.SparkConfigs.localSession("perfbench-test", "2")
  private lazy val dir: Path = Files.createTempDirectory("perfbench-test")

  override def afterAll(): Unit = {
    spark.stop()
    graft.core.Scratch.deleteRecursively(dir)
  }

  private def metric(record: Seq[(String, Any)], name: String): Double =
    record.toMap.apply("metrics").asInstanceOf[Map[String, Double]](name)

  private def failedItems(record: Seq[(String, Any)]): Seq[String] =
    record.toMap.apply("failed").asInstanceOf[Seq[Map[String, Any]]].map(_("item").toString)

  test("a throwing catalog entry is listed, left out of the wall, and infinitely slow") {
    val slow: (SparkSession, String) => DataFrame = (s, _) => {
      Thread.sleep(300)
      s.range(100).toDF()
    }
    val throws: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("injected failure")
    val w = new CatalogWorkload(spark, dir.toString,
      Seq("q_ok" -> slow, "q_throws" -> throws), Files.createDirectories(dir.resolve("results")))
    w.warmUp()
    val pass = w.runPass(1, None)
    val record = Main.runRecord(w, Seq(pass), w.check(), Nil)

    assert(pass.items.find(_.name == "q_throws").exists(!_.ok))
    assert(failedItems(record).toSet == Set("q_throws"))
    assert(w.wall(pass) == pass.items.find(_.name == "q_ok").get.seconds)
    assert(metric(record, "query_p75_s").isInfinite)
  }

  test("a URL that always returns 500 is listed by URL and its pass is infinitely slow") {
    val inputs = Files.createDirectories(dir.resolve("inputs"))
    Files.writeString(inputs.resolve("good.csv"), "id,name\n1,a\n2,b\n")
    val files = Seq(
      FileSpec("good.csv", 2, Nil, Seq(("id", "int", 3L))),
      FileSpec("broken.csv", 2, Nil, Seq(("id", "int", 3L))))
    val w = new IngestWorkload(spark, inputs, files, Main.Key, failing = Set("broken.csv"))
    try {
      val pass = w.runPass(1, None)
      val record = Main.runRecord(w, Seq(pass), w.check(), Nil)
      val broken = w.server.url("broken.csv")

      assert(pass.items.map(i => i.name -> i.ok) == Seq(w.server.url("good.csv") -> true, broken -> false))
      assert(failedItems(record).toSet == Set(broken))
      assert(metric(record, "query_p50_s").isInfinite)
      assert(w.rows(pass) == 2)
      assert(w.server.requests.get() == 1 + graft.etl.Fetch.DefaultRetries)
    } finally w.close()
  }
}
