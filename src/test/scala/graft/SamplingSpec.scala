package graft

import graft.operators.Sampling

import org.apache.spark.sql.functions._

/** Consistent-sampling guarantees: partition independence (the property
  * seeded rand() lacks), stratum semantics, fraction accuracy, and the
  * merge-upsert row semantics.
  */
class SamplingSpec extends SparkSuite {

  import spark.implicits._

  test("consistentSample: identical row set at any partitioning") {
    val base = spark.range(10000).select(col("id"))
    def ids(parts: Int): Set[Long] =
      Sampling.consistentSample(base.repartition(parts), "id", 0.3)
        .collect().map(_.getLong(0)).toSet
    val at2 = ids(2)
    assert(at2 == ids(16), "sample must be a pure function of the id")
    // and of the fraction: a smaller fraction is a SUBSET (nested samples)
    val smaller = Sampling.consistentSample(base, "id", 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(smaller.subsetOf(at2), "hash sampling must nest: frac 0.1 ⊆ frac 0.3")
  }

  test("consistentSample: realized fraction close to requested") {
    val n = Sampling.consistentSample(spark.range(100000).toDF("id"), "id", 0.2).count()
    assert(math.abs(n - 20000L) < 600, s"got $n of expected ~20000")
  }

  test("stratifiedSample: unlisted strata dropped, listed sampled per fraction") {
    val df = spark.range(2000)
      .select(col("id"), (col("id") % 4).cast("string").as("s"))
    val out = Sampling.stratifiedSample(df, "s", "id", Map("0" -> 1.0, "1" -> 0.5))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("0") == 500, "fraction 1.0 keeps the whole stratum")
    assert(math.abs(out("1") - 250L) < 70, s"fraction 0.5 ≈ half, got ${out("1")}")
    assert(!out.contains("2") && !out.contains("3"), "unlisted strata must be dropped")
  }

  test("mergeUpsert: replaces matched keys, appends new, keeps the rest") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val source = Seq((2L, "B", 99.0), (9L, "n", 1.0)).toDF("k", "s", "v")
    val merged = graft.etl.Warehouse.mergeUpsert(target, source, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(merged == Set((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (9L, "n", 1.0)))
  }

  test("weightedSample: weight 1 keeps all, 0 drops all, 0.5 keeps about half") {
    val df = spark.range(10000).select(col("id"),
      when(col("id") < 1000, 1.0).when(col("id") < 2000, 0.0).otherwise(0.5).as("w"))
    val kept = Sampling.weightedSample(df, "id", "w")
    assert(kept.filter(col("id") < 1000).count() == 1000)
    assert(kept.filter(col("id") >= 1000 && col("id") < 2000).count() == 0)
    val half = kept.filter(col("id") >= 2000).count()
    assert(math.abs(half - 4000L) < 300, s"got $half of ~4000")
  }

  test("perGroupCap: caps big groups, passes small ones, survivors stable") {
    val df = spark.range(1000).select(col("id"), (col("id") % 5).as("g"))
      .filter(col("g") =!= 4 || col("id") < 50) // group 4 has only 10 rows
    val capped = Sampling.perGroupCap(df, "g", "id", 100)
    val sizes = capped.groupBy("g").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes(0L) == 100 && sizes(3L) == 100)
    assert(sizes(4L) == 10, "under-cap groups pass through complete")
    // which rows survive is a pure function of the ids, not the partitioning
    val again = Sampling.perGroupCap(df.repartition(13), "g", "id", 100)
      .collect().map(_.getLong(0)).toSet
    assert(again == capped.collect().map(_.getLong(0)).toSet)
  }

  test("deterministicShuffle: same order every run, decorrelated from input order") {
    val df = spark.range(1000).toDF("id")
    val once = Sampling.deterministicShuffle(df, "id").collect().map(_.getLong(0)).toSeq
    val twice = Sampling.deterministicShuffle(df.repartition(7), "id")
      .collect().map(_.getLong(0)).toSeq
    assert(once == twice, "order must be a pure function of the ids")
    assert(once != (0L until 1000L).toSeq, "order must not be the input order")
  }

  test("q73 certification booleans hold at the test SF too") {
    Sampling.q73StratifiedSample(spark, sf).collect().foreach { r =>
      assert(r.getAs[Boolean]("sample_ok"), s"stratum ${r.getString(0)} outside bounds")
    }
  }

  test("tokenPrefixSum: exact prefix sums under token-mass and row-count skew") {
    // q342's two-phase prefix sum against the distributions that could
    // break it: uniform hash buckets (the shipped shape), one document
    // carrying 10^6× its tokens (mass skew), and every row in one bucket
    // (row skew, the single-window worst case). Each must equal the
    // sequential prefix sum over (bucket, h, doc_id) — no token lost or
    // double-counted in the hot bucket.
    val base = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('pk#', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
    val uniform = base.withColumn("bucket", expr("h div 1099511627776"))
    val cases = Seq(
      "uniform" -> uniform,
      "mass skew" -> uniform.withColumn("n_tok",
        expr("CASE WHEN doc_id = 0 THEN n_tok * 1000000 ELSE n_tok END")),
      "row skew" -> base.withColumn("bucket", lit(0L)))
    cases.foreach { case (label, df) =>
      val in = df.select("bucket", "h", "doc_id", "n_tok").as[(Long, Long, Long, Long)]
        .collect().sortBy(r => (r._1, r._2, r._3))
      val expected = in.map(_._4).scanLeft(0L)(_ + _).tail
      val got = Sampling.tokenPrefixSum(df)
        .select("bucket", "h", "doc_id", "cum", "st").as[(Long, Long, Long, Long, Long)]
        .collect().sortBy(r => (r._1, r._2, r._3))
      assert(got.map(_._3).toSeq === in.map(_._3).toSeq, s"$label: rows lost or duplicated")
      assert(got.map(_._4).toSeq === expected.toSeq, s"$label: cum is not the prefix sum")
      assert(got.zip(in).forall { case (g, i) => g._5 == g._4 - i._4 }, s"$label: st != cum - n_tok")
    }
  }
}
