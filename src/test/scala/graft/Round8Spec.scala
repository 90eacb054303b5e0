package graft

import graft.operators._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 hardening: the q165 two-phase rank-select (the last
  * single-task global window in the repo), the exchange-counter's
  * reuse/subquery recursion, the md5 layout key, the dotenv parity
  * loader, xlsx header uniquification against ALL assigned names, and
  * true-floor interval bucketing for negative bounds.
  */
class Round8Spec extends SparkSuite {

  // ------------------------------------------------------------- q165
  test("q165: BucketRank two-phase equals the plain single-window selection") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("t"))
    val v1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    val p2 = ev.filter(col("event_type") === "purchase")
      .join(v1, Seq("user_id"))
      .filter(col("t") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t2"), min(col("t1")).as("t1m"))
      .select(col("user_id"), (col("t2") - col("t1m")).as("lat_us"))
    val w = Window.orderBy(col("lat_us"), col("user_id"))
    val naive = p2.select(col("lat_us"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("n"))
      .filter(expr("rn = (n + 1) div 2 OR rn = CAST(ceil(0.9 * n) AS BIGINT)"))
      .groupBy()
      .agg(max(col("n")).as("n_converted"),
        expr("CAST(min(CASE WHEN rn = (n + 1) div 2 THEN lat_us END) AS DOUBLE) / 1000000.0")
          .as("median_latency_s"),
        expr("CAST(min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN lat_us END) AS DOUBLE) / 1000000.0")
          .as("p90_latency_s"))
      .collect()(0)
    val got = EventAnalytics.q165FunnelLatency(spark, sf).collect()(0)
    assert(got.getAs[Long]("n_converted") == naive.getAs[Long]("n_converted"))
    assert(got.getAs[Double]("median_latency_s") == naive.getAs[Double]("median_latency_s"))
    assert(got.getAs[Double]("p90_latency_s") == naive.getAs[Double]("p90_latency_s"))
  }

  test("q165 plan: no global single-partition window touches the corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Aggregate}
    val plan = EventAnalytics.q165FunnelLatency(spark, "/root/testdata/sf0.01")
      .queryExecution.optimizedPlan
    val offending = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        w.child.collect { case a: Aggregate => a }.isEmpty => w
    }
    assert(offending.isEmpty,
      "every unpartitioned window must sit over an aggregate, not the corpus")
    // the corpus-side ranking window must be partitioned (by the value
    // bucket) — the two-phase point
    val partitioned = plan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty => w
    }
    assert(partitioned.nonEmpty, "the local rank window must partition by bucket")
  }

  // ---------------------------------------------- exchangeCount recursion
  test("exchangeCount: counts the scalar subquery's exchange and dedups reuse") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import spark.implicits._
      val t = spark.range(1000)
        .select((col("id") % 10).as("k"), col("id").as("v"))
      t.createOrReplaceTempView("r8_t")
      // one exchange for the groupBy, one inside the scalar subquery's
      // global aggregate — the round-7 counter missed subqueries
      val withSub = spark.sql(
        """SELECT k, sum(v) AS s FROM r8_t
           WHERE v > (SELECT avg(v) FROM r8_t) GROUP BY k""")
      assert(Explain.exchangeCount(withSub) == 2,
        s"expected groupBy + subquery exchanges, got ${Explain.exchangeCount(withSub)}")
      // self-join of one aggregate: physical plan reuses the exchange;
      // the reuse edge must neither double-count nor hide the original
      val agg = t.groupBy(col("k")).agg(sum(col("v")).as("s"))
      val j = agg.join(agg.withColumnRenamed("s", "s2"), "k")
      val hasReuse = j.queryExecution.executedPlan.toString.contains("ReusedExchange")
      val n = Explain.exchangeCount(j)
      assert(n == (if (hasReuse) 1 else 2),
        s"self-join count $n inconsistent with reuse=$hasReuse")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("pathDigest: distinct dirs with colliding hashCodes get distinct keys") {
    // "Aa" and "BB" collide under String.hashCode — the q212 failure mode
    assert("Aa".hashCode == "BB".hashCode)
    assert(graft.core.Utils.pathDigest("Aa") != graft.core.Utils.pathDigest("BB"))
    assert(graft.core.Utils.pathDigest("/root/testdata/sf0.01")
      .matches("[0-9a-f]{12}"))
  }

  // ------------------------------------------------------------- dotenv
  test("dotenv: file vars resolve, process env wins, missing file is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dotenv")
    val f = dir.resolve("pipeline.env")
    java.nio.file.Files.writeString(f,
      """# comment line
        |GRAFT_SOURCE=filesrc
        |export EXPORTED_KEY=exported
        |QUOTED="with spaces"
        |SINGLE='single quoted'
        |ALREADY_SET=from_file
        |
        |not a key value line
        |=nokey
        |""".stripMargin)
    val env = graft.core.Utils.loadDotenv(f.toString,
      env = Map("ALREADY_SET" -> "from_process"))
    assert(env("GRAFT_SOURCE") == "filesrc")
    assert(env("EXPORTED_KEY") == "exported")
    assert(env("QUOTED") == "with spaces")
    assert(env("SINGLE") == "single quoted")
    assert(env("ALREADY_SET") == "from_process", "process env must win on conflict")
    assert(!env.contains("not a key value line"))
    assert(graft.core.Utils.requiredEnv("GRAFT_SOURCE", env) == "filesrc")
    // missing file: exactly the supplied env back
    val missing = graft.core.Utils.loadDotenv(dir.resolve("nope.env").toString,
      env = Map("K" -> "v"))
    assert(missing == Map("K" -> "v"))
  }

  // ------------------------------------------------------- xlsx headers
  test("xlsx: uniquified header never collides with a later literal header") {
    // 'a', 'a', 'a_2': the generated a_2 suffix for the second 'a' must
    // dodge the third LITERAL a_2 header (and vice versa)
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx-r8")
    val path = dir.resolve("collide.xlsx").toString
    graft.etl.Xlsx.write(
      Seq("a", "a", "a_2"),
      Seq(Seq[Any](1L, 2L, 3L), Seq[Any](4L, 5L, 6L)),
      path)
    val df = graft.etl.Xlsx.read(spark, path)
    val cols = df.columns.toSeq
    assert(cols.distinct == cols, s"duplicate columns: $cols")
    assert(cols == Seq("a", "a_2", "a_2_2"))
    assert(df.count() == 2)
  }

  // ------------------------------------- interval buckets, negative bounds
  test("intervalOverlapJoin: negative bounds — exact results, uniform buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val a = (1 to 150).map { i =>
      val lo = rnd.nextInt(3000).toLong - 1500L
      (i.toLong, rnd.nextInt(4).toLong, lo, lo + 1 + rnd.nextInt(300))
    }
    val b = (1 to 150).map { i =>
      val lo = rnd.nextInt(3000).toLong - 1500L
      (i.toLong + 1000, rnd.nextInt(4).toLong, lo, lo + 1 + rnd.nextInt(300))
    }
    val expected = (for {
      (ai, ak, alo, ahi) <- a
      (bi, bk, blo, bhi) <- b
      if ak == bk && alo < bhi && blo < ahi
    } yield (ai, bi)).toSet
    val out = Temporal.intervalOverlapJoin(
        a.toDF("aid", "k", "alo", "ahi"), b.toDF("bid", "k", "blo", "bhi"),
        "k", "alo", "ahi", "blo", "bhi", bucketWidth = 128L)
      .select(col("aid"), col("bid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == out.toSet.size, "duplicate pairs emitted")
    assert(out.toSet == expected)
  }

  // ------------------------------------------------------------- q270
  test("substringDupCoverage: shared spans merge, short docs drop, unique docs report 0") {
    import spark.implicits._
    // doc 1 and doc 2 share tokens a1..a9 (two overlapping 8-grams in doc 1:
    // positions 0 and 1 → union [0, 9) = 9 covered tokens); doc 3 is unique;
    // doc 4 is 7 tokens (< k) and must not appear at all.
    val d1 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 x1 x2 x3"      // 12 tokens, 9 covered
    val d2 = "y1 a1 a2 a3 a4 a5 a6 a7 a8 a9"            // 10 tokens, 9 covered
    val d3 = "u1 u2 u3 u4 u5 u6 u7 u8 u9"               // unique
    val d4 = "s1 s2 s3 s4 s5 s6 s7"                     // too short
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text")
    val out = Dedup.substringDupCoverage(docs, k = 8)
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(out === Seq((1L, 12L, 9L), (2L, 10L, 9L), (3L, 9L, 0L)))
  }

  test("substringDupCoverage: disjoint shared spans in one doc sum, not merge") {
    import spark.implicits._
    // doc 1 shares its first 8 tokens with doc 2 and its last 8 with doc 3;
    // the two spans are separated by 4 unique tokens → covered = 16.
    val head = "h1 h2 h3 h4 h5 h6 h7 h8"
    val tail = "t1 t2 t3 t4 t5 t6 t7 t8"
    val docs = Seq(
      (1L, s"$head m1 m2 m3 m4 $tail"),
      (2L, s"z1 $head"),
      (3L, s"$tail z2")).toDF("doc_id", "text")
    val row1 = Dedup.substringDupCoverage(docs, k = 8)
      .filter(col("doc_id") === 1).as[(Long, Long, Long)].collect()(0)
    assert(row1 === ((1L, 20L, 16L)))
  }

  test("substringDupCoverage: a boilerplate span shared by EVERY doc covers every doc") {
    // the hot-key case: the span's K-grams each occur once per document,
    // so one gram key carries the whole corpus; every doc must still be
    // reported, with at least the span's tokens covered
    val span = Dedup.Q270Span
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), concat(col("text"), lit(" " + span)).as("text"))
    val nDocs = docs.count()
    val out = Dedup.substringDupCoverage(docs, Dedup.Q270K)
    assert(out.count() === nDocs, "a document vanished from the coverage output")
    assert(out.filter(col("covered") < span.split(" ").length).count() === 0L,
      "a document under-reports the shared span: hot-gram rows were lost")
  }

  // ------------------------------------------------------------- q272
  test("q272 PQ: codebook shape, code range, and identical-vector code equality") {
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ed"))
    val twin = emb.filter(col("vec_id") === 0)
      .select(lit(900000L).as("vec_id"), col("ed"))
    val lf = Similarity.pqLongForm(emb.unionByName(twin))
    val cb = Similarity.pqCodebook(lf)
    // full codebook: every (subspace, codeword, dim) cell exists exactly once
    assert(cb.count() ===
      Similarity.PqSubspaces.toLong * Similarity.PqCodebook * Similarity.PqSubDim)
    val codes = Similarity.pqAssign(lf, cb)
    assert(codes.filter(col("cid") < 0 || col("cid") >= Similarity.PqCodebook).count() === 0)
    // every vector gets exactly M codes
    assert(codes.groupBy(col("vec_id")).count()
      .filter(col("count") =!= Similarity.PqSubspaces).count() === 0)
    // the planted twin is byte-identical to vec 0 ⇒ identical codes in every
    // subspace — the rank-1 recall certificate q272 rides on
    val q0 = codes.filter(col("vec_id") === 0).select(col("sub"), col("cid"))
    val qt = codes.filter(col("vec_id") === 900000L).select(col("sub"), col("cid"))
    assert(q0.exceptAll(qt).count() === 0 && qt.exceptAll(q0).count() === 0)
  }

  // ------------------------------------------------------------- q278
  test("q278: two-phase terciles equal the plain single-window ntile(3)") {
    import graft.operators.TextAnalysis
    val lp = TextAnalysis.bigramLmTable(spark, sf).select(col("g2"), col("lp_micro"))
    val perDoc = TextAnalysis.hashedBigrams(spark, sf).join(lp, "g2")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_big"),
        expr("cast(sum(lp_micro) as bigint)").as("d_sum"))
      .withColumn("key", expr(
        "cast((d_sum * 1000000 + n_big * 100000000000000) div n_big as bigint)"))
    val naive = perDoc
      .withColumn("tercile", ntile(3).over(
        Window.orderBy(col("key"), col("doc_id"))).cast("long"))
      .groupBy(col("tercile"))
      .agg(count(lit(1)).as("n_docs"),
        expr("cast(sum(n_big) as bigint)").as("n_bigrams"),
        expr("cast(sum(cast(d_sum as decimal(38,0))) as bigint)").as("lp_sum_micro"),
        expr("cast(min(key) - 100000000000000 as bigint)").as("min_avg_pico"),
        expr("cast(max(key) - 100000000000000 as bigint)").as("max_avg_pico"))
      .orderBy(col("tercile"))
    val twoPhase = TextAnalysis.q278PerplexityBuckets(spark, sf)
    assert(twoPhase.collect().toSeq === naive.collect().toSeq)
    spark.catalog.clearCache()
  }

  test("intervalOverlapJoin: reserved __bucket column is rejected") {
    import spark.implicits._
    val a = Seq((1L, 0L, 0L, 10L)).toDF("aid", "k", "alo", "ahi")
      .withColumn("__bucket", lit(0L))
    val b = Seq((2L, 0L, 0L, 10L)).toDF("bid", "k", "blo", "bhi")
    val e = intercept[IllegalArgumentException](
      Temporal.intervalOverlapJoin(a, b, "k", "alo", "ahi", "blo", "bhi", 10L))
    assert(e.getMessage.contains("__bucket"))
  }
}
