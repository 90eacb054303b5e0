package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Round-9 hardening: the q282 exact-integer rewrite (the last
  * `round(double, 6)` output in the catalog), the source-level guard that
  * keeps that defect class out, the per-doc LM score artifact's probe
  * consistency, and the q285 embeddings scan ceiling (the one round-8
  * query that shipped without one).
  */
class Round9Spec extends SparkSuite {

  // ------------------------------------------------------------- q282
  test("q282: planner outputs are exact integers matching the pow derivation") {
    val rows = graft.SparkEntry.queries("q282_lsh_planner")(spark, sf).collect()
    assert(rows.length === 20)
    // no double-typed column anywhere in the output — the r8 verdict's
    // "555fc28 class" must stay out of this query
    val df = graft.SparkEntry.queries("q282_lsh_planner")(spark, sf)
    assert(!df.schema.exists(_.dataType == DoubleType),
      s"q282 re-grew a double output column: ${df.schema.treeString}")
    rows.foreach { r =>
      val b = r.getAs[Long]("bands").toInt
      val rr = r.getAs[Long]("rows_per_band").toInt
      val a = r.getAs[Long]("j_tenths").toInt
      val j = a / 10.0
      // independent double-precision replay of the S-curve: the exact
      // BigInt value must sit within 1 µ of it (the doubles carry ~1e-10
      // absolute error; the exact integer is the ground truth)
      val p = 1.0 - math.pow(1.0 - math.pow(j, rr.toDouble), b.toDouble)
      assert(math.abs(r.getAs[Long]("p_candidate_micro") - p * 1e6) <= 1.0,
        s"b=$b r=$rr j=$j: exact=${r.getAs[Long]("p_candidate_micro")} double=${p * 1e6}")
      val jh = math.pow(1.0 / b, 1.0 / rr)
      assert(r.getAs[Long]("j_half_micro") === Math.round(jh * 1e6))
      // the µ-rounding of each j_half constant sits far from a .5
      // boundary, so a cross-engine libm last-bit difference cannot
      // flip it (the reason round-to-µ is legal for these four values)
      val frac = jh * 1e6 - math.floor(jh * 1e6)
      assert(math.abs(frac - 0.5) > 0.05,
        s"j_half for b=$b r=$rr rounds within 0.05µ of a boundary: $frac")
    }
    val deployed = rows.filter(_.getAs[Boolean]("deployed"))
    assert(deployed.length === 5 &&
      deployed.forall(_.getAs[Long]("bands") == graft.operators.Dedup.NumBands))
  }

  test("no new round(x, 6) double outputs enter the catalog (source grep)") {
    // the r8 verdict's done-criterion: round-to-6-places on a DOUBLE is
    // the defect class behind every round-7 hash fail (JVM vs DuckDB libm
    // at 5e-7 boundaries). The three grandfathered sites live in
    // EventAnalytics (theta/ts_slope — each divides an EXACT integer by a
    // power of ten first, so the rounding is exact); anything beyond them
    // fails here before it fails a driver hash.
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    val pat = java.util.regex.Pattern.compile("""round\([^)]*, *6\)""")
    val hits = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(srcRoot).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(p))
        val m = pat.matcher(text)
        var n = 0
        while (m.find()) n += 1
        if (n > 0) hits(p.getFileName.toString) = n
      }
    }
    assert(hits.keySet.subsetOf(Set("EventAnalytics.scala")) &&
      hits.getOrElse("EventAnalytics.scala", 0) <= 3,
      s"new round(x, 6) sites: $hits — use exact µ-unit integers instead")
  }

  // ----------------------------------------------------- doc-LM artifact
  test("doc-score artifact probes equal the direct scoring derivation") {
    // the artifact (q286's build) must hold exactly the frame its five
    // probes used to derive inline: hashed bigrams ⋈ stored LM → per-doc
    // exact sums. Checked column-for-column at sf0.001.
    import graft.operators.TextAnalysis
    val direct = TextAnalysis.hashedBigrams(spark, sf)
      .join(TextAnalysis.bigramLmTable(spark, sf)
        .select(col("g2"), col("lp_micro"), col("lpt_micro")), "g2")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_big"),
        expr("cast(sum(lp_micro) as bigint)").as("d_sum"),
        expr("cast(sum(lpt_micro - lp_micro) as bigint)").as("w"))
      .withColumn("key", expr(
        "cast((d_sum * 1000000 + n_big * 100000000000000) div n_big as bigint)"))
    val stored = TextAnalysis.docLmTable(spark, sf)
    assert(stored.count() === direct.count())
    assert(stored.exceptAll(direct).isEmpty && direct.exceptAll(stored).isEmpty,
      "stored doc-score artifact diverges from the inline derivation")
    spark.catalog.clearCache()
  }

  test("doc-LM probes scan documents zero times") {
    // q286's build pays the corpus scan; the five probes must not
    Seq("q228_bigram_lm_score", "q230_importance_weights",
        "q278_perplexity_buckets", "q281_threshold_sweep").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val n = graft.Explain.scanCounts(df).getOrElse("documents", 0)
      assert(n === 0, s"$q scans documents $n× — the probe contract broke")
    }
  }

  // ------------------------------------------------------------- q285
  test("q285: embeddings scan ceiling (the r8 gap)") {
    val df = graft.SparkEntry.queries("q285_rank_fusion")(spark, sf)
    val n = graft.Explain.scanCounts(df).getOrElse("embeddings", 0)
    assert(n <= 2, s"q285 scans embeddings $n× (ceiling 2: corpus + query side)")
  }

  // ------------------------------------------------------------- q304
  test("q304: pagerank mass is conserved up to integer-truncation dust") {
    val rows = graft.SparkEntry.queries("q304_pagerank")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("pr_pico")).sum
    // every edge contribution and the teleport term truncate downward —
    // at K=5 nodes and ≤25 edges the lost mass is bounded well under 1e6
    // pico-units; anything bigger means the recurrence is wrong
    assert(total <= 1000000000000L && total >= 1000000000000L - 1000000L,
      s"pagerank mass $total drifted from 1e12")
    assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to rows.length).toSeq)
  }

  // ------------------------------------------------------------- q305
  test("q305: winnowing density sits near the theoretical 2/(w+1)") {
    val rows = graft.SparkEntry.queries("q305_winnowing")(spark, sf).collect()
    rows.foreach { r =>
      val density = r.getAs[Long]("density_ppm")
      // 2/(w+1) = 400000 ppm for w=4; random hashes concentrate tightly
      // around it at per-language gram counts in the thousands
      assert(density > 250000 && density < 550000,
        s"lang ${r.getAs[String]("lang")}: density $density ppm far from 400000")
      assert(r.getAs[Boolean]("planted_ok"),
        s"lang ${r.getAs[String]("lang")}: a planted span escaped winnowing — " +
          "the ≥ w+k−1 shared-run guarantee broke")
    }
  }

  // ------------------------------------------------------------- q306
  test("q306: perceptron round-1 update equals the class-difference sums") {
    val rows = graft.SparkEntry.queries("q306_perceptron_rounds")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(rows.length === 3)
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    // at w = 0 every doc scores 0 and y·0 ≤ 0: all docs count misclassified
    assert(rows(0).getAs[Long]("n_misclassified") === nDocs)
    // round 3 is evaluation-only: weights must equal round 2's exactly
    Seq("w_bias", "w_tokens", "w_chars", "w_the", "w_long").foreach { c =>
      assert(rows(2).getAs[Long](c) === rows(1).getAs[Long](c),
        s"eval row mutated weight $c")
    }
  }

  // ------------------------------------------------------------- q307
  test("q307: JL norm ratios concentrate around 1 for every label") {
    val rows = graft.SparkEntry.queries("q307_random_projection")(spark, sf).collect()
    rows.foreach { r =>
      val avg = r.getAs[Long]("avg_ratio_ppm")
      val n = r.getAs[Long]("n_vecs")
      assert(avg > 600000 && avg < 1600000,
        s"label ${r.getAs[Long]("label")}: avg ratio $avg ppm — JL contract broken")
      // at d_out = 8 the ratio's relative σ is √(2/8) = 0.5 — tails
      // outside [½×, 2×] are expected for a sizable minority; the gate is
      // "not a majority", the avg above is the concentration certificate
      assert(r.getAs[Long]("n_below_half") + r.getAs[Long]("n_above_double") <= n / 2,
        s"label ${r.getAs[Long]("label")}: heavy JL tails")
    }
  }

  // ------------------------------------------------------------- q308
  test("q308: vocabulary growth is cumulative and ends at the full vocab") {
    val rows = graft.SparkEntry.queries("q308_heaps_growth")(spark, sf)
      .collect().sortBy(_.getAs[Long]("ck"))
    assert(rows.length === 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("vocab") <= b.getAs[Long]("vocab"))
      assert(a.getAs[Long]("n_docs") <= b.getAs[Long]("n_docs"))
    }
    val full = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "").select(col("t")).distinct().count()
    assert(rows(3).getAs[Long]("vocab") === full,
      "checkpoint 4 vocabulary must equal the corpus distinct-token count")
  }

  // ------------------------------------------------------------- q309
  test("q309: JSD stays within its ln-2 bound and strictly positive") {
    val rows = graft.SparkEntry.queries("q309_jsd_matrix")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val j = r.getAs[Long]("jsd_nano")
      assert(j > 0 && j <= 693147181L,
        s"${r.getAs[String]("la")}/${r.getAs[String]("lb")}: jsd $j nano-nats " +
          "outside (0, ln 2]")
    }
  }

  // ------------------------------------------------------------- q310
  test("q310: padded stream decomposes into tokens + pad at every width") {
    val rows = graft.SparkEntry.queries("q310_bucket_batching")(spark, sf).collect()
    val tok = rows.map(r =>
      r.getAs[Long]("padded_tokens") - r.getAs[Long]("pad_tokens")).distinct
    assert(tok.length === 1, "raw token mass must be width-invariant")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_batches") >= r.getAs[Long]("n_docs") / Q310B,
        "batch count below the pigeonhole floor")
    }
  }
  private val Q310B = graft.operators.Curation.Q310BatchSize

  // ------------------------------------------------------- q314/q315
  test("q315: hubness histogram mass equals the stored graph's edge count") {
    val hist = graft.SparkEntry.queries("q315_hubness_audit")(spark, sf).collect()
    val edgeMass = hist.map(r => r.getAs[Long]("occ") * r.getAs[Long]("n_vecs")).sum
    val edges = graft.operators.Similarity.knnGraphTable(spark, sf).count()
    assert(edgeMass === edges,
      s"Σ occ·n_vecs = $edgeMass but the stored graph has $edges edges")
  }

  // ------------------------------------------------------- q316/q317
  test("q317: every exact copy hits the stored winnowing index; novels never do") {
    val rows = graft.SparkEntry.queries("q317_winnow_admission")(spark, sf)
      .collect().map(r => r.getAs[String]("kind") -> r).toMap
    assert(rows("copy").getAs[Boolean]("all_hit"),
      "an exact copy produced no shared fingerprint — the winnowing guarantee broke")
    assert(rows("copy").getAs[Long]("n_docs") === 25L)
    // novel docs are built from tokens that exist in no corpus gram:
    // zero hits is a hard invariant, not a probabilistic expectation
    assert(rows("novel").getAs[Long]("n_hit_pairs") === 0L,
      "a synthetic novel doc matched a corpus fingerprint")
  }

  test("winnow admission under a universal boilerplate fingerprint: every copy flags") {
    // every corpus doc carries the q305 span, so one fingerprint's posting
    // list is corpus-sized; the skew-immune df-summary join must still
    // flag every batch doc, each an exact corpus copy
    import graft.operators.Dedup
    val corpus = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), concat(col("text"), lit(" " + Dedup.Q305Span)).as("text"))
    val nDocs = corpus.count()
    val dfSummary = Dedup.winnowSelect(corpus, Dedup.Q305K, Dedup.Q305W)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    assert(dfSummary.agg(max(col("df"))).collect()(0).getLong(0) >= nDocs,
      "no fingerprint is shared by every document")
    val batch = corpus.filter(col("doc_id") < 100)
      .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
    val flagged = Dedup.winnowSelect(batch, Dedup.Q305K, Dedup.Q305W)
      .select(col("doc_id"), col("sh")).distinct()
      .join(dfSummary, "sh").select(col("doc_id")).distinct()
    assert(batch.count() > 0)
    assert(batch.select(col("doc_id")).join(flagged, Seq("doc_id"), "left_anti").count() === 0L,
      "an exact copy did not flag: hot-key rows were lost")
  }

  // ------------------------------------------------------------- q319
  test("q319: inflation falls as the vocabulary cap rises") {
    val rows = graft.SparkEntry.queries("q319_vocab_truncation")(spark, sf)
      .collect().sortBy(_.getAs[Long]("v_size"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("inflation_ppm") >= b.getAs[Long]("inflation_ppm"),
        "a larger vocabulary must not inflate the token stream more")
      assert(a.getAs[Long]("n_oov_occurrences") >= b.getAs[Long]("n_oov_occurrences"))
    }
    assert(rows.forall(_.getAs[Long]("inflation_ppm") >= 1000000L))
  }

  // ------------------------------------------------------------- q320
  test("q320: the planted twin surfaces at rank 1; extra probes never lose candidates") {
    val rows = graft.SparkEntry.queries("q320_multiprobe_lsh")(spark, sf).collect()
    val q0 = rows.find(_.getAs[Long]("qid") == 0L).get
    // identical vectors project identically ⇒ same bucket ⇒ the twin is
    // a candidate, and its dot is maximal — rank 1 with zero failure
    // probability under any sign matrix
    assert(q0.getAs[Long]("top1_id") === 900000L,
      s"twin not at rank 1: ${q0.getAs[Long]("top1_id")}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_candidates") >= r.getAs[Long]("n_candidates_base"),
        "multi-probe produced fewer candidates than its own base bucket")
      assert(r.getAs[Long]("n_buckets_probed") <= 4L)
    }
  }

  // ------------------------------------------------------------- q321
  test("q321: calibration bins partition the corpus") {
    val rows = graft.SparkEntry.queries("q321_calibration_bins")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("bin")).sorted.toSeq === (1L to 5L))
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === n,
      "bins must partition every document exactly once")
  }

  // ------------------------------------------------------------- q322
  test("q322: recall@10 is monotone in nprobe") {
    val rows = graft.SparkEntry.queries("q322_nprobe_sweep")(spark, sf)
      .collect().sortBy(_.getAs[Long]("nprobe"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("recall_ppm") <= b.getAs[Long]("recall_ppm"),
        "probing more inverted lists must not lose recall")
    }
    assert(rows.last.getAs[Long]("recall_ppm") >= rows.head.getAs[Long]("recall_ppm"))
  }

  // ------------------------------------------------------------- q328
  test("q328: the funnel's certificates hold and the stages partition the batch") {
    val rows = graft.SparkEntry.queries("q328_dedup_funnel")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("certified"),
        s"kind ${r.getAs[String]("kind")}: funnel certificate failed")
      val total = r.getAs[Long]("caught_exact") + r.getAs[Long]("caught_substring") +
        r.getAs[Long]("caught_winnow") + r.getAs[Long]("n_clean")
      assert(total === r.getAs[Long]("n_docs"), "stages must partition the batch")
    }
    // the design point: last-word edits are invisible to exact hashing
    // and mostly invisible to the gdf≥2 gram table — winnowing is the
    // stage that catches them
    val edit = rows.find(_.getAs[String]("kind") == "edit").get
    assert(edit.getAs[Long]("caught_winnow") > edit.getAs[Long]("caught_substring"),
      "winnowing should be the marginal catcher for near-identical edits")
  }

  // ------------------------------------------------------------- q324
  test("q324: maintenance never shrinks a cell's edge set") {
    val rows = graft.SparkEntry.queries("q324_knn_maintain")(spark, sf).collect()
    // per-source edge count is min(k, members−1): membership only grows,
    // so each affected cell's edge count is monotone under maintenance
    rows.foreach { r =>
      assert(r.getAs[Long]("n_edges_after") >= r.getAs[Long]("n_edges_before"),
        s"cell ${r.getAs[Long]("cid")} lost edges during incremental maintenance")
    }
    assert(rows.map(_.getAs[Long]("n_added")).sum === 50L)
  }

  // ------------------------------------------------------------- q312
  test("q312: streamed HLL registers certify against exact distincts") {
    val rows = graft.SparkEntry.queries("q312_stream_hll_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"${r.getAs[String]("event_type")}: estimate " +
          s"${r.getAs[Long]("est_milli")} vs exact ${r.getAs[Long]("n_users_exact")}")
      assert(r.getAs[Long]("buckets_hit") <= 64)
    }
  }
}
