package graft

import org.apache.spark.sql.functions._

/** Round-11 hardening: q300's bitext pair generator routes through the
  * stored IVF index (multi-probe, the round-10 verdict's one remaining
  * scale-shape item) — this spec pins the fixture recall of the
  * restriction against the all-pairs generator it replaced.
  */
class Round11Spec extends SparkSuite {

  // ------------------------------------------------------------- q300
  test("q300: IVF-restricted top-10 margin pairs recover >= 8/10 of the all-pairs top-10") {
    import spark.implicits._
    val k = graft.operators.Similarity.Q300MarginK
    // the shipped (restricted) generator
    val restricted = graft.operators.Similarity
      .q300BitextMarginMining(spark, sf)
      .select(col("doc_en"), col("doc_de"))
      .as[(Long, Long)].collect().toSet
    // the all-pairs generator it replaced (round 10 and earlier): every
    // en-doc x de-doc dot — quadratic, test-only ground truth here
    val langs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val lf = graft.operators.Similarity.pqLfTable(spark, sf)
      .filter(col("vec_id") < 900000L)
      .join(langs, "vec_id")
      .filter(col("lang").isin("en", "de"))
    val a = lf.filter(col("lang") === "en")
      .select(col("vec_id").as("va"), col("sub"), col("jj"), col("xq").as("xa"))
    val b = lf.filter(col("lang") === "de")
      .select(col("vec_id").as("vb"), col("sub"), col("jj"), col("xq").as("xb"))
    val dots = a.join(b, Seq("sub", "jj"))
      .groupBy(col("va"), col("vb"))
      .agg(expr("cast(sum(xa * xb) as bigint)").as("dot"))
    import org.apache.spark.sql.expressions.Window
    val wa = Window.partitionBy(col("va")).orderBy(col("dot").desc, col("vb").asc)
    val wb = Window.partitionBy(col("vb")).orderBy(col("dot").desc, col("va").asc)
    val sa = dots.withColumn("rn", row_number().over(wa)).filter(col("rn") <= k)
      .groupBy(col("va")).agg(expr("cast(sum(dot) as bigint)").as("sum_a"))
    val sb = dots.withColumn("rn", row_number().over(wb)).filter(col("rn") <= k)
      .groupBy(col("vb")).agg(expr("cast(sum(dot) as bigint)").as("sum_b"))
    val allPairs = dots.join(sa, "va").join(sb, "vb")
      .withColumn("margin", expr(s"cast(2 * $k * dot - sum_a - sum_b as bigint)"))
      .orderBy(col("margin").desc, col("va").asc, col("vb").asc)
      .limit(10)
      .select(col("va"), col("vb")).as[(Long, Long)].collect().toSet
    val overlap = (restricted & allPairs).size
    // measured at round 11: 8/10 on the sf0.001 fixture at Q300Probes=3
    // (random fixture vectors are IVF's adversarial case — real
    // translation pairs co-locate; single-probe measured only 2/10,
    // which is why the shipped generator multi-probes)
    assert(overlap >= 8,
      s"IVF-restricted generator recovered only $overlap/10 all-pairs " +
        s"top-margin pairs:\n  restricted=$restricted\n  allPairs=$allPairs")
  }

  // ------------------------------------------------------------- q345
  test("q345: triangle census agrees with a brute-force adjacency count") {
    import spark.implicits._
    // independent ground truth: collect the (slice-sized) undirected edge
    // set and count triangles by set intersection — an algorithm-
    // independent check of the distributed wedge join
    val und = graft.operators.Similarity.knnGraphTable(spark, sf)
      .select(col("vec_id"), col("nbr_id")).as[(Long, Long)].collect()
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val adj = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val bruteTri = und.toSeq.map { case (u, v) =>
      (adj(u) & adj(v)).count(w => w > v) // w > v > u counts each once
    }.sum
    val row = graft.operators.Similarity.q345TriangleCensus(spark, sf)
      .select(col("n_triangles"), col("n_wedges"), col("transitivity_ppm"))
      .limit(1).collect()(0)
    assert(row.getLong(0) === bruteTri.toLong,
      s"census ${row.getLong(0)} != brute ${bruteTri}")
    val bruteWedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(row.getLong(1) === bruteWedges)
    assert(row.getLong(2) === 3L * bruteTri * 1000000L / bruteWedges)
  }

  // ------------------------------------------------------------- q346
  test("q346: streaming pack totals satisfy the pack arithmetic per source") {
    val rows = graft.SparkEntry.queries("q346_stream_packing")(spark, sf).collect()
    val L = graft.operators.Sampling.Q342Budget
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tok, packs, fill, cross) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(tok == packs * L + fill, s"token identity broken: $r")
      assert(fill >= 0 && fill < L)
      // every completed pack boundary is crossed by at most one doc, and a
      // crossing needs a boundary: crossings <= interior boundaries
      assert(cross >= 0 && cross <= packs, s"crossings out of range: $r")
    }
  }

  // ------------------------------------------------------------- q347
  test("q347: FIM spans partition the FIM token mass exactly") {
    val rows = graft.SparkEntry.queries("q347_fim_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, nf) = (r.getLong(1), r.getLong(2))
      val (tot, pre, mid, suf) = (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(pre + mid + suf === tot, s"span partition broken: $r")
      assert(nf > 0 && nf < nd, s"degenerate FIM rate: $r")
      val share = r.getLong(8)
      assert(share >= 0 && share <= 1000000)
    }
  }

  // ------------------------------------------------------------- q348
  test("q348: centroid AUC separates every label well above chance") {
    val rows = graft.SparkEntry.queries("q348_centroid_auc")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val (np, nn, conc, tied, auc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(conc + tied <= np * nn, s"U statistic exceeds pair count: $r")
      // measured at round 11: 0.76-0.85 across all 10 labels on the
      // fixture — the synthetic label structure is real signal; chance
      // would be ~0.5
      assert(auc > 700000L && auc < 1000000L, s"AUC out of expected band: $r")
    }
  }

  // ------------------------------------------------------------- q349
  test("q349: untouched centroids pass through; the batch lands fully") {
    val rows = graft.SparkEntry.queries("q349_centroid_maintain")(spark, sf).collect()
    assert(rows.length === graft.operators.Similarity.IvfK)
    val batchTotal = rows.map(_.getLong(2)).sum
    assert(batchTotal === 20L, s"batch members lost: $batchTotal != 20")
    rows.foreach { r =>
      val (nb, c0b, c0a, c32b, c32a) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      if (nb == 0L) {
        assert(c0a === c0b && c32a === c32b,
          s"untouched centroid moved: $r")
      } else {
        // a count-weighted mean with a non-empty batch moves the
        // coordinate unless the batch mean equals it exactly —
        // vanishingly unlikely on real data, so movement is the signal
        assert(c0a != c0b || c32a != c32b, s"touched centroid frozen: $r")
      }
    }
  }

  // ------------------------------------------------------------- q350
  test("q350: domain weights apportion to exactly one million ppm") {
    val rows = graft.SparkEntry.queries("q350_domain_reweight")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(5)).sum === 1000000L,
      "largest-remainder apportionment must sum exactly to 1e6")
    // weight is monotone in excess up to the +/-1 remainder unit
    val byExcess = rows.map(r => (r.getLong(4), r.getLong(5))).sortBy(_._1)
    byExcess.sliding(2).foreach {
      case Array((e1, w1), (e2, w2)) =>
        if (e2 > e1) assert(w2 + 1 >= w1, s"weight not monotone: ($e1,$w1) vs ($e2,$w2)")
      case _ =>
    }
  }

  // ------------------------------------------------------------- q351
  test("q351: reciprocal ranks are consistent with the first-hit ranks") {
    val rows = graft.SparkEntry.queries("q351_mrr_eval")(spark, sf).collect()
    assert(rows.length === 10)
    val meanExpected = rows.map(_.getLong(2)).sum / 10
    rows.foreach { r =>
      val (fr, rr, mean) = (r.getLong(1), r.getLong(2), r.getLong(3))
      if (fr == 0L) assert(rr === 0L)
      else assert(rr === 1000000L / fr, s"rr inconsistent: $r")
      assert(mean === meanExpected)
    }
  }

  // ------------------------------------------------------------- q352
  test("q352: fragmentation bands partition the corpus") {
    val rows = graft.SparkEntry.queries("q352_pack_fragmentation")(spark, sf).collect()
    val totalDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === totalDocs,
      "length bands must partition every document")
    rows.foreach { r =>
      val (nd, nc, ppm) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(nc <= nd && ppm >= 0 && ppm <= 1000000)
      assert(ppm === nc * 1000000L / nd)
    }
  }

  // ------------------------------------------------------------- q353
  test("q353: conformal identities hold and coverage sits near the target") {
    val r = graft.SparkEntry.queries("q353_conformal_sets")(spark, sf).collect()(0)
    val (nCal, nTest, nCov, covPpm, meanSet) =
      (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(covPpm === nCov * 1000000L / nTest)
    // a single calibration draw wobbles around 1-alpha = 0.9; measured
    // 0.837 (sf0.001, n_cal=100) and 0.913 (sf0.01)
    assert(covPpm > 750000L && covPpm <= 1000000L, s"coverage out of band: $r")
    // every covered vector contributes >= 1 label to its set, so the mean
    // set size (in micro-labels) dominates the coverage share
    assert(meanSet >= covPpm, s"set size below coverage: $r")
    assert(nCal > 0 && nTest > 0)
  }

  // ------------------------------------------------------------- q354
  test("q354: streaming CUSUM calibrates and bounds its alarms") {
    val rows = graft.SparkEntry.queries("q354_stream_cusum_alarm")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, tgt, mx, al) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nd > graft.streaming.StreamingOps.Q354CalDays,
        s"fixture type with too few closed days: $r")
      assert(tgt > 0L, s"calibration produced no target: $r")
      assert(mx >= 0L && al >= 0L && al <= nd - graft.streaming.StreamingOps.Q354CalDays)
    }
  }

  // ------------------------------------------------------------- q355
  test("q355: border runs detect exactly the planted letterbox") {
    import graft.operators.Multimodal._
    assert(borderRuns(makePatternBmp(3)) === ((0, 0)),
      "pattern interior misread as uniform")
    for (b <- 1 to 3)
      assert(borderRuns(makeBorderedBmp(5, b)) === ((b, b)),
        s"planted $b-row letterbox not recovered")
  }

  // ------------------------------------------------------------- q356
  test("q356: the reported threshold is the true between-class-variance argmax") {
    val rows = graft.SparkEntry.queries("q356_otsu_threshold")(spark, sf).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val (pat, t, a2, den, w0) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // independent ground truth: recompute the full histogram from the
      // decoded bytes and scan every candidate split by brute force
      val h = graft.operators.Multimodal
        .pixelHistogram256(graft.operators.Multimodal.makePatternBmp(pat.toInt))
      val nn = h.sum
      val ss = h.zipWithIndex.map { case (n, v) => n * v.toLong }.sum
      var bw0 = 0L; var bs0 = 0L
      var best: (Double, Long, BigInt, Long, Long) = null
      for (v <- 0 until 256 if h(v) > 0) {
        bw0 += h(v); bs0 += h(v) * v.toLong
        if (bw0 < nn) {
          val a = BigInt(ss) * bw0 - BigInt(nn) * bs0
          val d = bw0 * (nn - bw0)
          val score = (a * a).toDouble / d.toDouble
          if (best == null || score > best._1)
            best = (score, v.toLong, a * a, d, bw0)
        }
      }
      assert(t === best._2, s"pattern $pat: argmax $t != brute ${best._2}")
      assert(BigInt(a2) === best._3 && den === best._4 && w0 === best._5,
        s"pattern $pat certificate mismatch: $r vs $best")
    }
  }

  // ------------------------------------------------------------- q357
  test("q357: SQ8 recall agrees with a brute-force recomputation") {
    import spark.implicits._
    // independent ground truth from the raw embeddings table (the query
    // runs off the stored long form — this recomputes from scratch)
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint)) as xq")
      .as[(Long, Seq[Long])].collect().toMap
    val dims = vecs.head._2.length
    val mn = (0 until dims).map(j => vecs.values.map(_(j)).min)
    val mx = (0 until dims).map(j => vecs.values.map(_(j)).max)
    def recon(v: Seq[Long]): Seq[Long] = (0 until dims).map { j =>
      val code = if (mx(j) > mn(j)) (v(j) - mn(j)) * 255 / (mx(j) - mn(j)) else 0L
      mn(j) + code * (mx(j) - mn(j)) / 255
    }
    val rows = graft.SparkEntry.queries("q357_sq8_recall")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val qid = r.getLong(0)
      def top10(score: Long => Long): Seq[Long] =
        vecs.keys.filter(_ != qid).toSeq
          .sortBy(v => (-score(v), v)).take(10)
      val qx = vecs(qid); val qh = recon(vecs(qid))
      val ex = top10(v => vecs(v).zip(qx).map { case (a, b) => a * b }.sum)
      val sqTop = top10(v => recon(vecs(v)).zip(qh).map { case (a, b) => a * b }.sum)
      assert(r.getLong(1) === (ex.toSet & sqTop.toSet).size.toLong,
        s"qid $qid n_hits mismatch: $r vs exact=$ex sq8=$sqTop")
      val exScore = (v: Long) => vecs(v).zip(qx).map { case (a, b) => a * b }.sum
      val worst = sqTop.minBy(v => (exScore(v), -v))
      val rank = 1 + vecs.keys.filter(_ != qid).count(v =>
        exScore(v) > exScore(worst) || (exScore(v) == exScore(worst) && v < worst))
      assert(r.getLong(3) === rank.toLong, s"qid $qid rank_worst mismatch: $r vs $rank")
    }
  }

  // ------------------------------------------------------------- q358
  test("q358: bloom audit equals a brute-force bitset replay") {
    import graft.operators.Dedup.{Q358P, Q358K, Q358Seeds}
    val keys = graft.sources.Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderkey"))
      .collect().map(_.getLong(0))
    val build = keys.filter(_ % 2 == 0); val probe = keys.filter(_ % 2 == 1)
    val m = build.length * 8L
    def pos(key: Long, a: Long, b: Long): Long = {
      val y = ((key % Q358P) * a + b) % Q358P
      y * y % Q358P % m
    }
    val bits = (for (k <- build; (a, b) <- Q358Seeds) yield pos(k, a, b)).toSet
    val fp = probe.count(k => Q358Seeds.forall { case (a, b) => bits(pos(k, a, b)) })
    val r = graft.SparkEntry.queries("q358_bloom_fpr_audit")(spark, sf).collect()(0)
    assert(r.getLong(0) === build.length.toLong)
    assert(r.getLong(1) === m)
    assert(r.getLong(3) === bits.size.toLong, s"set_bits mismatch: $r")
    assert(r.getLong(6) === fp.toLong, s"fp_count mismatch: $r")
    assert(r.getLong(7) === fp.toLong * 1000000L / probe.length)
  }

  // ------------------------------------------------------------- q359
  test("q359: decimation identities hold against an array-level replay") {
    import graft.operators.Multimodal._
    for (seed <- 0 to 3) {
      val wav = makePatternWav(seed)
      val bb = java.nio.ByteBuffer.wrap(wav).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val samples = Array.tabulate(8192)(i => bb.getShort(44 + i * 2).toLong)
      val groups = samples.grouped(3).filter(_.length == 3).toArray
      val means = groups.map(g => g.sum / 3)
      val (nOut, sumOut, sumAbs, maxAbs, straddle) = decimateStats(wav, Q359Factor)
      assert(nOut === groups.length.toLong)
      assert(sumOut === means.sum)
      assert(sumAbs === means.map(math.abs).sum)
      assert(maxAbs === means.map(math.abs).max)
      assert(straddle === groups.count(g => g.distinct.length > 1).toLong)
      // the decimated stream still carries the silence-prefix signature:
      // seed*8 frames of 256 samples -> seed*8*256/3 all-zero leading means
      assert(means.take(seed * 8 * 256 / 3).forall(_ == 0L))
    }
  }

  // ------------------------------------------------------------- q360
  test("q360: RR/PC agree with a brute-force block replay") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)].collect()
    val corpus = docs ++ docs.filter(_._1 % 7 == 0)
      .map { case (id, t, n) => (id + 10000000L, t + " zzzz", n + 5) }
    def stats(key: ((Long, String, Long)) => String): (Long, Long, Long) = {
      val blocks = corpus.groupBy(key).map(_._2.size.toLong)
      (blocks.size.toLong, blocks.map(n => n * (n - 1) / 2).sum, corpus.length.toLong)
    }
    val truth = docs.filter(_._1 % 7 == 0)
    val rows = graft.SparkEntry.queries("q360_blocking_quality")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    for ((scheme, key, coBlocked) <- Seq(
      ("prefix16", (d: (Long, String, Long)) => d._2.take(16),
        truth.count(d => d._2.take(16) == (d._2 + " zzzz").take(16))),
      ("lenband64", (d: (Long, String, Long)) => (d._3 / 64).toString,
        truth.count(d => d._3 / 64 == (d._3 + 5) / 64)))) {
      val (nBlocks, cand, m) = stats(key)
      val r = rows(scheme)
      assert(r.getLong(1) === m && r.getLong(2) === nBlocks && r.getLong(3) === cand,
        s"$scheme geometry mismatch: $r vs ($m, $nBlocks, $cand)")
      val total = m * (m - 1) / 2
      assert(r.getLong(4) === total)
      assert(r.getLong(5) === (total - cand) * 1000000L / total)
      assert(r.getLong(7) === coBlocked.toLong * 1000000L / truth.length,
        s"$scheme PC mismatch: $r")
    }
  }

  // ------------------------------------------------------------- q361
  test("q361: two-phase run counting equals a single-process replay") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): Long = {
      val hex = md.digest(s"mix#$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val ordered = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).as[(Long, String)].collect()
      .sortBy { case (id, _) => (h(id), id) }
    val runs = scala.collection.mutable.Map.empty[String, Long]
    var prev: String = null
    ordered.foreach { case (_, s) =>
      if (prev == null || prev != s) runs(s) = runs.getOrElse(s, 0L) + 1
      prev = s
    }
    val rows = graft.SparkEntry.queries("q361_mixing_runs")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) === runs(r.getString(0)),
        s"${r.getString(0)} runs mismatch: $r vs ${runs(r.getString(0))}")
      assert(r.getLong(3) === r.getLong(1) * 1000000L / r.getLong(2))
    }
  }

  // ------------------------------------------------------------- q362
  test("q362: walk ranks verified by brute recomputation, visits bounded") {
    import spark.implicits._
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.operators.Similarity.Q314Slice)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint)) as xq")
      .as[(Long, Seq[Long])].collect().toMap
    val cellOf = graft.operators.Similarity.ivfAssignTable(spark, sf)
      .filter(col("vec_id") < graft.operators.Similarity.Q314Slice)
      .select(col("vec_id"), col("cid")).as[(Long, Long)].collect().toMap
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val rows = graft.SparkEntry.queries("q362_graph_walk_ann")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val (qid, cid, nCell, nVisited, found, rCell, rSlice) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))
      assert(cellOf(qid) === cid, s"probe cell must be the query's own: $r")
      assert(cellOf(found) === cid, s"walk escaped its cell: $r")
      assert(nVisited >= 1 && nVisited <= 13, s"visit bound broken: $r")
      assert(nCell === cellOf.count { case (v, c) => c == cid && v != qid }.toLong)
      val bd = dot(vecs(qid), vecs(found))
      def better(pool: Iterable[Long]): Long = pool.count(v =>
        dot(vecs(qid), vecs(v)) > bd ||
          (dot(vecs(qid), vecs(v)) == bd && v < found)).toLong
      val cellPool = cellOf.collect { case (v, c) if c == cid && v != qid => v }
      val slicePool = vecs.keys.filter(_ != qid)
      assert(rCell === 1 + better(cellPool), s"rank_cell mismatch: $r")
      assert(rSlice === 1 + better(slicePool), s"rank_slice mismatch: $r")
      assert(rSlice >= rCell)
    }
  }

  // ------------------------------------------------------------- q363
  test("q363: per-source EMD equals a brute CDF replay") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).as[(String, Long)].collect()
    val nn = docs.length.toLong
    val corpusBins = Array.tabulate(16)(b =>
      docs.count { case (_, n) => math.min(n / 256, 15) == b }.toLong)
    val rows = graft.SparkEntry.queries("q363_emd_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = docs.filter(_._1 == src)
      val ns = mine.length.toLong
      assert(r.getLong(1) === ns)
      val srcBins = Array.tabulate(16)(b =>
        mine.count { case (_, n) => math.min(n / 256, 15) == b }.toLong)
      var cum = 0L; var emd = 0L; var mx = 0L
      for (b <- 0 until 16) {
        cum += srcBins(b) * 1000000L / ns - corpusBins(b) * 1000000L / nn
        emd += math.abs(cum); mx = math.max(mx, math.abs(cum))
      }
      assert(r.getLong(2) === emd, s"$src EMD mismatch: $r vs $emd")
      assert(r.getLong(3) === mx)
    }
  }

  private def md5p(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  // ------------------------------------------------------------- q364
  test("q364: KN components equal a single-process estimator replay") {
    import spark.implicits._
    val texts = graft.sources.Tables.documents(spark, sf)
      .select(col("text")).as[String].collect()
    val bigs = texts.map(_.split(" ")).filter(_.length >= 2)
      .flatMap(ws => ws.sliding(2).map(p => (p(0), p(1))))
    val c = bigs.groupBy(identity).map { case ((v, w), g) =>
      (md5p(v), md5p(w), md5p(v + "\u0001" + w)) -> g.length.toLong }
    val cv = c.groupBy(_._1._1).map { case (gv, m) =>
      gv -> (m.values.sum, m.size.toLong) }
    val cw = c.groupBy(_._1._2).map { case (gw, m) => gw -> m.size.toLong }
    val nTypes = c.size.toLong
    val D = graft.operators.TextAnalysis.Q364D
    val expected = c.toSeq.sortBy { case ((_, _, g2), n) => (-n, g2) }.take(10)
      .map { case ((gv, gw, g2), cvw) =>
        val (cvTot, n1pv) = cv(gv)
        val n1pw = cw(gw)
        val pcont = n1pw * 1000000L / nTypes
        val lambda = D * n1pv / cvTot
        val pkn = math.max(cvw * 1000000L - D, 0L) / cvTot + lambda * pcont / 1000000L
        (g2, cvw, cvTot, n1pv, n1pw, pcont, lambda, pkn)
      }
    val rows = graft.SparkEntry.queries("q364_kneser_ney")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.toSeq === expected, s"KN replay mismatch")
  }

  // ------------------------------------------------------------- q365
  test("q365: streamed registers put both quantiles in the right bin") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_type", "event_id", "cast(round(value * 100) as bigint) as vc")
      .as[(String, Long, Long)].collect()
    val rows = graft.SparkEntry.queries("q365_stream_quantile_monitor")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getString(0)
      val vs = ev.filter(_._1 == t).sortBy(e => (e._3, e._2)).map(_._3)
      val n = vs.length
      assert(r.getLong(1) === n.toLong)
      val p50 = vs(((n + 1) / 2 - 1).toInt)
      val p95 = vs((19 * (n + 1) / 20 - 1).toInt)
      assert(r.getLong(4) === p50, s"$t p50 mismatch: $r vs $p50")
      assert(r.getLong(6) === p95, s"$t p95 mismatch: $r vs $p95")
      assert(r.getLong(3) === math.min(p50 / 2000, 15))
      assert(r.getLong(5) === math.min(p95 / 2000, 15))
      assert(r.getLong(2) === vs.map(v => math.min(v / 2000, 15)).distinct.length.toLong)
    }
  }

  // ------------------------------------------------------------- q366
  test("q366: parity ratios replay from raw gate counts") {
    import spark.implicits._
    val stops = graft.operators.TextAnalysis.Lexicons("en").toSet
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text"), col("lang"))
      .as[(String, String, String)].collect()
    val per = docs.groupBy(_._1).map { case (src, g) =>
      val sel = g.count { case (_, t, l) =>
        val ws = t.split(" ")
        ws.length >= 20 && 2L * ws.count(stops) <= ws.length &&
          Set("en", "de", "fr")(l)
      }
      src -> (g.length.toLong, sel.toLong)
    }
    val (bn, bs) = per.toSeq.sortBy { case (src, (n, s)) =>
      (-(s * 1000000L / n), src) }.head._2
    val rows = graft.SparkEntry.queries("q366_selection_parity")(spark, sf).collect()
    rows.foreach { r =>
      val (n, s) = per(r.getString(0))
      assert(r.getLong(1) === n && r.getLong(2) === s)
      assert(r.getLong(3) === s * 1000000L / n)
      val parity = if (bs == 0) 1000000L
        else (BigInt(s) * bn * 1000000 / (BigInt(n) * bs)).toLong
      assert(r.getLong(4) === parity, s"${r.getString(0)} parity: $r vs $parity")
      assert(r.getBoolean(5) === (parity < 800000L))
    }
  }

  // ------------------------------------------------------------- q367
  test("q367: phrase vs bag document frequencies replay exactly") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val pairs = docs.flatMap { case (id, t) =>
      val ws = t.split(" ")
      if (ws.length >= 2) ws.sliding(2).map(p => (id, p(0), p(1))) else Iterator.empty
    }
    val top5 = pairs.groupBy(p => (p._2, p._3)).toSeq
      .map { case (k, g) => (k, g.length.toLong) }
      .sortBy { case ((w1, w2), n) => (-n, w1, w2) }.take(5)
    val rows = graft.SparkEntry.queries("q367_phrase_search")(spark, sf).collect()
    assert(rows.length === 5)
    top5.zip(rows.sortBy(r => (-r.getLong(1), r.getString(0)))).foreach {
      case (((w1, w2), n), r) =>
        assert(r.getString(0) === s"$w1 $w2" && r.getLong(1) === n)
        val dfP = pairs.filter(p => p._2 == w1 && p._3 == w2).map(_._1).distinct.length
        val withW1 = docs.filter(_._2.split(" ").contains(w1)).map(_._1).toSet
        val withW2 = docs.filter(_._2.split(" ").contains(w2)).map(_._1).toSet
        val dfB = (withW1 & withW2).size
        assert(r.getLong(2) === dfP.toLong && r.getLong(3) === dfB.toLong,
          s"df mismatch for '$w1 $w2': $r vs ($dfP, $dfB)")
        assert(r.getLong(4) === dfP.toLong * 1000000L / dfB)
    }
  }

  // ------------------------------------------------------------- q368
  test("q368: greedy coverage equals a single-process replay; marginals shrink") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).as[(String, String)].collect()
    val bySource: Map[String, Set[Long]] = docs.groupBy(_._1).map { case (s, g) =>
      s -> g.flatMap { case (_, t) =>
        val ws = t.split(" ")
        if (ws.length >= 2) ws.sliding(2).map(p => md5p(p(0) + "\u0001" + p(1)))
        else Iterator.empty
      }.toSet
    }
    var covered = Set.empty[Long]; var picked = List.empty[(String, Long)]
    for (_ <- 1 to graft.operators.Curation.Q368Steps) {
      val (src, m) = bySource.view
        .filterKeys(s => !picked.exists(_._1 == s))
        .map { case (s, g) => (s, (g -- covered).size.toLong) }
        .toSeq.sortBy { case (s, m) => (-m, s) }.head
      picked = picked :+ ((src, m))
      covered = covered ++ bySource(src)
    }
    val universe = bySource.values.reduce(_ ++ _).size.toLong
    val rows = graft.SparkEntry.queries("q368_coverage_selection")(spark, sf).collect()
    assert(rows.length === 4)
    var cum = 0L
    rows.zip(picked).zipWithIndex.foreach { case ((r, (src, m)), i) =>
      cum += m
      assert(r.getLong(0) === i + 1L && r.getString(1) === src &&
        r.getLong(2) === m && r.getLong(3) === cum,
        s"greedy step ${i + 1} mismatch: $r vs ($src, $m, $cum)")
      assert(r.getLong(4) === cum * 1000000L / universe)
    }
    // greedy max-coverage marginals are non-increasing (submodularity)
    assert(rows.map(_.getLong(2)).sliding(2).forall(p => p(0) >= p(1)))
  }

  // ------------------------------------------------------------- q369
  test("q369: EWMA replay matches day for day") {
    import spark.implicits._
    val daily = graft.sources.Tables.orders(spark, sf)
      .selectExpr("CAST(o_orderdate AS DATE) as day")
      .as[java.sql.Date].collect()
      .groupBy(identity).map { case (d, g) => d.toString -> g.length.toLong }
    val days = daily.keys.toSeq.sorted
    val xs = days.map(daily)
    val T = graft.operators.Profiling.Q369Terms
    val mass = (1L << T) - 1L
    val ewma = xs.indices.map { t =>
      (0 until T).map(k =>
        (if (t - k >= 0) xs(t - k) else 0L) * (1L << (T - 1 - k))).sum * 1000000L / mass
    }
    val expected = days.indices
      .map(t => (days(t), xs(t), ewma(t), xs(t) * 1000000L - ewma(t)))
      .sortBy { case (d, _, _, dev) => (-dev, d) }.take(10)
    val rows = graft.SparkEntry.queries("q369_ewma_trend")(spark, sf).collect()
    rows.zip(expected).foreach { case (r, (d, x, e, dev)) =>
      assert(r.getDate(0).toString === d && r.getLong(1) === x &&
        r.getLong(2) === e && r.getLong(3) === dev,
        s"EWMA mismatch: $r vs ($d, $x, $e, $dev)")
      assert(r.getLong(4) === days.length.toLong)
    }
  }

  // ------------------------------------------------------------- q370
  test("q370: decile gains replay from a brute global ranking") {
    import spark.implicits._
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint)) as xq",
        "cast(label as bigint) as lab")
      .as[(Long, Seq[Long], Long)].collect()
    val s7 = vecs.filter(_._3 == 7L).map(_._2)
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val scored = vecs.map { case (id, xq, lab) =>
      (id, xq.zip(s7).map { case (x, s) => x * s }.sum, lab == 7L)
    }.sortBy { case (id, sc, _) => (-sc, id) }
    val nn = scored.length.toLong
    val pp = scored.count(_._3).toLong
    val perDecile = scored.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 10 / nn }
    val rows = graft.SparkEntry.queries("q370_gains_curve")(spark, sf).collect()
    assert(rows.length === 10)
    var cumN = 0L; var cumP = 0L
    rows.foreach { r =>
      val dec = r.getLong(0)
      val mine = perDecile(dec)
      cumN += mine.length; cumP += mine.count(_._1._3)
      assert(r.getLong(1) === mine.length.toLong &&
        r.getLong(2) === mine.count(_._1._3).toLong &&
        r.getLong(3) === cumP, s"decile $dec mismatch: $r")
      assert(r.getLong(4) === (BigInt(cumP) * nn * 1000000 / (BigInt(cumN) * pp)).toLong)
      assert(r.getLong(5) === cumP * 1000000L / pp)
    }
    // the scorer must beat random at the top of the list
    assert(rows.head.getLong(4) > 1000000L, "top decile shows no lift")
  }

  // ------------------------------------------------------------- q371
  test("q371: ladder verdicts replay from raw band counts") {
    import spark.implicits._
    val bcs = graft.sources.Tables.customer(spark, sf)
      .selectExpr("cast(round(c_acctbal * 100) as bigint) + 100000 as bc")
      .as[Long].collect()
    val k = graft.operators.Profiling.Q371K
    val perWidth = graft.operators.Profiling.Q371Widths.map { w =>
      val groups = bcs.groupBy(_ / w).map(_._2.length.toLong)
      (w, groups.size.toLong, groups.min,
        groups.filter(_ < k).sum, groups.min >= k)
    }
    val chosen = perWidth.filter(_._5).map(_._1).sorted.headOption.getOrElse(-100L)
    val rows = graft.SparkEntry.queries("q371_generalization_search")(spark, sf).collect()
    rows.zip(perWidth).foreach { case (r, (w, ng, mn, risk, sat)) =>
      assert(r.getLong(0) === w / 100 && r.getLong(1) === ng &&
        r.getLong(2) === mn && r.getLong(3) === risk &&
        r.getBoolean(4) === sat, s"ladder rung mismatch: $r vs ($w, $ng, $mn, $risk, $sat)")
      assert(r.getLong(5) === chosen / 100, s"chosen width mismatch: $r")
    }
  }

  // ------------------------------------------------------------- q372
  test("q372: streamed bloom admission equals a brute bitset replay") {
    import spark.implicits._
    import graft.operators.Dedup.{Q358P, Q358Seeds}
    val texts = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val m = texts.length * 8L
    def pos(key: Long, a: Long, b: Long): Long = {
      val y = ((key % Q358P) * a + b) % Q358P
      y * y % Q358P % m
    }
    val bits = (for ((_, t) <- texts; (a, b) <- Q358Seeds)
      yield pos(md5p(t), a, b)).toSet
    def rejected(t: String): Boolean =
      Q358Seeds.forall { case (a, b) => bits(pos(md5p(t), a, b)) }
    val copies = texts.filter(_._1 < 25).map(_._2)
    val novels = texts.filter(d => d._1 >= 25 && d._1 < 50).map { case (id, _) =>
      (0 to 19).map(j => s"nv${id}x$j").mkString(" ")
    }
    assert(copies.forall(rejected), "bloom false negative — impossible by contract")
    val expectedNovelRej = novels.count(rejected).toLong
    val rows = graft.SparkEntry.queries("q372_stream_bloom_admission")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val c = rows("copy"); val n = rows("novel")
    assert(c.getLong(1) === 25L && c.getLong(3) === 25L && c.getBoolean(4),
      s"copy certificate broken: $c")
    assert(n.getLong(1) === 25L && n.getLong(3) === expectedNovelRej,
      s"novel FP count mismatch: $n vs $expectedNovelRej")
  }

  // ------------------------------------------------------------- q373
  test("q373: XmR limits replay day for day") {
    import spark.implicits._
    val daily = graft.sources.Tables.orders(spark, sf)
      .selectExpr("CAST(o_orderdate AS DATE) as day").as[java.sql.Date].collect()
      .groupBy(_.toString).map { case (d, g) => d -> g.length.toLong }
    val days = daily.keys.toSeq.sorted
    val xs = days.map(daily)
    val nn = xs.length.toLong; val sx = xs.sum
    val mrs = xs.sliding(2).map(p => math.abs(p(1) - p(0))).toSeq
    val smr = mrs.sum; val nmr = mrs.length.toLong
    val scored = days.indices.map { t =>
      val dev = math.abs(xs(t) * nn - sx) * nmr * 1000
      (days(t), xs(t), dev, 2660L * smr * nn)
    }
    val nOut = scored.count { case (_, _, d, l) => d > l }.toLong
    val expected = scored.sortBy { case (d, _, dev, _) => (-dev, d) }.take(10)
    val rows = graft.SparkEntry.queries("q373_xmr_control_chart")(spark, sf).collect()
    rows.zip(expected).foreach { case (r, (d, x, dev, lim)) =>
      assert(r.getDate(0).toString === d && r.getLong(1) === x &&
        r.getLong(2) === dev && r.getLong(3) === lim,
        s"XmR mismatch: $r vs ($d, $x, $dev, $lim)")
      assert(r.getBoolean(4) === (dev > lim) && r.getLong(5) === nOut)
    }
  }

  // ------------------------------------------------------------- q374
  test("q374: P/R/F1 identities replay from the prediction frame") {
    import spark.implicits._
    val preds = graft.operators.TextAnalysis.naiveBayesPredictions(spark, sf)
      .select(col("lang_true"), col("lang_pred")).as[(String, String)].collect()
    val classes = preds.map(_._1).distinct.sorted
    val stats = classes.map { c =>
      val tp = preds.count(p => p._1 == c && p._2 == c).toLong
      val fn = preds.count(p => p._1 == c && p._2 != c).toLong
      val fp = preds.count(p => p._1 != c && p._2 == c).toLong
      (c, tp, fp, fn, 2 * tp * 1000000L / (2 * tp + fp + fn))
    }
    val macroF1 = stats.map(_._5).sum / stats.length
    val microF1 = stats.map(_._2).sum * 1000000L / preds.length
    val rows = graft.SparkEntry.queries("q374_classifier_f1")(spark, sf).collect()
    rows.zip(stats).foreach { case (r, (c, tp, fp, fn, f1)) =>
      assert(r.getString(0) === c && r.getLong(1) === tp &&
        r.getLong(2) === fp && r.getLong(3) === fn && r.getLong(6) === f1,
        s"class $c mismatch: $r vs ($tp, $fp, $fn, $f1)")
      assert(r.getLong(4) === tp * 1000000L / (tp + fp))
      assert(r.getLong(5) === tp * 1000000L / (tp + fn))
      assert(r.getLong(7) === macroF1 && r.getLong(8) === microF1)
    }
    // micro-F1 equals accuracy for single-label multiclass — the identity
    assert(microF1 === preds.count(p => p._1 == p._2).toLong * 1000000L / preds.length)
  }

  // ------------------------------------------------------------- q375/q376
  test("q375/q376: inverted index build and probe replay from raw tokens") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val postings = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (md5p(w), id))
    }.groupBy(identity).map { case ((th, id), g) => (th, id, g.length.toLong) }.toSeq
    val b = graft.SparkEntry.queries("q375_build_inv_index")(spark, sf).collect()(0)
    assert(b.getLong(0) === postings.map(_._1).distinct.length.toLong)
    assert(b.getLong(1) === postings.length.toLong)
    assert(b.getLong(2) === postings.map(_._3).sum)
    // token-mass conservation: Σ tf must equal the corpus token count
    assert(b.getLong(2) === docs.map(_._2.split(" ").count(_.nonEmpty)).sum.toLong)
    val dfs = postings.groupBy(_._1).map { case (th, g) => th -> g.size.toLong }
    assert(b.getLong(3) === dfs.values.max)
    val p = 1000000007L
    assert(b.getLong(4) === postings.map { case (th, _, tf) =>
      BigInt(th % p * (tf % p) % p) }.sum.mod(BigInt(p)).toLong)
    // probe: top-3 df terms, tf-idf scores, top-10 docs
    val terms = dfs.toSeq.sortBy { case (th, df) => (-df, th) }.take(3).map {
      case (th, df) =>
        th -> math.round(math.log(docs.length.toDouble / df) * 1000000)
    }.toMap
    val scores = postings.filter(pt => terms.contains(pt._1))
      .groupBy(_._2).map { case (id, g) =>
        (id, g.map(pt => pt._3 * terms(pt._1)).sum, g.size.toLong)
      }.toSeq.sortBy { case (id, s, _) => (-s, id) }.take(10)
    val rows = graft.SparkEntry.queries("q376_index_probe_topk")(spark, sf).collect()
    rows.zip(scores).foreach { case (r, (id, s, m)) =>
      assert(r.getLong(0) === id && r.getLong(1) === s && r.getLong(2) === m,
        s"probe mismatch: $r vs ($id, $s, $m)")
    }
  }

  test("q375 postings under a planted Zipf-head stop word: no hot-posting row lost") {
    // a stop word appended `reps` times to EVERY document gives one term
    // whose posting list is exactly corpus-sized: its df must equal the
    // doc count and its token mass reps · doc count
    val reps = 3
    val corpus = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), concat(col("text"), lit(" zzstopword" * reps)).as("text"))
    val nDocs = corpus.count()
    val hot = graft.operators.TextAnalysis.invIndexOf(corpus)
      .groupBy(col("th"))
      .agg(count(lit(1)).as("df"), expr("cast(sum(tf) as bigint)").as("mass"))
      .orderBy(col("df").desc, col("th").asc).limit(1).collect()(0)
    assert(hot.getAs[Long]("df") === nDocs, "the hot posting list lost rows")
    assert(hot.getAs[Long]("mass") === reps * nDocs, "the hot term's token mass is wrong")
  }

  // ------------------------------------------------------------- q377
  test("q377: delta-merged index equals the from-scratch rebuild over base+batch") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def postings(ds: Seq[(Long, String)]): Map[(Long, Long), Long] =
      ds.flatMap { case (id, t) =>
        t.split(" ").filter(_.nonEmpty).map(w => (md5p(w), id))
      }.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val base = postings(docs)
    val batchDocs = docs.filter(_._1 < 10).map { case (id, t) => (id + 7000000L, t) } ++
      (0 until 5).map(i => (i + 8000000L,
        s"ivq${i}a ivq${i}b ivq${i}c ivq${i}a ivq${i}b"))
    val bp = postings(batchDocs)
    val merged = base ++ bp // doc_ids disjoint: union IS the merge
    assert(merged.size === base.size + bp.size)
    val p = 1000000007L
    val r = graft.SparkEntry.queries("q377_inv_index_maintain")(spark, sf).collect()(0)
    assert(r.getLong(0) === base.keys.map(_._1).toSet.size.toLong, "vocab_before")
    assert(r.getLong(1) === merged.keys.map(_._1).toSet.size.toLong, "vocab_after")
    assert(r.getLong(2) ===
      (bp.keys.map(_._1).toSet -- base.keys.map(_._1).toSet).size.toLong, "n_new_terms")
    assert(r.getLong(2) === 15L, "fresh docs carry exactly 15 unseen terms")
    assert(r.getLong(3) === bp.size.toLong && r.getLong(4) === bp.values.sum)
    assert(r.getLong(5) === merged.values.sum, "mass conservation")
    assert(r.getLong(6) === merged.map { case ((th, _), tf) =>
      BigInt(th % p * (tf % p) % p) }.sum.mod(BigInt(p)).toLong, "checksum")
  }

  // ------------------------------------------------------------- q378
  test("q378: Benford masses sum to exactly 1e6 and per-digit devs replay") {
    import spark.implicits._
    val exp = Map(1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
      5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L, 9L -> 45757L)
    assert(exp.values.sum === 1000000L, "Benford ppm masses are a partition of 1e6")
    val cents = graft.sources.Tables.orders(spark, sf)
      .select(expr("cast(round(o_totalprice * 100) as bigint)")).as[Long].collect()
    val n = cents.length.toLong
    val cnt = cents.groupBy(c => c.toString.head.asDigit.toLong)
      .map { case (dg, g) => dg -> g.length.toLong }
    val devs = (1L to 9L).map(dg => math.abs(cnt.getOrElse(dg, 0L) * 1000000L / n - exp(dg)))
    val rows = graft.SparkEntry.queries("q378_benford_audit")(spark, sf).collect()
    assert(rows.length === 9)
    rows.foreach { r =>
      val dg = r.getLong(0)
      assert(r.getLong(1) === cnt.getOrElse(dg, 0L))
      assert(r.getLong(2) === cnt.getOrElse(dg, 0L) * 1000000L / n)
      assert(r.getLong(3) === exp(dg))
      assert(r.getLong(4) === devs(dg.toInt - 1))
      assert(r.getLong(5) === devs.sum)
    }
  }

  // ------------------------------------------------------------- q379
  test("q379: KMV h_k is the 64th smallest distinct shingle hash; plan keeps WindowGroupLimit") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).as[(String, String)].collect()
    val bySource = docs.groupBy(_._1).map { case (src, g) =>
      src -> g.flatMap { case (_, t) =>
        (0 to t.length - 8 by 4).map(i => md5p(t.substring(i, i + 8)))
      }.toSet
    }
    val m = BigInt(1152921504606846976L) // 2^60
    val rows = graft.SparkEntry.queries("q379_kmv_distinct")(spark, sf).collect()
    assert(rows.length === bySource.size)
    rows.foreach { r =>
      val hs = bySource(r.getString(0))
      assert(r.getLong(1) === hs.size.toLong, "exact distinct")
      val hk = hs.toSeq.sorted.apply(63)
      assert(r.getLong(2) === hk, "64th smallest distinct hash")
      val est = (BigInt(63) * m / hk).toLong
      assert(r.getLong(3) === est)
      assert(r.getLong(4) === (BigInt((est - hs.size).abs) * 1000000 / hs.size).toLong)
      // the estimator's contract at K=64: within ~3 std errors (40%)
      assert(r.getLong(4) < 400000L, s"KMV est off by ${r.getLong(4)} ppm")
    }
    // the estimator path must keep Catalyst's WindowGroupLimit shape —
    // that partial per-partition k-min IS the KMV merge property
    val plan = graft.operators.Profiling.q379KmvDistinct(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "dense_rank<=K must prune map-side")
  }

  // ------------------------------------------------------------- q380
  test("q380: weekday index and seasonally-adjusted surprise replay day-for-day") {
    import spark.implicits._
    val daily = graft.sources.Tables.orders(spark, sf)
      .select(expr("CAST(o_orderdate AS DATE)"), expr("cast(round(o_totalprice * 100) as bigint)"))
      .as[(java.sql.Date, Long)].collect()
      .groupBy(_._1).map { case (dy, g) => (dy, g.map(_._2).sum) }.toSeq
    def wd(d: java.sql.Date): Long = d.toLocalDate.getDayOfWeek.getValue % 7
    val byWd = daily.groupBy(x => wd(x._1)).map { case (w, g) =>
      w -> (g.size.toLong, g.map(_._2).sum)
    }
    val (nDays, sTot) = (daily.size.toLong, daily.map(_._2).sum)
    val idx = byWd.map { case (w, (nw, sw)) =>
      w -> (BigInt(sw) * nDays * 1000000 / (BigInt(nw) * sTot)).toLong
    }
    val surprise = daily.map { case (dy, rev) =>
      val (nw, sw) = byWd(wd(dy))
      (dy, rev, (BigInt(rev) * nw * 1000000 / sw).toLong)
    }.sortBy { case (dy, _, r) => (-r, dy.getTime) }.take(10)
    val rows = graft.SparkEntry.queries("q380_seasonal_index")(spark, sf).collect()
    rows.zip(surprise).foreach { case (r, (dy, rev, ratio)) =>
      assert(r.getDate(0) === dy && r.getLong(2) === rev && r.getLong(4) === ratio,
        s"surprise mismatch: $r vs ($dy, $rev, $ratio)")
      assert(r.getLong(1) === wd(dy))
      assert(r.getLong(3) === idx(wd(dy)))
      assert(r.getLong(5) === idx.values.max && r.getLong(6) === idx.values.min)
    }
  }

  // ------------------------------------------------------------- q381
  test("q381: KM at-risk counts are monotone and survival replays the product limit") {
    import spark.implicits._
    val orders = graft.sources.Tables.orders(spark, sf)
      .select(col("o_custkey"), expr("CAST(o_orderdate AS DATE)"), col("o_orderkey"))
      .as[(Long, java.sql.Date, Long)].collect()
    val md = orders.map(_._2.getTime).max
    val iv = orders.groupBy(_._1).toSeq.flatMap { case (_, os) =>
      val ds = os.sortBy(o => (o._2.getTime, o._3)).map(_._2.getTime)
      val gaps = ds.zip(ds.tail).map { case (a, b) => ((b - a) / 86400000L, true) }
      gaps :+ ((md - ds.last) / 86400000L, false)
    }
    val byT = iv.groupBy(_._1).map { case (t, g) =>
      (t, g.size.toLong, g.count(_._2).toLong)
    }.toSeq.sortBy(_._1)
    val rows = graft.SparkEntry.queries("q381_kaplan_meier")(spark, sf).collect()
    assert(rows.length === 20)
    var cum = 0L
    var prevRisk = Long.MaxValue
    val expected = byT.filter(x => x._3 > 0).iterator
    rows.foreach { r =>
      val t = r.getLong(0)
      val nRisk = byT.filter(_._1 >= t).map(_._2).sum
      val d = byT.find(_._1 == t).get._3
      assert(r.getLong(1) === nRisk && r.getLong(2) === d, s"t=$t risk/death")
      assert(nRisk < prevRisk, "at-risk must strictly decrease across event times")
      prevRisk = nRisk
      val term = math.round(math.log((nRisk - d).toDouble / nRisk) * 1000000)
      cum += term
      assert(r.getLong(3) === term && r.getLong(4) === cum, s"t=$t munats")
      assert(r.getLong(5) === iv.size.toLong && r.getLong(6) === iv.count(!_._2).toLong)
      // survival is a proper decreasing curve in (0, 1]
      assert(r.getLong(4) < 0L)
    }
  }

  // ------------------------------------------------------------- q382
  test("q382: rank-sum identities hold and a planted separation rejects") {
    import spark.implicits._
    val vals = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(expr("cast(round(o_totalprice * 100) as bigint)"),
        (col("o_orderpriority") === "1-URGENT"))
      .as[(Long, Boolean)].collect()
    val n1 = vals.count(_._2).toLong
    val n2 = vals.size - n1
    // 2*R1 via explicit average ranks over the sorted pooled sample
    val sorted = vals.sortBy(_._1)
    val rank2 = sorted.zipWithIndex.groupBy(_._1._1).map { case (v, g) =>
      v -> g.map { case (_, i) => 2L * (i + 1) }.sum / g.length // 2*avg rank
    }
    val r1x2 = vals.filter(_._2).map(v => rank2(v._1)).sum
    val u1x2 = r1x2 - n1 * (n1 + 1)
    val r = graft.SparkEntry.queries("q382_mann_whitney")(spark, sf).collect()(0)
    assert(r.getLong(0) === n1 && r.getLong(1) === n2)
    assert(r.getLong(2) === u1x2, "2*U1 from explicit average ranks")
    // U1 + U2 = n1*n2 identity: CLES of the complement mirrors around 1e6
    assert(r.getLong(4) === BigInt(u1x2) * 1000000 / (2 * BigInt(n1) * n2))
    // planted total separation must reject at 95%: group1 values all above
    import spark.implicits._
    val planted = (1 to 50).map(i => (i.toLong, 0L)) ++ (51 to 100).map(i => (i.toLong, 1L))
    val pdf = planted.toDF("v", "g1")
    pdf.createOrReplaceTempView("q382_planted")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val byV = pdf.groupBy(col("v")).agg(expr("cast(sum(g1) as bigint)").as("c1"),
      count(lit(1)).as("c")).withColumn("cum", sum(col("c")).over(w))
    val agg = byV.agg(expr("cast(sum(c1) as bigint)").as("n1"),
      expr("cast(sum(c - c1) as bigint)").as("n2"),
      expr("cast(sum(c1 * (2 * (cum - c) + c + 1)) as bigint)").as("r1_x2")).collect()(0)
    val pu = agg.getLong(2) - agg.getLong(0) * (agg.getLong(0) + 1)
    // z = (U - n1n2/2)/sqrt(Var): planted U=2500 max, clearly rejects
    assert(pu === 2L * 50 * 50, "total separation gives U1 = n1*n2")
  }

  // ------------------------------------------------------------- q383
  test("q383: online seasonal monitor equals the per-weekday prefix replay") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), expr("CAST(CAST(ts AS DATE) AS STRING)"))
      .as[(String, String)].collect()
    val rows = graft.SparkEntry.queries("q383_stream_seasonal_monitor")(spark, sf)
      .collect()
    val byType = ev.groupBy(_._1)
    assert(rows.map(_.getString(0)).toSeq === byType.keys.toSeq.sorted)
    rows.foreach { r =>
      val tpe = r.getString(0)
      val daily = byType(tpe).groupBy(_._2).map { case (dy, g) => (dy, g.size.toLong) }
        .toSeq.sortBy(_._1)
      val closed = daily.dropRight(1) // the open last day never folds
      assert(r.getLong(1) === closed.size.toLong)
      val st = scala.collection.mutable.Map.empty[Int, (Long, Long)].withDefaultValue((0L, 0L))
      var tested = 0L; var alarms = 0L; var maxR = 0L
      closed.foreach { case (dy, x) =>
        val wd = java.time.LocalDate.parse(dy).getDayOfWeek.getValue % 7
        val (n, s) = st(wd)
        if (n >= 2) {
          tested += 1
          if (x * n * 10 > 13 * s) alarms += 1
          maxR = math.max(maxR, x * n * 1000000L / s)
        }
        st(wd) = (n + 1, s + x)
      }
      assert(r.getLong(2) === tested && r.getLong(3) === alarms &&
        r.getLong(4) === maxR, s"$tpe monitor state mismatch")
    }
  }

  // ------------------------------------------------------------- q384
  test("q384: gradient replays from the BMP bytes and blur strictly lowers it") {
    val rows = graft.SparkEntry.queries("q384_image_gradient")(spark, sf).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val p = r.getLong(0).toInt
      def v(x: Int, y: Int): Long = ((x * 31 + y * 17 + p * 97) & 0xFF).toLong
      var g = 0L
      for (y <- 0 until 48; x <- 0 until 64) {
        if (x < 63) g += math.abs(v(x + 1, y) - v(x, y))
        if (y < 47) g += math.abs(v(x, y + 1) - v(x, y))
      }
      assert(r.getLong(2) === g, s"pattern $p gradient")
      def bl(x: Int, y: Int): Long = (v(x - 1, y) + v(x, y) + v(x + 1, y)) / 3
      var bg = 0L
      for (y <- 0 until 48; x <- 1 until 63) {
        if (x < 62) bg += math.abs(bl(x + 1, y) - bl(x, y))
        if (y < 47) bg += math.abs(bl(x, y + 1) - bl(x, y))
      }
      assert(r.getLong(4) === bg, s"pattern $p blurred gradient")
      assert(r.getBoolean(6), s"pattern $p: blur must lower mean gradient")
      assert(bg * r.getLong(3) < g * r.getLong(5))
    }
  }

  // ------------------------------------------------------------- q385
  test("q385: RAKE phrases replay from tokens — runs, degree/freq, member sums") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val tok = docs.flatMap { case (id, t) =>
      t.split(" ").zipWithIndex.filter(_._1.nonEmpty).map { case (w, i) => (id, i, w) }
    }
    val stop = tok.groupBy(_._3).map { case (w, g) => (w, g.size) }.toSeq
      .sortBy { case (w, c) => (-c, w) }.take(20).map(_._1).toSet
    // maximal stopword-free runs via consecutive positions
    val runs = tok.filter(t => !stop(t._3)).groupBy(_._1).toSeq.flatMap { case (id, ts) =>
      val sorted = ts.sortBy(_._2)
      val grouped = sorted.zipWithIndex.groupBy { case ((_, pos, _), rn) => pos - rn }
      grouped.values.map(g => (id, g.map(_._1._3)))
    }
    val wstat = runs.flatMap { case (_, ws) => ws.map(w => (w, ws.length.toLong)) }
      .groupBy(_._1).map { case (w, g) =>
        w -> g.map(_._2).sum * 1000000L / g.length
      }
    val phrases = runs.map { case (_, ws) =>
      (ws.mkString(" "), ws.length.toLong, ws.map(wstat).sum)
    }.groupBy(_._1).map { case (ph, g) =>
      (ph, g.head._2, g.size.toLong, g.head._3)
    }.toSeq.sortBy { case (ph, _, _, s) => (-s, ph) }.take(10)
    val rows = graft.SparkEntry.queries("q385_rake_keywords")(spark, sf).collect()
    rows.zip(phrases).foreach { case (r, (ph, nw, no, s)) =>
      assert(r.getString(0) === ph && r.getLong(1) === nw &&
        r.getLong(2) === no && r.getLong(3) === s,
        s"RAKE mismatch: $r vs ($ph, $nw, $no, $s)")
    }
    // multi-word phrases must actually surface — RAKE's point over q105
    assert(rows.exists(_.getLong(1) > 1L), "no multi-word phrase in top-10")
  }

  // ------------------------------------------------------------- q386
  test("q386: r2 is symmetric, bounded by 1e6, and exact from integer moments") {
    import spark.implicits._
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("x"))
      .select(col("event_type"), col("day").cast("string"), col("x"))
      .as[(String, String, Long)].collect()
    val types = daily.map(_._1).distinct.sorted
    val series = types.map(t => t -> daily.filter(_._1 == t).map(r => r._2 -> r._3).toMap).toMap
    val rows = graft.SparkEntry.queries("q386_corr_matrix")(spark, sf).collect()
    assert(rows.length === types.combinations(2).size)
    rows.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val days = (series(ta).keySet intersect series(tb).keySet).toSeq.sorted
      val xs = days.map(series(ta)); val ys = days.map(series(tb))
      val n = BigInt(days.size)
      val cov = n * xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum -
        BigInt(xs.sum) * BigInt(ys.sum)
      val va = n * xs.map(v => BigInt(v) * v).sum - BigInt(xs.sum) * xs.sum
      val vb = n * ys.map(v => BigInt(v) * v).sum - BigInt(ys.sum) * ys.sum
      assert(r.getLong(2) === days.size.toLong)
      assert(r.getLong(3) === cov.signum.toLong)
      // round 13: the engine computes r² via the staged two-division form
      // on |cov| (overflow-envelope fix — see q386's scaladoc); the replay
      // must truncate at the same two points or it drifts by 1 ppm
      val r2 = if (va == 0 || vb == 0) 0L
        else (cov.abs * 1000000 / va * cov.abs / vb).toLong
      assert(r.getLong(4) === r2, s"($ta,$tb) r2")
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L, "Cauchy-Schwarz bound")
    }
  }

  // ------------------------------------------------------------- q387
  test("q387: delta-of-delta bits replay and beat raw 64-bit storage") {
    import spark.implicits._
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("x"))
      .select(col("event_type"), col("day").cast("string"), col("x"))
      .as[(String, String, Long)].collect()
    def bits(v: Long): Long = java.lang.Long.toBinaryString(math.abs(v)).length.toLong
    val rows = graft.SparkEntry.queries("q387_delta_compression")(spark, sf).collect()
    rows.foreach { r =>
      val xs = daily.filter(_._1 == r.getString(0)).sortBy(_._2).map(_._3)
      val d1 = xs.zip(xs.tail).map { case (a, b) => b - a }
      val dod = d1.zip(d1.tail).map { case (a, b) => b - a }
      val enc = 64L + (if (d1.nonEmpty) bits(d1.head) + 1 else 0L) +
        dod.map(v => bits(v) + 1).sum
      assert(r.getLong(1) === xs.length.toLong)
      assert(r.getLong(2) === 64L * xs.length)
      assert(r.getLong(3) === enc, s"${r.getString(0)} encoded bits")
      assert(r.getLong(4) === enc * 1000000L / (64L * xs.length))
      assert(r.getLong(3) < r.getLong(2), "delta-of-delta must beat raw")
    }
  }

  // ------------------------------------------------------------- q388
  test("q388: Laplace draws are deterministic, zero-mean-ish, and totals reconcile") {
    import spark.implicits._
    val cells = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("CAST(CAST(ts AS DATE) AS STRING)").as("day"))
      .agg(count(lit(1)).as("x"))
      .as[(String, String, Long)].collect()
    def noise(tpe: String, day: String): Long = {
      val h = md5p(s"$tpe|$day")
      val u = (BigInt(h) * 1000000 / BigInt(1152921504606846976L)).toLong
      val c = u - 500000L
      val arg = math.max(1000000L - 2 * math.abs(c), 1L)
      -math.signum(c) * math.round(math.log(arg.toDouble / 1000000.0) * 1000)
    }
    val rows = graft.SparkEntry.queries("q388_dp_release")(spark, sf).collect()
    rows.foreach { r =>
      val tpe = r.getString(0)
      val mine = cells.filter(_._1 == tpe)
      val ns = mine.map { case (t, dy, _) => noise(t, dy) }
      assert(r.getLong(1) === mine.length.toLong)
      assert(r.getLong(2) === ns.map(math.abs).sum, s"$tpe L1")
      assert(r.getLong(3) === ns.map(math.abs).max)
      assert(r.getLong(4) === mine.map(_._3).sum * 1000 + ns.sum)
      assert(r.getLong(5) === mine.map(_._3).sum)
      // utility: total relative error vanishes as counts grow
      assert(math.abs(r.getLong(4) - r.getLong(5) * 1000) < r.getLong(5) * 1000,
        "noisy total within 100% of truth even at fixture scale")
    }
  }

  // ------------------------------------------------------------- q389
  private def hilbertD(n: Int, x0: Int, y0: Int): Long = {
    var (x, y, d) = (x0, y0, 0L); var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("q389: the unrolled Hilbert index is bijective, unit-adjacent, and the runs replay") {
    // the scaladoc's claim, proven on the full 32x32 grid
    val ds = for (x <- 0 until 32; y <- 0 until 32) yield ((x, y), hilbertD(32, x, y))
    assert(ds.map(_._2).sorted === (0L until 1024L), "bijective onto 0..1023")
    val inv = ds.map(_.swap).toMap
    (0L until 1023L).foreach { i =>
      val (a, b) = (inv(i), inv(i + 1))
      assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2) === 1,
        s"curve jumps between $i and ${i + 1}")
    }
    import spark.implicits._
    val cells = graft.sources.Tables.orders(spark, sf)
      .select(expr("o_custkey % 32"), expr("CAST(round(o_totalprice * 100) AS BIGINT) % 32"))
      .distinct().as[(Long, Long)].collect()
    def zd(x: Long, y: Long): Long =
      (0 until 5).map(i => (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    val rects = Seq((0, 0, 7, 0, 7), (1, 8, 23, 4, 11), (2, 0, 31, 16, 19),
      (3, 12, 19, 12, 19), (4, 24, 31, 0, 31))
    def runsOf(keys: Seq[Long]): Long = {
      val s = keys.sorted
      1L + s.zip(s.tail).count { case (a, b) => b - a > 1 }
    }
    val exp = rects.map { case (rid, x0, x1, y0, y1) =>
      val in = cells.filter(c => c._1 >= x0 && c._1 <= x1 && c._2 >= y0 && c._2 <= y1)
      (rid.toLong, in.size.toLong,
        runsOf(in.map(c => zd(c._1, c._2))),
        runsOf(in.map(c => hilbertD(32, c._1.toInt, c._2.toInt))))
    }
    val rows = graft.SparkEntry.queries("q389_hilbert_layout")(spark, sf).collect()
    rows.zip(exp).foreach { case (r, (rid, nc, zr, hr)) =>
      assert(r.getLong(0) === rid && r.getLong(1) === nc &&
        r.getLong(2) === zr && r.getLong(3) === hr, s"rect $rid: $r vs ($nc,$zr,$hr)")
      assert(r.getLong(4) === exp.map(_._3).sum && r.getLong(5) === exp.map(_._4).sum)
    }
    // the operational claim: hilbert needs no MORE scan ranges in total
    assert(exp.map(_._4).sum <= exp.map(_._3).sum, "hilbert must not lose to z overall")
  }

  // ------------------------------------------------------------- q390
  test("q390: HRW minimal disruption — every remapped doc lands on the new shard") {
    import spark.implicits._
    val ids = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id")).as[Long].collect()
    def shard(id: Long, n: Int): Int =
      (0 until n).maxBy(s => (md5p(s"$id#$s"), s))
    val s16 = ids.map(id => id -> shard(id, 16)).toMap
    val s17 = ids.map(id => id -> shard(id, 17)).toMap
    val moved = ids.count(id => s16(id) != s17(id)).toLong
    ids.foreach { id =>
      if (s16(id) != s17(id)) assert(s17(id) === 16,
        s"doc $id moved between OLD shards — HRW invariant broken")
    }
    val sizes = s16.values.groupBy(identity).map(_._2.size.toLong)
    val r = graft.SparkEntry.queries("q390_rendezvous_shards")(spark, sf).collect()(0)
    assert(r.getLong(0) === ids.length.toLong)
    assert(r.getLong(1) === sizes.max * 16 * 1000000L / ids.length)
    assert(r.getLong(2) === sizes.min * 16 * 1000000L / ids.length)
    assert(r.getLong(3) === moved * 1000000L / ids.length)
    assert(r.getLong(4) === ids.count(id => id % 16 != id % 17).toLong * 1000000L / ids.length)
    assert(r.getBoolean(5), "moves_only_to_new must hold")
    assert(r.getBoolean(6), "rendezvous must beat mod-hash by > 4x")
  }

  // ------------------------------------------------------------- q391
  test("q391: streamed PSI equals the batch replay and stays under the alarm line") {
    import spark.implicits._
    val lens = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
    def bin(l: Long): Long = math.min(l / 256, 15)
    val base = lens.groupBy(x => bin(x._2)).map { case (b, g) => b -> g.size.toLong }
    val bat = lens.filter(_._1 % 3 == 0).groupBy(x => bin(x._2))
      .map { case (b, g) => b -> g.size.toLong }
    val (nb, na, k) = (base.values.sum, bat.values.sum, base.size.toLong)
    val rows = graft.SparkEntry.queries("q391_stream_psi_monitor")(spark, sf).collect()
    assert(rows.length === base.size)
    var acc = BigInt(0)
    val terms = base.toSeq.sortBy(_._1).map { case (b, nbase) =>
      val nbatch = bat.getOrElse(b, 0L)
      val lr = math.round(math.log(
        ((nbatch + 1) * (nb + k)).toDouble / ((nbase + 1) * (na + k))) * 1000000)
      acc += BigInt((nbatch + 1) * (nb + k) - (nbase + 1) * (na + k)) * lr
      (b, nbase, nbatch, lr)
    }
    val psi = (acc * 1000 / (BigInt(na + k) * (nb + k))).toLong
    rows.zip(terms).foreach { case (r, (b, nbase, nbatch, lr)) =>
      assert(r.getLong(0) === b && r.getLong(1) === nbase && r.getLong(2) === nbatch)
      assert(r.getLong(3) === lr && r.getLong(4) === psi)
      assert(!r.getBoolean(5), "a same-law slice must not alarm")
    }
    assert(psi < 250000000L, "PSI of a uniform one-third slice is near zero")
  }

  // ------------------------------------------------------------- q392
  test("q392: the SPRT walk stops at the first crossing of +/- ln(19)") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
      .filter(expr("user_id % 2 = 1"))
      .select(col("ts").cast("long"), col("event_id"),
        (col("event_type") === "purchase"))
      .as[(Long, Long, Boolean)].collect()
      .sortBy(e => (e._1, e._2))
    val incs = ev.map(e => if (e._3) 693147L else -117783L)
    var s = 0L; var crossIdx = -1L; var crossLlr = 0L
    incs.zipWithIndex.foreach { case (i, idx) =>
      s += i
      if (crossIdx < 0 && (s >= 2944439L || s <= -2944439L)) {
        crossIdx = idx + 1; crossLlr = s
      }
    }
    val r = graft.SparkEntry.queries("q392_sprt")(spark, sf).collect()(0)
    assert(r.getLong(0) === ev.length.toLong)
    assert(r.getLong(1) === ev.count(_._3).toLong)
    assert(r.getLong(2) === crossIdx && r.getLong(3) === crossLlr)
    assert(r.getString(4) === (if (crossIdx < 0) "none" else if (crossLlr > 0) "h1" else "h0"))
    assert(r.getLong(5) === incs.sum)
    // the fixture's true rate (~0.2) sits AT p1, so the test must accept h1
    assert(r.getString(4) === "h1", "a real 2x effect must cross the upper bound")
  }

  // ------------------------------------------------------------- q393
  test("q393: Shapley values replay from the coalition lattice and satisfy the axioms") {
    import spark.implicits._
    val users = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(expr("""cast(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + max(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END)
             + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
             + max(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) as bigint)""").as("m"),
        expr("max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)").as("c"))
      .select(col("m"), col("c")).as[(Long, Int)].collect()
    val conv = users.filter(_._2 == 1).map(_._1)
    def v(s: Long): Long = conv.count(m => (m & ~s & 15L) == 0L).toLong
    val w = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
    val chans = Seq(("click", 1L), ("error", 8L), ("signup", 4L), ("view", 2L))
    val phis = chans.map { case (name, bit) =>
      name -> (0L until 16L).filter(s => (s & bit) == 0L)
        .map(s => w(java.lang.Long.bitCount(s)) * (v(s | bit) - v(s))).sum
    }.toMap
    val rows = graft.SparkEntry.queries("q393_shapley_attribution")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(1) === phis(r.getString(0)), s"${r.getString(0)} phi")
      assert(r.getLong(2) === v(15) && r.getLong(3) === v(0))
      // efficiency axiom, exactly
      assert(r.getLong(4) === phis.values.sum)
      assert(r.getLong(4) === (v(15) - v(0)) * 24)
      assert(r.getBoolean(5))
    }
  }

  // ------------------------------------------------------------- q394
  test("q394: missing mass and Simpson replay from the frequency spectrum") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).as[(String, String)].collect()
    val rows = graft.SparkEntry.queries("q394_missing_mass")(spark, sf).collect()
    rows.foreach { r =>
      val toks = docs.filter(_._1 == r.getString(0))
        .flatMap(_._2.split(" ").filter(_.nonEmpty))
      val freq = toks.groupBy(identity).map(_._2.length.toLong)
      val n = toks.length.toLong
      assert(r.getLong(1) === n && r.getLong(2) === freq.size.toLong)
      assert(r.getLong(3) === freq.count(_ == 1L).toLong)
      assert(r.getLong(4) === freq.count(_ == 2L).toLong)
      assert(r.getLong(5) === freq.count(_ == 1L).toLong * 1000000L / n)
      assert(r.getLong(6) ===
        (freq.map(c => BigInt(c) * (c - 1)).sum * 1000000 / (BigInt(n) * (n - 1))).toLong)
      // spectrum identities: hapax <= vocab, both masses in [0, 1e6]
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(5) <= 1000000L)
    }
  }

  // ------------------------------------------------------------- q395
  test("q395: per-group variational distance replays with zero cells counted") {
    import spark.implicits._
    val rows0 = graft.sources.Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)"))
      .as[(Long, String, Long)].collect()
    val nn = rows0.length.toLong
    val segs = rows0.groupBy(_._2).map { case (s, g) => s -> g.size.toLong }
    val groups = rows0.groupBy(r => (r._1, r._3))
    val ts = groups.map { case ((nat, band), g) =>
      val ng = g.size.toLong
      val l1 = segs.map { case (s, cs) =>
        val cgs = g.count(_._2 == s).toLong
        (BigInt(cgs) * nn - BigInt(cs) * ng).abs
      }.sum
      ((nat, band), ng, (l1 * 1000000 / (2 * BigInt(ng) * nn)).toLong)
    }.toSeq
    val tmax = ts.map(_._3).max
    val top = ts.sortBy { case ((nat, band), _, t) => (-t, nat, band) }.take(10)
    val rows = graft.SparkEntry.queries("q395_t_closeness")(spark, sf).collect()
    rows.zip(top).foreach { case (r, ((nat, band), ng, t)) =>
      assert(r.getAs[Number](0).longValue === nat && r.getLong(1) === band &&
        r.getLong(2) === ng && r.getLong(3) === t, s"group ($nat,$band)")
      assert(r.getLong(4) === tmax && r.getLong(5) === ts.size.toLong)
      assert(r.getLong(3) <= 1000000L, "variational distance is bounded by 1")
    }
  }

  // ------------------------------------------------------------- q396
  test("q396: cross-correlation recovers every planted lag with antiphase separation") {
    val rows = graft.SparkEntry.queries("q396_audio_lag_align")(spark, sf).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * 3 + 2, "planted lag formula")
      assert(r.getBoolean(6), s"seed ${r.getLong(0)}: lag not recovered")
      assert(r.getLong(3) === r.getLong(2), "detected equals planted")
      assert(r.getLong(4) > r.getLong(5), "peak strictly separated from runner-up")
      assert(r.getLong(4) > 0L, "peak correlation positive")
    }
  }

  // ------------------------------------------------------------- q397
  test("q397: HLL register algebra — union registers are pairwise max, estimates replay") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
      .select(col("source"), col("text")).as[(String, String)].collect()
    def md(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shingles = docs.groupBy(_._1).map { case (src, g) =>
      src -> g.flatMap { case (_, t) =>
        (0 to t.length - 8 by 4).map(i => md(t.substring(i, i + 8)))
      }.toSet
    }
    def regsOf(hs: Set[String]): Map[Long, Long] =
      hs.map { h =>
        val bucket = java.lang.Long.parseLong(h.take(2), 16) % 64
        val h60 = java.lang.Long.parseLong(h.slice(2, 17), 16)
        (bucket, 61L - java.lang.Long.toBinaryString(h60).length)
      }.groupBy(_._1).map { case (b, g) => b -> g.map(_._2).max }
    def est(regs: Map[Long, Long]): Long = {
      val hit = regs.size.toLong
      val dh = regs.values.map(r => BigInt(1) << (60 - r).toInt).sum
      val dp = dh + BigInt(64 - hit) * BigInt(1152921504606846976L)
      val raw = (BigInt(2904064) * BigInt(1152921504606846976L) / dp).toLong
      if (raw <= 160000 && hit < 64)
        math.round(64 * math.log(64.0 / (64 - hit)) * 1000)
      else raw
    }
    val pairs = Seq(("src0", "src1"), ("src0", "src2"), ("src0", "src3"), ("src1", "src2"))
    val rows = graft.SparkEntry.queries("q397_hll_intersection")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    pairs.foreach { case (a, b) =>
      val r = rows((a, b))
      val (ra, rb) = (regsOf(shingles(a)), regsOf(shingles(b)))
      // the closure property: union registers ARE the pairwise max
      val ru = (ra.keySet ++ rb.keySet).map(k =>
        k -> math.max(ra.getOrElse(k, -1L), rb.getOrElse(k, -1L))).toMap
      assert(r.getLong(2) === (shingles(a) intersect shingles(b)).size.toLong)
      assert(r.getLong(3) === est(ra) && r.getLong(4) === est(rb))
      assert(r.getLong(5) === est(ru), "union estimate from max-merged registers")
      assert(r.getLong(6) === est(ra) + est(rb) - est(ru))
    }
  }

  // ------------------------------------------------------------- q398
  test("q398: patches tile the image exactly — conservation and bounds replay") {
    val rows = graft.SparkEntry.queries("q398_image_patches")(spark, sf).collect()
    assert(rows.length === 8 * 48)
    rows.groupBy(_.getLong(0)).foreach { case (p, patches) =>
      def v(x: Int, y: Int): Long = ((x * 31 + y * 17 + p * 97) & 0xFF).toLong
      assert(patches.length === 48)
      var imgSum = 0L
      for (y <- 0 until 48; x <- 0 until 64) imgSum += v(x, y)
      patches.foreach { r =>
        val (tx, ty) = (r.getLong(1).toInt, r.getLong(2).toInt)
        val vs = for (dy <- 0 until 8; dx <- 0 until 8)
          yield v(tx * 8 + dx, ty * 8 + dy)
        assert(r.getLong(3) === vs.sum && r.getLong(4) === vs.min &&
          r.getLong(5) === vs.max, s"pattern $p tile ($tx,$ty)")
        assert(r.getLong(6) === imgSum && r.getBoolean(7), "conservation")
      }
      assert(patches.map(_.getLong(3)).sum === imgSum)
    }
  }

  // ------------------------------------------------------------- q399
  test("q399: the hysteresis machine suppresses pages vs naive breach alerting") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), expr("CAST(CAST(ts AS DATE) AS STRING)"))
      .as[(String, String)].collect()
    val rows = graft.SparkEntry.queries("q399_stream_hysteresis_alarm")(spark, sf).collect()
    rows.foreach { r =>
      val tpe = r.getString(0)
      val daily = ev.filter(_._1 == tpe).groupBy(_._2)
        .map { case (dy, g) => (dy, g.size.toLong) }.toSeq.sortBy(_._1).dropRight(1)
      val target = daily.take(5).map(_._2).sum / 5
      var bs = 0L; var qs = 0L; var alarm = false
      var breaches = 0L; var pages = 0L; var inAlarm = 0L
      daily.drop(5).foreach { case (_, x) =>
        val breach = x * 20 > target * 21
        bs = if (breach) bs + 1 else 0; qs = if (breach) 0 else qs + 1
        if (!alarm && bs >= 2) { alarm = true; pages += 1 }
        if (alarm && qs >= 3) alarm = false
        if (breach) breaches += 1
        if (alarm) inAlarm += 1
      }
      assert(r.getLong(1) === daily.size.toLong && r.getLong(2) === target)
      assert(r.getLong(3) === breaches && r.getLong(4) === pages &&
        r.getLong(5) === inAlarm, s"$tpe machine state")
      // the point of the operator: strictly fewer pages than naive
      if (breaches > 1) assert(pages < breaches, s"$tpe: no suppression measured")
    }
  }

  // ------------------------------------------------------------- q400
  test("q400: Theil decomposition — identity gap within the quantization bound") {
    import spark.implicits._
    val spend = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(expr("cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)").as("x"))
      .join(graft.sources.Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey").cast("long").as("nat")),
        "o_custkey")
      .select(col("nat"), col("x")).as[(Long, Long)].collect()
    val (nn, xx) = (spend.length.toLong, spend.map(_._2).sum)
    def lq(num: Double, den: Double): Long = math.round(math.log(num / den) * 1000000)
    val byNat = spend.groupBy(_._1)
    val tw = byNat.values.map { g =>
      val (ng, xg) = (g.size.toLong, g.map(_._2).sum)
      g.map(c => BigInt(c._2) * lq(c._2.toDouble * ng, xg.toDouble)).sum
    }.sum
    val tb = byNat.values.map { g =>
      val (ng, xg) = (g.size.toLong, g.map(_._2).sum)
      BigInt(xg) * lq(xg.toDouble * nn, xx.toDouble * ng)
    }.sum
    val tt = spend.map(c => BigInt(c._2) * lq(c._2.toDouble * nn, xx.toDouble)).sum
    val rows = graft.SparkEntry.queries("q400_theil_decomposition")(spark, sf).collect()
    assert(rows.length === byNat.size)
    rows.foreach { r =>
      val g = byNat(r.getLong(0))
      assert(r.getLong(1) === g.size.toLong && r.getLong(2) === g.map(_._2).sum)
      assert(r.getLong(5) === (tt * 1000 / xx).toLong)
      assert(r.getLong(6) === (tw * 1000 / xx).toLong)
      assert(r.getLong(7) === (tb * 1000 / xx).toLong)
      assert(r.getLong(8) === ((tt - tw - tb) * 1000 / xx).toLong)
      // identity gap bounded by quantization: <= 2 mu-nat per unit mass = 2000 nano
      assert(math.abs(r.getLong(8)) <= 2000L, s"identity gap ${r.getLong(8)} nano")
      // inequality is nonnegative and decomposes into nonneg-ish parts
      assert(r.getLong(5) > 0L && r.getLong(6) > 0L && r.getLong(7) > 0L)
    }
  }
}
