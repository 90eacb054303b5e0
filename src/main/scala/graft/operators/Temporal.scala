package graft.operators

import graft.core.Entry
import graft.sources.Tables

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temporal join operators Spark lacks as built-ins — as-of join and range
  * join — expressed in the shapes that survive 100 TB (the reference's
  * warehouse answers these via SQL it delegates; a training-data pipeline
  * needs them for event attribution and banding).
  *
  *  - As-of join: the naive formulation (theta join on `r.ts <= l.ts` +
  *    per-left-row max) explodes to |L|×|R| pairs per key before pruning.
  *    The scalable shape used here is union-and-scan: tag both inputs,
  *    union, ONE shuffle on the key, one ordered pass per key carrying the
  *    latest right row forward (`last(..., ignoreNulls)` over an unbounded-
  *    preceding window). Linear in |L|+|R|, no pair blow-up, no driver state.
  *  - Range join: points × intervals with a containment predicate would be
  *    a broadcast-nested-loop at best. Bucketing both sides on
  *    floor(value / width) turns it into an equi-join on the bucket id
  *    (intervals explode to the few buckets they overlap) + a residual
  *    filter — the standard range-join optimization (Databricks publishes
  *    the same trick as a join hint; here it is plain DataFrame code).
  */
object Temporal {

  /** Exact, order-independent sum — the shared contract (graft.core.Exact). */
  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.core.Exact.dsum(c)

  /** For each left row, attach columns of the LATEST right row with the same
    * `key` and `right.ts <= left.ts` (strict "no peeking forward" — the
    * as-of semantics of event attribution). Left rows with no prior right
    * row keep nulls (left-outer).
    *
    * @param attach (rightColumn, outputName) pairs to carry onto left rows
    * @param rightOrder right-side tiebreak column: among right rows sharing
    *                   (key, ts), the one with the greatest value wins —
    *                   this makes the result deterministic, matching a
    *                   `QUALIFY row_number() ... DESC = 1` dedup on the
    *                   oracle side
    *
    * The attached columns travel as ONE struct so they are atomic: per left
    * row all attached values come from the same right row (per-column
    * `last(ignoreNulls)` would tear columns when a right row holds nulls).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               attach: Seq[(String, String)], rightOrder: String): DataFrame = {
    val lCols = left.columns.toSeq
    // guard the internal namespace: an attach output colliding with a left
    // column, or a left column already carrying the reserved "__" prefix,
    // would silently produce ambiguous/duplicate output columns
    val clash = attach.map(_._2).toSet.intersect(lCols.toSet)
    require(clash.isEmpty,
      s"asofJoin: attach output name(s) ${clash.mkString(", ")} collide with left columns")
    require(!lCols.exists(_.startsWith("__")),
      s"asofJoin: left columns must not use the reserved '__' prefix " +
        s"(found ${lCols.filter(_.startsWith("__")).mkString(", ")})")
    val rightStruct = struct(
      (rightOrder +: attach.map(_._1)).distinct.map(col): _*)
    val lTagged = left
      .select(
        (Seq(col(key).as("__k"), col(ts).as("__ts"), lit(1).as("__side"),
          lit(null).cast(right.select(rightStruct).schema.head.dataType).as("__r")) ++
          lCols.map(c => col(c).as(s"__l_$c"))): _*)
    // SQL join semantics: a NULL key never matches (`l.k = r.k` is not TRUE),
    // and a NULL right timestamp satisfies no `r.ts <= l.ts` bound — filter
    // such right rows out so they can't become attachments. (NULL-key/-ts
    // LEFT rows still emit, with null attachments: a null-key left row's
    // window partition then contains no right rows, and a null-ts left row
    // sorts before every timestamped right row.)
    val rTagged = right
      .filter(col(key).isNotNull && col(ts).isNotNull)
      .select(
        (Seq(col(key).as("__k"), col(ts).as("__ts"), lit(0).as("__side"),
          rightStruct.as("__r")) ++
          lCols.map(c => lit(null).cast(left.schema(c).dataType).as(s"__l_$c"))): _*)
    // right rows (__side=0) sort before left rows at equal ts ⇒ a right row
    // at exactly left.ts is visible (ASOF `>=` semantics); among right ties,
    // greatest rightOrder is last ⇒ wins
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").asc, col("__r").getField(rightOrder).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTagged.unionByName(rTagged)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(
        (lCols.map(c => col(s"__l_$c").as(c)) ++
          attach.map { case (rc, out) => col("__match").getField(rc).as(out) }): _*)
  }

  /** Points-in-intervals join without a nested loop: both sides bucketed on
    * floor(value / bucketWidth); intervals explode to every bucket they
    * overlap; equi-join on the bucket id; residual `lo <= v < hi` filter.
    * Shuffle cost is |points| + Σ interval-spans — never |points|×|intervals|.
    */
  def rangeJoinBucketed(points: DataFrame, pointCol: String,
                        intervals: DataFrame, loCol: String, hiCol: String,
                        bucketWidth: Double): DataFrame = {
    val p = points.withColumn("__bucket",
      floor(col(pointCol) / bucketWidth).cast("long"))
    val iv = intervals.withColumn("__bucket",
      explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    p.join(iv, Seq("__bucket"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bucket")
  }

  // ---------------------------------------------------------------- q71
  /** Event attribution as-of join: each click attributed to the same user's
    * most recent prior (or simultaneous) view. Fully deterministic →
    * oracle-checked against DuckDB's NATIVE `ASOF LEFT JOIN` — the two
    * independent implementations (union-scan here, sort-probe there) must
    * agree row for row. The µs gap is emitted as an exact BIGINT.
    */
  def q71AsofJoin(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    asofJoin(clicks, views, key = "user_id", ts = "ts",
        attach = Seq("event_id" -> "view_id", "ts" -> "view_ts", "value" -> "view_value"),
        rightOrder = "event_id")
      .select(col("click_id"), col("user_id"), col("view_id"), col("view_value"),
        (unix_micros(col("ts")) - unix_micros(col("view_ts"))).as("gap_us"))
      .orderBy(col("click_id"))
  }

  val q71Oracle: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
                  WHERE event_type = 'click'),
       v AS (SELECT user_id, ts, event_id, value FROM events
             WHERE event_type = 'view'
             QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                        ORDER BY event_id DESC) = 1)
       SELECT c.click_id, c.user_id, v.event_id AS view_id,
              v.value AS view_value,
              epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
       FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
       ORDER BY c.click_id"""

  // ---------------------------------------------------------------- q72
  /** Price-band range join: orders bucketed into 50k-wide bands via the
    * bucketed equi-join (bucketWidth 10k ⇒ each band explodes to ~5 bucket
    * rows — the generic path, not the width==band shortcut). Aggregates per
    * band with exact decimal sums → full oracle.
    */
  val BandWidth = 50000.0
  val NumBands = 10

  def q72RangeJoin(spark: SparkSession, d: String): DataFrame = {
    val bands = spark.range(NumBands).select(
      col("id").cast("int").as("band_id"),
      (col("id") * BandWidth).as("lo"),
      ((col("id") + 1) * BandWidth).as("hi"))
    val joined = rangeJoinBucketed(
      Tables.orders(spark, d).select(col("o_orderkey"), col("o_totalprice")),
      "o_totalprice", broadcast(bands), "lo", "hi", bucketWidth = 10000.0)
    joined.groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("band_id"))
  }

  val q72Oracle: String =
    s"""WITH bands AS (SELECT CAST(i AS INT) AS band_id, i * $BandWidth AS lo,
                              (i + 1) * $BandWidth AS hi
                       FROM range($NumBands) t(i)),
       j AS (SELECT band_id, o_totalprice
             FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi)
       SELECT band_id, count(*) AS n_orders,
              CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM j GROUP BY band_id ORDER BY band_id"""

  // ---------------------------------------------------------------- q217
  /** As-of join WITH TOLERANCE — q71's most-recent-prior match, but a
    * match older than the bound is no match at all (pandas merge_asof's
    * `tolerance`; the semantics every telemetry enrichment needs: a
    * purchase attributed to a view from last week is noise, not signal).
    * Same union-and-scan shape as q71 — ONE user-keyed exchange, the
    * prior-view timestamp as a running conditional max — with the
    * tolerance applied as an exact integer-µs bound on the matched lag.
    */
  def q217AsofTolerance(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"), col("event_id"))
      .withColumn("vt",
        max(when(col("event_type") === "view", col("t"))).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy()
      .agg(count(lit(1)).as("n_purchases"),
        count(when(col("vt").isNotNull && col("t") - col("vt") <= 3600000000L, 1))
          .as("n_matched"),
        expr("""cast(sum(CASE WHEN vt IS NOT NULL AND t - vt <= 3600000000
                              THEN t - vt ELSE 0 END) as bigint)""")
          .as("total_lag_us"))
  }

  val q217Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
       m AS (SELECT user_id, event_type, t,
               max(CASE WHEN event_type = 'view' THEN t END)
                 OVER (PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vt
             FROM e)
       SELECT count(*) AS n_purchases,
         count(CASE WHEN vt IS NOT NULL AND t - vt <= 3600000000 THEN 1 END)
           AS n_matched,
         CAST(sum(CASE WHEN vt IS NOT NULL AND t - vt <= 3600000000
                       THEN t - vt ELSE 0 END) AS BIGINT) AS total_lag_us
       FROM m WHERE event_type = 'purchase'"""

  /** Interval×interval OVERLAP join (the IEJoin problem) without a nested
    * loop: both interval sets bucket on `floor(bound / width)` — each
    * interval explodes to the buckets it touches — and equi-join on
    * (key, bucket). Overlap is `a.lo < b.hi AND b.lo < a.hi` (half-open).
    * A pair whose overlap spans several buckets would match once per
    * shared bucket; it is emitted exactly once by keeping only the bucket
    * that owns the overlap's START (`floor(max(alo, blo) / width)`) — a
    * dedup-free uniqueness guarantee, no `distinct` shuffle. Shuffle cost
    * is Σ interval-spans on both sides, never |A|×|B|. Bounds are exact
    * longs (µs); `hi` is exclusive so `floor((hi-1) / width)` is the last
    * touched bucket. Bucketing is TRUE floor division (not `div`'s
    * truncation toward zero), so negative bounds get the same uniform
    * `width`-sized buckets as positive ones — truncation would merge
    * (-width, width) into one double-wide bucket 0 and skew its shuffle
    * share. `__bucket` is reserved: inputs must not already carry it.
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, key: String,
                          aLo: String, aHi: String, bLo: String, bHi: String,
                          bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!a.columns.contains("__bucket") && !b.columns.contains("__bucket"),
      "inputs must not contain the reserved column __bucket")
    // exact floor division for longs of either sign (width > 0):
    // x div w truncates toward zero; subtract 1 when a negative x leaves a
    // remainder
    def fdiv(e: String): String =
      s"((($e) div $bucketWidth) + (case when ($e) % $bucketWidth < 0 then -1 else 0 end))"
    // empty/inverted intervals ([lo, hi) with hi <= lo) match nothing under
    // half-open semantics — and must be dropped BEFORE bucketing, where
    // sequence(floor(lo/w), floor((hi-1)/w)) would silently DESCEND and
    // emit phantom buckets
    def bucketed(df: DataFrame, lo: String, hi: String): DataFrame =
      df.filter(col(hi) > col(lo)).withColumn("__bucket", explode(sequence(
        expr(fdiv(lo)), expr(fdiv(s"$hi - 1")))))
    bucketed(a, aLo, aHi)
      .join(bucketed(b, bLo, bHi), Seq(key, "__bucket"))
      .filter(col(aLo) < col(bHi) && col(bLo) < col(aHi))
      .filter(col("__bucket") === expr(fdiv(s"greatest($aLo, $bLo)")))
      .drop("__bucket")
  }

  // ---------------------------------------------------------------- q259
  /** Per-user view-window × purchase-window overlap: each view/purchase
    * event opens a 10-minute half-open activity window; the overlap join
    * finds every (view, purchase) window pair of the SAME user that
    * intersects in time — the co-activity primitive behind attribution
    * overlap analysis. Driven through [[intervalOverlapJoin]] with a
    * 10-minute bucket; the readout aggregates exact µs overlap durations.
    */
  private val WindowUs = 600000000L // 10 min

  def q259IntervalOverlap(spark: SparkSession, d: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, d)
    def windows(kind: String, idOut: String) = ev
      .filter(col("event_type") === kind)
      .select(col("user_id"), col("event_id").as(idOut),
        unix_micros(col("ts")).as(s"${idOut}_lo"),
        (unix_micros(col("ts")) + lit(WindowUs)).as(s"${idOut}_hi"))
    val pairs = intervalOverlapJoin(
      windows("view", "view_id"), windows("purchase", "purchase_id"),
      "user_id", "view_id_lo", "view_id_hi", "purchase_id_lo", "purchase_id_hi",
      bucketWidth = WindowUs)
    pairs.select(col("user_id"),
        (least(col("view_id_hi"), col("purchase_id_hi")) -
          greatest(col("view_id_lo"), col("purchase_id_lo"))).as("overlap_us"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        expr("cast(sum(overlap_us) as bigint)").as("sum_overlap_us"),
        expr("cast(max(overlap_us) as bigint)").as("max_overlap_us"))
  }

  val q259Oracle: String =
    s"""WITH v AS (SELECT user_id, epoch_us(ts) AS lo, epoch_us(ts) + $WindowUs AS hi
             FROM events WHERE event_type = 'view'),
       p AS (SELECT user_id, epoch_us(ts) AS lo, epoch_us(ts) + $WindowUs AS hi
             FROM events WHERE event_type = 'purchase'),
       j AS (SELECT v.user_id,
               least(v.hi, p.hi) - greatest(v.lo, p.lo) AS overlap_us
             FROM v JOIN p ON v.user_id = p.user_id
                          AND v.lo < p.hi AND p.lo < v.hi)
       SELECT count(*) AS n_pairs,
              count(DISTINCT user_id) AS n_users,
              CAST(sum(overlap_us) AS BIGINT) AS sum_overlap_us,
              CAST(max(overlap_us) AS BIGINT) AS max_overlap_us
       FROM j"""

  val entries: Seq[Entry] = Seq(
    Entry("q71_asof_join", q71AsofJoin, q71Oracle),
    Entry("q72_range_join", q72RangeJoin, q72Oracle),
    Entry("q217_asof_tolerance", q217AsofTolerance, q217Oracle),
    Entry("q259_interval_overlap", q259IntervalOverlap, q259Oracle))
}
