package graft.operators

import graft.core.Entry
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Skew mitigation for heavy-hitter keys. AQE's skew-join handles most
  * cases at runtime (enabled in the session configs); explicit salting is
  * the deterministic fallback when one key dominates a shuffle so heavily
  * that a single task would own it.
  */
object Skew {

  /** Salted aggregation: groupBy(keys) where one key may dominate.
    * Two-phase: group on (key, salt) — spreading a hot key over
    * `saltBuckets` tasks — then merge the partials per key. The partial
    * aggregates must be re-aggregatable (sum/count/min/max).
    */
  def saltedCount(df: DataFrame, key: Column, saltBuckets: Int): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    salted
      .groupBy(key.as("key"), col("__salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("key"))
      .agg(sum(col("partial")).as("n"))
  }

  /** Salted join of a skewed fact against a dimension: the fact side gets a
    * random salt in [0, saltBuckets); the dimension side is exploded
    * `saltBuckets`× so every (key, salt) pair finds its match. Join key
    * becomes (key, salt) → the hot key's rows spread over saltBuckets tasks.
    * Dimension replication cost = |dim| × saltBuckets, so this is for
    * dim-sized build sides only (the same regime as a broadcast, but usable
    * when the dim is too big to broadcast yet small enough to replicate).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                 saltBuckets: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets.toLong)).cast("int"))
    val explodedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact.join(explodedDim,
      saltedFact(factKey) === explodedDim(dimKey) &&
        saltedFact("__salt") === explodedDim("__salt"))
      .drop("__salt")
  }

  // ---------------------------------------------------------------- q103
  /** Salted aggregation driven end-to-end on the most skewed natural key in
    * the fixtures: `l_returnflag` has 3 values over the whole lineitem
    * table, so an unsalted groupBy puts ~1/3 of the table through each of 3
    * reduce tasks regardless of cluster size. The salted two-phase plan
    * spreads each flag over 32 partials first. Results are identical to the
    * plain groupBy — which is exactly what the oracle checks.
    */
  def q103SaltedAgg(spark: SparkSession, d: String): DataFrame =
    saltedCount(Tables.lineitem(spark, d), col("l_returnflag"), 32)
      .select(col("key").as("l_returnflag"), col("n"))
      .orderBy(col("l_returnflag"))

  val q103Oracle: String =
    """SELECT l_returnflag, count(*) AS n FROM lineitem
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q104
  /** Salted fact⋈dim join, certified against the unsalted plan: join
    * lineitem to part on partkey with an 8-way salt (the regime where the
    * dim is too big to broadcast but cheap to replicate 8×), then aggregate
    * per brand. Must equal the plain join byte-for-byte.
    */
  def q104SaltedJoin(spark: SparkSession, d: String): DataFrame = {
    val joined = saltedJoin(Tables.lineitem(spark, d), Tables.part(spark, d),
      "l_partkey", "p_partkey", 8)
    joined.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        graft.core.Exact.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  val q104Oracle: String =
    """SELECT p_brand, count(*) AS n_items,
              CAST(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q188
  /** Join-key skew report — the diagnostic that DECIDES when q103/q104's
    * salting (or AQE's skew split) is worth it: per-key row counts
    * reduced first (one exchange, map-side combined to |keys|), then the
    * skew profile from exact moments over the compact counts table —
    * max/total/mean and the skew factor (hottest key vs mean). Everything
    * a planner needs to size salt buckets, in two aggregates; no rank
    * selection, so no ordering pass at all. At 100 TB this is the cheap
    * pre-flight before any big join.
    */
  def q188JoinKeySkew(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_partkey").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy()
      .agg(count(lit(1)).as("n_keys"),
        expr("cast(sum(cnt) as bigint)").as("n_rows"),
        expr("cast(max(cnt) as bigint)").as("max_key_rows"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        expr("CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)").as("top1_share"),
        expr("CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)").as("mean_rows_per_key"),
        expr("CAST(max_key_rows AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))")
          .as("skew_factor"))

  val q188Oracle: String =
    """WITH k AS (SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1)
       SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(max(cnt) AS BIGINT) AS max_key_rows,
         CAST(CAST(max(cnt) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) AS top1_share,
         CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS mean_rows_per_key,
         CAST(CAST(max(cnt) AS BIGINT) AS DOUBLE)
           / (CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE))
           AS skew_factor
       FROM k"""

  val entries: Seq[Entry] = Seq(
    Entry("q103_skew_salted_agg", q103SaltedAgg, q103Oracle),
    Entry("q104_skew_salted_join", q104SaltedJoin, q104Oracle),
    Entry("q188_join_key_skew", q188JoinKeySkew, q188Oracle))
}
