package graft.operators

import graft.core.Entry
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scalar-function batteries (SURVEY.md §2.2 rows: string / date-time / math /
  * json). All codegen'd built-ins — no UDFs in these paths, so every
  * expression stays inside WholeStageCodegen.
  */
object Scalars {

  // ---------------------------------------------------------------- q19
  /** String battery: case mapping, length, substring, regexp_replace (the
    * reference's identifier sanitizer is exactly a regexp_replace,
    * /root/reference/pipeline.py:106), split/element_at, concat.
    */
  def q19StringFuncs(spark: SparkSession, d: String): DataFrame =
    Tables.part(spark, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("uname"),
      lower(col("p_brand")).as("lbrand"),
      length(col("p_name")).cast("long").as("name_len"),
      substring(col("p_type"), 1, 5).as("type5"),
      regexp_replace(col("p_name"), "[^A-Za-z0-9]+", "_").as("slug"),
      concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
      element_at(split(col("p_name"), " "), 1).as("first_word"))
      .orderBy(col("p_partkey"))

  val q19Oracle: String =
    """SELECT p_partkey, upper(p_name) AS uname, lower(p_brand) AS lbrand,
       CAST(length(p_name) AS BIGINT) AS name_len, substring(p_type, 1, 5) AS type5,
       regexp_replace(p_name, '[^A-Za-z0-9]+', '_', 'g') AS slug,
       p_brand || ':' || p_type AS brand_type,
       string_split(p_name, ' ')[1] AS first_word
       FROM part ORDER BY p_partkey"""

  // ---------------------------------------------------------------- q20
  /** Date/time battery over the timestamp columns the reference's type table
    * declares (DATE/TIME/TIMESTAMP, /root/reference/pipeline.py:123,129-130).
    */
  def q20DateFuncs(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("int").as("yr"),
      month(col("o_orderdate")).cast("int").as("mo"),
      dayofmonth(col("o_orderdate")).cast("int").as("dom"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("ts_ms"),
      last_day(col("o_orderdate")).as("month_end"))
      .orderBy(col("o_orderkey"))

  val q20Oracle: String =
    """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo, CAST(day(o_orderdate) AS INT) AS dom,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
       epoch_ms(o_orderdate) AS ts_ms, last_day(o_orderdate) AS month_end
       FROM orders ORDER BY o_orderkey"""

  // ---------------------------------------------------------------- q21
  /** Math battery — only operations with IEEE-defined results (or exact
    * integer semantics) so values are bit-identical across engines.
    */
  def q21MathFuncs(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).select(
      col("l_orderkey"), col("l_linenumber"),
      // round() over *decimal* operands: double rounding differs across
      // engines at representation boundaries, decimal rounding (half-up)
      // does not. price/discount are 2-decimal quantities, so the casts are
      // exact and the scale-4 product is exact.
      round(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(8, 2)), 2).cast("double").as("disc_price"),
      abs(col("l_discount") - 0.05).as("dev"),
      floor(col("l_quantity") / 7.0).cast("long").as("qty_div7"),
      ceil(col("l_quantity") / 7.0).cast("long").as("qty_ceil7"),
      sqrt(col("l_quantity")).as("qty_sqrt"),
      (col("l_orderkey") % 7).as("ord_mod7"),
      greatest(col("l_tax"), col("l_discount")).as("max_rate"),
      least(col("l_tax"), col("l_discount")).as("min_rate"))
      // (orderkey, linenumber) is NOT unique in the synthetic data (the
      // round-6 10x gate found 1.1M duplicate pairs at sf0.1), so the sort
      // covers EVERY output column — rows that tie on all sort keys are
      // then identical rows, and a positional flip is unobservable
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("disc_price"),
        col("dev"), col("qty_div7"), col("qty_ceil7"), col("qty_sqrt"),
        col("ord_mod7"), col("max_rate"), col("min_rate"))

  val q21Oracle: String =
    """SELECT l_orderkey, l_linenumber,
       CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2)), 2) AS DOUBLE) AS disc_price,
       abs(l_discount - 0.05) AS dev,
       CAST(floor(l_quantity / 7.0) AS BIGINT) AS qty_div7,
       CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil7,
       sqrt(l_quantity) AS qty_sqrt,
       l_orderkey % 7 AS ord_mod7,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate
       FROM lineitem
       ORDER BY l_orderkey, l_linenumber, disc_price, dev, qty_div7,
                qty_ceil7, qty_sqrt, ord_mod7, max_rate, min_rate"""

  // ---------------------------------------------------------------- q22
  /** JSON extraction over `events.props` (schema'd from_json plus path-based
    * get_json_object), then a grouped aggregate over the parsed value.
    */
  def q22JsonFuncs(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(
        col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_val"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val2"),
        // MapType route: parse the object as MAP<STRING,INT>, look up by key
        element_at(
          from_json(col("props"), "MAP<STRING, INT>",
            java.util.Collections.emptyMap[String, String]()), "k").as("k_map"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k_val")).cast("long").as("sum_k"),
        sum(col("k_val2")).cast("long").as("sum_k2"),
        sum(col("k_map")).cast("long").as("sum_k_map"),
        count(col("k_val")).as("n"))
      .orderBy(col("event_type"))

  val q22Oracle: String =
    """SELECT event_type,
       CAST(sum(k_val) AS BIGINT) AS sum_k, CAST(sum(k_val) AS BIGINT) AS sum_k2,
       CAST(sum(k_val) AS BIGINT) AS sum_k_map,
       count(k_val) AS n
       FROM (SELECT event_type, CAST(regexp_extract(props, '"k": *(-?[0-9]+)', 1) AS INT) AS k_val FROM events)
       GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------- q68
  /** Array-function battery over the embedding vectors: size, min/max
    * element, slices, sorted extremes, element predicates — the HOF toolkit
    * (transform/filter/aggregate) applied as first-class query operators.
    * Elements are cast float→double (exact) before any comparison so both
    * engines rank identical values.
    */
  def q68ArrayFuncs(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .withColumn("ed", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        expr("array_max(ed)").as("max_val"),
        expr("array_min(ed)").as("min_val"),
        expr("element_at(array_sort(ed), 2)").as("second_smallest"),
        expr("size(filter(ed, x -> x > 0D))").cast("long").as("n_positive"),
        round(expr("aggregate(slice(ed, 1, 8), 0D, (a, x) -> a + x)"), 6).as("head8_sum"),
        expr("element_at(ed, 1)").as("first_val"),
        expr("element_at(reverse(ed), 1)").as("last_val"))
      .orderBy(col("vec_id"))

  val q68Oracle: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed,
                         len(embedding) AS dim FROM embeddings)
       SELECT vec_id, CAST(dim AS BIGINT) AS dim,
         list_max(ed) AS max_val, list_min(ed) AS min_val,
         list_sort(ed)[2] AS second_smallest,
         CAST(len(list_filter(ed, x -> x > 0)) AS BIGINT) AS n_positive,
         round(list_sum(ed[1:8]), 6) AS head8_sum,
         ed[1] AS first_val, ed[len(ed)] AS last_val
       FROM e ORDER BY vec_id"""

  // ---------------------------------------------------------------- q139
  /** Semi-structured VARIANT (Spark 4): `parse_json` decodes the payload
    * ONCE into a binary-encoded variant; `variant_get` does typed path
    * extraction without a declared schema — the open-schema ingestion
    * answer where q22's from_json needs the shape up front. At 100 TB the
    * variant encoding is the point: parse cost paid once at ingest, fields
    * extracted columnar-shredded downstream instead of re-parsing JSON text
    * per query. The extraction is deterministic → full oracle via DuckDB's
    * json_extract on the same paths.
    */
  def q139VariantJson(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        graft.core.Exact.dsum(col("value")).as("total_value"))
      .orderBy(col("k_bucket"))

  val q139Oracle: String =
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS n,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
       CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_value
       FROM events GROUP BY 1 ORDER BY 1"""

  val entries: Seq[Entry] = Seq(
    Entry("q139_variant_json", q139VariantJson, q139Oracle),
    Entry("q68_array_funcs", q68ArrayFuncs, q68Oracle),
    Entry("q19_string_funcs", q19StringFuncs, q19Oracle),
    Entry("q20_date_funcs", q20DateFuncs, q20Oracle),
    Entry("q21_math_funcs", q21MathFuncs, q21Oracle),
    Entry("q22_json_funcs", q22JsonFuncs, q22Oracle))
}
