package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CaseExprs
import graft.io.Sources

/** Scalar function families F1-F6 (SURVEY.md §2.8). All
  * whole-stage-codegen'd column expressions — built-in, or graft's own
  * case-mapping kernel ([[CaseExprs]]) for upper/lower; no UDFs — so
  * Catalyst can constant-fold, push down, and keep the hot loop
  * vectorized.
  */
object Functions {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Sources.table(s, dir, n)

  // F1 strings: concat/case/pad/substring/regex (reference README.md:9,13 —
  // name formatting and identifier validation)
  private def qFnString(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("tagged"),
        CaseExprs.upper(col("c_mktsegment")).as("seg_up"),
        CaseExprs.lower(col("c_name")).as("name_lo"),
        substring(col("c_name"), 1, 8).as("name8"),
        lpad(col("c_custkey").cast(StringType), 10, "0").as("padded"),
        length(col("c_name")).cast(LongType).as("name_len"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        regexp_replace(col("c_name"), "0+", "#").as("squashed"),
        col("c_name").rlike("00$").as("ends_00"))
      .orderBy("c_custkey")

  // F2 date/time: extraction, truncation, arithmetic (reference README.md:9
  // birthdate normalization; age-at-enrollment style math)
  private def qFnDate(s: SparkSession, dir: String): DataFrame = {
    val d = col("o_orderdate").cast(DateType)
    t(s, dir, "orders")
      .select(col("o_orderkey"), d.as("order_date"),
        year(d).cast(LongType).as("yr"),
        month(d).cast(LongType).as("mo"),
        dayofmonth(d).cast(LongType).as("dom"),
        trunc(d, "month").as("month_start"),
        datediff(d, to_date(lit("1995-01-01"))).cast(LongType)
          .as("days_since_95"),
        add_months(d, 3).as("plus3m"),
        last_day(d).as("month_end"))
      .orderBy("o_orderkey")
  }

  // F3 math: rounding, modulo, powers (check-digit arithmetic P9, stats)
  private def qFnMath(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 4).as("disc_dist"),
        floor(col("l_extendedprice")).as("price_floor"),
        ceil(col("l_extendedprice")).as("price_ceil"),
        pmod(col("l_orderkey"), lit(7)).as("mod7"),
        round(pow(col("l_quantity"), 2), 4).as("qty_sq"),
        round(sqrt(col("l_quantity")), 4).as("qty_sqrt"),
        round(log(col("l_extendedprice")), 4).as("price_ln"))
      .orderBy("l_orderkey", "l_linenumber")

  /** F4 arrays / higher-order functions over the embedding vectors.
    * `head4` is the slice/transform result flattened to scalar columns via
    * `element_at`: the driver's pandas hash can't sort array cells
    * (round-1 q_fn_array compare error), and doubles-as-strings would
    * reintroduce cross-engine formatting drift. All double outputs use
    * [[Num.r4]] — embeddings are signed floats and Spark/DuckDB `round`
    * disagree on rendering-boundary and negative-half cases.
    */
  private def qFnArray(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val head4 = transform(slice(e, 1, 4), x => Num.r4(x.cast(DoubleType)))
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        size(e).cast(LongType).as("dim"),
        element_at(head4, 1).as("h1"),
        element_at(head4, 2).as("h2"),
        element_at(head4, 3).as("h3"),
        element_at(head4, 4).as("h4"),
        Num.r4(sqrt(aggregate(
          transform(e, x => x.cast(DoubleType) * x.cast(DoubleType)),
          lit(0.0), (acc, x) => acc + x))).as("l2_norm"),
        Num.r4(array_max(e).cast(DoubleType)).as("max_val"),
        Num.r4(array_min(e).cast(DoubleType)).as("min_val"))
      .orderBy("vec_id")
  }

  /** F9 digest family: md5 / sha-256 row checksums — the integrity
    * fingerprints a migration uses to prove source and target rows match
    * without shipping the rows (CDC q_cdc_diff builds on the same idea).
    */
  private def qFnDigest(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        md5(col("c_name")).as("name_md5"),
        sha2(col("c_name"), 256).as("name_sha256"),
        md5(concat_ws("|", col("c_custkey"), col("c_name"),
          col("c_mktsegment"))).as("row_md5"))
      .orderBy("c_custkey")

  /** F8 null-handling family over the left join's naturally-null columns:
    * coalesce / nullif / null-guarded arithmetic — the semantics the
    * reference's fallback chain (README.md:10) leans on.
    */
  private def qFnNull(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(c("c_custkey"), o("o_orderkey"),
        coalesce(o("o_totalprice"), lit(0.0)).as("price_or_zero"),
        o("o_orderkey").isNull.as("no_order"),
        nullif(o("o_orderstatus"), lit("O")).as("status_nz"),
        when(o("o_orderkey").isNotNull, lit("has")).otherwise(lit("none"))
          .as("presence"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  // F7 bitwise: masks, shifts, popcount (flag words, bitmap-index style
  // predicates; every op is codegen'd long arithmetic)
  private def qFnBitwise(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        (col("o_orderkey").bitwiseAND(255L)).as("and255"),
        (col("o_orderkey").bitwiseOR(255L)).as("or255"),
        (col("o_orderkey").bitwiseXOR(4095L)).as("xor4095"),
        shiftleft(col("o_orderkey"), 3).as("shl3"),
        shiftright(col("o_orderkey"), 2).as("shr2"),
        bit_count(col("o_orderkey")).cast(LongType).as("popcount"))
      .orderBy("o_orderkey")

  /** F5 maps: attributes-as-map (SURVEY.md §1.3 EAV alternative). The
    * oracle states the equivalent scalar results directly — DuckDB's
    * MAP extraction yields lists, not scalars, so the map machinery is
    * exercised on the Spark side and verified by value equivalence.
    */
  private def qFnMap(s: SparkSession, dir: String): DataFrame = {
    val m = map(
      lit("segment"), col("c_mktsegment"),
      lit("nation"), col("c_nationkey").cast(StringType))
    t(s, dir, "customer")
      .select(col("c_custkey"),
        element_at(m, "segment").as("seg_val"),
        element_at(m, "nation").as("nation_val"),
        array_contains(map_keys(m), "segment").as("has_seg"),
        size(map_keys(m)).cast(LongType).as("n_keys"))
      .orderBy("c_custkey")
  }

  // F6 JSON: events.props is a JSON *string* (FIXTURES.md §3)
  private def qFnJson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_int"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k_parsed"))
      .orderBy("event_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fn_string" -> qFnString,
    "q_fn_date" -> qFnDate,
    "q_fn_math" -> qFnMath,
    "q_fn_array" -> qFnArray,
    "q_fn_map" -> qFnMap,
    "q_fn_json" -> qFnJson,
    "q_fn_bitwise" -> qFnBitwise,
    "q_fn_null" -> qFnNull,
    "q_fn_digest" -> qFnDigest)

  val oracleSql: Map[String, String] = Map(
    "q_fn_digest" ->
      """SELECT c_custkey,
        |md5(c_name) AS name_md5,
        |sha256(c_name) AS name_sha256,
        |md5(CAST(c_custkey AS VARCHAR) || '|' || c_name || '|'
        |  || c_mktsegment) AS row_md5
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_fn_null" ->
      """SELECT c_custkey, o_orderkey,
        |coalesce(o_totalprice, 0.0) AS price_or_zero,
        |o_orderkey IS NULL AS no_order,
        |nullif(o_orderstatus, 'O') AS status_nz,
        |CASE WHEN o_orderkey IS NOT NULL THEN 'has' ELSE 'none' END
        |  AS presence
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,
    "q_fn_bitwise" ->
      """SELECT o_orderkey,
        |o_orderkey & 255 AS and255,
        |o_orderkey | 255 AS or255,
        |xor(o_orderkey, 4095) AS xor4095,
        |o_orderkey << 3 AS shl3,
        |o_orderkey >> 2 AS shr2,
        |CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS popcount
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_fn_string" ->
      """SELECT c_custkey,
        |c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS tagged,
        |upper(c_mktsegment) AS seg_up,
        |lower(c_name) AS name_lo,
        |substring(c_name, 1, 8) AS name8,
        |lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        |CAST(length(c_name) AS BIGINT) AS name_len,
        |regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |regexp_replace(c_name, '0+', '#', 'g') AS squashed,
        |regexp_matches(c_name, '00$') AS ends_00
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_fn_date" ->
      """SELECT o_orderkey,
        |CAST(o_orderdate AS DATE) AS order_date,
        |CAST(year(o_orderdate) AS BIGINT) AS yr,
        |CAST(month(o_orderdate) AS BIGINT) AS mo,
        |CAST(day(o_orderdate) AS BIGINT) AS dom,
        |CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |  AS days_since_95,
        |CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |round(abs(l_discount - 0.05), 4) AS disc_dist,
        |CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |l_orderkey % 7 AS mod7,
        |round(pow(l_quantity, 2), 4) AS qty_sq,
        |round(sqrt(l_quantity), 4) AS qty_sqrt,
        |round(ln(l_extendedprice), 4) AS price_ln
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_fn_array" ->
      s"""SELECT vec_id,
        |CAST(len(embedding) AS BIGINT) AS dim,
        |${Num.r4Sql("CAST(embedding[1] AS DOUBLE)")} AS h1,
        |${Num.r4Sql("CAST(embedding[2] AS DOUBLE)")} AS h2,
        |${Num.r4Sql("CAST(embedding[3] AS DOUBLE)")} AS h3,
        |${Num.r4Sql("CAST(embedding[4] AS DOUBLE)")} AS h4,
        |${Num.r4Sql("sqrt(list_sum(list_transform(embedding, " +
           "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")} AS l2_norm,
        |${Num.r4Sql("CAST(list_max(embedding) AS DOUBLE)")} AS max_val,
        |${Num.r4Sql("CAST(list_min(embedding) AS DOUBLE)")} AS min_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_fn_map" ->
      """SELECT c_custkey,
        |c_mktsegment AS seg_val,
        |CAST(c_nationkey AS VARCHAR) AS nation_val,
        |true AS has_seg,
        |CAST(2 AS BIGINT) AS n_keys
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_fn_json" ->
      """SELECT event_id,
        |json_extract_string(props, '$.k') AS k_str,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_parsed
        |FROM events ORDER BY event_id""".stripMargin)
}
