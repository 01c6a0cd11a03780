package graft.queries

import graft.Tables
import graft.functions.{MoFunctions => M}
import graft.functions.MoFunctions.{elt => _, quote => _, _}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function conformance queries — one per §2.13 family, each
  * verifying a batch of functions (Spark built-ins + MoFunctions gaps)
  * against DuckDB equivalents.
  */
object FunctionQueries extends QueryModule {

  // ------------------------------------------------------------ strings
  private def fn1(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
        col("c_custkey"),
        M.elt(lit(1) + col("c_custkey") % 3, Seq(lit("x"), lit("y"), lit("z"))).as("elt_val"),
        field(col("c_mktsegment"),
          Seq("BUILDING", "MACHINERY", "FURNITURE", "HOUSEHOLD", "AUTOMOBILE").map(lit))
          .as("fld"),
        insertStr(col("c_name"), lit(1), lit(8), lit("Cust")).as("ins"),
        makeSet(col("c_custkey") % 8, Seq(lit("a"), lit("b"), lit("c"))).as("mkset"),
        exportSet(col("c_custkey") % 4, lit("Y"), lit("N"), lit(","), lit(4)).as("expset"),
        M.quote(concat(lit("o'"), col("c_name"))).as("qt"),
        substring_index(col("c_name"), "#", 1).as("subidx"),
        expr("left(c_name, 4)").as("lft"),
        expr("right(c_name, 3)").as("rgt"),
        repeat(col("c_mktsegment"), 2).as("rpt"),
        reverse(col("c_name")).as("rev"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("lpd"))
      .orderBy(col("c_custkey"))

  private val fn1Sql =
    """SELECT c_custkey,
      |  (['x','y','z'])[CAST(1 + c_custkey % 3 AS INT)] AS elt_val,
      |  CAST(coalesce(list_position(['BUILDING','MACHINERY','FURNITURE','HOUSEHOLD','AUTOMOBILE'],
      |                              c_mktsegment), 0) AS BIGINT) AS fld,
      |  'Cust' || substring(c_name, 9) AS ins,
      |  coalesce(array_to_string(list_filter(['a','b','c'],
      |    (x, i) -> ((c_custkey % 8) >> (i - 1)) & 1 = 1), ','), '') AS mkset,
      |  array_to_string([CASE WHEN ((c_custkey % 4) >> (i - 1)) & 1 = 1
      |                        THEN 'Y' ELSE 'N' END for i in range(1, 5)], ',') AS expset,
      |  chr(39) || replace('o' || chr(39) || c_name, chr(39), chr(92) || chr(39)) || chr(39) AS qt,
      |  split_part(c_name, '#', 1) AS subidx,
      |  left(c_name, 4) AS lft,
      |  right(c_name, 3) AS rgt,
      |  repeat(c_mktsegment, 2) AS rpt,
      |  reverse(c_name) AS rev,
      |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS lpd
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------- datetime
  private def fn2(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
        col("o_orderkey"),
        moDateFormat(col("o_orderdate"), "%Y-%m-%d").as("fmt_ymd"),
        moDateFormat(col("o_orderdate"), "%M %d, %Y").as("fmt_long"),
        moDateFormat(col("o_orderdate"), "%W").as("fmt_weekday"),
        toDays(to_date(col("o_orderdate"))).as("td"),
        periodAdd(lit(202411L), col("o_orderkey") % 30).as("pa"),
        periodDiff(lit(202501L), lit(202411L) - col("o_orderkey") % 5).as("pd"),
        yearweek(col("o_orderdate")).as("yw"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofweek(col("o_orderdate")).as("dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        last_day(to_date(col("o_orderdate"))).as("lastd"),
        expr("timestampdiff(DAY, o_orderdate, timestamp'1998-01-01 00:00:00')").as("tsd"),
        to_date(date_trunc("month", col("o_orderdate"))).as("mon_start"))
      .orderBy(col("o_orderkey"))

  private val fn2Sql =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS fmt_ymd,
      |  strftime(o_orderdate, '%B %d, %Y') AS fmt_long,
      |  strftime(o_orderdate, '%A') AS fmt_weekday,
      |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS td,
      |  ((202411 // 100) * 12 + (202411 % 100) - 1 + (o_orderkey % 30)) // 12 * 100
      |    + ((202411 // 100) * 12 + (202411 % 100) - 1 + (o_orderkey % 30)) % 12 + 1 AS pa,
      |  ((202501 // 100) * 12 + 202501 % 100)
      |    - (((202411 - o_orderkey % 5) // 100) * 12 + (202411 - o_orderkey % 5) % 100) AS pd,
      |  CAST(year(_ws) * 100 + date_diff('day',
      |         CAST(date_trunc('year', _ws) AS DATE)
      |           + CAST((7 - dayofweek(date_trunc('year', _ws))) % 7 AS INTEGER),
      |         _ws) // 7 + 1 AS BIGINT) AS yw,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
      |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
      |  last_day(CAST(o_orderdate AS DATE)) AS lastd,
      |  datediff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS tsd,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start
      |FROM (SELECT *, CAST(o_orderdate AS DATE)
      |               - CAST(dayofweek(o_orderdate) AS INTEGER) AS _ws
      |      FROM orders) orders
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- math
  private def fn3(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
        col("p_partkey"),
        conv(col("p_partkey").cast("string"), 10, 16).as("hx"),
        bin(col("p_partkey")).as("bn"),
        conv(col("p_partkey").cast("string"), 10, 8).as("oc"),
        truncateNum(col("p_retailprice") / 7, 2).as("tr"),
        bit_count(col("p_partkey")).cast("int").as("bitcnt"),
        round(atan2(col("p_retailprice"), col("p_partkey") + 1), 6).as("at2"),
        round(degrees(col("p_retailprice") / 1000), 6).as("deg"),
        round(log2(col("p_retailprice")), 6).as("lg2"),
        round(expr("cot(p_partkey + 1.5)"), 6).as("ct"),
        signum(col("p_retailprice") - 910).cast("double").as("sgn"),
        greatest(col("p_size"), lit(25)).cast("int").as("grt"),
        least(col("p_size"), lit(25)).cast("int").as("lst"))
      .orderBy(col("p_partkey"))

  private val fn3Sql =
    """SELECT p_partkey,
      |  upper(to_hex(p_partkey)) AS hx,
      |  bin(p_partkey) AS bn,
      |  to_base(p_partkey, 8) AS oc,
      |  trunc((p_retailprice / 7) * 100) / 100 AS tr,
      |  CAST(bit_count(p_partkey) AS INTEGER) AS bitcnt,
      |  round(atan2(p_retailprice, p_partkey + 1), 6) AS at2,
      |  round(degrees(p_retailprice / 1000), 6) AS deg,
      |  round(log2(p_retailprice), 6) AS lg2,
      |  round(cot(p_partkey + 1.5), 6) AS ct,
      |  CAST(sign(p_retailprice - 910) AS DOUBLE) AS sgn,
      |  CAST(greatest(p_size, 25) AS INTEGER) AS grt,
      |  CAST(least(p_size, 25) AS INTEGER) AS lst
      |FROM part ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------- json
  private def fn4(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k_struct"),
        element_at(json_object_keys(col("props")), 1).as("first_key"),
        json_array_length(concat(lit("["), get_json_object(col("props"), "$.k"), lit("]")))
          .cast("long").as("arr_len"),
        to_json(struct(col("event_id").as("id"))).as("packed"))
      .orderBy(col("event_id"))

  private val fn4Sql =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
      |  json_keys(props)[1] AS first_key,
      |  CAST(json_array_length('[' || json_extract_string(props, '$.k') || ']') AS BIGINT) AS arr_len,
      |  '{"id":' || CAST(event_id AS VARCHAR) || '}' AS packed
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- misc
  private def fn5(s: SparkSession, d: String): DataFrame = {
    val ip = concat(lit("10.0."), (col("c_custkey") % 256).cast("string"),
      lit("."), (col("c_custkey") % 100).cast("string"))
    Tables.customer(s, d).select(
        col("c_custkey"),
        inetAton(ip).as("ipa"),
        inetNtoa(col("c_custkey") * 7919 % 4294967296L).as("ipn"),
        isIpv4(ip).as("is_ip"),
        isIpv4(col("c_name")).as("not_ip"),
        isUuid(lit("550e8400-e29b-41d4-a716-446655440000")).as("is_uuid"),
        binToUuid(uuidToBin(lit("550E8400-E29B-41D4-A716-446655440000"))).as("uuid_rt"),
        md5(col("c_name")).as("md5_name"),
        sha2(col("c_name"), 256).as("sha_name"),
        // serial's packed bytes contain u0000 bytes (hostile to the parquet →
        // DuckDB oracle path), so conformance checks the ROUND-TRIP:
        // serial_extract(serial(a, b), i) recovers each field; nulls
        // propagate for serial and null-tag for serial_full.
        serialExtract(serial(Seq(col("c_custkey"), col("c_mktsegment"))), 0)
          .as("ser_f0"),
        serialExtract(serial(Seq(col("c_custkey"), col("c_mktsegment"))), 1)
          .as("ser_f1"),
        serialExtract(serialFull(Seq(
          when(col("c_custkey") % 2 === 0, col("c_mktsegment")),
          col("c_name"))), 0).as("ser_null"))
      .orderBy(col("c_custkey"))
  }

  private val fn5Sql =
    """SELECT c_custkey,
      |  10 * 16777216 + 0 * 65536 + (c_custkey % 256) * 256 + (c_custkey % 100) AS ipa,
      |  CAST((c_custkey * 7919 % 4294967296) // 16777216 % 256 AS VARCHAR) || '.' ||
      |    CAST((c_custkey * 7919 % 4294967296) // 65536 % 256 AS VARCHAR) || '.' ||
      |    CAST((c_custkey * 7919 % 4294967296) // 256 % 256 AS VARCHAR) || '.' ||
      |    CAST((c_custkey * 7919 % 4294967296) % 256 AS VARCHAR) AS ipn,
      |  regexp_matches('10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_custkey % 100 AS VARCHAR),
      |    '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$') AS is_ip,
      |  regexp_matches(c_name,
      |    '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$') AS not_ip,
      |  true AS is_uuid,
      |  '550e8400-e29b-41d4-a716-446655440000' AS uuid_rt,
      |  md5(c_name) AS md5_name,
      |  sha256(c_name) AS sha_name,
      |  CAST(c_custkey AS VARCHAR) AS ser_f0,
      |  c_mktsegment AS ser_f1,
      |  CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment END AS ser_null
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------ json mutation
  private def fn6(s: SparkSession, d: String): DataFrame = {
    import graft.functions.JsonMutation._
    val p = col("props")
    Tables.events(s, d).select(
        col("event_id"),
        get_json_object(json_insert(p, lit("$.x"), lit("42")), "$.x").cast("long").as("ins_x"),
        get_json_object(json_insert(p, lit("$.k"), lit("99")), "$.k").cast("long").as("ins_noop"),
        get_json_object(json_replace(p, lit("$.k"), lit("5")), "$.k").cast("long").as("repl"),
        get_json_object(json_replace(p, lit("$.x"), lit("9")), "$.x").cast("long").as("repl_noop"),
        json_remove(p, lit("$.k")).as("removed"),
        get_json_object(json_merge_patch(p, lit("""{"x":7}""")), "$.x").cast("long").as("merged_x"),
        get_json_object(json_set(p, lit("$.k"), lit("123")), "$.k").cast("long").as("set_k"),
        // MySQL parity: a nonexistent PARENT path is a no-op (no
        // auto-creation of intermediate objects) for set and insert
        get_json_object(json_set(p, lit("$.missing.leaf"), lit("1")), "$.missing.leaf")
          .cast("long").as("set_deep"),
        get_json_object(json_insert(p, lit("$.missing.leaf"), lit("1")), "$.k")
          .cast("long").as("ins_deep_k"))
      .orderBy(col("event_id"))
  }

  private val fn6Sql =
    """SELECT event_id,
      |  CAST(42 AS BIGINT) AS ins_x,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS ins_noop,
      |  CAST(5 AS BIGINT) AS repl,
      |  CAST(NULL AS BIGINT) AS repl_noop,
      |  '{}' AS removed,
      |  CAST(7 AS BIGINT) AS merged_x,
      |  CAST(123 AS BIGINT) AS set_k,
      |  CAST(NULL AS BIGINT) AS set_deep,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS ins_deep_k
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------- decimal arithmetic
  /** Exact decimal add/sub/mul (reference decimal64/128 arithmetic,
    * SURVEY §1.2): results compared as doubles after exact computation.
    */
  private def fn7(s: SparkSession, d: String): DataFrame = {
    val p = col("o_totalprice").cast("decimal(9,2)")
    Tables.orders(s, d).select(
        col("o_orderkey"),
        (p + p).cast("double").as("dadd"),
        (p - lit(1000).cast("decimal(9,2)")).cast("double").as("dsub"),
        (p * lit(3).cast("decimal(3,0)")).cast("double").as("dmul"),
        p.cast("decimal(15,2)").cast("string").as("dstr"))
      .orderBy(col("o_orderkey"))
  }

  private val fn7Sql =
    """SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(9,2)) + CAST(o_totalprice AS DECIMAL(9,2)) AS DOUBLE) AS dadd,
      |  CAST(CAST(o_totalprice AS DECIMAL(9,2)) - CAST(1000 AS DECIMAL(9,2)) AS DOUBLE) AS dsub,
      |  CAST(CAST(o_totalprice AS DECIMAL(9,2)) * CAST(3 AS DECIMAL(3,0)) AS DOUBLE) AS dmul,
      |  CAST(CAST(CAST(o_totalprice AS DECIMAL(9,2)) AS DECIMAL(15,2)) AS VARCHAR) AS dstr
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------------- convert_tz
  /** CONVERT_TZ across fixed-offset, DST, and half-hour-offset zones.
    * Hours are pinned to 12–23 so the source wall-clock never falls in a
    * spring-forward gap (whose repair policy differs across engines).
    */
  private def fn8(s: SparkSession, d: String): DataFrame = {
    val ts = expr("timestampadd(HOUR, CAST(o_orderkey % 12 AS INT) + 12, CAST(o_orderdate AS TIMESTAMP))")
    Tables.orders(s, d).select(
        col("o_orderkey"),
        M.convertTz(ts, "America/New_York", "Asia/Tokyo").as("ny_tokyo"),
        M.convertTz(ts, "UTC", "America/Los_Angeles").as("utc_la"),
        M.convertTz(ts, "UTC", "Asia/Kolkata").as("utc_kolkata"),
        M.convertTz(ts, "Europe/Paris", "UTC").as("paris_utc"))
      .orderBy(col("o_orderkey"))
  }

  private val fn8Sql =
    """SELECT o_orderkey,
      |  timezone('Asia/Tokyo', timezone('America/New_York', ts)) AS ny_tokyo,
      |  timezone('America/Los_Angeles', timezone('UTC', ts)) AS utc_la,
      |  timezone('Asia/Kolkata', timezone('UTC', ts)) AS utc_kolkata,
      |  timezone('UTC', timezone('Europe/Paris', ts)) AS paris_utc
      |FROM (SELECT o_orderkey,
      |        CAST(o_orderdate AS TIMESTAMP) + to_hours(o_orderkey % 12 + 12) AS ts
      |      FROM orders) orders
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------ collation
  /** Case-insensitive collation via binary sort keys: grouping and
    * ordering a mixed-case column under `utf8mb4_general_ci` must match
    * DuckDB's lower()-normalized grouping (ASCII corpus).
    */
  private def fn9(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Collations.collation_key
    import org.apache.spark.sql.expressions.Window
    val mixed = when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
      .otherwise(lower(col("c_mktsegment")))
    Tables.customer(s, d)
      .select(col("c_custkey"), mixed.as("mixed"),
        collation_key(mixed, lit("utf8mb4_general_ci")).as("ck"))
      .groupBy(col("ck"))
      .agg(
        min(upper(col("mixed"))).as("seg"),
        count(lit(1)).as("cnt"),
        countDistinct(col("mixed")).as("variants"))
      .withColumn("rnk", dense_rank().over(Window.orderBy(col("ck"))))
      .select(col("seg"), col("cnt"), col("variants"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("seg"))
  }

  private val fn9Sql =
    """SELECT min(upper(mixed)) AS seg,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(count(DISTINCT mixed) AS BIGINT) AS variants,
      |  CAST(dense_rank() OVER (ORDER BY lower(mixed)) AS BIGINT) AS rnk
      |FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
      |             ELSE lower(c_mktsegment) END AS mixed
      |      FROM customer)
      |GROUP BY lower(mixed)
      |ORDER BY seg""".stripMargin

  // ----------------------------------------------------- json inspection
  /** JSON_TYPE/VALID/QUOTE/UNQUOTE/CONTAINS/DEPTH/MERGE_PRESERVE — the
    * oracle uses DuckDB's json functions where semantics agree (arrays,
    * object⊇object) and recomputes with plain SQL elsewhere; the
    * MySQL-vs-DuckDB divergent case (bare scalar inside object values)
    * is covered in FunctionCoverageSpec instead.
    */
  private def fn10(s: SparkSession, d: String): DataFrame = {
    import graft.functions.JsonExtras._
    val p = col("props")
    val arr = concat(lit("[1,2,"), (col("event_id") % 7).cast("string"), lit("]"))
    val cand = (col("event_id") % 9).cast("string")
    val str = concat(lit("x\""), col("event_id").cast("string"))
    Tables.events(s, d).select(
        col("event_id"),
        json_type(p).as("jt"),
        json_type(get_json_object(p, "$.k")).as("jt_k"),
        json_valid(p).as("jv"),
        json_valid(concat(p, lit("x"))).as("jv_bad"),
        json_quote(str).as("jq"),
        json_unquote(json_quote(str)).as("junq"),
        json_contains(arr, cand).as("jc_arr"),
        json_contains(p, p).as("jc_obj"),
        json_depth(p).as("jd1"),
        json_depth(concat(lit("""{"a":"""), p, lit("}"))).as("jd2"),
        get_json_object(json_merge_preserve(lit("""{"k":1}"""), p), "$.k[1]")
          .cast("long").as("jmp_k"),
        json_contains_path(p, lit("one"), array(lit("$.k"), lit("$.nope"))).as("jcp_one"),
        json_contains_path(p, lit("all"), array(lit("$.k"), lit("$.nope"))).as("jcp_all"))
      .orderBy(col("event_id"))
  }

  private val fn10Sql =
    """SELECT event_id,
      |  'OBJECT' AS jt,
      |  CASE json_type(CAST(json_extract(props, '$.k') AS VARCHAR))
      |    WHEN 'UBIGINT' THEN 'INTEGER' WHEN 'BIGINT' THEN 'INTEGER'
      |    WHEN 'VARCHAR' THEN 'STRING' ELSE json_type(CAST(json_extract(props, '$.k') AS VARCHAR))
      |  END AS jt_k,
      |  json_valid(props) AS jv,
      |  json_valid(props || 'x') AS jv_bad,
      |  to_json('x"' || CAST(event_id AS VARCHAR))::VARCHAR AS jq,
      |  'x"' || CAST(event_id AS VARCHAR) AS junq,
      |  json_contains('[1,2,' || CAST(event_id % 7 AS VARCHAR) || ']',
      |                CAST(event_id % 9 AS VARCHAR)) AS jc_arr,
      |  json_contains(props, props) AS jc_obj,
      |  CAST(2 AS INTEGER) AS jd1,
      |  CAST(3 AS INTEGER) AS jd2,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS jmp_k,
      |  (json_extract(props, '$.k') IS NOT NULL
      |    OR json_extract(props, '$.nope') IS NOT NULL) AS jcp_one,
      |  (json_extract(props, '$.k') IS NOT NULL
      |    AND json_extract(props, '$.nope') IS NOT NULL) AS jcp_all
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------ time fns
  /** SEC_TO_TIME/TIME_TO_SEC/MAKETIME/GET_FORMAT. */
  private def fn11(s: SparkSession, d: String): DataFrame = {
    val n = col("o_orderkey") % 86400
    Tables.orders(s, d).select(
        col("o_orderkey"),
        secToTime(n).as("stt"),
        timeToSec(secToTime(n)).as("tts"),
        makeTime(col("o_orderkey") % 24, col("o_orderkey") % 60,
          (col("o_orderkey") * 7) % 60).as("mkt"),
        M.elt((col("o_orderkey") % 3) + 1,
          Seq(getFormat("DATE", "USA"), getFormat("DATE", "EUR"),
            getFormat("DATETIME", "ISO")).map(f => lit(f.get))).as("gf"),
        addTime(secToTime(n), lit("01:30:15")).as("adt"),
        subTime(secToTime(n + 10000), lit("01:00:00")).as("sbt"),
        timeDiff(expr("timestampadd(SECOND, CAST(o_orderkey % 500 AS INT), CAST(o_orderdate AS TIMESTAMP))"),
          col("o_orderdate").cast("timestamp")).as("tdf_pos"),
        timeDiff(col("o_orderdate").cast("timestamp"),
          expr("timestampadd(SECOND, 90, CAST(o_orderdate AS TIMESTAMP))")).as("tdf_neg"))
      .orderBy(col("o_orderkey"))
  }

  private val fn11Sql =
    """SELECT o_orderkey,
      |  lpad(CAST(n // 3600 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST((n % 3600) // 60 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST(n % 60 AS VARCHAR), 2, '0') AS stt,
      |  n AS tts,
      |  lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST((o_orderkey * 7) % 60 AS VARCHAR), 2, '0') AS mkt,
      |  (['%m.%d.%Y', '%d.%m.%Y', '%Y-%m-%d %H:%i:%s'])[CAST(o_orderkey % 3 + 1 AS INT)] AS gf,
      |  lpad(CAST(a1 // 3600 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST((a1 % 3600) // 60 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST(a1 % 60 AS VARCHAR), 2, '0') AS adt,
      |  lpad(CAST(s1 // 3600 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST((s1 % 3600) // 60 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST(s1 % 60 AS VARCHAR), 2, '0') AS sbt,
      |  lpad(CAST(d1 // 3600 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST((d1 % 3600) // 60 AS VARCHAR), 2, '0') || ':'
      |    || lpad(CAST(d1 % 60 AS VARCHAR), 2, '0') AS tdf_pos,
      |  '-00:01:30' AS tdf_neg
      |FROM (SELECT o_orderkey, o_orderkey % 86400 AS n,
      |        o_orderkey % 86400 + 5415 AS a1,
      |        o_orderkey % 86400 + 6400 AS s1,
      |        o_orderkey % 500 AS d1
      |      FROM orders) orders
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------ jq
  /** jq/try_jq over a synthesized document; each program's output is
    * re-derived in the oracle with DuckDB json_extract + string
    * building (DuckDB has no jq). gojq-divergent/unsupported forms are
    * covered in JqSpec.
    */
  private def fn12(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Jq
    val doc = concat(lit("""{"id":"""), col("event_id").cast("string"),
      lit(""","tags":[1,2,"""), (col("event_id") % 7).cast("string"),
      lit("""],"o":"""), col("props"), lit("}"))
    Tables.events(s, d).select(
        col("event_id"),
        Jq.jq(doc, lit(".o.k")).as("jk"),
        Jq.jq(doc, lit(".tags[1]")).as("jt1"),
        Jq.jq(doc, lit("[.tags[] | . * 2]")).as("jmap"),
        Jq.jq(doc, lit(".tags | length")).as("jlen"),
        Jq.jq(doc, lit(".o.k + 10")).as("jadd"),
        Jq.jq(doc, lit("{key: .o.k, n: 3}")).as("jobj"),
        Jq.jq(doc, lit(".tags | add")).as("jsum"),
        Jq.try_jq(doc, lit(".o.k & .id")).as("jbad"),
        Jq.jq(doc, lit("""if .o.k > 50 then "hi" else "lo" end""")).as("jif"),
        Jq.jq(doc, lit("[.tags[] | select(. >= 2)] | length")).as("jsel"))
      .orderBy(col("event_id"))
  }

  private val fn12Sql =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS VARCHAR) AS jk,
      |  '2' AS jt1,
      |  '[2,4,' || CAST((event_id % 7) * 2 AS VARCHAR) || ']' AS jmap,
      |  '3' AS jlen,
      |  CAST(CAST(json_extract(props, '$.k') AS BIGINT) + 10 AS VARCHAR) AS jadd,
      |  '{"key":' || CAST(json_extract(props, '$.k') AS VARCHAR) || ',"n":3}' AS jobj,
      |  CAST(3 + event_id % 7 AS VARCHAR) AS jsum,
      |  CAST(NULL AS VARCHAR) AS jbad,
      |  CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
      |       THEN '"hi"' ELSE '"lo"' END AS jif,
      |  CAST(1 + CASE WHEN event_id % 7 >= 2 THEN 1 ELSE 0 END AS VARCHAR) AS jsel
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------- json long tail
  /** JSON_VALUE/LENGTH/KEYS/PRETTY/OVERLAPS/SCHEMA_VALID(+report) —
    * every output re-derived arithmetically in DuckDB from the known
    * document shape, including the schema-valid flag (k >= 50) and the
    * failing keyword of the validation report.
    */
  private def fn13(s: SparkSession, d: String): DataFrame = {
    import graft.functions.JsonTail._
    val doc = concat(lit("""{"id":"""), col("event_id").cast("string"),
      lit(""","tags":[1,2,"""), (col("event_id") % 7).cast("string"),
      lit("""],"o":"""), col("props"), lit("}"))
    val otherArr = concat(lit("["), (col("event_id") % 5).cast("string"), lit(",9]"))
    val otherObj = concat(lit("""{"k":"""), (col("event_id") % 9).cast("string"), lit("}"))
    val schema = lit("""{"type":"object","required":["k"],"properties":{"k":{"type":"integer","minimum":50}}}""")
    val report = json_schema_validation_report(schema, col("props"))
    Tables.events(s, d).select(
        col("event_id"),
        json_value(doc, lit("$.o.k")).as("jv1"),
        json_value(doc, lit("$.tags")).as("jv2"),
        json_value(doc, lit("$.tags[1]")).as("jv3"),
        json_length(col("props")).as("jl1"),
        json_length(doc, lit("$.tags")).as("jl2"),
        json_length(doc, lit("$.nope")).as("jl3"),
        json_keys(col("props")).as("jk1"),
        json_keys(doc).as("jk2"),
        json_pretty(col("props")).as("jp"),
        json_overlaps(concat(lit("[1,2,"), (col("event_id") % 7).cast("string"), lit("]")),
          otherArr).as("jo1"),
        json_overlaps(col("props"), otherObj).as("jo2"),
        json_schema_valid(schema, col("props")).as("jsv"),
        get_json_object(report, "$.valid").as("jsvr_valid"),
        get_json_object(report, "$['schema-failed-keyword']").as("jsvr_kw"))
      .orderBy(col("event_id"))
  }

  private val fn13Sql =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS VARCHAR) AS jv1,
      |  CAST(NULL AS VARCHAR) AS jv2,
      |  '2' AS jv3,
      |  CAST(1 AS BIGINT) AS jl1,
      |  CAST(3 AS BIGINT) AS jl2,
      |  CAST(NULL AS BIGINT) AS jl3,
      |  '["k"]' AS jk1,
      |  '["id", "o", "tags"]' AS jk2,
      |  '{' || chr(10) || '  "k": ' || CAST(json_extract(props, '$.k') AS VARCHAR)
      |      || chr(10) || '}' AS jp,
      |  (event_id % 5 IN (1, 2) OR event_id % 5 = event_id % 7) AS jo1,
      |  (CAST(json_extract(props, '$.k') AS BIGINT) = event_id % 9) AS jo2,
      |  (CAST(json_extract(props, '$.k') AS BIGINT) >= 50) AS jsv,
      |  CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
      |       THEN 'true' ELSE 'false' END AS jsvr_valid,
      |  CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
      |       THEN NULL ELSE 'minimum' END AS jsvr_kw
      |FROM events ORDER BY event_id""".stripMargin

  // ----------------------------------------------------- fn14 starlark
  /** `starlark(code, arg)` over the documents corpus
    * (`pkg/sql/plan/function/func_builtin_starlark.go`): the module's
    * `main` runs per row; results carry repr semantics (returned
    * strings come back quoted, ints bare). The oracle re-derives each
    * program's output in plain SQL.
    */
  private def fn14(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).createOrReplaceTempView("documents")
    s.sql(
      """SELECT doc_id,
        |  starlark('def main(s):
        |    words = s.split(" ")
        |    return str(len(words)) + ":" + words[0].upper()
        |', text) AS head_sig,
        |  starlark('def main(s):
        |    n = 0
        |    for w in s.split(" "):
        |        if w.startswith("s"):
        |            n += 1
        |    return n
        |', text) AS s_words,
        |  try_starlark('def main(s):
        |    return boom
        |', text) AS bad,
        |  starlark('def main(s):
        |    return jq(".n + 1", s)
        |', concat('{"n":', CAST(doc_id % 7 AS STRING), '}')) AS jq_bridge
        |FROM documents ORDER BY doc_id""".stripMargin)
  }

  private val fn14Sql =
    """SELECT doc_id,
      |  '"' || CAST(len(string_split(text, ' ')) AS VARCHAR) || ':' ||
      |      upper(string_split(text, ' ')[1]) || '"' AS head_sig,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w LIKE 's%')) AS VARCHAR)
      |      AS s_words,
      |  CAST(NULL AS VARCHAR) AS bad,
      |  '"' || CAST(doc_id % 7 + 1 AS VARCHAR) || '"' AS jq_bridge
      |FROM documents ORDER BY doc_id""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("fn14_starlark", fn14, Some(fn14Sql)),
    Q("fn12_jq", fn12, Some(fn12Sql)),
    Q("fn13_json_tail", fn13, Some(fn13Sql)),
    Q("fn7_decimal_arithmetic", fn7, Some(fn7Sql)),
    Q("fn8_convert_tz", fn8, Some(fn8Sql)),
    Q("fn9_collation_ci", fn9, Some(fn9Sql)),
    Q("fn10_json_extras", fn10, Some(fn10Sql)),
    Q("fn11_time_funcs", fn11, Some(fn11Sql)),
    Q("fn1_string_funcs", fn1, Some(fn1Sql)),
    Q("fn2_datetime_funcs", fn2, Some(fn2Sql)),
    Q("fn3_math_funcs", fn3, Some(fn3Sql)),
    Q("fn4_json_funcs", fn4, Some(fn4Sql)),
    Q("fn5_misc_funcs", fn5, Some(fn5Sql)),
    Q("fn6_json_mutation", fn6, Some(fn6Sql)))
}
