package graft.ops

import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 (scalar-function half) — string/date/math/conditional/
  * array/JSON/map/struct expression surface. All expressions here are
  * Catalyst built-ins (whole-stage-codegen'd; no UDFs), so at 100 TB they
  * run fused inside the scan/project pipeline with zero extra shuffles.
  *
  * Cross-engine notes (hash-match vs DuckDB, SURVEY §2.0):
  *  - DuckDB `ceil/floor(DOUBLE)` returns DOUBLE while Spark returns
  *    BIGINT → oracle casts explicitly.
  *  - Spark `posexplode` is 0-based; DuckDB has no WITH ORDINALITY but
  *    equal-length `unnest`s in one SELECT zip positionally (verified), so
  *    `unnest(range(0, len(xs)))` supplies the ordinal.
  *  - float arrays: element values are compared after an exact
  *    float→double widen + round(…,4) on both sides (FIXTURES gotcha 3).
  */
object Scalars extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      "q_fn_string",
      (s, d) => Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_type")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_type"), 1, 5).as("sub5"),
          length(col("p_type")).as("len"),
          trim(col("p_name")).as("trimmed"),
          regexp_replace(col("p_type"), " ", "_").as("underscored"),
          concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
          col("p_type").like("%BRASS%").as("is_brass"))
        .orderBy(col("p_partkey")),
      """SELECT p_partkey, upper(p_type) AS up, lower(p_brand) AS lo,
        |  substring(p_type, 1, 5) AS sub5, length(p_type) AS len,
        |  trim(p_name) AS trimmed, replace(p_type, ' ', '_') AS underscored,
        |  concat_ws('|', p_brand, p_type) AS joined,
        |  p_type LIKE '%BRASS%' AS is_brass
        |FROM part ORDER BY p_partkey""".stripMargin),

    Q(
      // regex surface — patterns restricted to simple character classes
      // that mean the same thing in Spark's java.util.regex and DuckDB's
      // RE2 (no backrefs/lookaround, which RE2 lacks)
      "q_fn_regex",
      (s, d) => Tables.part(s, d)
        .select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          regexp_count(col("p_name"), lit("[a-z]+")).as("n_runs"),
          col("p_name").rlike("^[a-z]+ [a-z]+$").as("two_words"))
        .orderBy(col("p_partkey")),
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  len(regexp_extract_all(p_name, '[a-z]+')) AS n_runs,
        |  regexp_matches(p_name, '^[a-z]+ [a-z]+$') AS two_words
        |FROM part ORDER BY p_partkey""".stripMargin),

    Q(
      "q_fn_date",
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          // R4: dates cross the compare as 'yyyy-MM-dd' strings
          date_format(trunc(col("o_orderdate"), "month"), "yyyy-MM-dd")
            .as("month_start"),
          datediff(col("o_orderdate").cast("date"),
                   to_date(lit("1995-01-01"))).as("days_since_epoch95"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  day(o_orderdate) AS dom,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    AS days_since_epoch95
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Q(
      // math fns; l_quantity values are small integral doubles so
      // abs/ceil/floor/power are exact; ln wrapped in round(…,4) (R3).
      "q_fn_math",
      (s, d) => Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25.0).as("abs_dev"),
          ceil(col("l_quantity") / 7.0).as("ceil7"),
          floor(col("l_quantity") / 7.0).as("floor7"),
          (col("l_linenumber") % 3).as("mod3"),
          r4(log(lit(1.0) + col("l_quantity"))).as("ln1p"),
          pow(col("l_quantity"), 2).as("sq"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("sq")),
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS abs_dev,
        |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS ceil7,
        |  CAST(floor(l_quantity / 7.0) AS BIGINT) AS floor7,
        |  l_linenumber % 3 AS mod3,
        |  round(ln(1.0 + l_quantity), 4) + 0 AS ln1p,
        |  power(l_quantity, 2) AS sq
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, sq""".stripMargin),

    Q(
      // bitwise surface — exact integer semantics in both engines
      "q_fn_bitops",
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          expr("o_orderkey & 255").as("band"),
          expr("o_orderkey | 4096").as("bor"),
          expr("o_orderkey ^ 1023").as("bxor"),
          expr("shiftleft(o_orderkey, 2)").as("shl"),
          expr("shiftright(o_orderkey, 3)").as("shr"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS band,
        |  o_orderkey | 4096 AS bor,
        |  xor(o_orderkey, 1023) AS bxor,
        |  o_orderkey << 2 AS shl,
        |  o_orderkey >> 3 AS shr
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Q(
      "q_fn_case_coalesce",
      (s, d) => Tables.orders(s, d)
        .select(
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("big").as("bucket"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open"))
            .as("status"))
        .groupBy(col("bucket"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"), col("status")),
      """SELECT
        |  CASE WHEN o_totalprice < 50000 THEN 'small'
        |       WHEN o_totalprice < 150000 THEN 'mid'
        |       ELSE 'big' END AS bucket,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status,
        |  COUNT(*) AS n
        |FROM orders GROUP BY bucket, status
        |ORDER BY bucket, status""".stripMargin),

    Q(
      // higher-order array fns over the embedding vectors; the fold over
      // the first 8 elements is sequential left-to-right in both engines
      // and each float→double product/add is exact enough that round(…,4)
      // pins the hash (FIXTURES gotcha 3).
      "q_fn_array",
      (s, d) => Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          r4(element_at(col("embedding"), 1).cast("double")).as("first"),
          r4(aggregate(
               slice(col("embedding"), 1, 8),
               lit(0.0),
               (acc, x) => acc + x.cast("double"))).as("head8_sum"),
          size(filter(col("embedding"), x => x > 0)).as("n_pos"))
        .orderBy(col("vec_id")),
      """SELECT vec_id, len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 4) + 0 AS first,
        |  round(list_sum(list_transform(embedding[1:8],
        |        x -> CAST(x AS DOUBLE))), 4) + 0 AS head8_sum,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    Q(
      "q_fn_explode",
      (s, d) => Tables.embeddings(s, d)
        .filter(col("vec_id") < 3)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"),
                r4(col("col").cast("double")).as("val"))
        .orderBy(col("vec_id"), col("pos")),
      """SELECT vec_id,
        |  unnest(range(0, len(embedding))) AS pos,
        |  round(CAST(unnest(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE))) AS DOUBLE), 4) + 0 AS val
        |FROM embeddings WHERE vec_id < 3
        |ORDER BY vec_id, pos""".stripMargin),

    Q(
      "q_fn_json",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
                get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"),
             min(col("k")).as("min_k"),
             max(col("k")).as("max_k"),
             sum(col("k")).as("sum_k"))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(k) AS n, MIN(k) AS min_k,
        |  MAX(k) AS max_k, CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type, json_extract(props, '$.k')::INT AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    Q(
      // Spark 4 VARIANT ingestion: props parses ONCE into the binary
      // semi-structured type (parse_json), then typed paths extract
      // from the SAME variant value — the parse-once-extract-many
      // shape that replaces get_json_object's string re-probing per
      // field (q_fn_json) at scale: one decode per row, shredded
      // binary storage, O(log n) path seeks. try_variant_get on an
      // absent path yields NULL (counted, proving the miss semantics);
      // the oracle twin replays with DuckDB's JSON extraction, so the
      // hash match certifies the typed values, the filter, and the
      // null behavior — not just that the API runs.
      "q_fn_variant",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
                expr("variant_get(v, '$.k', 'int')").as("k"),
                expr("try_variant_get(v, '$.missing', 'int')").as("miss"))
        .filter(col("k") > 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
             sum(col("k")).as("sum_k"), count(col("miss")).as("n_miss"))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n, MIN(k) AS min_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  COUNT(json_extract(props, '$.missing')) AS n_miss
        |FROM (SELECT event_type, props,
        |        json_extract(props, '$.k')::INT AS k
        |      FROM events)
        |WHERE k > 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    Q(
      // STRUCTURED JSON round-trip: struct → to_json → from_json(schema)
      // → fields. The oracle selects the RAW columns — the hash match
      // proves the serialize/parse cycle lossless (types, nulls, and
      // nesting all survive), which get_json_object's per-path string
      // probing (q_fn_json) never demonstrates. from_json is the
      // schema-full ingest path for JSON event feeds at scale: one
      // parse per row into a typed struct, not one scan per field.
      "q_fn_json_roundtrip",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
                to_json(struct(
                  col("o_orderkey").as("k"),
                  col("o_orderstatus").as("st"),
                  cents("o_totalprice").as("cents"),
                  nullif(col("o_orderpriority"), lit("5-LOW")).as("pri")))
                  .as("js"))
        .select(col("o_orderkey"),
                expr("from_json(js, 'k BIGINT, st STRING, " +
                     "cents BIGINT, pri STRING')").as("j"))
        .select(col("o_orderkey"), col("j.k").as("k"),
                col("j.st").as("st"), col("j.cents").as("cents"),
                col("j.pri").as("pri"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, o_orderkey AS k, o_orderstatus AS st,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents,
        |  NULLIF(o_orderpriority, '5-LOW') AS pri
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),

    Q(
      // MapType used internally (map literal keyed by event_type), scalars
      // extracted for the output (R5 — no MAP columns cross the compare).
      "q_fn_map",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .agg(map_from_entries(collect_list(struct(col("event_type"), col("n"))))
               .as("m"))
        .select(
          coalesce(element_at(col("m"), "click"), lit(0L)).as("clicks"),
          coalesce(element_at(col("m"), "error"), lit(0L)).as("errors"),
          coalesce(element_at(col("m"), "purchase"), lit(0L)).as("purchases"),
          coalesce(element_at(col("m"), "signup"), lit(0L)).as("signups"),
          coalesce(element_at(col("m"), "view"), lit(0L)).as("views")),
      """SELECT
        |  COUNT(*) FILTER (event_type = 'click') AS clicks,
        |  COUNT(*) FILTER (event_type = 'error') AS errors,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchases,
        |  COUNT(*) FILTER (event_type = 'signup') AS signups,
        |  COUNT(*) FILTER (event_type = 'view') AS views
        |FROM events""".stripMargin),

    Q(
      // nested-struct build + re-extract — the ros_sql nested-message
      // analog (sub-messages stay native StructType, never shredded into
      // child tables; SURVEY §1.1).
      "q_fn_struct",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
                struct(col("o_orderdate").as("dt"),
                       col("o_totalprice").as("total")).as("env"))
        .select(col("o_orderkey"),
                date_format(col("env.dt"), "yyyy-MM-dd").as("od"),
                moneyOut(col("env.total")).as("total"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS total
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  )
}
