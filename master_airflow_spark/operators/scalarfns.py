"""Scalar function-family closure (SURVEY.md §2.7 X13-X17): string,
date, math/conditional, array, and JSON/map functions.

All built-in ``pyspark.sql.functions`` — JVM-side, inside
WholeStageCodegen, no Python in the row path. Each query exercises a
family end-to-end against the DuckDB oracle, pinning the exact
cross-engine semantics (regex dialect, rounding, null propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.operators.text import _SQL_TOKS, tokens
from master_airflow_spark.registry import register


@register(
    "string_functions",
    oracle=r"""
SELECT p_partkey,
       upper(p_name) AS upper_name,
       substr(p_name, 1, 4) AS prefix4,
       (p_name LIKE '%widget%') AS is_widget,
       regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
       replace(p_type, ' ', '_') AS type_snake,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       length(p_name) AS name_len,
       concat_ws('|', p_brand, p_type) AS brand_type
FROM part
""",
    tags=("X13",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: upper/substr/LIKE/regexp_extract/replace/lpad/length/concat_ws."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.substring("p_name", 1, 4).alias("prefix4"),
        F.col("p_name").like("%widget%").alias("is_widget"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "date_functions",
    oracle="""
SELECT o_orderkey,
       date_trunc('month', o_orderdate) AS order_month,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_mon,
       CAST(quarter(o_orderdate) AS INT) AS order_qtr,
       datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
       CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS due_date,
       last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
""",
    tags=("X14",),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14: date_trunc/extract/datediff/date_add/last_day."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_mon"),
        F.quarter("o_orderdate").alias("order_qtr"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
        F.date_add(d, 90).cast("timestamp").alias("due_date"),
        F.last_day(d).alias("month_end"),
    )


@register(
    "math_conditional",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(0.07 AS DECIMAL(4,2)), 2) AS DOUBLE) AS tax7,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(floor(l_quantity / 10) AS BIGINT) AS qty_decile,
       CASE WHEN l_discount >= 0.08 THEN 'deep'
            WHEN l_discount >= 0.03 THEN 'standard'
            ELSE 'none' END AS discount_tier,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate,
       CAST(l_orderkey % 7 AS BIGINT) AS bucket7
FROM lineitem
""",
    tags=("X15",),
)
def math_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: round/abs/ceil/floor/CASE/greatest/least/mod. The rounded
    tax is computed on DECIMAL (half-up on exact digits) — rounding
    binary doubles at a .5 boundary is engine-dependent; decimals
    aren't — then cast back to DOUBLE so both engines emit the same
    representation (a DECIMAL cell vs a float cell hash-mismatches in
    the driver even when numerically equal)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # pure decimal multiply: DuckDB's `/` on decimals returns DOUBLE,
        # which would reintroduce binary rounding at the .5 boundary
        F.round(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.lit(0.07).cast("decimal(4,2)"),
            2,
        )
        .cast("double")
        .alias("tax7"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 10).alias("qty_decile"),
        F.when(F.col("l_discount") >= 0.08, "deep")
        .when(F.col("l_discount") >= 0.03, "standard")
        .otherwise("none")
        .alias("discount_tier"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        (F.col("l_orderkey") % 7).alias("bucket7"),
    )


@register(
    "array_functions",
    oracle="""
SELECT p_partkey,
       array_to_string(string_split(p_name, ' '), '|') AS tokens,
       len(string_split(p_name, ' ')) AS n_tokens,
       array_to_string(list_sort(string_split(p_name, ' ')), '|') AS sorted_tokens,
       list_contains(string_split(p_name, ' '), 'widget') AS has_widget,
       array_to_string(list_reverse(string_split(p_name, ' ')), ' ') AS reversed_name,
       array_to_string(list_transform(string_split(p_name, ' '), t -> length(t)), '|')
           AS token_lens
FROM part
""",
    tags=("X16",),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: split/size/sort_array/array_contains/reverse/transform over
    token arrays (higher-order functions stay JVM-side). Array columns
    are joined to '|'-delimited strings in the judged output — the
    driver's canonicalizer cannot hash list cells — via concat_ws /
    array_to_string, which format strings and ints identically on both
    engines. The array ops themselves still run on real arrays."""
    p = load_table(spark, sf_dir, "part")
    toks = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.concat_ws("|", toks).alias("tokens"),
        F.size(toks).alias("n_tokens"),
        F.concat_ws("|", F.sort_array(toks)).alias("sorted_tokens"),
        F.array_contains(toks, "widget").alias("has_widget"),
        F.concat_ws(" ", F.reverse(toks)).alias("reversed_name"),
        F.concat_ws(
            "|", F.transform(toks, lambda t: F.length(t).cast("string"))
        ).alias("token_lens"),
    )


@register(
    "json_functions",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       (CAST(json_extract_string(props, '$.k') AS INT) >= 50) AS k_high
FROM events
""",
    tags=("X17",),
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: JSON path extraction from the events props column (the
    reference's JSON-document round-trip, read side)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
        (k.cast("int") >= 50).alias("k_high"),
    )


@register(
    "map_from_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       json_structure(props) IS NOT NULL AS valid_json
FROM events
""",
    tags=("X17",),
)
def map_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: full JSON parse to a typed map (from_json → MapType),
    projected back to scalars for the oracle comparison."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        m.getItem("k").alias("k"),
        m.isNotNull().alias("valid_json"),
    )


@register(
    "variant_semistructured",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(count(json_extract(props, '$.missing')) AS BIGINT) AS n_path_present
FROM events
GROUP BY event_type
""",
    tags=("X17",),
)
def variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (new in Spark
    4): props parses once into a binary variant (parse_json) and typed
    paths come out via variant_get — the open-schema alternative to
    from_json's fixed StructType, and the encoding that lets a lake
    store heterogeneous JSON without schema migration. Extraction of
    an absent path yields NULL, so COUNT over it — n_path_present —
    counts the rows where the path EXISTS (0 here, pinning the
    absent-path-yields-NULL semantics); aggregates run on the
    extracted long. The oracle reads the same
    paths with DuckDB's JSON extraction — the judged values certify
    parse + typed-get + null-path behavior, not the storage format."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    missing = F.variant_get(v, "$.missing", "long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(missing).alias("n_path_present"),
    )


@register(
    "csv_parse_roundtrip",
    oracle="""
SELECT o_orderkey,
       o_orderkey AS parsed_key,
       o_orderstatus AS parsed_status,
       o_totalprice AS parsed_price
FROM orders
""",
    tags=("X17", "S2"),
)
def csv_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_csv parser certification by round-trip: serialize three
    order columns into a CSV line, re-parse with an explicit schema,
    and emit the parsed fields next to the original key. The serializer
    does NOT quote — it relies on o_orderstatus being a single
    delimiter-free char; a column that may contain ',' needs quoted
    serialization plus from_csv's quote option. The oracle states the
    identity — parsed values must equal source values — so the judged
    diff certifies the parse path end-to-end (the ingest shape for CSV
    landing zones, S2's delimited sibling)."""
    o = load_table(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    parsed = F.from_csv(
        line, "k bigint, status string, price double"
    )
    return o.select(
        "o_orderkey",
        parsed.getField("k").alias("parsed_key"),
        parsed.getField("status").alias("parsed_status"),
        parsed.getField("price").alias("parsed_price"),
    )


@register(
    "null_semantics",
    oracle="""
WITH t AS (
    SELECT o_orderkey,
           nullif(o_orderstatus, 'P') AS maybe_status,
           o_totalprice
    FROM orders
)
SELECT
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(maybe_status) AS BIGINT) AS n_nonnull,
    CAST(count(*) FILTER (WHERE maybe_status IS NOT DISTINCT FROM NULL) AS BIGINT)
        AS n_null_safe_eq_null,
    CAST(count(*) FILTER (WHERE maybe_status IS DISTINCT FROM 'O') AS BIGINT)
        AS n_distinct_from_o,
    CAST(count(*) FILTER (WHERE coalesce(maybe_status, 'PENDING') = 'PENDING')
         AS BIGINT) AS n_coalesced,
    CAST(count(*) FILTER (WHERE CASE WHEN maybe_status IS NOT NULL
                                     THEN 'seen' ELSE 'missing' END = 'missing')
         AS BIGINT) AS n_nvl2_missing
FROM t
""",
    tags=("X15",),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic semantics pinned cross-engine: NULLIF
    introduces NULLs, then null-safe equality (<=> / IS NOT DISTINCT
    FROM), its negation, COALESCE defaults, and the NVL2 branch are
    counted — the exact places naive predicates silently drop rows
    (NULL = x is UNKNOWN, not false). All counts of exact integers;
    any divergence in null handling between the engines would shift a
    count."""
    o = load_table(spark, sf_dir, "orders")
    ms = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    t = o.select("o_orderkey", ms.alias("maybe_status"))
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("maybe_status").alias("n_nonnull"),
        F.count_if(F.col("maybe_status").eqNullSafe(F.lit(None))).alias(
            "n_null_safe_eq_null"
        ),
        F.count_if(~F.col("maybe_status").eqNullSafe(F.lit("O"))).alias(
            "n_distinct_from_o"
        ),
        F.count_if(
            F.coalesce("maybe_status", F.lit("PENDING")) == "PENDING"
        ).alias("n_coalesced"),
        F.count_if(
            F.nvl2(F.col("maybe_status"), F.lit("seen"), F.lit("missing"))
            == "missing"
        ).alias("n_nvl2_missing"),
    )


@register(
    "array_hof_suite",
    oracle=rf"""
WITH t AS (
    SELECT doc_id,
           {_SQL_TOKS} AS toks
    FROM documents
)
SELECT doc_id,
       len(list_filter(toks, x -> length(x) > 10)) > 0 AS has_long_token,
       len(list_filter(toks, x -> NOT (length(x) < 25))) = 0 AS all_short,
       CAST(len(list_filter(
           list_transform(range(1, len(toks) + 1),
                          i -> toks[i] = toks[len(toks) - i + 1]),
           b -> b)) AS BIGINT) AS n_mirror_eq
FROM t
""",
    tags=("X16",),
)
def array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order array predicates array_functions leaves out:
    EXISTS (any token longer than 10 chars), FORALL (every token under
    25), and ZIP_WITH pairing the token list with its own reverse to
    count positions equal to their mirror — the element-wise two-array
    combine. All JVM-side lambdas; the oracle states the same three
    via DuckDB's list comprehension forms (exists = filtered length >
    0, forall = no counter-example, zip_with = indexed transform)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    mirror_eq = F.zip_with(
        toks, F.reverse(toks), lambda x, y: x == y
    )
    return docs.select(
        "doc_id",
        F.exists(toks, lambda x: F.length(x) > 10).alias("has_long_token"),
        F.forall(toks, lambda x: F.length(x) < 25).alias("all_short"),
        F.size(F.filter(mirror_eq, lambda b: b)).alias("n_mirror_eq"),
    )
